"""The benchmark's own tests; no Spark session is started.

    python3 -m pytest wpbench/tests -q
"""

import copy
import os
import time

import pytest

from wpbench import checks, gen, metrics, stats
from wpbench import spec as S
from wpbench.trace import Span, Tracer, self_times


# -- generators -------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda seed: gen.wrangle_inputs(seed, 2000, 300, 100, sample_size=50),
    lambda seed: gen.ingest_inputs(seed, 500, 8, 20),
    lambda seed: gen.corpus_inputs(seed, 200, 20, 60),
])
def test_generators_are_deterministic(make):
    a, b, other = make(7), make(7), make(8)
    assert a.digest == b.digest
    assert a.digest != other.digest


def test_wrangle_plants_the_miss_count():
    inp = gen.wrangle_inputs(3, 3000, 400, 50, sample_size=100)
    dim_ids = set(inp.dim.column("customer_id").to_pylist())
    misses = sum(c["id"] not in dim_ids
                 for c in inp.orders.column("customer").to_pylist())
    assert misses == inp.planted_misses
    assert 0.2 < misses / inp.orders.num_rows < 0.4


def test_corpus_plants_exact_and_near_duplicates():
    inp = gen.corpus_inputs(5, 300, 50, 120)
    texts = dict(zip(inp.docs.column("doc_id").to_pylist(),
                     inp.docs.column("text").to_pylist()))
    assert len(texts) - len(set(texts.values())) == inp.planted_exact
    assert all(gen.shingle_jaccard(texts[a], texts[b]) >= 0.8
               for a, b in inp.planted_pairs)


def test_ingest_batches_have_unique_keys_and_absent_probes():
    inp = gen.ingest_inputs(2, 300, 10, 30)
    live = set(range(1, 301))
    absent_probed = 0
    for step in inp.steps:
        keys = [r["order_id"] for r in step.batch]
        assert len(keys) == len(set(keys))
        for r in step.batch:
            (live.discard if r["deleted"] else live.add)(r["order_id"])
        absent_probed += sum(k not in live for keys in step.lookups for k in keys)
    assert absent_probed > 0


# -- metric names -----------------------------------------------------------

def test_metric_names_are_well_formed():
    for m in metrics.declared("end_to_end") + metrics.declared("per_layer"):
        assert metrics.NAME_RE.fullmatch(m["name"]), m["name"]
    assert metrics.NAME_RE.fullmatch("bad name!") is None


# -- statistics -------------------------------------------------------------

def test_p90_needs_one_hundred_samples():
    assert stats.p90([1.0] * 99) is None
    values = [float(i) for i in range(1, 101)]
    assert stats.p90(values) == pytest.approx(90.1)


def test_tree_cpu_counts_this_process_busy_time():
    before = stats.tree_cpu_s(os.getpid())
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert 0.2 <= stats.tree_cpu_s(os.getpid()) - before < 5.0


def test_quartiles_match_statistics_module():
    q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)


# -- tracing ----------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),     # overlaps a
        Span(3, "c", 8.0, 12.0, 0, 0),    # runs past its parent
        Span(4, "a1", 2.0, 3.0, 1, 0),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - (5 + 2))
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_op_ids_only_when_enabled():
    off = Tracer()
    with off.op("x"), off.span("y"):
        pass
    assert off.spans == []
    on = Tracer(enabled=True)
    for _ in range(2):
        with on.op("req"):
            with on.span("child"):
                pass
    root0, = [s for s in on.spans if s.name == "req" and s.op == 0]
    child0, = [s for s in on.spans if s.name == "child" and s.op == 0]
    assert child0.parent == root0.sid and root0.parent is None
    assert {s.op for s in on.spans} == {0, 1}


# -- correctness checks fail on corrupted output ---------------------------

@pytest.fixture(scope="module")
def wrangle_sample():
    inp = gen.wrangle_inputs(11, 3000, 400, 50, sample_size=200)
    spec = S.wrangle_spec()
    ids = inp.sample_ids
    records = gen.records_as_python(inp.orders.take([i - 1 for i in ids]))
    expected = {r["order_id"]: spec.evaluate(S.Order, r, audit=True)
                for r in records}
    return inp, spec, records, expected


def test_wrangle_sample_check_fails_on_corruption(wrangle_sample):
    _, _, _, expected = wrangle_sample
    rows = copy.deepcopy(list(expected.values()))
    assert checks.rows_by_key(expected, rows, "order_id", "t") == []
    with_items = next(r for r in rows if r["items"])
    with_items["items"][0]["amount"] += 0.01
    assert checks.rows_by_key(expected, rows, "order_id", "t")
    assert checks.rows_by_key(expected, rows[1:], "order_id", "t")
    assert checks.rows_by_key(expected, rows + rows[:1], "order_id", "t")


def test_account_check_fails_on_wrong_created_flag(wrangle_sample):
    inp, spec, records, _ = wrangle_sample
    dim = {r["customer_id"]: r for r in inp.dim.to_pylist()}
    accounts = checks.expected_accounts(spec, S.Account, records, dim)
    assert {r["created"] for r in accounts.values()} == {True, False}
    rows = copy.deepcopy(list(accounts.values()))
    rows[0]["created"] = not rows[0]["created"]
    assert checks.rows_by_key(accounts, rows, "order_id", "t")
    assert checks.equal_count("created", inp.planted_misses,
                              inp.planted_misses + 1)


def test_spec_oracle_handles_malformed_fields():
    spec = S.wrangle_spec()
    rec = {"order_id": 1, "customer": {"id": 5, "name": "kaRo5",
                                       "email": "kaRo5", "tier": ""},
           "items": [{"sku": "SKU-1", "qty": 0, "price": None},
                     {"sku": "SKU-2", "qty": 2, "price": 1.5}],
           "attrs": None, "status": None, "priority_raw": "3x",
           "ts": 86400 * 3 + 5, "ship": {"city": "c", "zip": "1"},
           "tag_groups": [["a"], []], "metrics": {}}
    out = spec.evaluate(S.Order, rec, audit=True)
    assert out["customer"] == {"id": 5, "name": "KARO5",
                               "email_domain": "kaRo5", "tier": "standard"}
    assert out["items"] == [{"sku": "SKU-2", "qty": 2, "price": 1.5,
                             "amount": 3.0}]
    assert (out["n_items"], out["total"], out["first_sku"]) == (2, 3.0, "SKU-1")
    assert (out["priority"], out["priority_level"]) == (None, "normal")
    assert (out["status"], out["is_open"], out["channel"]) == ("unknown", None, None)
    assert (out["tags"], out["day"], out["weighted"]) == (["a"], 3, 0.0)
    assert out["_nulled_fields"] == ["is_open", "priority", "channel",
                                     "is_gift", "attr_keys", "attr_values"]


def test_lookup_and_read_checks_fail_on_corruption():
    spec = S.ingest_spec()
    inp = gen.ingest_inputs(4, 200, 8, 5)
    model = {}
    for raw in inp.bootstrap.to_pylist():
        row = spec.evaluate(S.StoredOrder, raw)
        row.pop("deleted")
        model[row["order_id"]] = row
    keys = [3, 7, 10_000]                      # the last one is absent
    rows = [dict(model[3]), dict(model[7])]
    assert checks.lookup(model, keys, rows, "order_id") == []
    rows[1]["amount"] = (rows[1]["amount"] or 0.0) + 1.0
    assert checks.lookup(model, keys, rows, "order_id")
    absent = dict(model[3], order_id=10_000)
    assert checks.lookup(model, keys, [dict(model[3]), dict(model[7]), absent],
                         "order_id")
    full = [dict(r) for r in model.values()]
    assert checks.rows_by_key(model, full, "order_id", "read") == []
    assert checks.rows_by_key(model, full[:-1], "order_id", "read")


def test_corpus_checks_fail_on_corruption():
    assert checks.equal_count("exact removals", 30, 30) == []
    assert checks.equal_count("exact removals", 30, 29)
    planted = [(1, 9), (4, 2)]
    assert checks.near_dup_recall(planted, {(1, 9), (2, 4)}) == 1.0
    assert checks.near_dup_recall(planted, {(1, 9)}) == 0.5
