"""Seeded input generators, one per workload.

Each generator is a pure function of its seed and sizes: the same seed
gives the same inputs and the same ``digest`` (sha256 over the Arrow IPC
stream of the generated tables plus the canonical JSON of any generated
Python values).  The program under test only ever sees these inputs.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa


def _digest(tables=(), values=None) -> str:
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    if values is not None:
        h.update(json.dumps(values, sort_keys=True).encode())
    return h.hexdigest()


def _with_nulls(rng, values: np.ndarray, rate: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < rate] = None
    return out


def _offsets(counts: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)


# --------------------------------------------------------------------------
# wrangle_bulk: nested orders + a customer dimension
# --------------------------------------------------------------------------

SYLLABLES = np.array(["ka", "ro", "mi", "tu", "le", "sa", "no", "vi",
                      "da", "pe", "zo", "ri"])
DOMAINS = np.array(["example.com", "mail.test", "corp.test", "shop.test"])
TIERS = np.array(["gold", "silver", "bronze"])
STATUSES = np.array(["new", "paid", "shipped", "cancelled"])
CITIES = np.array([f"city{i:02d}" for i in range(40)])
TAGS = np.array([f"tag{i:02d}" for i in range(30)])
ATTR_VALUES = {"channel": ["web", "app", "store"],
               "region": ["north", "south", "east", "west"],
               "coupon": ["none", "save10", "save20"],
               "gift": ["yes", "no"]}
ATTR_RATES = (0.9, 0.7, 0.4, 0.3)
METRIC_KEYS = ("ctr", "cvr", "ltv")
MALFORMED_PRIORITY = np.array(["x", "", "3x", "high"], dtype=object)
MAP_COLUMNS = ("attrs", "metrics")


@dataclass
class WrangleInputs:
    orders: pa.Table
    dim: pa.Table
    planted_misses: int
    sample_ids: list
    digest: str


def _nested_lists(rng, n, max_outer, max_inner, vocab):
    outer = rng.integers(0, max_outer + 1, n)
    n_groups = int(outer.sum())
    inner = rng.integers(0, max_inner + 1, n_groups)
    flat = pa.array(vocab[rng.integers(0, len(vocab), int(inner.sum()))])
    groups = pa.ListArray.from_arrays(pa.array(_offsets(inner)), flat)
    return pa.ListArray.from_arrays(pa.array(_offsets(outer)), groups)


def wrangle_inputs(seed: int, n_records: int, n_customers: int,
                   dim_filler: int, sample_size: int = 1000) -> WrangleInputs:
    """Orders with a customer struct, 0-20 line items (skewed), an
    attribute map, nested tag groups and a metrics map; about 3% of the
    scalar fields are missing or malformed.  The dimension holds ~70% of
    the customers plus ``dim_filler`` customers no order references, so
    ~30% of the orders miss it."""
    rng = np.random.default_rng([seed, 1])
    n, c = n_records, n_customers

    # customer pool
    cust_id = np.arange(1, c + 1, dtype=np.int64)
    syl = SYLLABLES[rng.integers(0, len(SYLLABLES), (c, 2))]
    name = np.char.add(np.char.add(syl[:, 0], syl[:, 1]),
                       cust_id.astype(str)).astype(object)
    email = np.char.add(np.char.add(name.astype(str), "@"),
                        DOMAINS[rng.integers(0, len(DOMAINS), c)]).astype(object)
    no_at = rng.random(c) < 0.01
    email[no_at] = name[no_at]
    email = _with_nulls(rng, email, 0.03)
    tier = _with_nulls(rng, TIERS[rng.integers(0, len(TIERS), c)], 0.02)
    tier[rng.random(c) < 0.01] = ""
    in_dim = rng.random(c) < 0.7

    # orders: customers skewed toward low pool indexes
    ci = np.minimum((c * rng.random(n) ** 2).astype(np.int64), c - 1)
    planted_misses = int((~in_dim[ci]).sum())
    customer = pa.StructArray.from_arrays(
        [pa.array(cust_id[ci]), pa.array(name[ci], pa.string()),
         pa.array(email[ci], pa.string()), pa.array(tier[ci], pa.string())],
        names=["id", "name", "email", "tier"])

    k = np.minimum(rng.geometric(0.2, n) - 1, 20)
    m = int(k.sum())
    qty = rng.integers(1, 6, m)
    bad_qty = rng.random(m) < 0.03
    qty[bad_qty] = rng.integers(-1, 1, int(bad_qty.sum()))
    price = np.round(rng.uniform(1.0, 200.0, m), 2)
    items = pa.ListArray.from_arrays(
        pa.array(_offsets(k)),
        pa.StructArray.from_arrays(
            [pa.array(np.char.add("SKU-", (rng.random(m) ** 3 * 5000)
                                  .astype(np.int64).astype(str))),
             pa.array(qty), pa.array(price, mask=rng.random(m) < 0.03)],
            names=["sku", "qty", "price"]))

    present = np.stack([rng.random(n) < r for r in ATTR_RATES], axis=1)
    null_attrs = rng.random(n) < 0.01
    present[null_attrs] = False  # a null map owns no entries
    _, cols = np.nonzero(present)
    keys = np.array(list(ATTR_VALUES))[cols]
    vals = np.empty(len(cols), dtype=object)
    for j, vocab in enumerate(ATTR_VALUES.values()):
        sel = cols == j
        vals[sel] = np.array(vocab)[rng.integers(0, len(vocab), int(sel.sum()))]
    attr_offsets = pa.array(_offsets(present.sum(axis=1)),
                            mask=np.append(null_attrs, False))
    attrs = pa.MapArray.from_arrays(attr_offsets, pa.array(keys),
                                    pa.array(vals, pa.string()))

    mpresent = rng.random((n, len(METRIC_KEYS))) < 0.6
    _, mcols = np.nonzero(mpresent)
    nm = len(mcols)
    metrics = pa.MapArray.from_arrays(
        pa.array(_offsets(mpresent.sum(axis=1))),
        pa.array(np.array(METRIC_KEYS)[mcols]),
        pa.StructArray.from_arrays(
            [pa.array(np.round(rng.random(nm), 4)),
             pa.array(rng.integers(1, 10, nm))],
            names=["value", "weight"]))

    status = _with_nulls(rng, STATUSES[rng.integers(0, len(STATUSES), n)], 0.03)
    status[rng.random(n) < 0.01] = ""
    prio = rng.integers(1, 6, n).astype(str).astype(object)
    bad = rng.random(n) < 0.03
    prio[bad] = MALFORMED_PRIORITY[rng.integers(0, len(MALFORMED_PRIORITY),
                                                int(bad.sum()))]
    prio[rng.random(n) < 0.01] = None
    ship = pa.StructArray.from_arrays(
        [pa.array(CITIES[rng.integers(0, len(CITIES), n)]),
         pa.array(rng.integers(10000, 99999, n).astype(str))],
        names=["city", "zip"])

    orders = pa.table({
        "order_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "customer": customer,
        "items": items,
        "attrs": attrs,
        "status": pa.array(status, pa.string()),
        "priority_raw": pa.array(prio, pa.string()),
        "ts": pa.array(1_600_000_000 + rng.integers(0, 30_000_000, n)),
        "ship": ship,
        "tag_groups": _nested_lists(rng, n, 3, 3, TAGS),
        "metrics": metrics,
    })

    # dimension: matched customers carry their own (dimension-side) values
    d_ids = np.concatenate([cust_id[in_dim],
                            np.arange(c + 1, c + 1 + dim_filler, dtype=np.int64)])
    nd = len(d_ids)
    dsyl = SYLLABLES[rng.integers(0, len(SYLLABLES), nd)]
    dim = pa.table({
        "customer_id": pa.array(d_ids),
        "name": pa.array(np.char.add(np.char.upper(dsyl.astype(str)),
                                     d_ids.astype(str))),
        "tier": pa.array(TIERS[rng.integers(0, len(TIERS), nd)]),
    })
    sample_ids = sorted(int(x) for x in
                        rng.choice(np.arange(1, n + 1), sample_size,
                                   replace=False))
    return WrangleInputs(orders, dim, planted_misses, sample_ids,
                         _digest((orders, dim), sample_ids))


def records_as_python(table: pa.Table) -> list[dict]:
    """Rows as plain dicts, with Arrow maps as Python dicts (the shape
    Spark hands back for map columns)."""
    rows = table.to_pylist()
    for r in rows:
        for col in MAP_COLUMNS:
            if col in r and r[col] is not None:
                r[col] = dict(r[col])
    return rows


# --------------------------------------------------------------------------
# ingest_serve: keyed micro-batches and point lookups
# --------------------------------------------------------------------------

INGEST_COLUMNS = ("order_id", "customer_id", "status", "priority_raw",
                  "amount", "channel", "deleted")
CHANNELS = np.array(["web", "app", "store", "phone"])


@dataclass
class IngestStep:
    batch: list          # raw record dicts, one per key
    lookups: list        # key lists, probed after the batch commits


@dataclass
class IngestInputs:
    bootstrap: pa.Table
    steps: list = field(default_factory=list)
    digest: str = ""


def _raw_order(rng, key: int, deleted: bool) -> dict:
    r = rng.random(4)
    prio = str(int(rng.integers(1, 6)))
    if r[0] < 0.03:
        prio = str(MALFORMED_PRIORITY[int(rng.integers(0, 4))])
    return {
        "order_id": key,
        "customer_id": int(rng.integers(1, 5000)),
        "status": None if r[1] < 0.03 else str(STATUSES[int(rng.integers(0, 4))]),
        "priority_raw": prio,
        "amount": None if r[2] < 0.02 else round(float(rng.uniform(1, 500)), 2),
        "channel": str(CHANNELS[int(rng.integers(0, 4))]),
        "deleted": deleted,
    }


class _RecentZipf:
    """Draws live keys with Zipf-distributed recency rank (rank 1 = the
    most recently inserted live key)."""

    def __init__(self, rng, keys):
        self.rng = rng
        self.keys = list(keys)      # insertion order
        self.live = set(self.keys)

    def draw(self) -> int:
        while True:
            r = int(self.rng.zipf(1.2))
            if r <= len(self.keys):
                return self.keys[-r]

    def insert(self, key):
        self.keys.append(key)
        self.live.add(key)

    def delete(self, key):
        self.keys.remove(key)
        self.live.discard(key)


def ingest_inputs(seed: int, n_bootstrap: int, batch_size: int,
                  n_steps: int, lookups_per_step: int = 4) -> IngestInputs:
    """A bootstrap of ``n_bootstrap`` orders, then ``n_steps`` micro-
    batches of ``batch_size`` distinct keys (~20% new, ~5% tombstones,
    the rest updates, all Zipf-skewed toward recent inserts) and after
    each batch ``lookups_per_step`` GETs of 1-16 keys, ~10% of them
    absent from the store."""
    rng = np.random.default_rng([seed, 2])
    boot = [_raw_order(rng, k, False) for k in range(1, n_bootstrap + 1)]
    bootstrap = pa.Table.from_pylist(boot)
    keys = _RecentZipf(rng, range(1, n_bootstrap + 1))
    next_key = n_bootstrap + 1
    n_new = max(1, round(0.2 * batch_size))
    n_del = max(1, round(0.05 * batch_size))
    steps = []
    for _ in range(n_steps):
        chosen = []
        while len(chosen) < batch_size - n_new:
            k = keys.draw()
            if k not in chosen:
                chosen.append(k)
        batch = [_raw_order(rng, k, i < n_del) for i, k in enumerate(chosen)]
        batch += [_raw_order(rng, next_key + i, False) for i in range(n_new)]
        for r in batch[:n_del]:
            keys.delete(r["order_id"])
        for i in range(n_new):
            keys.insert(next_key + i)
        next_key += n_new
        lookups = []
        for _ in range(lookups_per_step):
            want = int(rng.integers(1, 17))
            probe = []
            while len(probe) < want:
                k = (int(rng.integers(next_key, 2 * next_key))
                     if rng.random() < 0.1 else keys.draw())
                if k not in probe:
                    probe.append(k)
            lookups.append(probe)
        steps.append(IngestStep(batch, lookups))
    values = [[s.batch, s.lookups] for s in steps]
    return IngestInputs(bootstrap, steps, _digest((bootstrap,), values))


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted duplicates and junk
# --------------------------------------------------------------------------

STOPWORDS = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "on")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class CorpusInputs:
    docs: pa.Table
    planted_exact: int
    planted_pairs: list
    digest: str


def _vocabulary(rng, size: int) -> np.ndarray:
    lengths = rng.integers(2, 10, size)
    letters = LETTERS[rng.integers(0, 26, int(lengths.sum()))]
    ends = np.cumsum(lengths)
    words = ["".join(letters[e - n:e]) for n, e in zip(lengths, ends)]
    return np.array(list(STOPWORDS) + words)


def _as_text(words: list, line_words: int, terminal: str = ".") -> str:
    lines = [" ".join(words[i:i + line_words]) + terminal
             for i in range(0, len(words), line_words)]
    return "\n".join(lines)


def corpus_inputs(seed: int, n_docs: int, min_words: int, max_words: int,
                  vocab_size: int = 5000) -> CorpusInputs:
    """``n_docs`` documents over a Zipf vocabulary, ``min_words`` to
    ``max_words`` words each (skewed short): 10% are exact copies of
    another document, 10% near-duplicates (a few words replaced, word
    3-gram Jaccard >= 0.8 with their source) and 15% boilerplate or
    low-quality text that the quality rules reject."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, vocab_size)
    ranks = np.arange(1, len(vocab) + 1)
    probs = 1.0 / ranks ** 1.1
    probs /= probs.sum()

    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_junk = n_docs * 15 // 100
    n_orig = n_docs - n_exact - n_near
    lengths = (min_words + (max_words - min_words)
               * rng.random(n_orig) ** 3).astype(int)
    junk = set(rng.choice(n_orig, n_junk, replace=False).tolist())
    words_of, texts = [], []
    for i, length in enumerate(lengths):
        words = vocab[rng.choice(len(vocab), length, p=probs)].tolist()
        words_of.append(words)
        if i not in junk:
            texts.append(_as_text(words, 12))
        elif i % 3 == 0:   # navigation boilerplate: no terminal punctuation
            texts.append(_as_text(words, 4, terminal="") + "\nenable javascript")
        elif i % 3 == 1:   # symbol spam
            texts.append(" ".join("#" + w for w in words))
        else:              # numeric junk
            texts.append(" ".join(str(int(x)) for x in
                                  rng.integers(0, 10**6, length)))
    doc_text = list(texts)
    good = [i for i in range(n_orig) if i not in junk]
    for src in rng.choice(n_orig, n_exact, replace=True).tolist():
        doc_text.append(texts[src])
    pairs = []
    for src in rng.choice(good, n_near, replace=False).tolist():
        words = list(words_of[src])
        n_swap = max(1, len(words) // 60)
        for pos in rng.choice(len(words), n_swap, replace=False).tolist():
            words[pos] = "zz" + words[pos]   # never a vocabulary word
        pairs.append((src, len(doc_text)))
        doc_text.append(_as_text(words, 12))
    order = rng.permutation(len(doc_text))
    docs = pa.table({"doc_id": pa.array(np.arange(len(doc_text), dtype=np.int64)[order]),
                     "text": pa.array([doc_text[i] for i in order])})
    return CorpusInputs(docs, n_exact, pairs, _digest((docs,)))


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Word n-gram Jaccard under the engine's tokenisation (lowercase,
    whitespace split)."""
    def grams(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / max(len(ga | gb), 1)
