"""The three workloads.

Load comes from one closed-loop client: ``step`` issues the next op only
after the previous one returned.  Every op is checked against an oracle
built from the generated inputs; an op that raises or fails its check
counts as failed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from wrangle_pypes_spark import Pipeline
from wrangle_pypes_spark.localdf import local_df
from wrangle_pypes_spark.operators.dedup import (exact_dedup,
                                                 minhash_lsh_dup_pairs)
from wrangle_pypes_spark.operators.quality import (c4_line_clean,
                                                   gopher_quality_flags)
from wrangle_pypes_spark.sources.manifest import (manifest_lookup,
                                                  manifest_merge,
                                                  manifest_read,
                                                  manifest_vacuum)

from . import checks, gen
from . import spec as S
from .stats import median, p90, tree_cpu_s

INPUT_FILES = 32  # many small scan tasks, so one slow core delays a stage less
WARM_UP_OPS = 1


def _write_parquet(table: pa.Table, path: Path) -> str:
    path.mkdir(parents=True)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i}.parquet")
    return str(path)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _noop_count(df) -> int:
    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def _files(root: str) -> dict:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""

    def __init__(self, seed: int, workdir: Path, tracer):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.exhausted = False
        self.samples = self.new_samples()

    def new_samples(self) -> SimpleNamespace:
        """Empty sample lists; ``step`` appends to ``self.samples``."""
        return SimpleNamespace(op_lat=[],
                               step_rates=[],   # items / wall time, per step
                               cpu_rates=[])    # items / CPU time, per step

    def timed_step(self) -> None:
        """One timed step, with the CPU time of the whole process tree."""
        cpu = tree_cpu_s(os.getpid())
        items = self.step()
        if items:
            cpu = tree_cpu_s(os.getpid()) - cpu
            self.samples.cpu_rates.append(items / cpu)

    def attempt(self, op, check=lambda result: []):
        """Run one op; returns (result, seconds), result None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        problems = check(result)
        if problems:
            self.failed += 1
            print(f"[{self.name}] check failed: {problems[:3]}",
                  file=sys.stderr)
        return result, dt

    def warm_up(self) -> None:
        """Untimed, checked ops, so lazy set-up and most JIT compilation
        finish before timing.  The first op after a cold start takes 3-5x
        a later one; one more warm-up op would save the first timed op
        little and cost every run a whole op."""
        for _ in range(WARM_UP_OPS):
            self.step(timed=False)

    def e2e(self, samples: SimpleNamespace) -> dict:
        return {"items_per_s": median(samples.step_rates),
                "items_per_cpu_s": median(samples.cpu_rates),
                "op_p50_ms": median(samples.op_lat) * 1e3}

    def report(self) -> dict:
        lat = self.samples.op_lat
        return {"ops_timed": len(lat),
                "op_lat_ms": [round(x * 1e3, 1) for x in lat]}

    def layer_values(self) -> dict:
        return {}

    def compile_target(self):
        """(model, source DataFrame) for timing ``Pipeline.compile``
        alone, or None when the workload runs no pipeline."""
        return None


class WrangleBulk(Workload):
    """Nested order records through one ~25-field spec, then
    get_or_create against a customer dimension read fresh each pass."""

    name = "wrangle_bulk"
    # Sizes here and in the other workloads are set by the run budget:
    # after ~20 s of session start, input writing and a cold warm-up op,
    # three ops must fit in a few seconds of timed phase on 4 cores.
    N_RECORDS = 40_000
    N_CUSTOMERS = 6_000
    DIM_FILLER = 2_000

    def generate(self) -> str:
        self.inp = gen.wrangle_inputs(self.seed, self.N_RECORDS,
                                      self.N_CUSTOMERS, self.DIM_FILLER)
        self.spec = S.wrangle_spec()
        self.pipeline = Pipeline(self.spec.transformations(), strict=False)
        return self.inp.digest

    def prepare(self, spark) -> None:
        self.spark = spark
        base = self.workdir / "inputs"
        self.orders_path = _write_parquet(self.inp.orders, base / "orders")
        self.dim_path = _write_parquet(self.inp.dim, base / "dim")

    def _pass(self):
        spark, tr, p = self.spark, self.tracer, self.pipeline
        built, looked_up = Observation(), Observation()
        with tr.op("wrangle_bulk.pass"):
            src = spark.read.parquet(self.orders_path)
            with tr.span("pipeline.create_multiple"):
                out = p.create_multiple(S.Order, src, audit=True)
            with tr.span("pipeline.create_multiple_exec"):
                _noop(out.observe(built, F.count(F.lit(1)).alias("rows")))
            with tr.span("pipeline.get_or_create"):
                dim = spark.read.parquet(self.dim_path)
                res, _ = p.get_or_create(S.Account, src, dim, ["customer_id"],
                                         passthrough=["order_id"])
                _noop(res.observe(
                    looked_up, F.count(F.lit(1)).alias("rows"),
                    F.sum(F.col("created").cast("long")).alias("created")))
        return built.get["rows"], looked_up.get

    def _check_pass(self, result) -> list:
        rows, goc = result
        n = self.N_RECORDS
        return (checks.equal_count("create_multiple rows", n, rows)
                + checks.equal_count("get_or_create rows", n, goc["rows"])
                + checks.equal_count("created (planted misses)",
                                     self.inp.planted_misses, goc["created"]))

    def compile_target(self):
        return S.Order, self.spark.read.parquet(self.orders_path)

    def step(self, timed: bool = True) -> int:
        result, dt = self.attempt(self._pass, self._check_pass)
        if timed and result is not None:
            self.samples.op_lat.append(dt)
            self.samples.step_rates.append(self.N_RECORDS / dt)
            return self.N_RECORDS
        return 0

    def verify(self) -> None:
        """Sampled records against the pure-Python evaluation of the spec."""
        ids = self.inp.sample_ids
        records = gen.records_as_python(
            self.inp.orders.take([i - 1 for i in ids]))
        dim = {r["customer_id"]: r for r in self.inp.dim.to_pylist()}
        src = self.spark.read.parquet(self.orders_path)
        sample = F.col("order_id").isin(ids)

        def built():
            out = self.pipeline.create_multiple(S.Order, src, audit=True)
            return [r.asDict(True) for r in out.filter(sample).collect()]
        expected = {r["order_id"]: self.spec.evaluate(S.Order, r, audit=True)
                    for r in records}
        self.attempt(built, lambda rows: checks.rows_by_key(
            expected, rows, "order_id", "create_multiple sample"))

        def looked_up():
            res, _ = self.pipeline.get_or_create(
                S.Account, src, self.spark.read.parquet(self.dim_path),
                ["customer_id"], passthrough=["order_id"])
            return [r.asDict(True) for r in res.filter(sample).collect()]
        accounts = checks.expected_accounts(self.spec, S.Account, records, dim)
        self.attempt(looked_up, lambda rows: checks.rows_by_key(
            accounts, rows, "order_id", "get_or_create sample"))


class IngestServe(Workload):
    """Micro-batch upserts into a bucketed manifest store, each followed
    by point lookups; a vacuum every ``VACUUM_EVERY`` commits."""

    name = "ingest_serve"
    N_BOOTSTRAP = 20_000
    BATCH = 24
    N_BUCKETS = 64
    N_STEPS = 300
    VACUUM_EVERY = 3  # a run times 3-4 commits; each run should vacuum
    KEEP = 2
    KEY = "order_id"
    RAW_SCHEMA = ("order_id bigint, customer_id bigint, status string, "
                  "priority_raw string, amount double, channel string, "
                  "deleted boolean")
    STORED_ARROW = pa.schema([("order_id", pa.int64()),
                              ("customer_id", pa.int64()),
                              ("status", pa.string()),
                              ("priority", pa.int64()),
                              ("amount", pa.float64()),
                              ("channel", pa.string())])

    def generate(self) -> str:
        self.inp = gen.ingest_inputs(self.seed, self.N_BOOTSTRAP, self.BATCH,
                                     self.N_STEPS)
        self.spec = S.ingest_spec()
        self.pipeline = Pipeline(self.spec.transformations(), strict=False)
        self.boot_model: dict = {}
        self.space_amp = 0.0
        for r in self.inp.bootstrap.to_pylist():
            self._apply(self.boot_model, r)
        return self.inp.digest

    def new_samples(self) -> SimpleNamespace:
        ns = super().new_samples()
        ns.lookup_lat, ns.rewritten, ns.bytes_written, ns.arrow_bytes = \
            [], [], [], []
        return ns

    def _stored(self, raw) -> dict:
        return self.spec.evaluate(S.StoredOrder, raw)

    def _apply(self, model: dict, raw) -> None:
        row = self._stored(raw)
        if row.pop("deleted"):
            model.pop(row[self.KEY], None)
        else:
            model[row[self.KEY]] = row

    def prepare(self, spark) -> None:
        """Bootstrap a fresh store through the package."""
        self.spark = spark
        self.store = str(self.workdir / "store")
        self.model = dict(self.boot_model)
        self.next_step = 0
        self.commits = 0
        rows = self.pipeline.create_multiple(
            S.StoredOrder, spark.createDataFrame(self.inp.bootstrap))
        self.version = manifest_merge(rows, self.store, [self.KEY],
                                      n_buckets=self.N_BUCKETS,
                                      tombstone_col="deleted")

    def _raw_df(self, batch):
        return local_df(self.spark, [tuple(r[c] for c in gen.INGEST_COLUMNS)
                                     for r in batch], self.RAW_SCHEMA)

    def compile_target(self):
        return S.StoredOrder, self._raw_df(self.inp.steps[0].batch)

    def _commit(self, batch):
        tr = self.tracer
        with tr.op("ingest_serve.commit"):
            with tr.span("localdf.local_df"):
                df = self._raw_df(batch)
            with tr.span("pipeline.create_multiple"):
                rows = self.pipeline.create_multiple(S.StoredOrder, df)
            with tr.span("manifest.manifest_merge"):
                return manifest_merge(rows, self.store, [self.KEY],
                                      n_buckets=self.N_BUCKETS,
                                      tombstone_col="deleted")

    def _lookup(self, keys):
        spark, tr = self.spark, self.tracer
        with tr.op("ingest_serve.lookup"):
            with tr.span("localdf.local_df"):
                kdf = local_df(spark, [(k,) for k in keys], "order_id bigint")
            with tr.span("manifest.manifest_lookup"):
                found = manifest_lookup(spark, self.store, kdf).collect()
        return [r.asDict() for r in found]

    def _vacuum(self):
        with self.tracer.op("ingest_serve.vacuum"):
            with self.tracer.span("manifest.manifest_vacuum") as sp:
                n = manifest_vacuum(self.store, keep=self.KEEP, spark=self.spark)
                if sp is not None:
                    sp.value = n
        return n

    def step(self, timed: bool = True) -> int:
        if self.next_step >= len(self.inp.steps):
            self.exhausted = True
            return 0
        s = self.inp.steps[self.next_step]
        self.next_step += 1
        traced = self.tracer.enabled
        before = _files(self.store) if traced else None
        version, dt = self.attempt(
            lambda: self._commit(s.batch),
            lambda v: checks.equal_count("committed version",
                                         self.version + 1, v))
        if version is not None:
            self.version = version
        for r in s.batch:
            self._apply(self.model, r)
        self.commits += 1
        busy = dt
        if timed:
            self.samples.op_lat.append(dt)
        if traced:
            added = {p: n for p, n in _files(self.store).items()
                     if p not in before}
            self.samples.rewritten.append(
                len({os.path.dirname(p) for p in added if "/bkt=" in p}))
            self.samples.bytes_written.append(sum(added.values()))
            self.samples.arrow_bytes.append(pa.Table.from_pylist(
                [{c: row[c] for c in self.STORED_ARROW.names}
                 for row in map(self._stored, s.batch)],
                schema=self.STORED_ARROW).nbytes)
        for keys in s.lookups:
            _, dt = self.attempt(
                lambda: self._lookup(keys),
                lambda rows: checks.lookup(self.model, keys, rows, self.KEY))
            busy += dt
            if timed:
                self.samples.lookup_lat.append(dt)
        if self.commits % self.VACUUM_EVERY == 0:
            _, dt = self.attempt(self._vacuum)
            busy += dt
        if not timed:
            return 0
        self.samples.step_rates.append(len(s.batch) / busy)
        return len(s.batch)

    def verify(self) -> None:
        """The whole committed store against the model; space use."""
        def read():
            return [r.asDict() for r in
                    manifest_read(self.spark, self.store).collect()]
        self.attempt(read, lambda rows: checks.rows_by_key(
            self.model, rows, self.KEY, "manifest_read"))
        live = pa.Table.from_pylist(list(self.model.values()),
                                    schema=self.STORED_ARROW)
        self.space_amp = sum(_files(self.store).values()) / live.nbytes

    def report(self) -> dict:
        lat = [x * 1e3 for x in self.samples.lookup_lat]
        commits = [x * 1e3 for x in self.samples.op_lat]
        return {**super().report(),
                "commit_p90_ms": p90(commits), "commit_samples": len(commits),
                "lookup_p50_ms": median(lat) if lat else None,
                "lookup_p90_ms": p90(lat), "lookup_samples": len(lat),
                "space_amp": self.space_amp,
                "steps_used": self.next_step,
                "exhausted": self.exhausted}

    def layer_values(self) -> dict:
        out = {"manifest.space_amp": self.space_amp}
        s = self.samples
        if s.rewritten:
            n = len(s.rewritten)
            out["manifest.buckets_rewritten_per_commit"] = sum(s.rewritten) / n
            out["manifest.bytes_written_per_commit"] = sum(s.bytes_written) / n
            out["manifest.write_amp"] = sum(s.bytes_written) / sum(s.arrow_bytes)
        return out


class CorpusDedup(Workload):
    """Staged curation: Gopher quality flags, C4 line cleaning, exact
    dedup, MinHash-LSH near-duplicate pairs."""

    name = "corpus_dedup"
    N_DOCS = 2000
    MIN_WORDS = 50
    MAX_WORDS = 400

    def generate(self) -> str:
        self.inp = gen.corpus_inputs(self.seed, self.N_DOCS, self.MIN_WORDS,
                                     self.MAX_WORDS)
        return self.inp.digest

    def new_samples(self) -> SimpleNamespace:
        ns = super().new_samples()
        ns.recalls, ns.pairs_found = [], []
        return ns

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs_path = _write_parquet(self.inp.docs,
                                        self.workdir / "inputs" / "docs")

    def _pass(self):
        spark, tr = self.spark, self.tracer
        with tr.op("corpus_dedup.pass"):
            docs = spark.read.parquet(self.docs_path)
            with tr.span("quality.gopher_quality_flags"):
                flagged = gopher_quality_flags(docs).persist()
                _noop(flagged)
            with tr.span("quality.c4_line_clean"):
                cleaned = c4_line_clean(flagged).persist()
                n_in = _noop_count(cleaned)
            with tr.span("dedup.exact_dedup"):
                deduped = exact_dedup(cleaned, ["text"],
                                      tie_breaker="doc_id").persist()
                n_out = _noop_count(deduped)
            with tr.span("dedup.minhash_lsh_dup_pairs") as sp:
                kept = deduped.filter(F.col("passes_gopher") & F.col("passes_c4"))
                pairs = minhash_lsh_dup_pairs(kept, "cleaned_text",
                                              id_col="doc_id") \
                    .select("id_a", "id_b").collect()
                if sp is not None:
                    sp.value = len(pairs)
            for df in (flagged, cleaned, deduped):
                df.unpersist()
        return n_in, n_out, {(r[0], r[1]) for r in pairs}

    def _check_pass(self, result) -> list:
        n_in, n_out, _ = result
        return (checks.equal_count("documents in", self.N_DOCS, n_in)
                + checks.equal_count("exact-duplicate removals",
                                     self.inp.planted_exact, n_in - n_out))

    def step(self, timed: bool = True) -> int:
        result, dt = self.attempt(self._pass, self._check_pass)
        if result is None:
            return 0
        self.samples.recalls.append(
            checks.near_dup_recall(self.inp.planted_pairs, result[2]))
        self.samples.pairs_found.append(len(result[2]))
        if not timed:
            return 0
        self.samples.op_lat.append(dt)
        self.samples.step_rates.append(self.N_DOCS / dt)
        return self.N_DOCS

    def verify(self) -> None:
        pass

    def report(self) -> dict:
        return {**super().report(), **self.layer_values()}

    def layer_values(self) -> dict:
        s = self.samples
        if not s.recalls:
            return {}
        return {"dedup.planted_recall": median(s.recalls),
                "dedup.pairs_found": median(s.pairs_found)}


WORKLOADS = {w.name: w for w in (WrangleBulk, IngestServe, CorpusDedup)}
