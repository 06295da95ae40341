"""Delta interop: reader against hand-written (foreign) logs per the
public protocol spec, writer round-trips, protocol gates, commit races.

The foreign-log tests write ``_delta_log`` JSON by hand — a different
code path from write_delta — so reader correctness doesn't rest on
writer self-consistency.
"""

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangle_pypes_spark.sources.delta import (
    DeltaConcurrentWriteError,
    DeltaProtocolError,
    delta_checkpoint,
    delta_snapshot,
    read_delta,
    write_delta,
)


@pytest.fixture
def tbl(tmp_path):
    return str(tmp_path / "tbl")


def _commit(table: str, version: int, actions: list) -> None:
    os.makedirs(os.path.join(table, "_delta_log"), exist_ok=True)
    p = os.path.join(table, "_delta_log", f"{version:020d}.json")
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions))


def _meta(schema, pcols=()):
    return {"metaData": {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema.jsonValue()),
        "partitionColumns": list(pcols),
        "configuration": {},
    }}


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


class TestForeignLog:
    """Reader vs logs written by hand straight from the spec."""

    def test_add_remove_reconciliation(self, spark, tbl):
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("v", T.StringType())])
        os.makedirs(tbl, exist_ok=True)
        for name, lo in (("a.parquet", 0), ("b.parquet", 10)):
            spark.range(lo, lo + 5).select(
                F.col("id").alias("k"),
                F.col("id").cast("string").alias("v")) \
                .coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(tbl, "_stage"))
            part = next(n for n in os.listdir(os.path.join(tbl, "_stage"))
                        if n.endswith(".parquet"))
            os.replace(os.path.join(tbl, "_stage", part),
                       os.path.join(tbl, name))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        _commit(tbl, 0, [_PROTO, _meta(schema),
                         {"add": {"path": "a.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True}}])
        _commit(tbl, 1, [{"add": {"path": "b.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True}}])
        _commit(tbl, 2, [{"remove": {"path": "a.parquet",
                                     "dataChange": True}}])
        assert sorted(r["k"] for r in read_delta(spark, tbl).collect()) \
            == list(range(10, 15))
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl, version=1).collect()) \
            == list(range(0, 5)) + list(range(10, 15))
        assert delta_snapshot(spark, tbl).version == 2

    def test_partition_columns_absent_from_data_files(self, spark, tbl):
        """The Delta norm: data files do NOT contain partition columns;
        values come from the log, typed per schemaString."""
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("pday", T.IntegerType())])
        os.makedirs(os.path.join(tbl, "pday=7"), exist_ok=True)
        spark.range(0, 4).select(F.col("id").alias("k")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(tbl, "_stage"))
        part = next(n for n in os.listdir(os.path.join(tbl, "_stage"))
                    if n.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "pday=7", "d.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        _commit(tbl, 0, [_PROTO, _meta(schema, ["pday"]),
                         {"add": {"path": "pday=7/d.parquet",
                                  "partitionValues": {"pday": "7"},
                                  "size": 1, "modificationTime": 0,
                                  "dataChange": True}}])
        out = read_delta(spark, tbl)
        assert out.schema["pday"].dataType == T.IntegerType()
        assert [(r["k"], r["pday"]) for r in
                sorted(out.collect(), key=lambda r: r["k"])] \
            == [(i, 7) for i in range(4)]

    def test_null_partition_value(self, spark, tbl):
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("p", T.StringType())])
        spark.range(0, 2).select(F.col("id").alias("k")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(tbl, "_stage"))
        part = next(n for n in os.listdir(os.path.join(tbl, "_stage"))
                    if n.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "d.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        _commit(tbl, 0, [_PROTO, _meta(schema, ["p"]),
                         {"add": {"path": "d.parquet",
                                  "partitionValues": {"p": None},
                                  "size": 1, "modificationTime": 0,
                                  "dataChange": True}}])
        assert all(r["p"] is None
                   for r in read_delta(spark, tbl).collect())

    def test_protocol_feature_gate(self, spark, tbl):
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["rowTracking"],
                          "writerFeatures": ["rowTracking"]}},
            _meta(schema)])
        with pytest.raises(DeltaProtocolError, match="rowTracking"):
            delta_snapshot(spark, tbl)

    def test_type_widening_reads(self, spark, tbl):
        """r13: a widened table (narrow parquet under a wide
        schemaString + the typeWidening feature) reads with the wide
        types — Spark's parquet reader performs the spec widenings
        when the scan declares the table schema."""
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("x", T.DoubleType())])
        os.makedirs(tbl, exist_ok=True)
        spark.range(0, 6).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 1.5).cast("float").alias("x"))             .coalesce(1).write.mode("overwrite")             .parquet(os.path.join(tbl, "_stage"))
        part = next(n for n in os.listdir(os.path.join(tbl, "_stage"))
                    if n.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "narrow.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["typeWidening"]}},
            _meta(schema),
            {"add": {"path": "narrow.parquet",
                     "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}])
        out = read_delta(spark, tbl)
        assert out.schema["k"].dataType == T.LongType()
        assert out.schema["x"].dataType == T.DoubleType()
        got = sorted((r["k"], r["x"]) for r in out.collect())
        assert got == [(i, i * 1.5) for i in range(6)]

    def test_type_widening_append_writes_wide(self, spark, tbl):
        """r14 pin (VERDICT): an APPEND into a widened foreign table
        writes the WIDENED type (the table schema is the write
        contract — new files must carry it), and an append that
        still uses the old narrow type gates loudly instead of
        committing drifted files."""
        self.test_type_widening_reads(spark, tbl)
        wide = spark.range(10, 13).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("x"))
        assert write_delta(wide, tbl) == 1
        # the staged parquet itself carries the WIDE physical types
        import pyarrow.parquet as pq
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        add = next(json.loads(ln)["add"]
                   for ln in text.splitlines() if "\"add\"" in ln)
        sch = pq.ParquetFile(
            os.path.join(tbl, add["path"])).schema_arrow
        assert str(sch.field("k").type) == "int64"
        assert str(sch.field("x").type) == "double"
        got = sorted((r["k"], r["x"]) for r in
                     read_delta(spark, tbl).collect())
        assert got == [(i, i * 1.5) for i in range(6)] \
            + [(i, i * 1.5) for i in range(10, 13)]
        # narrow-typed append refuses loudly
        narrow = spark.range(20, 22).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 1.5).cast("float").alias("x"))
        with pytest.raises(ValueError, match="type mismatch"):
            write_delta(narrow, tbl)

    def test_dv_reader_feature_is_supported(self, spark, tbl):
        """deletionVectors in readerFeatures must NOT gate (r12)."""
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            _meta(schema)])
        assert delta_snapshot(spark, tbl).version == 0

    def test_column_mapping_name_mode_is_supported(self, spark, tbl):
        """name-mode column mapping must NOT gate (r12); id mode
        is field-id matched (r13) — see TestColumnMapping."""
        schema = T.StructType([T.StructField("k", T.LongType())])
        m = _meta(schema)
        m["metaData"]["configuration"] = {
            "delta.columnMapping.mode": "name"}
        _commit(tbl, 0, [_PROTO, m])
        assert delta_snapshot(spark, tbl).version == 0

    def test_missing_commit_is_loud(self, spark, tbl):
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [_PROTO, _meta(schema)])
        _commit(tbl, 2, [{"add": {"path": "x.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "dataChange": True}}])
        with pytest.raises(ValueError, match="missing commit 1"):
            delta_snapshot(spark, tbl)

    def test_not_a_table(self, spark, tbl):
        with pytest.raises(FileNotFoundError, match="no commits"):
            delta_snapshot(spark, tbl)

    def test_bad_version_request(self, spark, tbl):
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [_PROTO, _meta(schema)])
        with pytest.raises(ValueError, match="not available"):
            delta_snapshot(spark, tbl, version=5)


class TestWriterRoundtrip:
    def test_append_overwrite_replace_where(self, spark, tbl):
        df = spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("bucket"),
            (F.col("id") * 10).alias("val"))
        assert write_delta(df, tbl, partition_by=["bucket"]) == 0
        extra = df.filter("k < 10")
        assert write_delta(extra, tbl) == 1
        assert read_delta(spark, tbl).count() == 110

        repl = spark.range(1000, 1003).select(
            F.col("id").alias("k"), F.lit("1").alias("bucket"),
            F.lit(0).cast("long").alias("val"))
        assert write_delta(repl, tbl, mode="overwrite",
                           replace_where={"bucket": "1"}) == 2
        out = read_delta(spark, tbl)
        b1 = out.filter("bucket = '1'")
        assert sorted(r["k"] for r in b1.collect()) == [1000, 1001, 1002]
        n_other = 110 - (33 + 3)  # bucket1 had 33 rows (k%3==1) + 3 extras
        assert out.filter("bucket != '1'").count() == n_other

        # full overwrite
        assert write_delta(repl, tbl, mode="overwrite") == 3
        assert read_delta(spark, tbl).count() == 3
        # time travel still sees every prior state
        assert read_delta(spark, tbl, version=0).count() == 100

    def test_checkpoint_replay(self, spark, tbl):
        df = spark.range(0, 20).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        write_delta(df.filter("k < 5"), tbl)
        assert delta_checkpoint(spark, tbl) == 1
        write_delta(df.filter("k >= 18"), tbl)
        # force the checkpoint path: delete the pre-checkpoint JSONs
        for v in (0, 1):
            os.remove(os.path.join(tbl, "_delta_log",
                                   f"{v:020d}.json"))
        assert read_delta(spark, tbl).count() == 20 + 5 + 2
        snap = delta_snapshot(spark, tbl)
        assert snap.version == 2 and snap.partition_columns == ["p"]

    def test_partition_filter_pruning(self, spark, tbl):
        df = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        snap = delta_snapshot(spark, tbl)
        out = read_delta(spark, tbl, partition_filter={"p": "2"})
        assert out.count() == 10
        # the pruned plan reads strictly fewer files than the table has
        scanned = out.select(
            F.input_file_name().alias("f")).distinct().count()
        assert scanned < len(snap.files)
        with pytest.raises(ValueError, match="not partition columns"):
            read_delta(spark, tbl, partition_filter={"k": "1"})

    def test_schema_and_partition_guards(self, spark, tbl):
        df = spark.range(0, 5).select(F.col("id").alias("k"),
                                      F.lit("x").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        with pytest.raises(ValueError, match="partition_by"):
            write_delta(df, tbl, partition_by=["k"])
        with pytest.raises(ValueError, match="schema mismatch"):
            write_delta(df.select("p", F.col("k").alias("other")), tbl)
        # same names, drifted type: must be rejected, not silently cast
        with pytest.raises(ValueError, match="type mismatch"):
            write_delta(df.select(F.col("k").cast("string").alias("k"),
                                  "p"), tbl)

    @staticmethod
    def _steal_next_commit(monkeypatch, tbl, times: int):
        """Patch the put-if-absent publish so a concurrent writer
        'wins' the target version `times` times BETWEEN our snapshot
        read and our publish — the genuine race window."""
        from wrangle_pypes_spark.sources import delta as dmod
        real = dmod._create_exclusive
        state = {"left": times}

        def raced(path, text, spark=None):
            if state["left"] > 0 and path.endswith(".json"):
                state["left"] -= 1
                with open(path, "w") as f:
                    f.write(json.dumps(
                        {"commitInfo": {"operation": "WRITE"}}))
            return real(path, text, spark)

        monkeypatch.setattr(dmod, "_create_exclusive", raced)

    def test_append_race_retries(self, spark, tbl, monkeypatch):
        df = spark.range(0, 6).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        self._steal_next_commit(monkeypatch, tbl, times=2)
        # loses versions 1 and 2 to the interloper, wins 3
        assert write_delta(df, tbl) == 3
        assert read_delta(spark, tbl).count() == 12

    def test_overwrite_race_is_loud(self, spark, tbl, monkeypatch):
        df = spark.range(0, 6).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        self._steal_next_commit(monkeypatch, tbl, times=1)
        with pytest.raises(DeltaConcurrentWriteError):
            write_delta(df, tbl, mode="overwrite")

    def test_empty_partition_filter_result(self, spark, tbl):
        df = spark.range(0, 5).select(
            F.col("id").alias("k"), F.lit("a").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        out = read_delta(spark, tbl, partition_filter={"p": "zz"})
        assert out.count() == 0
        assert out.schema.fieldNames() == ["k", "p"]


class TestHistoryAndVacuum:
    def test_history_and_vacuum(self, spark, tbl):
        df = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        write_delta(df.filter("k < 6"), tbl)
        write_delta(df.filter("k >= 24"), tbl, mode="overwrite")

        from wrangle_pypes_spark.sources.delta import (
            delta_history,
            delta_vacuum,
        )

        hist = delta_history(spark, tbl)
        assert [h["version"] for h in hist] == [2, 1, 0]
        assert hist[0]["operation"] == "OVERWRITE"
        assert hist[0]["n_removed"] > 0
        assert hist[2]["operation"] == "WRITE"

        # time travel works pre-vacuum
        assert read_delta(spark, tbl, version=1).count() == 36
        n_live = len(delta_snapshot(spark, tbl).files)
        # default retention (7 days): freshly unreferenced files are
        # PROTECTED — a concurrent writer may still publish them
        assert delta_vacuum(spark, tbl) == 0
        assert read_delta(spark, tbl, version=1).count() == 36
        deleted = delta_vacuum(spark, tbl, retention_seconds=0)
        assert deleted > 0
        # current snapshot unaffected; old version's files are gone
        assert read_delta(spark, tbl).count() == 6
        assert len(delta_snapshot(spark, tbl).files) == n_live
        with pytest.raises(Exception):
            read_delta(spark, tbl, version=1).count()
        # idempotent
        assert delta_vacuum(spark, tbl, retention_seconds=0) == 0

    def test_vacuum_skips_staging_dirs(self, spark, tbl):
        df = spark.range(0, 4).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        staged = os.path.join(tbl, "_staging_deadbeef")
        os.makedirs(staged, exist_ok=True)
        spark.range(0, 2).coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(staged, "out"))
        from wrangle_pypes_spark.sources.delta import delta_vacuum
        # even with zero retention, in-flight staging dirs are never
        # touched (the ADVICE r11 writer-race fix)
        assert delta_vacuum(spark, tbl, retention_seconds=0) == 0
        assert os.path.isdir(staged)


class TestHiveFastPath:
    def test_fast_path_single_scan_and_log_authority(self, spark, tbl):
        """write_delta's hive layout takes the basePath fast path (no
        per-partition unions in the plan); a log/path disagreement
        falls back to the union path where the LOG wins."""
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        out = read_delta(spark, tbl)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan  # single scan
        assert out.count() == 40
        assert out.filter("p = CAST(k % 4 AS STRING)").count() == 40

        # sabotage one add's partitionValues in a fresh commit: path
        # says p=0, log says p=9 -> fast path must refuse, union path
        # must surface the LOG value
        snap = delta_snapshot(spark, tbl)
        victim = next(a for a in snap.files.values()
                      if a["partitionValues"].get("p") == "0")
        import json as _json
        actions = [
            {"remove": {"path": victim["path"], "dataChange": True}},
            {"add": {**victim, "partitionValues": {"p": "9"}}},
        ]
        _commit(tbl, snap.version + 1,
                [_json.loads(_json.dumps(a)) for a in actions])
        out2 = read_delta(spark, tbl)
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan2  # fell back
        assert out2.filter("p = '9'").count() > 0
        assert out2.filter("p = '0'").count() \
            < out.filter("p = '0'").count() + 1

    def test_mixed_depths_take_grouped_scan(self, spark, tbl):
        """Converted files under <root>/old/p=*/ beside appended files
        under <root>/p=*/: every path agrees with its log values, but
        the two depths are two hive roots, so one basePath scan would
        fail.  The read takes the grouped scan instead."""
        from wrangle_pypes_spark.sources.delta import convert_to_delta
        for p in (0, 1):
            (spark.range(0, 4).select(F.col("id").alias("k"))
             .coalesce(1).write.parquet(
                 os.path.join(tbl, "old", f"p={p}")))
        convert_to_delta(spark, tbl, partition_schema=T.StructType(
            [T.StructField("p", T.LongType())]))
        write_delta(spark.range(0, 2).select(
            F.col("id").alias("k"), F.col("id").alias("p")), tbl,
            mode="append", partition_by=["p"])
        out = read_delta(spark, tbl)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan
        assert out.count() == 10
        assert sorted((r["p"], r["k"]) for r in out.collect()) == sorted(
            [(p, k) for p in (0, 1) for k in range(4)] + [(0, 0), (1, 1)])


class TestTxnIdempotence:
    def test_txn_skips_replayed_version(self, spark, tbl):
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        v0 = write_delta(df, tbl, txn_app_id="app", txn_version=0)
        assert v0 == 0
        # replay of the same batch id: skipped, rowcount unchanged
        v_again = write_delta(df, tbl, txn_app_id="app", txn_version=0)
        assert v_again == 0
        assert read_delta(spark, tbl).count() == 10
        # next batch commits
        assert write_delta(df, tbl, txn_app_id="app",
                           txn_version=1) == 1
        assert read_delta(spark, tbl).count() == 20
        # other apps are independent
        assert write_delta(df, tbl, txn_app_id="other",
                           txn_version=0) == 2
        snap = delta_snapshot(spark, tbl)
        assert snap.txns == {"app": 1, "other": 0}

    def test_txn_survives_checkpoint(self, spark, tbl):
        df = spark.range(0, 5).select(F.col("id").alias("k"))
        write_delta(df, tbl, txn_app_id="app", txn_version=7)
        delta_checkpoint(spark, tbl)
        # force the checkpoint replay path
        os.remove(os.path.join(tbl, "_delta_log",
                               f"{0:020d}.json"))
        snap = delta_snapshot(spark, tbl)
        assert snap.txns == {"app": 7}
        # replay of batch 7 after a checkpoint is still skipped
        assert write_delta(df, tbl, txn_app_id="app",
                           txn_version=7) == 0
        assert read_delta(spark, tbl).count() == 5

    def test_txn_guard_args(self, spark, tbl):
        df = spark.range(0, 2).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="go together"):
            write_delta(df, tbl, txn_app_id="app")

    def test_streaming_maintainer_exactly_once(self, spark, tbl,
                                               tmp_path):
        import time

        from wrangle_pypes_spark.streaming.windows import (
            foreach_batch_delta_append,
        )

        src = str(tmp_path / "src")
        spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p")) \
            .write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema("k long, p string")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = foreach_batch_delta_append(
            stream, tbl, partition_by=["p"], app_id="ingest")
        q.awaitTermination(120)
        assert read_delta(spark, tbl).count() == 30
        # re-drain WITHOUT a checkpoint: batch ids restart at 0 and
        # the txn guard must skip every one of them
        q2 = foreach_batch_delta_append(
            stream, tbl, partition_by=["p"], app_id="ingest")
        q2.awaitTermination(120)
        assert read_delta(spark, tbl).count() == 30


class TestDeletionVectors:
    """DV read path vs hand-written (foreign) logs AND the
    delta_delete_where writer; the codec itself is covered in
    tests/test_dv.py."""

    def _one_file_table(self, spark, tbl, n=20):
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("v", T.StringType())])
        os.makedirs(tbl, exist_ok=True)
        spark.range(0, n).select(
            F.col("id").alias("k"),
            F.col("id").cast("string").alias("v")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(tbl, "_stage"))
        part = next(p for p in os.listdir(os.path.join(tbl, "_stage"))
                    if p.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "d.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        return schema

    _DV_PROTO = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"]}}

    def test_foreign_inline_dv(self, spark, tbl):
        from wrangle_pypes_spark.sources import dv as dvmod
        schema = self._one_file_table(spark, tbl)
        bitmap = dvmod.rba_serialize([0, 3, 7])
        text, size = dvmod.inline_encode(bitmap)
        _commit(tbl, 0, [self._DV_PROTO, _meta(schema),
                         {"add": {"path": "d.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True,
                                  "deletionVector": {
                                      "storageType": "i",
                                      "pathOrInlineDv": text,
                                      "sizeInBytes": size,
                                      "cardinality": 3}}}])
        got = sorted(r["k"] for r in read_delta(spark, tbl).collect())
        assert got == [k for k in range(20) if k not in (0, 3, 7)]

    def test_foreign_file_dv(self, spark, tbl):
        from wrangle_pypes_spark.sources import dv as dvmod
        schema = self._one_file_table(spark, tbl)
        dv_uuid = uuid.uuid4()
        bitmap = dvmod.rba_serialize(list(range(10)))
        data, offsets = dvmod.pack_dv_file([bitmap])
        with open(os.path.join(
                tbl, f"deletion_vector_{dv_uuid}.bin"), "wb") as f:
            f.write(data)
        _commit(tbl, 0, [self._DV_PROTO, _meta(schema),
                         {"add": {"path": "d.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True,
                                  "deletionVector": {
                                      "storageType": "u",
                                      "pathOrInlineDv":
                                          dvmod.encode_uuid_path(
                                              dv_uuid),
                                      "offset": offsets[0],
                                      "sizeInBytes": len(bitmap),
                                      "cardinality": 10}}}])
        got = sorted(r["k"] for r in read_delta(spark, tbl).collect())
        assert got == list(range(10, 20))

    def test_foreign_corrupt_dv_is_loud(self, spark, tbl):
        from wrangle_pypes_spark.sources import dv as dvmod
        schema = self._one_file_table(spark, tbl)
        bitmap = dvmod.rba_serialize([1])
        text, size = dvmod.inline_encode(bitmap)
        _commit(tbl, 0, [self._DV_PROTO, _meta(schema),
                         {"add": {"path": "d.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True,
                                  "deletionVector": {
                                      "storageType": "i",
                                      "pathOrInlineDv": text,
                                      "sizeInBytes": size,
                                      "cardinality": 99}}}])
        with pytest.raises(Exception, match="cardinality"):
            read_delta(spark, tbl).collect()

    def test_delete_where_roundtrip(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        df = spark.range(0, 60).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
            (F.col("id") * 2).alias("val"))
        write_delta(df, tbl, partition_by=["p"])
        v = delta_delete_where(spark, tbl, "k % 5 = 0")
        assert v == 1
        out = read_delta(spark, tbl)
        assert sorted(r["k"] for r in out.collect()) \
            == [k for k in range(60) if k % 5 != 0]
        # protocol upgraded to the DV feature
        snap = delta_snapshot(spark, tbl)
        assert "deletionVectors" in snap.protocol["readerFeatures"]
        # second delete must UNION with existing vectors
        assert delta_delete_where(spark, tbl, "k % 7 = 0") == 2
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == [k for k in range(60) if k % 5 != 0 and k % 7 != 0]
        # nothing matched -> no new commit
        assert delta_delete_where(spark, tbl, "k = -1") == 2
        # time travel sees the pre-delete state
        assert read_delta(spark, tbl, version=0).count() == 60
        # partition pruning composes with DV application
        p1 = read_delta(spark, tbl, partition_filter={"p": "1"})
        assert sorted(r["k"] for r in p1.collect()) \
            == [k for k in range(60)
                if k % 3 == 1 and k % 5 != 0 and k % 7 != 0]

    def test_delete_survives_checkpoint(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        df = spark.range(0, 30).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        delta_delete_where(spark, tbl, "k >= 20")
        assert delta_checkpoint(spark, tbl) == 1
        # force the checkpoint replay path
        for v in (0, 1):
            os.remove(os.path.join(tbl, "_delta_log",
                                   f"{v:020d}.json"))
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == list(range(20))


class TestDistributedState:
    """The r12 contract: snapshot file state stays a Spark plan; the
    driver materializes only pruned file lists, and checkpoint writes
    never build a driver-side row list."""

    def _many_add_checkpoint(self, spark, tbl, n_adds=50_000):
        """A table whose checkpoint carries n_adds synthetic add
        actions (only partition p=real has physical files)."""
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("p", T.StringType())])
        os.makedirs(os.path.join(tbl, "p=real"), exist_ok=True)
        spark.range(0, 7).select(F.col("id").alias("k")) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(tbl, "_stage"))
        part = next(p for p in os.listdir(os.path.join(tbl, "_stage"))
                    if p.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "p=real", "d.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        meta = _meta(schema, ["p"])["metaData"]
        from wrangle_pypes_spark.sources.delta import (
            _CHECKPOINT_SCHEMA,
        )
        proto_row = (None, (1, 2, None, None), None, None, None)
        meta_row = (None, None,
                    (meta["id"], None, None, ("parquet", {}),
                     meta["schemaString"], ["p"], {}, None),
                    None, None)
        add_rows = [
            (None, None, None,
             (f"p=fake{i}/f{i}.parquet", {"p": f"fake{i}"},
              1, 0, False, None, None), None)
            for i in range(n_adds - 1)]
        real_row = (None, None, None,
                    ("p=real/d.parquet", {"p": "real"}, 1, 0, False,
                     None, None), None)
        cp_df = spark.createDataFrame(
            [proto_row, meta_row, real_row] + add_rows,
            _CHECKPOINT_SCHEMA)
        cp_dir = os.path.join(tbl, "_delta_log")
        os.makedirs(cp_dir, exist_ok=True)
        tmp = os.path.join(tbl, "_cp_stage")
        cp_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp)
                    if p.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(cp_dir,
                                f"{0:020d}.checkpoint.parquet"))
        shutil.rmtree(tmp)
        with open(os.path.join(cp_dir, "_last_checkpoint"), "w") as f:
            f.write(json.dumps({"version": 0, "size": n_adds + 2}))
        _commit(tbl, 0, [{"commitInfo": {"operation": "WRITE"}}])

    def test_snapshot_is_lazy_and_prune_bounds_collect(self, spark,
                                                       tbl):
        self._many_add_checkpoint(spark, tbl)
        snap = delta_snapshot(spark, tbl)
        # resolving a snapshot materializes NO file state
        assert snap._adds_df is None
        assert snap.files_df.count() == 50_000
        # a pruned read collects exactly the surviving add
        pruned = snap.pruned_adds({"p": "real"})
        assert [a["path"] for a in pruned] == ["p=real/d.parquet"]
        out = read_delta(spark, tbl, partition_filter={"p": "real"})
        assert out.count() == 7

    def test_checkpoint_never_materializes_file_list(self, spark, tbl,
                                                     monkeypatch):
        df = spark.range(0, 12).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        from wrangle_pypes_spark.sources import delta as dmod

        def boom(self, partition_filter=None):
            raise AssertionError(
                "checkpoint write materialized the file list")

        monkeypatch.setattr(dmod.DeltaSnapshot, "pruned_adds", boom)
        assert delta_checkpoint(spark, tbl) == 0
        monkeypatch.undo()
        os.remove(os.path.join(tbl, "_delta_log", f"{0:020d}.json"))
        assert read_delta(spark, tbl).count() == 12

    def test_append_never_touches_file_state(self, spark, tbl,
                                             monkeypatch):
        df = spark.range(0, 9).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        from wrangle_pypes_spark.sources import delta as dmod

        def boom(self):
            raise AssertionError("append composed the file-state plan")

        monkeypatch.setattr(dmod.DeltaSnapshot, "_build", boom)
        assert write_delta(df, tbl) == 1
        monkeypatch.undo()
        assert read_delta(spark, tbl).count() == 18


class TestColumnMapping:
    """Column mapping (name mode): foreign tables whose data files
    carry physical column names (the shape any renamed-column Delta
    table has).  Hand-written logs straight from the spec."""

    def _mapped_table(self, spark, tbl):
        """Physical layout: k->col-aaa, info(struct{v->col-ccc})->
        col-bbb, partition p->col-ppp (absent from data files)."""
        schema_json = {
            "type": "struct", "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName":
                                  "col-aaa"}},
                {"name": "info", "nullable": True,
                 "type": {"type": "struct", "fields": [
                     {"name": "v", "type": "string",
                      "nullable": True,
                      "metadata": {"delta.columnMapping.id": 3,
                                   "delta.columnMapping.physicalName":
                                       "col-ccc"}}]},
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName":
                                  "col-bbb"}},
                {"name": "p", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 4,
                              "delta.columnMapping.physicalName":
                                  "col-ppp"}},
            ]}
        os.makedirs(tbl, exist_ok=True)
        for pval, lo in (("x", 0), ("y", 10)):
            d = spark.range(lo, lo + 5).select(
                F.col("id").alias("col-aaa"),
                F.struct(F.concat(F.lit("v"), F.col("id"))
                         .alias("col-ccc")).alias("col-bbb"))
            d.coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(tbl, "_stage"))
            part = next(n for n in os.listdir(
                os.path.join(tbl, "_stage"))
                if n.endswith(".parquet"))
            os.replace(os.path.join(tbl, "_stage", part),
                       os.path.join(tbl, f"{pval}.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        meta = {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": ["col-ppp"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "4"},
        }}
        proto = {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}}
        _commit(tbl, 0, [proto, meta,
                         {"add": {"path": "x.parquet",
                                  "partitionValues": {"col-ppp": "x"},
                                  "size": 1, "modificationTime": 0,
                                  "dataChange": True}},
                         {"add": {"path": "y.parquet",
                                  "partitionValues": {"col-ppp": "y"},
                                  "size": 1, "modificationTime": 0,
                                  "dataChange": True}}])

    def test_logical_read_and_nested_rename(self, spark, tbl):
        self._mapped_table(spark, tbl)
        out = read_delta(spark, tbl)
        assert out.schema.fieldNames() == ["k", "info", "p"]
        assert out.schema["info"].dataType.fieldNames() == ["v"]
        rows = sorted(((r["k"], r["info"]["v"], r["p"])
                       for r in out.collect()))
        assert rows == [(i, f"v{i}", "x") for i in range(5)] \
            + [(i, f"v{i}", "y") for i in range(10, 15)]

    def test_partition_filter_logical_key(self, spark, tbl):
        self._mapped_table(spark, tbl)
        out = read_delta(spark, tbl, partition_filter={"p": "y"})
        assert sorted(r["k"] for r in out.collect()) \
            == list(range(10, 15))
        # physical key works too (foreign callers may pass it)
        out2 = read_delta(spark, tbl,
                          partition_filter={"col-ppp": "x"})
        assert out2.count() == 5
        with pytest.raises(ValueError, match="not partition columns"):
            read_delta(spark, tbl, partition_filter={"zz": "1"})

    def test_dv_delete_on_mapped_table(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        self._mapped_table(spark, tbl)
        v = delta_delete_where(spark, tbl, "k % 2 = 0")
        assert v == 1
        out = read_delta(spark, tbl)
        assert sorted(r["k"] for r in out.collect()) \
            == [k for k in list(range(5)) + list(range(10, 15))
                if k % 2 == 1]
        # the rewritten add actions keep PHYSICAL partition keys
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        for line in text.splitlines():
            a = json.loads(line)
            if "add" in a:
                assert set(a["add"]["partitionValues"]) == {"col-ppp"}

    def test_write_into_name_mapped_table(self, spark, tbl):
        """r13: appends translate logical -> physical (nested
        included) so the staged parquet carries the table's physical
        layout and the commit keeps physical partition keys."""
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        self._mapped_table(spark, tbl)
        df = spark.range(20, 23).select(
            F.col("id").alias("k"),
            F.struct(F.concat(F.lit("v"), F.col("id"))
                     .alias("v")).alias("info"),
            F.lit("x").alias("p"))
        v = write_delta(df, tbl)
        assert v == 1
        out = read_delta(spark, tbl)
        assert sorted(r["k"] for r in out.collect()) \
            == list(range(5)) + list(range(10, 15)) \
            + list(range(20, 23))
        assert out.filter("p = 'x'").filter("k >= 20").count() == 3
        # the staged file itself must carry PHYSICAL column names
        import pyarrow.parquet as pq
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        add = next(json.loads(ln)["add"]
                   for ln in text.splitlines()
                   if "\"add\"" in ln)
        assert set(add["partitionValues"]) == {"col-ppp"}
        names = pq.ParquetFile(
            os.path.join(tbl, add["path"])).schema_arrow.names
        assert names == ["col-aaa", "col-bbb"]
        # row-level DELETE composes with the appended file
        delta_delete_where(spark, tbl, "k >= 21")
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == list(range(5)) + list(range(10, 15)) + [20]

    def test_replace_where_logical_key_on_mapped_table(self, spark,
                                                       tbl):
        """ADVICE r13: replace_where must accept LOGICAL partition
        names on a column-mapped table (the key check used to run
        after partition_by was reassigned to physical names)."""
        self._mapped_table(spark, tbl)
        df = spark.range(30, 33).select(
            F.col("id").alias("k"),
            F.struct(F.concat(F.lit("v"), F.col("id"))
                     .alias("v")).alias("info"),
            F.lit("x").alias("p"))
        v = write_delta(df, tbl, mode="overwrite",
                        replace_where={"p": "x"})
        assert v == 1
        rows = sorted(r["k"] for r in
                      read_delta(spark, tbl).collect())
        assert rows == list(range(10, 15)) + list(range(30, 33))
        # physical key keeps working for foreign callers
        df2 = df.select("k", "info", F.lit("y").alias("p"))
        write_delta(df2, tbl, mode="overwrite",
                    replace_where={"col-ppp": "y"})
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == sorted(list(range(30, 33)) * 2)
        # unknown keys still fail loudly, naming LOGICAL columns
        with pytest.raises(ValueError, match=r"\['p'\]"):
            write_delta(df, tbl, mode="overwrite",
                        replace_where={"zz": "1"})

    def _id_mode_table(self, spark, tbl):
        """Foreign id-mode table: parquet columns under arbitrary
        physical names matched ONLY by field id."""
        import pandas as pd
        schema_json = {
            "type": "struct", "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName":
                                  "col-k1"}},
                {"name": "info", "nullable": True,
                 "type": {"type": "struct", "fields": [
                     {"name": "v", "type": "string",
                      "nullable": True,
                      "metadata": {"delta.columnMapping.id": 3,
                                   "delta.columnMapping.physicalName":
                                       "col-v3"}}]},
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName":
                                  "col-i2"}},
            ]}
        wschema = T.StructType([
            T.StructField("col-k1", T.LongType(), True,
                          {"parquet.field.id": 1}),
            T.StructField("col-i2", T.StructType([
                T.StructField("col-v3", T.StringType(), True,
                              {"parquet.field.id": 3})]), True,
                          {"parquet.field.id": 2}),
        ])
        pdf = pd.DataFrame(
            [(i, (f"v{i}",)) for i in range(6)],
            columns=["col-k1", "col-i2"])
        os.makedirs(tbl, exist_ok=True)
        spark.createDataFrame(pdf, wschema).coalesce(1) \
            .write.mode("overwrite") \
            .parquet(os.path.join(tbl, "_stage"))
        part = next(n for n in os.listdir(os.path.join(tbl, "_stage"))
                    if n.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "d0.parquet"))
        shutil.rmtree(os.path.join(tbl, "_stage"))
        meta = {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "3"},
        }}
        proto = {"protocol": {"minReaderVersion": 2,
                              "minWriterVersion": 5}}
        _commit(tbl, 0, [proto, meta,
                         {"add": {"path": "d0.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True}}])

    def test_id_mode_read(self, spark, tbl):
        """r13: id-mode tables read by parquet FIELD ID — physical
        names are arbitrary and never consulted."""
        self._id_mode_table(spark, tbl)
        out = read_delta(spark, tbl)
        assert out.schema.fieldNames() == ["k", "info"]
        rows = sorted((r["k"], r["info"]["v"])
                      for r in out.collect())
        assert rows == [(i, f"v{i}") for i in range(6)]

    def test_id_mode_write_roundtrip(self, spark, tbl):
        """r13: appends into an id-mode table carry parquet field ids
        so foreign id-mode readers can match the new files."""
        import pyarrow.parquet as pq
        self._id_mode_table(spark, tbl)
        df = spark.range(10, 13).select(
            F.col("id").alias("k"),
            F.struct(F.concat(F.lit("v"), F.col("id"))
                     .alias("v")).alias("info"))
        assert write_delta(df, tbl) == 1
        out = read_delta(spark, tbl)
        assert sorted(r["k"] for r in out.collect()) \
            == list(range(6)) + list(range(10, 13))
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        add = next(json.loads(ln)["add"]
                   for ln in text.splitlines() if "\"add\"" in ln)
        s = pq.ParquetFile(
            os.path.join(tbl, add["path"])).schema_arrow
        assert s.field(0).metadata[b"PARQUET:field_id"] == b"1"
        assert s.field(1).metadata[b"PARQUET:field_id"] == b"2"
        assert s.field(1).type.field(0) \
            .metadata[b"PARQUET:field_id"] == b"3"


    def test_id_mode_scan_never_touches_session_conf(self, spark,
                                                     tbl):
        """ADVICE r13: id-mode matching must not flip
        spark.sql.parquet.fieldId.read.enabled session-wide — the
        engine resolves ids from footers, so the plan stays correct
        even with the conf explicitly false at ACTION time."""
        key = "spark.sql.parquet.fieldId.read.enabled"
        self._id_mode_table(spark, tbl)
        spark.conf.set(key, "false")
        try:
            out = read_delta(spark, tbl)
            assert spark.conf.get(key) == "false"
            rows = sorted((r["k"], r["info"]["v"])
                          for r in out.collect())
            assert rows == [(i, f"v{i}") for i in range(6)]
            assert spark.conf.get(key) == "false"
        finally:
            spark.conf.unset(key)

    def test_id_mode_heterogeneous_layouts(self, spark, tbl):
        """Two id-mode data files whose physical names differ AND
        whose column order differs — only the field ids agree.  The
        footer-resolved scan must group per layout and union."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        self._id_mode_table(spark, tbl)
        # second file: swapped order, fresh names, a name that
        # COLLIDES with file 1's k-column name but carries NO id
        sch = pa.schema([
            pa.field("zzz", pa.struct([
                pa.field("deep", pa.string(),
                         metadata={b"PARQUET:field_id": b"3"})]),
                metadata={b"PARQUET:field_id": b"2"}),
            pa.field("other", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("col-k1", pa.int64()),  # decoy, no field id
        ])
        t = pa.table(
            {"zzz": [{"deep": f"v{i}"} for i in range(20, 23)],
             "other": list(range(20, 23)),
             "col-k1": [999] * 3}, schema=sch)
        pq.write_table(t, os.path.join(tbl, "d1.parquet"))
        _commit(tbl, 1, [{"add": {
            "path": "d1.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}])
        rows = sorted((r["k"], r["info"]["v"])
                      for r in read_delta(spark, tbl).collect())
        assert rows == [(i, f"v{i}")
                        for i in list(range(6)) + [20, 21, 22]]


class TestChangeDataFeed:
    """delta_changes (the table_changes surface): derivation from
    add/remove actions, DV-pair delete extraction, cdc-action
    authority, timestamp time travel."""

    def test_insert_delete_derivation(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import delta_changes
        df = spark.range(0, 20).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])              # v0
        write_delta(df.filter("k < 3"), tbl)                  # v1
        write_delta(df.filter("k >= 18"), tbl,
                    mode="overwrite",
                    replace_where={"p": "1"})                 # v2
        ch = delta_changes(spark, tbl, from_version=0)
        got = sorted((r["k"], r["_change_type"],
                      r["_commit_version"]) for r in ch.collect())
        # v2 stages the full input (write_delta's replace_where does
        # not filter rows; it scopes only the REMOVED files), so both
        # 18 and 19 are inserts; deletes are partition p=1's old rows
        want = sorted(
            [(k, "insert", 0) for k in range(20)]
            + [(k, "insert", 1) for k in range(3)]
            + [(k, "insert", 2) for k in (18, 19)]
            + [(k, "delete", 2) for k in range(20) if k % 2 == 1]
            + [(k, "delete", 2) for k in range(3) if k % 2 == 1])
        assert got == want
        # range clipping: only v1..v2
        ch12 = delta_changes(spark, tbl, from_version=1,
                             to_version=1)
        assert sorted(r["k"] for r in ch12.collect()) == [0, 1, 2]

    def test_dv_delete_changes(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_changes,
            delta_delete_where,
        )
        df = spark.range(0, 30).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        delta_delete_where(spark, tbl, "k % 3 = 0")           # v1
        delta_delete_where(spark, tbl, "k % 5 = 0")           # v2
        ch = delta_changes(spark, tbl, from_version=1)
        got = sorted((r["k"], r["_change_type"],
                      r["_commit_version"]) for r in ch.collect())
        # v1 deletes multiples of 3; v2 deletes multiples of 5 NOT
        # already dead (15 and 0 were killed at v1, not re-reported)
        want = sorted(
            [(k, "delete", 1) for k in range(30) if k % 3 == 0]
            + [(k, "delete", 2) for k in range(30)
               if k % 5 == 0 and k % 3 != 0])
        assert got == want

    def test_cdc_actions_are_authoritative(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import delta_changes
        schema = T.StructType([T.StructField("k", T.LongType())])
        os.makedirs(os.path.join(tbl, "_cdc"), exist_ok=True)
        cdc_df = spark.createDataFrame(
            [(1, "update_preimage"), (2, "update_postimage")],
            "k long, _change_type string")
        stage = os.path.join(tbl, "_stage")
        cdc_df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(n for n in os.listdir(stage)
                    if n.endswith(".parquet"))
        os.replace(os.path.join(stage, part),
                   os.path.join(tbl, "_cdc", "c0.parquet"))
        shutil.rmtree(stage)
        _commit(tbl, 0, [_PROTO, _meta(schema)])
        _commit(tbl, 1, [
            {"cdc": {"path": "_cdc/c0.parquet",
                     "partitionValues": {}, "size": 1,
                     "dataChange": False}},
            # derivation would double-report: cdc must win
            {"add": {"path": "ignored.parquet",
                     "partitionValues": {}, "size": 1,
                     "dataChange": True}}])
        ch = delta_changes(spark, tbl, from_version=1)
        assert sorted((r["k"], r["_change_type"])
                      for r in ch.collect()) \
            == [(1, "update_preimage"), (2, "update_postimage")]

    def test_cdc_partitioned_reattaches_partition_cols(self, spark,
                                                       tbl):
        """Regression: foreign cdc parquet omits partition columns
        (they live in the action's partitionValues) — selecting the
        table schema over the raw cdc scan raised AnalysisException
        on exactly the partitioned tables where cdc appears."""
        from wrangle_pypes_spark.sources.delta import delta_changes
        schema = T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("p", T.StringType())])
        os.makedirs(os.path.join(tbl, "_cdc"), exist_ok=True)
        stage = os.path.join(tbl, "_stage")
        for i, rows in enumerate([[(1, "update_preimage"),
                                   (2, "update_postimage")],
                                  [(3, "delete")]]):
            cdc_df = spark.createDataFrame(
                rows, "k long, _change_type string")
            cdc_df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(n for n in os.listdir(stage)
                        if n.endswith(".parquet"))
            os.replace(os.path.join(stage, part),
                       os.path.join(tbl, "_cdc", f"c{i}.parquet"))
        shutil.rmtree(stage)
        _commit(tbl, 0, [_PROTO, _meta(schema, ["p"])])
        _commit(tbl, 1, [
            {"cdc": {"path": "_cdc/c0.parquet",
                     "partitionValues": {"p": "a"}, "size": 1,
                     "dataChange": False}},
            {"cdc": {"path": "_cdc/c1.parquet",
                     "partitionValues": {"p": "b"}, "size": 1,
                     "dataChange": False}}])
        ch = delta_changes(spark, tbl, from_version=1)
        assert sorted((r["k"], r["p"], r["_change_type"])
                      for r in ch.collect()) \
            == [(1, "a", "update_preimage"),
                (2, "a", "update_postimage"),
                (3, "b", "delete")]

    def test_timestamp_time_travel(self, spark, tbl):
        import time as _time
        df = spark.range(0, 5).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        _time.sleep(1.1)
        mid = _time.time()
        _time.sleep(1.1)
        write_delta(df, tbl)                                  # v1
        assert read_delta(spark, tbl, timestamp=mid).count() == 5
        assert read_delta(spark, tbl).count() == 10
        with pytest.raises(ValueError, match="no commit at or"):
            read_delta(spark, tbl, timestamp=mid - 3600)
        with pytest.raises(ValueError, match="mutually exclusive"):
            read_delta(spark, tbl, version=0, timestamp=mid)


class TestCheckpointPartsAndLogCleanup:
    def test_multipart_checkpoint_roundtrip(self, spark, tbl):
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        write_delta(df.filter("k < 8"), tbl)
        assert delta_checkpoint(spark, tbl, parts=3) == 1
        names = os.listdir(os.path.join(tbl, "_delta_log"))
        multi = [n for n in names if ".checkpoint." in n
                 and n.count(".") == 4]
        assert len(multi) >= 2
        # replay through the multipart checkpoint (hint path)
        for v in (0, 1):
            os.remove(os.path.join(tbl, "_delta_log",
                                   f"{v:020d}.json"))
        assert read_delta(spark, tbl).count() == 48
        # listing fallback: stale/absent hint must still find parts
        os.remove(os.path.join(tbl, "_delta_log",
                               "_last_checkpoint"))
        assert read_delta(spark, tbl).count() == 48

    def test_log_cleanup_respects_checkpoint_and_retention(
            self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_log_cleanup,
        )
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        write_delta(df, tbl)          # v0
        write_delta(df, tbl)          # v1
        delta_checkpoint(spark, tbl)  # cp @ v1
        write_delta(df, tbl)          # v2
        # young files are protected by the default retention
        assert delta_log_cleanup(spark, tbl) == 0
        deleted = delta_log_cleanup(spark, tbl, retention_seconds=0)
        assert deleted == 2  # commits 0 and 1; cp + commit 2 kept
        snap = delta_snapshot(spark, tbl)
        assert snap.version == 2
        assert read_delta(spark, tbl).count() == 30
        # expired versions are gone loudly
        with pytest.raises(ValueError):
            delta_snapshot(spark, tbl, version=0)
        # without any checkpoint nothing is ever redundant
        import shutil as _sh
        tbl2 = tbl + "_2"
        write_delta(df, tbl2)
        assert delta_log_cleanup(spark, tbl2,
                                 retention_seconds=0) == 0


class TestRestore:
    def test_restore_roundtrip(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
            delta_restore,
        )
        df = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])              # v0
        write_delta(df.filter("k < 5"), tbl)                  # v1
        delta_delete_where(spark, tbl, "k % 2 = 0")           # v2
        assert delta_restore(spark, tbl, version=1) == 3
        got = sorted(r["k"] for r in read_delta(spark, tbl).collect())
        assert got == sorted(list(range(30)) + list(range(5)))
        # history intact: the pre-restore state is still travelable
        assert read_delta(spark, tbl, version=2).count() \
            == len([k for k in list(range(30)) + list(range(5))
                    if k % 2 == 1])
        # restoring to v0 drops the v1 extras again
        assert delta_restore(spark, tbl, version=0) == 4
        assert read_delta(spark, tbl).count() == 30
        # no-op restore returns the current version without a commit
        assert delta_restore(spark, tbl, version=4) == 4

    def test_restore_to_vacuumed_version_is_loud(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_restore,
            delta_vacuum,
        )
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        write_delta(df, tbl, mode="overwrite")                # v1
        delta_vacuum(spark, tbl, retention_seconds=0)
        with pytest.raises(ValueError, match="vacuumed"):
            delta_restore(spark, tbl, version=0)


class TestSnapshotCache:
    """The session snapshot cache (write→checkpoint→read reuse): a
    committed (table, version) is immutable, but the cache must not
    outlive the table it described."""

    def test_lifecycle_reuses_without_rereading(self, spark, tbl):
        from wrangle_pypes_spark.sources import delta as dmod
        df = spark.range(0, 20).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        write_delta(df, tbl)                                  # v1
        delta_checkpoint(spark, tbl)
        # the post-commit snapshot is cached; resolution takes the
        # cache path (same object back, no checkpoint load)
        s1 = delta_snapshot(spark, tbl)
        s2 = delta_snapshot(spark, tbl)
        assert s1 is s2 and s1.version == 1
        assert read_delta(spark, tbl).count() == 40

    def test_recreated_table_at_same_path_not_served_stale(
            self, spark, tbl):
        df = spark.range(0, 7).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        assert read_delta(spark, tbl).count() == 7
        # nuke and rebuild a DIFFERENT table at the SAME path with
        # the SAME version number — the commit-content fingerprint
        # must reject the cached v0
        shutil.rmtree(tbl)
        df2 = spark.range(0, 31).select(
            F.col("id").alias("k"), F.lit("x").alias("extra"))
        write_delta(df2, tbl)                                 # new v0
        got = read_delta(spark, tbl)
        assert got.columns == ["k", "extra"]
        assert got.count() == 31

    def test_foreign_commit_invalidates_head(self, spark, tbl):
        """A commit published by ANOTHER writer (raw JSON, not our
        write path) must be visible on the next resolve."""
        df = spark.range(0, 5).select(F.col("id").alias("k"))
        write_delta(df, tbl)                                  # v0
        assert read_delta(spark, tbl).count() == 5            # cached
        # foreign writer appends by hand: stage a parquet + commit v1
        stage = tbl + "_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(n for n in os.listdir(stage)
                    if n.endswith(".parquet"))
        os.replace(os.path.join(stage, part),
                   os.path.join(tbl, "foreign.parquet"))
        shutil.rmtree(stage)
        _commit(tbl, 1, [{"add": {
            "path": "foreign.parquet", "partitionValues": {},
            "size": 1, "modificationTime": 0, "dataChange": True}}])
        assert read_delta(spark, tbl).count() == 10

    def test_post_commit_chain_is_constant_depth(self, spark, tbl):
        """Many chained commits must not nest the file-state plan —
        the carried tail keeps compose at base + ONE local relation."""
        df = spark.range(0, 3).select(F.col("id").alias("k"))
        for _ in range(12):
            write_delta(df, tbl)
        snap = delta_snapshot(spark, tbl)
        assert snap.version == 11
        plan = snap.files_df._jdf.queryExecution().analyzed() \
            .toString()
        # one Union of (base-is-absent) tail only: no nested unions
        assert plan.lower().count("union") <= 1
        assert read_delta(spark, tbl).count() == 36


class TestVacuumProtocolCheck:
    def test_vacuum_protocol_check_reads(self, spark, tbl):
        """vacuumProtocolCheck constrains VACUUM, not reads — tables
        carrying it must open."""
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3,
                          "minWriterVersion": 7,
                          "readerFeatures": ["vacuumProtocolCheck"],
                          "writerFeatures": ["vacuumProtocolCheck"]}},
            _meta(schema)])
        assert delta_snapshot(spark, tbl).version == 0


class TestOptimize:
    def test_compacts_small_files_and_materializes_dvs(self, spark,
                                                       tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
            delta_optimize,
        )
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        for i in range(4):  # 4 commits x 2 partitions = 8 small files
            write_delta(df.filter(f"k % 4 = {i}").coalesce(1), tbl,
                        partition_by=["p"] if i == 0 else None)
        delta_delete_where(spark, tbl, "k % 5 = 0")
        before = delta_snapshot(spark, tbl)
        n_before = len(before.pruned_adds())
        out = delta_optimize(spark, tbl, min_files=2)
        assert out["removed_files"] == n_before
        assert out["added_files"] < n_before
        after = delta_snapshot(spark, tbl)
        post = after.pruned_adds()
        # one file per partition tuple, and DVs are GONE (deletes
        # materialized into the rewritten data)
        assert len(post) == 2
        assert not any(a.get("deletionVector") for a in post)
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == [k for k in range(40) if k % 5 != 0]
        # time travel before the optimize still applies the DVs
        assert read_delta(spark, tbl,
                          version=out["version"] - 1).count() \
            == len([k for k in range(40) if k % 5 != 0])

    def test_streaming_source_skips_optimize_commits(self, spark,
                                                     tbl, tmp_path):
        from wrangle_pypes_spark.sources.datasource import (
            DeltaJarlessDataSource,
        )
        from wrangle_pypes_spark.sources.delta import delta_optimize
        spark.dataSource.register(DeltaJarlessDataSource)
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        write_delta(df.coalesce(1), tbl)
        write_delta(df.select((F.col("k") + 10).alias("k"))
                    .coalesce(1), tbl)
        delta_optimize(spark, tbl, min_files=2)
        out = str(tmp_path / "out")
        q = (spark.readStream.format("delta_jarless")
             .option("startingVersion", "0").load(tbl)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        # rows arrive ONCE (from the original commits); the optimize
        # rearrangement is neither a re-emit nor a non-append error
        assert sorted(r["k"] for r in
                      spark.read.parquet(out).collect()) \
            == list(range(20))

    def test_cdf_ignores_optimize(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_changes,
            delta_optimize,
        )
        df = spark.range(0, 8).select(F.col("id").alias("k"))
        write_delta(df.coalesce(1), tbl)                      # v0
        write_delta(df.select((F.col("k") + 8).alias("k"))
                    .coalesce(1), tbl)                        # v1
        out = delta_optimize(spark, tbl, min_files=2)         # v2
        ch = delta_changes(spark, tbl, from_version=0,
                           to_version=out["version"])
        got = sorted((r["k"], r["_change_type"], r["_commit_version"])
                     for r in ch.collect())
        assert got == [(k, "insert", 0) for k in range(8)] \
            + [(k, "insert", 1) for k in range(8, 16)]

    def test_zorder_clusters_output(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import delta_optimize
        df = spark.range(0, 4000).select(
            F.col("id").alias("k"),
            (F.col("id") % 63).alias("x"),
            ((F.col("id") * 7) % 63).alias("y"))
        for i in range(3):
            write_delta(df.filter(f"k % 3 = {i}").coalesce(1), tbl)
        out = delta_optimize(spark, tbl, target_file_bytes=12_000,
                             zorder_by=["x", "y"])
        assert out["added_files"] >= 2
        assert read_delta(spark, tbl).count() == 4000
        # clustering: per output file, the x-range must be narrower
        # than the global range (interleaved sort groups both dims)
        stats = (read_delta(spark, tbl)
                 .groupBy(F.input_file_name().alias("f"))
                 .agg((F.max("x") - F.min("x")).alias("span"))
                 .collect())
        assert len(stats) == out["added_files"]
        assert min(r["span"] for r in stats) < 62

    def test_nothing_to_do(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import delta_optimize
        df = spark.range(0, 10).select(F.col("id").alias("k"))
        write_delta(df.coalesce(1), tbl)
        out = delta_optimize(spark, tbl, min_files=2)
        assert out == {"version": 0, "removed_files": 0,
                       "added_files": 0, "bytes_compacted": 0}

    def test_optimize_mapped_table(self, spark, tbl):
        """Compaction of a name-mapped table restages under the
        PHYSICAL layout."""
        from wrangle_pypes_spark.sources.delta import delta_optimize
        TestColumnMapping._mapped_table(
            TestColumnMapping(), spark, tbl)
        df = spark.range(20, 23).select(
            F.col("id").alias("k"),
            F.struct(F.concat(F.lit("v"), F.col("id"))
                     .alias("v")).alias("info"),
            F.lit("x").alias("p"))
        write_delta(df, tbl)
        out = delta_optimize(spark, tbl, min_files=2)
        assert out["removed_files"] >= 2
        got = read_delta(spark, tbl)
        assert sorted(r["k"] for r in got.collect()) \
            == list(range(5)) + list(range(10, 15)) \
            + list(range(20, 23))
        import pyarrow.parquet as pq
        post = delta_snapshot(spark, tbl).pruned_adds()
        names = pq.ParquetFile(os.path.join(
            tbl, post[0]["path"])).schema_arrow.names
        assert names == ["col-aaa", "col-bbb"]


class TestV2Checkpoint:
    """Foreign V2 checkpoints (UUID-named manifest + _sidecars/
    parquet holding the file actions) — the shape the v2Checkpoint
    reader feature promises we can read."""

    def _to_v2(self, tbl):
        """Transform the classic checkpoint into a spec-shaped V2
        one: adds move to a sidecar file, the manifest keeps the
        singletons + a sidecar pointer + checkpointMetadata."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        log = os.path.join(tbl, "_delta_log")
        classic = next(n for n in os.listdir(log)
                       if ".checkpoint." in n
                       and n.endswith(".parquet"))
        v = int(classic[:20])
        t = pq.read_table(os.path.join(log, classic))
        rows = t.to_pylist()
        add_rows = [r for r in rows if r.get("add")]
        rest = [{k: v for k, v in r.items() if k != "add"}
                for r in rows if not r.get("add")]
        os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
        sc_name = "00000-sidecar.parquet"
        add_schema = pa.schema(
            [t.schema.field("add")])
        pq.write_table(
            pa.Table.from_pylist(
                [{"add": r["add"]} for r in add_rows],
                schema=add_schema),
            os.path.join(log, "_sidecars", sc_name))
        man_schema = pa.schema(
            [f for f in t.schema if f.name != "add"]
            + [pa.field("sidecar", pa.struct(
                [("path", pa.string()),
                 ("sizeInBytes", pa.int64())])),
               pa.field("checkpointMetadata", pa.struct(
                   [("version", pa.int64())]))])
        man_rows = rest + [
            {"sidecar": {"path": sc_name, "sizeInBytes": 1}},
            {"checkpointMetadata": {"version": v}}]
        import uuid as _uuid
        man_name = f"{v:020d}.checkpoint.{_uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.Table.from_pylist(man_rows, schema=man_schema),
            os.path.join(log, man_name))
        os.remove(os.path.join(log, classic))
        hint = os.path.join(log, "_last_checkpoint")
        if os.path.exists(hint):
            os.remove(hint)
        # clean the JSON commits the checkpoint covers: adds can now
        # come ONLY from the sidecar
        for n in list(os.listdir(log)):
            if n.endswith(".json") and n[:20].isdigit() \
                    and int(n[:20]) <= v:
                os.remove(os.path.join(log, n))

    def test_v2_checkpoint_sidecar_reads(self, spark, tbl):
        df = spark.range(0, 12).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        write_delta(df.select((F.col("k") + 12).alias("k"),
                              F.lit("0").alias("p")), tbl)
        delta_checkpoint(spark, tbl)
        self._to_v2(tbl)
        got = read_delta(spark, tbl)
        assert sorted(r["k"] for r in got.collect()) \
            == list(range(24))
        # a later append composes on the v2 checkpoint state
        write_delta(df.select((F.col("k") + 24).alias("k"),
                              F.lit("1").alias("p")), tbl)
        assert read_delta(spark, tbl).count() == 36

    def test_v2_checkpoint_jarless_batch(self, spark, tbl):
        from wrangle_pypes_spark.sources.datasource import (
            DeltaJarlessDataSource,
        )
        spark.dataSource.register(DeltaJarlessDataSource)
        df = spark.range(0, 9).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        write_delta(df.select((F.col("k") + 9).alias("k")), tbl)
        delta_checkpoint(spark, tbl)
        self._to_v2(tbl)
        got = spark.read.format("delta_jarless").load(tbl)
        assert sorted(r["k"] for r in got.collect()) \
            == list(range(18))


class TestConvertAndClone:
    def test_convert_plain_dir(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import convert_to_delta
        df = spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("x"))
        df.repartition(3).write.parquet(tbl)
        assert convert_to_delta(spark, tbl) == 0
        got = read_delta(spark, tbl)
        assert got.schema.fieldNames() == ["k", "x"]
        assert sorted(r["k"] for r in got.collect()) \
            == list(range(20))
        # in place: the original files are referenced, not copied
        with pytest.raises(ValueError, match="already"):
            convert_to_delta(spark, tbl)
        # the converted table is a full citizen: append + DV delete
        write_delta(df.select((F.col("k") + 20).alias("k"),
                              F.col("x")), tbl)
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        delta_delete_where(spark, tbl, "k % 10 = 0")
        assert sorted(r["k"] for r in
                      read_delta(spark, tbl).collect()) \
            == [k for k in range(40) if k % 10 != 0]

    def test_convert_hive_dir(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import convert_to_delta
        df = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("p"))
        df.write.partitionBy("p").parquet(tbl)
        with pytest.raises(ValueError, match="partition_schema"):
            convert_to_delta(spark, tbl)
        assert convert_to_delta(
            spark, tbl,
            partition_schema=T.StructType(
                [T.StructField("p", T.IntegerType())])) == 0
        got = read_delta(spark, tbl)
        assert got.schema["p"].dataType == T.IntegerType()
        assert got.filter("p = 1").count() == 10
        assert got.count() == 30

    def test_convert_records_real_sizes(self, spark, tbl,
                                        monkeypatch):
        """VERDICT r13: converted add actions must carry REAL
        size/modificationTime even when the path is not a local-
        scheme one (os.stat used to be skipped there, publishing
        size 0 — which delta_optimize reads as 'compact me').  The
        hadoop-FS listing branch is forced via is_local=False over a
        file:/ URI."""
        from wrangle_pypes_spark import fsutil
        from wrangle_pypes_spark.sources.delta import convert_to_delta
        df = spark.range(0, 20).select(F.col("id").alias("k"))
        df.repartition(2).write.parquet(tbl)
        real = {n: os.path.getsize(os.path.join(tbl, n))
                for n in os.listdir(tbl) if n.endswith(".parquet")}
        orig = fsutil.is_local
        monkeypatch.setattr(
            fsutil, "is_local",
            lambda p: False if "://" in str(p) else orig(p))
        convert_to_delta(spark, "file://" + tbl)
        monkeypatch.undo()
        adds = [json.loads(ln)["add"] for ln in open(os.path.join(
            tbl, "_delta_log", f"{0:020d}.json"))
            if "\"add\"" in ln]
        assert len(adds) == 2
        for a in adds:
            assert a["size"] == real[a["path"]] > 0
            assert a["modificationTime"] > 0

    def test_convert_reconciles_all_footers(self, spark, tbl,
                                            tmp_path):
        """ADVICE r13: a directory with schema evolution must convert
        against EVERY footer — supersets merge (old files read the
        new column as null), true type conflicts refuse loudly."""
        from wrangle_pypes_spark.sources.delta import convert_to_delta
        df1 = spark.range(0, 5).select(F.col("id").alias("k"))
        df2 = spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("new").alias("tag"))
        df1.coalesce(1).write.parquet(tbl)
        df2.coalesce(1).write.mode("append").parquet(tbl)
        assert convert_to_delta(spark, tbl) == 0
        got = read_delta(spark, tbl)
        assert got.schema.fieldNames() == ["k", "tag"]
        rows = sorted((r["k"], r["tag"]) for r in got.collect())
        assert rows == [(i, None) for i in range(5)] \
            + [(i, "new") for i in range(5, 8)]
        # conflicting types: k as string vs k as long
        bad = str(tmp_path / "bad")
        spark.range(0, 3).select(F.col("id").alias("k")) \
            .coalesce(1).write.parquet(bad)
        spark.range(3, 6).select(
            F.col("id").cast("string").alias("k")) \
            .coalesce(1).write.mode("append").parquet(bad)
        with pytest.raises(ValueError, match="do not merge"):
            convert_to_delta(spark, bad)

    def test_shallow_clone_is_zero_copy_and_independent(
            self, spark, tbl, tmp_path):
        from wrangle_pypes_spark.sources.delta import (
            delta_clone,
            delta_delete_where,
            delta_optimize,
        )
        src = tbl
        dst = str(tmp_path / "clone")
        df = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        write_delta(df, src, partition_by=["p"])
        delta_delete_where(spark, src, "k % 5 = 0")  # DV on source
        assert delta_clone(spark, src, dst) == 0
        live = [k for k in range(30) if k % 5 != 0]
        assert sorted(r["k"] for r in
                      read_delta(spark, dst).collect()) == live
        # zero copy: no parquet landed under the clone
        names = []
        for root, _, fs in os.walk(dst):
            names += [f for f in fs if f.endswith(".parquet")]
        assert names == []
        # independence: mutations on the clone never touch the source
        write_delta(df.filter("k < 2").select(
            (F.col("k") + 100).alias("k"), F.col("p")), dst)
        delta_delete_where(spark, dst, "k = 1")
        assert sorted(r["k"] for r in
                      read_delta(spark, dst).collect()) \
            == [k for k in live if k != 1] + [100, 101]
        assert sorted(r["k"] for r in
                      read_delta(spark, src).collect()) == live
        # and OPTIMIZE on the clone materializes into CLONE-local
        # files without touching the source's
        out = delta_optimize(spark, dst, min_files=1)
        assert out["added_files"] >= 1
        assert sorted(r["k"] for r in
                      read_delta(spark, dst).collect()) \
            == [k for k in live if k != 1] + [100, 101]
        assert sorted(r["k"] for r in
                      read_delta(spark, src).collect()) == live

    def test_clone_of_clone_and_already_exists(self, spark, tbl,
                                               tmp_path):
        from wrangle_pypes_spark.sources.delta import delta_clone
        df = spark.range(0, 5).select(F.col("id").alias("k"))
        write_delta(df, tbl)
        d1 = str(tmp_path / "c1")
        d2 = str(tmp_path / "c2")
        delta_clone(spark, tbl, d1)
        delta_clone(spark, d1, d2)  # absolute paths carry over
        assert read_delta(spark, d2).count() == 5
        with pytest.raises(ValueError, match="already"):
            delta_clone(spark, tbl, d1)


class TestWriterFeatureGates:
    """r14: the spec's writer rule — refuse to commit when the table
    carries writer obligations this engine cannot maintain, instead
    of silently breaking them."""

    def _table(self, spark, tbl, *, proto=None, conf=None,
               field_md=None):
        schema = T.StructType([
            T.StructField("k", T.LongType(), True, field_md or {})])
        os.makedirs(tbl, exist_ok=True)
        meta = _meta(schema)
        if conf:
            meta["metaData"]["configuration"] = conf
        _commit(tbl, 0, [
            {"protocol": proto or {"minReaderVersion": 1,
                                   "minWriterVersion": 2}},
            meta])

    def test_unknown_writer_feature_gates(self, spark, tbl):
        self._table(spark, tbl, proto={
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking"]})
        df = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(DeltaProtocolError, match="rowTracking"):
            write_delta(df, tbl)
        # reading is unaffected (rowTracking is writer-side only)
        assert read_delta(spark, tbl).count() == 0

    def test_append_only_table_refuses_mutation(self, spark, tbl):
        self._table(spark, tbl, conf={"delta.appendOnly": "true"})
        df = spark.range(3).select(F.col("id").alias("k"))
        assert write_delta(df, tbl) == 1  # appends stay fine
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
            delta_optimize,
        )
        with pytest.raises(ValueError, match="appendOnly"):
            write_delta(df, tbl, mode="overwrite")
        with pytest.raises(ValueError, match="appendOnly"):
            delta_delete_where(spark, tbl, "k = 1")
        with pytest.raises(ValueError, match="appendOnly"):
            delta_optimize(spark, tbl)

    def test_check_constraint_evaluated(self, spark, tbl):
        """r14: CHECK constraints EVALUATE on write (delta-spark
        semantics — every row must be TRUE, null is a violation)
        instead of gating the table."""
        self._table(spark, tbl, conf={
            "delta.constraints.positive": "k > 0"})
        bad = spark.range(3).select(F.col("id").alias("k"))  # has 0
        with pytest.raises(ValueError, match="positive"):
            write_delta(bad, tbl)
        good = spark.range(1, 4).select(F.col("id").alias("k"))
        assert write_delta(good, tbl) == 1
        assert read_delta(spark, tbl).count() == 3
        # null result = violation, like delta-spark
        nullk = spark.range(1).select(
            F.lit(None).cast("long").alias("k"))
        with pytest.raises(ValueError, match="positive"):
            write_delta(nullk, tbl)
        # deletes/compaction on a constrained table stay allowed
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        delta_delete_where(spark, tbl, "k = 2")
        assert read_delta(spark, tbl).count() == 2

    def test_invariant_evaluated(self, spark, tbl):
        self._table(spark, tbl, field_md={
            "delta.invariants":
                '{"expression":{"expression":"k > 0"}}'})
        bad = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="invariant on k"):
            write_delta(bad, tbl)
        good = spark.range(1, 4).select(F.col("id").alias("k"))
        assert write_delta(good, tbl) == 1
        assert read_delta(spark, tbl).count() == 3

    def test_generated_column_computed_and_validated(self, spark,
                                                     tbl):
        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("k2", T.LongType(), True,
                          {"delta.generationExpression": "k * 2"})])
        _commit(tbl, 0, [_PROTO, _meta(schema)])
        # absent -> computed
        df = spark.range(3).select(F.col("id").alias("k"))
        assert write_delta(df, tbl) == 1
        rows = {r["k"]: r["k2"]
                for r in read_delta(spark, tbl).collect()}
        assert rows == {0: 0, 1: 2, 2: 4}
        # present and consistent -> accepted
        ok = spark.range(3, 5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("k2"))
        assert write_delta(ok, tbl) == 2
        # present and WRONG -> refused
        liar = spark.range(5, 6).select(
            F.col("id").alias("k"), F.lit(0).alias("k2"))
        with pytest.raises(ValueError, match="generated column k2"):
            write_delta(liar, tbl)

    def test_identity_column_still_gates(self, spark, tbl):
        self._table(spark, tbl, field_md={
            "delta.identity.start": "1"})
        df = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(DeltaProtocolError, match="identity"):
            write_delta(df, tbl)

    def test_supported_feature_list_passes(self, spark, tbl):
        self._table(spark, tbl, proto={
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors", "appendOnly",
                               "invariants", "changeDataFeed"]})
        df = spark.range(3).select(F.col("id").alias("k"))
        assert write_delta(df, tbl) == 1
        assert read_delta(spark, tbl).count() == 3


class TestSchemaEvolution:
    """merge_schema=True appends write-only columns to the table
    schema (spec: a new metaData action rides the commit; last
    metaData wins on replay); older files read the new columns as
    null.  Mirrors delta-spark's mergeSchema write option."""

    def _seed(self, spark, tbl):
        df = spark.range(5).select(F.col("id").alias("k"),
                                   F.lit("a").alias("s"))
        assert write_delta(df, tbl) == 0

    def test_append_new_column(self, spark, tbl):
        self._seed(spark, tbl)
        df = spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("b").alias("s"),
            (F.col("id") * 2).alias("extra"))
        # without the flag: loud refusal that names the flag
        with pytest.raises(ValueError, match="merge_schema=True"):
            write_delta(df, tbl)
        assert write_delta(df, tbl, merge_schema=True) == 1
        out = read_delta(spark, tbl).orderBy("k")
        assert out.columns == ["k", "s", "extra"]
        rows = out.collect()
        assert [r["extra"] for r in rows] \
            == [None] * 5 + [10, 12, 14]
        # the commit re-publishes metaData with the merged schema
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        metas = [json.loads(ln)["metaData"]
                 for ln in text.splitlines() if "metaData" in ln]
        assert len(metas) == 1
        names = [f["name"] for f in
                 json.loads(metas[0]["schemaString"])["fields"]]
        assert names == ["k", "s", "extra"]

    def test_subset_write_keeps_table_columns(self, spark, tbl):
        """A merge_schema write may omit existing non-partition
        columns — they stay in the schema and this commit's files
        read them as null."""
        self._seed(spark, tbl)
        df = spark.range(8, 10).select(
            F.col("id").alias("k"), F.lit(1.5).alias("w"))
        assert write_delta(df, tbl, merge_schema=True) == 1
        out = read_delta(spark, tbl).orderBy("k")
        assert out.columns == ["k", "s", "w"]
        rows = out.collect()
        assert [r["s"] for r in rows] == ["a"] * 5 + [None] * 2
        assert [r["w"] for r in rows] == [None] * 5 + [1.5, 1.5]

    def test_no_metadata_action_when_schema_unchanged(self, spark,
                                                      tbl):
        self._seed(spark, tbl)
        df = spark.range(5, 6).select(F.col("id").alias("k"),
                                      F.lit("z").alias("s"))
        assert write_delta(df, tbl, merge_schema=True) == 1
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        assert "metaData" not in text

    def test_retype_refuses(self, spark, tbl):
        self._seed(spark, tbl)
        df = spark.range(3).select(
            F.col("id").cast("int").alias("k"),
            F.lit("b").alias("s"))
        with pytest.raises(ValueError, match="never retypes"):
            write_delta(df, tbl, merge_schema=True)

    def test_partition_columns_must_ride(self, spark, tbl):
        df = spark.range(6).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        assert write_delta(df, tbl, partition_by=["p"]) == 0
        bad = spark.range(3).select(F.col("id").alias("k"),
                                    F.lit(1).alias("n"))
        with pytest.raises(ValueError, match="partition columns"):
            write_delta(bad, tbl, merge_schema=True)
        good = spark.range(6, 8).select(
            F.col("id").alias("k"), F.lit("1").alias("p"),
            F.lit(2).alias("n"))
        assert write_delta(good, tbl, merge_schema=True) == 1
        out = read_delta(spark, tbl, partition_filter={"p": "1"})
        assert sorted((r["k"], r["n"]) for r in out.collect()) \
            == [(1, None), (3, None), (5, None), (6, 2), (7, 2)]

    def test_mapped_table_gets_fresh_ids(self, spark, tbl):
        """Evolving a name-mapped table assigns the new column a
        fresh physicalName + mapping id past maxColumnId, and the
        staged parquet carries the physical layout."""
        import pyarrow.parquet as pq
        TestColumnMapping._mapped_table(TestColumnMapping(),
                                        spark, tbl)
        df = spark.range(20, 22).select(
            F.col("id").alias("k"),
            F.struct(F.concat(F.lit("v"), F.col("id"))
                     .alias("v")).alias("info"),
            F.lit("x").alias("p"),
            (F.col("id") * 10).alias("score"))
        assert write_delta(df, tbl, merge_schema=True) == 1
        snap = delta_snapshot(spark, tbl)
        conf = snap.metadata["configuration"]
        assert int(conf["delta.columnMapping.maxColumnId"]) == 5
        sf = next(f for f in
                  json.loads(snap.metadata["schemaString"])["fields"]
                  if f["name"] == "score")
        phys = sf["metadata"]["delta.columnMapping.physicalName"]
        assert phys.startswith("col-")
        assert sf["metadata"]["delta.columnMapping.id"] == 5
        text = open(os.path.join(
            tbl, "_delta_log", f"{1:020d}.json")).read()
        add = next(json.loads(ln)["add"]
                   for ln in text.splitlines() if "\"add\"" in ln)
        sch = pq.ParquetFile(
            os.path.join(tbl, add["path"])).schema_arrow
        assert phys in sch.names and "score" not in sch.names
        out = read_delta(spark, tbl).orderBy("k")
        assert out.columns == ["k", "info", "p", "score"]
        rows = out.collect()
        assert [r["score"] for r in rows] \
            == [None] * 10 + [200, 210]

    def test_evolving_write_never_retries_races(self, spark, tbl,
                                                monkeypatch):
        """A lost commit race under merge_schema must surface, not
        blind-retry with a stale merged schema."""
        self._seed(spark, tbl)
        df = spark.range(5, 6).select(
            F.col("id").alias("k"), F.lit("b").alias("s"),
            F.lit(1).alias("n"))
        TestWriterRoundtrip._steal_next_commit(monkeypatch, tbl,
                                               times=1)
        with pytest.raises(DeltaConcurrentWriteError,
                           match="merge_schema"):
            write_delta(df, tbl, merge_schema=True)


class TestDataSkipping:
    """Per-file ``stats`` on adds (numRecords/min/max/nullCount from
    the staged parquet footers — the spec's data-skipping metadata)
    and ``read_delta(where_range=)`` file pruning + exact filtering."""

    def _four_files(self, spark, tbl):
        for i in range(4):
            df = spark.range(i * 100, (i + 1) * 100).select(
                F.col("id").alias("k"),
                (F.col("id") * 1.5).alias("v"),
                F.lit(f"s{i}").alias("tag"))
            write_delta(df.coalesce(1), tbl)

    def test_stats_ride_the_commit(self, spark, tbl):
        self._four_files(spark, tbl)
        text = open(os.path.join(
            tbl, "_delta_log", f"{0:020d}.json")).read()
        add = next(json.loads(ln)["add"]
                   for ln in text.splitlines() if "\"add\"" in ln)
        st = json.loads(add["stats"])
        assert st["numRecords"] == 100
        assert st["minValues"]["k"] == 0
        assert st["maxValues"]["k"] == 99
        assert st["maxValues"]["v"] == 148.5
        assert st["minValues"]["tag"] == "s0"
        assert st["nullCount"] == {"k": 0, "v": 0, "tag": 0}

    def test_where_range_prunes_and_filters_exactly(self, spark,
                                                    tbl):
        self._four_files(spark, tbl)
        snap = delta_snapshot(spark, tbl)
        surv = snap.pruned_adds(
            stats_ranges={"k": (T.LongType(), 150, 160)})
        assert len(surv) == 1      # three files skipped on stats
        out = read_delta(spark, tbl, where_range={"k": (150, 160)})
        assert sorted(r["k"] for r in out.collect()) \
            == list(range(150, 161))
        # string range, one side unbounded
        assert read_delta(spark, tbl,
                          where_range={"tag": ("s3", None)}) \
            .count() == 100
        assert len(snap.pruned_adds(
            stats_ranges={"tag": (T.StringType(), "s3", None)})) == 1
        # bad columns refuse
        with pytest.raises(ValueError, match="not in table schema"):
            read_delta(spark, tbl, where_range={"zz": (1, 2)})

    def test_where_range_survives_checkpoint(self, spark, tbl):
        self._four_files(spark, tbl)
        delta_checkpoint(spark, tbl)
        from wrangle_pypes_spark.sources import delta as dmod
        dmod._SNAPSHOT_CACHE.clear()
        snap = delta_snapshot(spark, tbl)
        surv = snap.pruned_adds(
            stats_ranges={"k": (T.LongType(), 350, None)})
        assert len(surv) == 1
        assert read_delta(spark, tbl,
                          where_range={"k": (350, None)}) \
            .count() == 50

    def test_foreign_adds_without_stats_survive(self, spark, tbl):
        """A foreign log whose adds carry no stats: where_range must
        fall through to the exact filter, never skip."""
        df = spark.range(20).select(F.col("id").alias("k"))
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tbl, "_stage"))
        part = next(n for n in os.listdir(
            os.path.join(tbl, "_stage")) if n.endswith(".parquet"))
        os.replace(os.path.join(tbl, "_stage", part),
                   os.path.join(tbl, "d.parquet"))
        schema = T.StructType([T.StructField("k", T.LongType())])
        _commit(tbl, 0, [_PROTO, _meta(schema),
                         {"add": {"path": "d.parquet",
                                  "partitionValues": {}, "size": 1,
                                  "modificationTime": 0,
                                  "dataChange": True}}])
        out = read_delta(spark, tbl, where_range={"k": (5, 7)})
        assert sorted(r["k"] for r in out.collect()) == [5, 6, 7]

    def test_all_null_file_skips_for_range(self, spark, tbl):
        """min/max absent but nullCount == numRecords proves a range
        predicate can never match — the file skips."""
        a = spark.range(5).select(F.col("id").alias("k"),
                                  F.lit(None).cast("double")
                                  .alias("v"))
        write_delta(a.coalesce(1), tbl)
        b = spark.range(5, 8).select(F.col("id").alias("k"),
                                     F.lit(2.5).alias("v"))
        write_delta(b.coalesce(1), tbl)
        snap = delta_snapshot(spark, tbl)
        surv = snap.pruned_adds(
            stats_ranges={"v": (T.DoubleType(), 0.0, None)})
        assert len(surv) == 1
        assert read_delta(spark, tbl,
                          where_range={"v": (0.0, None)}).count() == 3

    def test_stats_carry_through_dv_delete(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_delete_where,
        )
        self._four_files(spark, tbl)
        delta_delete_where(spark, tbl, "k % 2 = 0")
        snap = delta_snapshot(spark, tbl)
        adds = snap.pruned_adds()
        assert all(a.get("stats") for a in adds)
        # bounds stay valid (non-tight) after the DV: pruning + DV
        # merge still agree with a full recompute
        out = read_delta(spark, tbl, where_range={"k": (150, 160)})
        assert sorted(r["k"] for r in out.collect()) \
            == [151, 153, 155, 157, 159]

    def test_timestamp_range(self, spark, tbl):
        import datetime
        df = spark.range(6).select(
            F.col("id").alias("k"),
            F.expr("timestamp('2024-01-01 00:00:00') + "
                   "make_interval(0,0,0,id,0,0,0)").alias("ts"))
        write_delta(df.repartition(3, "k"), tbl)
        out = read_delta(spark, tbl, where_range={
            "ts": (datetime.datetime(2024, 1, 3), None)})
        assert out.count() == 4

    def test_partition_column_range_refuses(self, spark, tbl):
        df = spark.range(6).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"))
        write_delta(df, tbl, partition_by=["p"])
        with pytest.raises(ValueError, match="partition_filter"):
            read_delta(spark, tbl, where_range={"p": ("0", "1")})


class TestColumnDDL:
    """delta_enable_column_mapping / delta_rename_column /
    delta_drop_column — the metadata-only ALTER family (spec: rename
    and drop require column mapping; physicalName/id keep pointing at
    the same parquet data)."""

    def _seed(self, spark, tbl):
        df = spark.range(5).select(
            F.col("id").alias("k"), F.lit("a").alias("s"),
            (F.col("id") * 2.0).alias("v"))
        write_delta(df.coalesce(1), tbl)

    def test_rename_requires_mapping(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_drop_column,
            delta_rename_column,
        )
        self._seed(spark, tbl)
        with pytest.raises(DeltaProtocolError, match="column mapping"):
            delta_rename_column(spark, tbl, "s", "s2")
        with pytest.raises(DeltaProtocolError, match="column mapping"):
            delta_drop_column(spark, tbl, "s")

    def test_upgrade_keeps_physical_names(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_enable_column_mapping,
        )
        self._seed(spark, tbl)
        v = delta_enable_column_mapping(spark, tbl)
        assert v == 1
        snap = delta_snapshot(spark, tbl)
        conf = snap.metadata["configuration"]
        assert conf["delta.columnMapping.mode"] == "name"
        assert conf["delta.columnMapping.maxColumnId"] == "3"
        for f in snap.schema.fields:
            md = f.metadata
            assert md["delta.columnMapping.physicalName"] == f.name
        proto = snap.protocol
        assert proto["minReaderVersion"] >= 2
        assert proto["minWriterVersion"] >= 5
        # data still reads (physical names unchanged)
        assert read_delta(spark, tbl).count() == 5
        # no-op on second call
        assert delta_enable_column_mapping(spark, tbl) == 1

    def test_rename_read_append_stats(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_enable_column_mapping,
            delta_rename_column,
        )
        self._seed(spark, tbl)
        delta_enable_column_mapping(spark, tbl)
        delta_rename_column(spark, tbl, "s", "label")
        out = read_delta(spark, tbl)
        assert out.columns == ["k", "label", "v"]
        assert out.filter("label = 'a'").count() == 5
        # append under the NEW logical name lands in the OLD physical
        df2 = spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("b").alias("label"),
            (F.col("id") * 2.0).alias("v"))
        write_delta(df2.coalesce(1), tbl)
        out = read_delta(spark, tbl)
        assert out.count() == 8
        assert out.filter("label = 'b'").count() == 3
        # data skipping still works (stats keys = physical names)
        assert read_delta(spark, tbl,
                          where_range={"k": (6, None)}).count() == 2
        with pytest.raises(ValueError, match="already exists"):
            delta_rename_column(spark, tbl, "k", "label")

    def test_drop_and_no_resurrect(self, spark, tbl):
        from wrangle_pypes_spark.sources.delta import (
            delta_drop_column,
            delta_enable_column_mapping,
        )
        self._seed(spark, tbl)
        delta_enable_column_mapping(spark, tbl)
        delta_drop_column(spark, tbl, "v")
        out = read_delta(spark, tbl)
        assert out.columns == ["k", "s"]
        assert out.count() == 5
        # re-adding the NAME mints a fresh physicalName: old physical
        # data cannot resurrect — the new column reads null for old
        # rows
        df2 = spark.range(5, 7).select(
            F.col("id").alias("k"), F.lit("b").alias("s"),
            F.lit(9.0).alias("v"))
        write_delta(df2.coalesce(1), tbl, merge_schema=True)
        rows = {r["k"]: r["v"]
                for r in read_delta(spark, tbl).collect()}
        assert rows[0] is None and rows[5] == 9.0
        with pytest.raises(ValueError, match="partition column"):
            tbl2 = tbl + "_p"
            df = spark.range(4).select(
                F.col("id").alias("k"),
                (F.col("id") % 2).cast("string").alias("p"))
            write_delta(df, tbl2, partition_by=["p"])
            delta_enable_column_mapping(spark, tbl2)
            delta_drop_column(spark, tbl2, "p")
