"""Parquet/JSON/CSV source helpers and the testdata star schema.

Scale notes: `spark.read.parquet` gives predicate pushdown, column
pruning and partition pruning for free; `parse_json_col` uses
``F.from_json`` with an explicit schema so the parse happens JVM-side in
one pass (never per-row Python json.loads).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-generated TPC-H-ish star schema (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# events.props is a JSON-string payload (FIXTURES.md A: "parse with
# F.from_json"); observed shape in the driver-generated data: {"k": <int>}.
# Explicit schema — from_json with schema inference (schema_of_json) would
# need an extra sample pass at scale.
EVENT_PROPS_SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), True),
])


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Make ANY SparkSession able to read the testdata correctly.

    Callers (including the correctness driver) may hand us a bare
    session, so the source layer cannot assume ``session.get_session``
    ran.  Both settings are runtime SQL confs, safe to set post-start:

    - ``spark.sql.legacy.parquet.nanosAsLong``: events.parquet stores
      ``ts`` as parquet TIMESTAMP(NANOS) which Spark's vectorized reader
      otherwise rejects outright (PARQUET_TYPE_ILLEGAL); reading it as a
      nanosecond long + ``normalize_nanos_ts`` matches DuckDB's
      TIMESTAMP_NS -> TIMESTAMP truncation.
    - ``spark.sql.session.timeZone=UTC``: keeps timestamp rendering/
      extraction oracle-comparable regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark 4.1 leaks the ChecksumCheckpointFileManager thread pool on
    # streaming query stop (+~128 threads per stateful drain); a session
    # that runs many short streaming queries degrades every later job.
    # Runtime-settable, so bare driver sessions get the fix too (see
    # session.get_session for the measurement).  Trade-off (ADVICE r14):
    # checksums add checkpoint-corruption DETECTION, and they stay off
    # until the upstream pool-shutdown fix lands.  An explicit "true"
    # is NOT preserved: it is the Spark default, indistinguishable from
    # unset at runtime, so it is flipped too.  A caller who wants
    # checksums sets "true" again after this call, which
    # ``load_table`` and ``stream_table`` repeat on every use.
    _CKSUM = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    if spark.conf.get(_CKSUM, None) in (None, "true"):
        spark.conf.set(_CKSUM, "false")
    return spark


def normalize_nanos_ts(df: DataFrame, col: str = "ts",
                       target: str = "timestamp_ntz") -> DataFrame:
    """Normalize an event-time column to ``target`` regardless of how the
    producer wrote it.

    - parquet TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong`` arrives as a nanosecond
      long: floor-divide to µs (exactly DuckDB's TIMESTAMP_NS ->
      TIMESTAMP truncation) then cast.
    - parquet TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ (or ltz): cast
      between ntz/ltz when it differs from ``target``.  With the session
      timezone pinned to UTC (``ensure_session_confs``) the cast is a
      pure reinterpretation, no wall-clock shift.

    ``target='timestamp'`` (ltz) is required for streaming watermarks
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE rejects ntz); ntz is the
    batch/oracle default."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # integer division: floor to µs, matching DuckDB's truncation
        micros = F.expr(f"`{col}` div 1000")
        return df.withColumn(col, F.timestamp_micros(micros).cast(target))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) \
            and dt.typeName() != target:
        return df.withColumn(col, F.col(col).cast(target))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from a scale-factor directory.

    Self-sufficient on any session: sets the nanos/timezone confs itself
    (see ``ensure_session_confs``) rather than assuming the caller used
    ``session.get_session``.
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_nanos_ts(df)
    return df


def load_star_schema(spark: SparkSession, sf_dir: str,
                     tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load the star schema as a dict and register temp views so the SQL
    surface (`spark.sql`) sees the same names the DuckDB oracle does."""
    out = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def parse_json_col(df: DataFrame, col: str,
                   schema: T.StructType | str | None = None,
                   out: str | None = None) -> DataFrame:
    """Parse a JSON-string column into a typed struct column (JVM-side).

    With ``schema=None`` the schema is inferred from a bounded sample
    (``infer_json_schema`` — one tiny job at plan-build time), so richer
    payloads than an assumed shape keep all their keys instead of being
    silently nulled.  Pass an explicit schema in production pipelines to
    skip the sample pass."""
    if schema is None:
        schema = infer_json_schema(df, col)
    return df.withColumn(out or col, F.from_json(F.col(col), schema))


def infer_json_schema(df: DataFrame, col: str, *,
                      samples: int = 100) -> T.StructType:
    """Infer a StructType for a JSON-string column from a driver-side
    sample of ``samples`` non-null values (bounded: one ``limit(n)``
    job, never a full-data inference pass).  Keys seen in ANY sampled
    row are included; conflicting value types widen to string."""
    import json

    def py_to_type(v) -> T.DataType:
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, list):
            elem = merge_types([py_to_type(e) for e in v if e is not None])
            return T.ArrayType(elem or T.StringType())
        if isinstance(v, dict):
            return obj_to_struct([v])
        return T.StringType()

    def merge_types(ts: list[T.DataType]) -> T.DataType | None:
        ts = [t for t in ts if t is not None]
        if not ts:
            return None
        first = ts[0]
        for t in ts[1:]:
            if t.simpleString() != first.simpleString():
                if {t.simpleString(), first.simpleString()} <= {"bigint", "double"}:
                    first = T.DoubleType()
                else:
                    return T.StringType()
        return first

    def obj_to_struct(objs: list[dict]) -> T.StructType:
        keys: dict[str, list] = {}
        for o in objs:
            for k, v in o.items():
                keys.setdefault(k, []).append(v)
        fields = []
        for k in sorted(keys):
            vals = [v for v in keys[k] if v is not None]
            dicts = [v for v in vals if isinstance(v, dict)]
            if dicts and len(dicts) == len(vals):
                dt: T.DataType = obj_to_struct(dicts)
            else:
                dt = merge_types([py_to_type(v) for v in vals]) or T.StringType()
            fields.append(T.StructField(k, dt, True))
        return T.StructType(fields)

    rows = (df.select(col).where(F.col(col).isNotNull())
            .limit(samples).collect())
    objs = []
    for r in rows:
        try:
            v = json.loads(r[0])
        except (TypeError, ValueError):
            continue
        if isinstance(v, dict):
            objs.append(v)
    return obj_to_struct(objs)


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType | str | None = None) -> DataFrame:
    """Read newline-delimited JSON with an explicit schema when given
    (schema inference is a full extra pass at scale — avoid in prod)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType | str | None = None, *,
             header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # dev only; avoid at scale
    return reader.csv(path)


def read_text(spark: SparkSession, path: str, *,
              whole_file: bool = False,
              with_path: bool = False) -> DataFrame:
    """Raw-text corpus ingest.

    * ``whole_file=False`` (default) — one row per LINE (``value``
      string): log/CSV-fragment ingestion.  Splittable: large files
      fan out across tasks.
    * ``whole_file=True`` — one row per FILE: document-per-file corpora
      (the common raw-scrape layout).  NOT splittable — a task holds an
      entire file, so shard huge documents upstream.

    ``with_path=True`` adds the source file path (the natural document
    id for file-per-doc corpora) via ``input_file_name``.
    """
    df = spark.read.text(path, wholetext=whole_file)
    if with_path:
        df = df.select(F.input_file_name().alias("path"), "value")
    return df


def read_binary_files(spark: SparkSession, path: str, *,
                      glob: str | None = None) -> DataFrame:
    """Opaque binary ingest (images/audio/video payloads) via Spark's
    built-in ``binaryFile`` source: (path, modificationTime, length,
    content) — the loader for the `operators.multimodal` convention
    (binary column + typed metadata).  Files are NOT split; partition
    count follows file count, so compact tiny files upstream
    (`sources.sinks.compact_parquet` after a parquet conversion) and
    keep single payloads under executor memory.
    ``glob`` maps to ``pathGlobFilter`` (e.g. ``"*.png"``) — pruning
    happens at listing time, before any read.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
