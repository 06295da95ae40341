"""Parquet footer schema harvesting — executor-parallel, metadata
scale.

Two consumers:

- Delta ID-mode column mapping (``delta._id_signatures``): Spark 4
  consults ``spark.sql.parquet.fieldId.read.enabled`` from the
  SESSION conf at ACTION time (verified empirically: setting the conf
  at plan-build time and restoring it before ``.collect()`` breaks
  the read, and per-read datasource options are ignored), so a lazy
  snapshot plan cannot scope that conf without mutating the session
  for everyone.  Instead the engine resolves field-id matching
  ITSELF: read each data file's footer, map field id -> physical
  column name per file, and scan by name — the plan then carries no
  conf dependence at all.
- ``convert_to_delta`` / ``convert_to_iceberg``: the table schema
  must reconcile EVERY file's footer (a directory with schema
  evolution otherwise converts silently and later scans read drifted
  columns as null).

Footers are read in executors through pyarrow (local open or
pyarrow-fs for remote schemes — the dv.py pattern); the driver only
ever holds one (path, fingerprint/serialized schema) row per file,
the same order of driver state as the add-action list itself.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ..localdf import local_df

_FIELD_ID_KEY = b"PARQUET:field_id"


def read_footer_schema(path: str):
    """Executor-safe parquet footer -> ``pa.Schema``: local paths via
    plain open, other schemes via pyarrow's filesystem layer."""
    import pyarrow.parquet as pq
    if "://" not in path or path.startswith("file:"):
        local = path[5:] if path.startswith("file:") else path
        while local.startswith("//"):
            local = local[1:]
        return pq.read_schema(local)
    from pyarrow import fs as pafs
    f, p = pafs.FileSystem.from_uri(path)
    return pq.read_schema(p, filesystem=f)


def _field_id(field) -> int | None:
    md = field.metadata or {}
    v = md.get(_FIELD_ID_KEY)
    return int(v) if v is not None else None


def _type_nodes(dt) -> list:
    """Child nodes of an arrow type: struct children; list element;
    map key+item.  Primitives have none."""
    import pyarrow as pa
    if pa.types.is_struct(dt):
        return [field_node(dt.field(i)) for i in range(dt.num_fields)]
    if (pa.types.is_list(dt) or pa.types.is_large_list(dt)
            or pa.types.is_fixed_size_list(dt)):
        return [field_node(dt.value_field)]
    if pa.types.is_map(dt):
        return [field_node(dt.key_field), field_node(dt.item_field)]
    return []


def field_node(field) -> dict:
    """(name, field-id, children) tree of one arrow field — the
    canonical shape id-resolution walks."""
    return {"n": field.name, "i": _field_id(field),
            "c": _type_nodes(field.type)}


def schema_nodes(schema) -> list[dict]:
    return [field_node(schema.field(i)) for i in range(len(schema))]


def footer_nodes(spark: SparkSession, paths: list[str],
                 ) -> dict[str, list[dict]]:
    """path -> field-node tree for every parquet file in ``paths``,
    footers read in EXECUTORS (one distributed job, round-robin over
    the files).  Identical layouts collapse to identical JSON, so
    callers can group by the serialized value."""
    if not paths:
        return {}
    if len(paths) <= 4:  # not worth a job
        return {p: schema_nodes(read_footer_schema(p)) for p in paths}

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                out.append(json.dumps(
                    schema_nodes(read_footer_schema(p)),
                    separators=(",", ":")))
            yield pd.DataFrame({"path": pdf["path"], "sig": out})

    df = local_df(spark, [(p,) for p in paths], "path string")
    nparts = max(1, min(32, len(paths) // 64 + 1))
    if nparts > 1:
        df = df.repartition(nparts)
    rows = df.mapInPandas(scan, "path string, sig string").collect()
    return {r["path"]: json.loads(r["sig"]) for r in rows}


def footer_fingerprints(spark: SparkSession,
                        paths: list[str]) -> dict[str, str]:
    """path -> sha1 of the serialized footer schema — the cheap
    executor-side reduction CONVERT uses to find distinct layouts
    without shipping every schema to the driver."""
    if not paths:
        return {}

    def fp(p):
        import hashlib
        return hashlib.sha1(read_footer_schema(p)
                            .serialize().to_pybytes()).hexdigest()

    if len(paths) <= 4:
        return {p: fp(p) for p in paths}

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"path": pdf["path"],
                                "fp": [fp(p) for p in pdf["path"]]})

    df = local_df(spark, [(p,) for p in paths], "path string")
    nparts = max(1, min(32, len(paths) // 64 + 1))
    if nparts > 1:
        df = df.repartition(nparts)
    rows = df.mapInPandas(scan, "path string, fp string").collect()
    return {r["path"]: r["fp"] for r in rows}


def reconciled_spark_schema(spark: SparkSession, paths: list[str]):
    """One Spark schema agreeing with EVERY file's footer — the
    CONVERT contract.  Distinct layouts are found executor-parallel;
    Spark's own mergeSchema pass then merges one exemplar per layout,
    so supersets (schema evolution) merge and true type conflicts
    fail LOUDLY instead of converting off the first file's footer and
    reading drifted columns as silent nulls."""
    fps = footer_fingerprints(spark, paths)
    exemplars: dict[str, str] = {}
    for p in paths:
        exemplars.setdefault(fps[p], p)
    ex = sorted(exemplars.values())
    if len(ex) == 1:
        return spark.read.parquet(ex[0]).schema
    try:
        return spark.read.option("mergeSchema", "true") \
            .parquet(*ex).schema
    except Exception as e:
        raise ValueError(
            f"CONVERT: the directory's parquet footers disagree and "
            f"do not merge ({len(ex)} distinct layouts, e.g. "
            f"{ex[:3]}) — refusing to convert rather than read "
            f"drifted columns as null: {e}") from e


def footer_schemas(spark: SparkSession, paths: list[str]) -> dict:
    """path -> full ``pa.Schema`` for every file (serialized in the
    executors, deserialized here) — the CONVERT reconciliation input."""
    import pyarrow as pa
    if not paths:
        return {}
    if len(paths) <= 4:
        return {p: read_footer_schema(p) for p in paths}

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                out.append(read_footer_schema(p)
                           .serialize().to_pybytes())
            yield pd.DataFrame({"path": pdf["path"], "ser": out})

    df = local_df(spark, [(p,) for p in paths], "path string")
    nparts = max(1, min(32, len(paths) // 64 + 1))
    if nparts > 1:
        df = df.repartition(nparts)
    rows = df.mapInPandas(scan, "path string, ser binary").collect()
    return {r["path"]: pa.ipc.read_schema(pa.py_buffer(bytes(r["ser"])))
            for r in rows}


def read_footer_metadata(path: str):
    """Executor-safe ``pq.FileMetaData`` (row-group statistics live
    here) — same local/pyarrow-fs routing as the schema read."""
    import pyarrow.parquet as pq
    if "://" not in path or path.startswith("file:"):
        local = path[5:] if path.startswith("file:") else path
        while local.startswith("//"):
            local = local[1:]
        return pq.read_metadata(local)
    from pyarrow import fs as pafs
    f, p = pafs.FileSystem.from_uri(path)
    return pq.read_metadata(p, filesystem=f)


def _stats_json_value(v):
    """A row-group statistic as the JSON value per-file stats carry
    (Delta's stats string / the value Appendix-D encoders consume).
    None = the value is not representably orderable (NaN/inf floats,
    raw bytes, exotic logical types) — the COLUMN drops from stats,
    which only ever makes skipping less aggressive, never wrong."""
    import datetime as _dt
    import math
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, str):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v.strftime("%Y-%m-%dT%H:%M:%S.")
                + f"{v.microsecond // 1000:03d}Z")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def read_footer_stats(path: str, max_cols: int = 32) -> str:
    """One parquet file's per-column stats as the Delta spec's stats
    JSON: ``numRecords`` plus ``minValues``/``maxValues``/``nullCount``
    for the first ``max_cols`` TOP-LEVEL primitive columns
    (delta-spark's ``dataSkippingNumIndexedCols`` default) whose every
    row group carries statistics.  Column names are whatever the
    footer carries — physical names under column mapping, exactly per
    spec.  Values aggregate across row groups (min of mins, max of
    maxes, sum of null counts)."""
    md = read_footer_metadata(path)
    nrg = md.num_row_groups
    # top-level primitive leaves: path_in_schema has no dots
    idx = []
    if nrg:
        rg0 = md.row_group(0)
        for j in range(rg0.num_columns):
            p = rg0.column(j).path_in_schema
            if "." not in p:
                idx.append((j, p))
            if len({n for _, n in idx}) >= max_cols:
                break
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for j, name in idx:
        lo = hi = None
        nn = 0
        ok_mm = ok_null = True
        for g in range(nrg):
            st = md.row_group(g).column(j).statistics
            if st is None:
                ok_mm = ok_null = False
                break
            if st.has_min_max:
                a, b = _stats_json_value(st.min), \
                    _stats_json_value(st.max)
                if a is None or b is None:
                    ok_mm = False
                else:
                    lo = a if lo is None or a < lo else lo
                    hi = b if hi is None or b > hi else hi
            else:
                ok_mm = False
            if st.null_count is not None:
                nn += int(st.null_count)
            else:
                ok_null = False
        if ok_mm and lo is not None:
            mins[name] = lo
            maxs[name] = hi
        if ok_null:
            nulls[name] = nn
    return json.dumps(
        {"numRecords": int(md.num_rows), "minValues": mins,
         "maxValues": maxs, "nullCount": nulls},
        separators=(",", ":"))


def footer_stats(spark: SparkSession, paths: list[str],
                 max_cols: int = 32) -> dict[str, str]:
    """path -> stats JSON for every file; executor-parallel past a
    handful of files, driver-side below (not worth a job)."""
    if not paths:
        return {}
    if len(paths) <= 8:
        return {p: read_footer_stats(p, max_cols) for p in paths}

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "path": pdf["path"],
                "st": [read_footer_stats(p, max_cols)
                       for p in pdf["path"]]})

    df = local_df(spark, [(p,) for p in paths], "path string")
    nparts = max(1, min(32, len(paths) // 64 + 1))
    if nparts > 1:
        df = df.repartition(nparts)
    rows = df.mapInPandas(scan, "path string, st string").collect()
    return {r["path"]: r["st"] for r in rows}
