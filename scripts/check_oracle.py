#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on the
same scale factor, compare row count, schema (column names), and
order-insensitive values.

Usage: python scripts/check_oracle.py [--bare] [--window] [sf_dir] [query ...]

``--bare`` runs on a plain SparkSession (no repo confs) to simulate the
driver's session exactly; ``--window`` restricts to the first 50
registry entries (the slice the driver checks).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from wrangle_pypes_spark.session import get_session
from wrangle_pypes_spark.sources import TABLES


def canon(val):
    if val is None:
        return None
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return round(val, 9)
    if isinstance(val, (list, tuple)):
        return tuple(canon(v) for v in val)
    return val


# The driver's value hash is TYPE-sensitive (round 1: DuckDB HUGEINT vs
# Spark BIGINT hash-mismatched with identical values), so replicate that
# strictness here: map both engines' result types to canonical tags and
# require equality per column.
_SPARK_TYPE_TAGS = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "binary": "bytes",
}
_DUCK_TYPE_TAGS = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "i128", "UTINYINT": "u8", "USMALLINT": "u16",
    "UINTEGER": "u32", "UBIGINT": "u64",
    "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts", "BLOB": "bytes",
}


def _spark_tag(dtype: str) -> str:
    if dtype.startswith("decimal"):
        return "dec" + dtype[len("decimal"):].replace(" ", "")
    if dtype.startswith("array<") and dtype.endswith(">"):
        return "array<" + _spark_tag(dtype[len("array<"):-1]) + ">"
    # structs/maps: compare coarsely (field-by-field text never lines up
    # across engines; the value hash still compares contents exactly)
    if dtype.startswith("struct"):
        return "struct"
    if dtype.startswith("map"):
        return "map"
    return _SPARK_TYPE_TAGS.get(dtype, dtype)


def _duck_tag(dtype: str) -> str:
    d = str(dtype).upper()
    # array suffix before the DECIMAL prefix: DECIMAL(p,s)[] must recurse
    # to array<dec(p,s)>, not tag as dec(p,s)[]
    if d.endswith("[]"):
        return "array<" + _duck_tag(d[:-2]) + ">"
    if d.startswith("DECIMAL"):
        return "dec" + d[len("DECIMAL"):].replace(" ", "").lower()
    if d.startswith("STRUCT"):
        return "struct"
    if d.startswith("MAP"):
        return "map"
    return _DUCK_TYPE_TAGS.get(d, d.lower())


def type_mismatches(scols, sdtypes, dcols, ddtypes):
    """Column-name-aligned type comparison; returns list of diffs."""
    sm = {c: _spark_tag(t) for c, t in sdtypes}
    dm = dict(zip(dcols, (_duck_tag(t) for t in ddtypes)))
    out = []
    for c in scols:
        if c in dm and sm.get(c) != dm[c]:
            out.append(f"{c}: spark={sm.get(c)} duck={dm[c]}")
    return out


def complex_value_oracle_cols(sdtypes):
    """Columns the DRIVER's canonicalizer cannot hash.

    The driver canonicalizes results with pandas ``sort_values`` →
    ``factorize``, which throws ``unhashable type: 'list'`` on
    array/map/struct cells (r4/r5: ``random_projection_emb``,
    ``quantize_embeddings_int8`` burned two window slots per round
    this way).  This local replica used to tuple-ize lists (``canon``
    above), so it green-lit exactly the queries the driver then
    crashed on.  Any value-oracle query with a complex output column
    must be posexploded to scalar rows or registered rows-only.
    """
    return [c for c, t in sdtypes
            if t.startswith(("array<", "map<", "struct<"))]


# Queries where a BroadcastNestedLoopJoin is the RIGHT plan, with the
# justification the gate demands.  Two legitimate shapes:
#   * scalar-broadcast: the broadcast side is a 1-row aggregate (corpus
#     total / average / cutoff), so the "nested loop" is a constant-fold
#     against every row — O(N) at any scale;
#   * bounded-broadcast: the broadcast side is contractually tiny
#     (a query set, a baseline variant), and the quadratic term is the
#     operator's documented exact-baseline semantics whose scale path is
#     a separate blocked/LSH query.
# Everything else must join hash- or sort-merge-style; a
# CartesianProduct is never acceptable.
NLJ_BROADCAST_OK: dict[str, str] = {
    "q11_important_parts": "scalar-broadcast: 1-row avg(part value) "
        "HAVING threshold cross-joined onto the per-part aggregate",
    "q22_sales_opportunity": "scalar-broadcast: 1-row avg(c_acctbal) "
        "threshold cross-joined onto customer",
    "key_skew_orders": "scalar-broadcast: 1-row total-count frame "
        "cross-joined onto the top-25 key counts",
    "knn_cosine_top5": "bounded-broadcast: brute-force exact-kNN "
        "baseline broadcasts the 10-query set against the corpus; "
        "documented O(|Q|*N) with |Q| small by contract — the scale "
        "path is lsh_ann_top5 / ivf_ann_top5",
    "semantic_decontam_emb": "bounded-broadcast: exact semantic-"
        "decontamination baseline broadcasts the (contractually tiny) "
        "eval embedding set against the corpus; documented "
        "O(|train|*|eval|) — the scale path is semantic_decontam_lsh's "
        "code equi-join",
    "hard_negatives_emb": "bounded-broadcast: exact hard-negative "
        "mining baseline broadcasts the 20-anchor query set against "
        "the corpus; documented O(|Q|*N) with |Q| small by contract — "
        "the scale path is hard_negatives_lsh's code equi-join "
        "(recall-audited in tests)",
    "mine_triplets_emb": "bounded-broadcast: hardest-triplet mining "
        "broadcasts the 30-anchor set against the corpus; documented "
        "O(|Q|*N) with |Q| small by contract — candidates at scale "
        "come from hard_negatives_lsh buckets",
    "embedding_near_dup": "bounded-broadcast: exact all-pairs near-dup "
        "baseline (non-equi id_a < id_b self-join); documented "
        "quadratic oracle twin — the scale path is "
        "embedding_near_dup_lsh's bucketed equi-join",
}


def plan_hazards(sdf, name: str) -> list[str]:
    """Scale-killer scan of the FINAL executed plan: a CartesianProduct
    or an unexpected BroadcastNestedLoopJoin in any registered query is
    a silent quadratic at 100 TB — fail the local gate, don't wait for
    the cluster to hang."""
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    haz = []
    if "CartesianProduct" in plan:
        haz.append("CartesianProduct")
    if ("BroadcastNestedLoopJoin" in plan
            and name not in NLJ_BROADCAST_OK):
        haz.append("BroadcastNestedLoopJoin")
    return haz


def df_to_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canoned = [tuple(canon(r[i]) for i in idx) for r in rows]
    # sort by repr so None/mixed types compare consistently on both sides
    return sorted(canoned, key=lambda row: tuple(repr(v) for v in row)), \
        [cols[i] for i in idx]


def main():
    args = sys.argv[1:]
    bare = "--bare" in args
    window = "--window" in args
    args = [a for a in args if a not in ("--bare", "--window")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    qs = entrymod.queries()
    if window:
        qs = dict(list(qs.items())[:50])
    unknown = sorted(only - set(qs))
    if unknown:
        # a typo, or a name outside --window, must not run nothing and
        # still print ALL PASS
        raise SystemExit("query names not in the "
                         f"{'--window slice of the ' if window else ''}"
                         f"registry: {unknown}")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    # same hygiene as bench.py: clear OUR abandoned per-query temp
    # stores (wps_* only) so repeated sweeps don't pile small-file
    # I/O tax onto later timings
    import glob
    import shutil
    import tempfile
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "wps_*")):
        shutil.rmtree(d, ignore_errors=True)
    if bare:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .appName("oracle-check-bare")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_session("oracle-check", cpus=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        finally:
            # same inter-query hygiene as bench.py: queries that persist
            # intermediates (dsir, LSH, unigram) would otherwise pile
            # cached blocks across the 150-query sweep
            spark.catalog.clearCache()
        hazards = plan_hazards(sdf, name)
        if hazards:
            failures.append(name)
            print(f"FAIL {name}: plan hazard {hazards} — quadratic "
                  f"join shape; fix the plan or add an NLJ_BROADCAST_OK "
                  f"entry with a scalar-/bounded-broadcast justification")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) — no oracle")
            continue
        complex_cols = complex_value_oracle_cols(sdf.dtypes)
        if complex_cols:
            failures.append(name)
            print(f"FAIL {name}: value-oracle query returns complex "
                  f"columns {complex_cols} — the driver canonicalizer "
                  f"crashes on array/map/struct cells; posexplode to "
                  f"scalar rows or register rows-only")
            continue
        try:
            # relation API: .types gives concrete types (BIGINT vs HUGEINT);
            # DB-API description only exposes generic categories ('NUMBER')
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        tdiffs = type_mismatches(scols, sdf.dtypes, dcols, dtypes)
        if tdiffs:
            failures.append(name)
            print(f"FAIL {name}: result TYPE mismatch (driver hash is "
                  f"type-sensitive): {'; '.join(tdiffs)}")
            continue
        s_sorted, s_cols = df_to_rows(scols, [tuple(r) for r in srows])
        d_sorted, d_cols = df_to_rows(dcols, drows)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL {name}: schema mismatch spark={s_cols} duck={d_cols}")
            continue
        if len(s_sorted) != len(d_sorted):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(s_sorted)} duck={len(d_sorted)}")
            continue
        if s_sorted != d_sorted:
            failures.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(s_sorted, d_sorted)) if a != b)
            print(f"FAIL {name}: values differ at sorted-row {bad}:")
            print(f"  spark: {s_sorted[bad]}")
            print(f"  duck : {d_sorted[bad]}")
            continue
        print(f"PASS {name} ({len(s_sorted)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
