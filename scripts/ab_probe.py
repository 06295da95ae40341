#!/usr/bin/env python
"""Interleaved A/B timing probe (diagnostic, not part of the bench
contract).  The host shows roving multi-second CPU-steal windows
(Firecracker noisy neighbors — OPTIMIZATION_r15.md Finding A), so
cross-session before/after readings are unreliable; this interleaves
the two variants A,B,A,B,... in ONE session and compares medians, so
both variants sample the same noise distribution.

Usage: ab_probe.py <case> [rounds]
Cases: dsir (two-DF target vs fused target_pred),
       overlap (old 3-shuffle self-join vs collect_set rewrite).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod
from pyspark.sql import functions as F
from wrangle_pypes_spark.session import get_session


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def overlap_old(df, *, source_col, text_col=None, fingerprint_col=None,
                round_digits=6):
    """The pre-r15 implementation, verbatim (distinct + fp self-join +
    two broadcast total joins) — kept here so the A/B baseline is the
    real old code, not a reconstruction from memory."""
    fp = (F.md5(F.col(text_col).cast("string")) if text_col is not None
          else F.col(fingerprint_col))
    mem = (df.select(fp.alias("_fp"), F.col(source_col).alias("_src"))
             .filter(F.col("_src").isNotNull())
             .distinct())
    totals = mem.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = mem.select(F.col("_fp"), F.col("_src").alias("source_a"))
    b = mem.select(F.col("_fp"), F.col("_src").alias("source_b"))
    pairs = (a.join(b, "_fp")
              .filter(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    out = (pairs
           .join(F.broadcast(totals.select(
               F.col("_src").alias("source_a"), F.col("_n").alias("n_a"))),
               "source_a")
           .join(F.broadcast(totals.select(
               F.col("_src").alias("source_b"), F.col("_n").alias("n_b"))),
               "source_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    jac = F.col("n_common") / union
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return out.select(
        "source_a", "source_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(jac, round_digits).alias("jaccard"),
        F.round(cont, round_digits).alias("containment"))


def main():
    case = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("ab-probe", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    for t in ("orders", "documents", "embeddings", "events"):
        f = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(f):
            benchmod._consume(spark.read.parquet(f))

    from wrangle_pypes_spark.sources import load_table

    if case == "dsir":
        from wrangle_pypes_spark.operators import dsir_importance
        d = load_table(spark, sf_dir, "documents")

        def run_a():
            return dsir_importance(d, d.filter(F.col("lang") == "en"))

        def run_b():
            return dsir_importance(d, target_pred=F.col("lang") == "en")
    elif case == "overlap":
        d = load_table(spark, sf_dir, "documents")
        from wrangle_pypes_spark.operators.dedup import source_overlap

        def run_a():
            return overlap_old(d, source_col="source", text_col="text")

        def run_b():
            return source_overlap(d, source_col="source", text_col="text")
    else:
        raise SystemExit(f"unknown case {case}")

    ta, tb = [], []
    for i in range(rounds):
        for tag, fn, acc in (("A", run_a, ta), ("B", run_b, tb)):
            t0 = time.perf_counter()
            benchmod._consume(fn())
            dt = time.perf_counter() - t0
            acc.append(dt)
            spark.catalog.clearCache()
            print(f"round {i} {tag}: {dt:.3f}", flush=True)
    print(f"A median {_median(ta):.3f}  runs {sorted(ta)}")
    print(f"B median {_median(tb):.3f}  runs {sorted(tb)}")


if __name__ == "__main__":
    main()
