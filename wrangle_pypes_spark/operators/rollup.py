"""Continuous-aggregate / rollup-table maintenance (hypertable-style).

A rollup table holds PARTIAL, MERGEABLE aggregate state per
(time-bucket, dims) group: counts and sums (merge = sum), mins/maxes
(merge = min/max), HyperLogLog sketches for distinct counts
(merge = sketch union, ``F.hll_union_agg`` — Apache DataSketches,
public Spark 3.5+ API), and fixed-bin histograms for approximate
quantiles (merge = element-wise add; read with
:func:`rollup_percentile`).  Because every state is mergeable:

* a NEW batch of raw events folds in with one ``rollup_merge`` over the
  touched groups — the steady-state cost is proportional to the batch,
  never to the accumulated history;
* coarser rollups (hour → day) derive from finer ones without touching
  raw data (same merge);
* partitions of the fact table can be rolled up independently and
  merged — the map-side-combine property that makes this linear at
  100 TB.

``rollup_merge(a, b) == rollup_build(a_raw UNION b_raw)`` exactly for
count/sum/min/max and sketch-identically for HLL (union of sketches IS
the sketch of the union) — pinned in tests/test_rollup.py.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..transformations import sql_ref

__all__ = ("rollup_build", "rollup_merge", "rollup_finalize",
           "rollup_percentile", "time_bucket")

# metric kind -> (build aggregate, merge aggregate)
_KINDS = {
    "count": (lambda c: F.count(F.lit(1) if c in ("*", None) else F.col(c)),
              F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "approx_distinct": (F.hll_sketch_agg, F.hll_union_agg),
    "histogram": None,  # handled specially: needs (col, lo, hi, bins)
}


def _hist_build(col: str, lo: float, hi: float, bins: int) -> Column:
    """Fixed-bin count vector as ``array<long>`` — the mergeable
    quantile state (merge = element-wise add).  Values clamp into the
    edge bins; NULLs are not counted.  ``bins`` conditional sums share
    one map-side combine, so build cost is one aggregate like every
    other kind.

    Built as ONE SQL-string expression (the minhash/simhash idiom):
    the per-bin Column-API construction made ~60 py4j round trips per
    bin — ~1.4 s of driver-side plan-build for a 50-bin pair of
    rollups, re-paid per micro-batch by the streaming maintainer.  The
    ``D`` suffix keeps the literals DOUBLE (a bare ``0.1`` parses as
    DECIMAL in Spark SQL, which would change the arithmetic)."""
    width = (hi - lo) / bins
    q = sql_ref(col)
    # explicit NULL guard: greatest()/least() IGNORE null operands, so
    # without it a NULL value would silently clamp into bin 0
    idx = (f"CASE WHEN {q} IS NOT NULL THEN "
           f"least(greatest(floor(({q} - {float(lo)!r}D) / "
           f"{float(width)!r}D), 0), {bins - 1}) END")
    cells = ", ".join(
        f"CAST(sum(CASE WHEN ({idx}) = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        for i in range(bins))
    return F.expr(f"array({cells})")


def _hist_merge(name: str, bins: int) -> Column:
    """Element-wise sum of count vectors (fold over the group's
    collected states — typically 2 per touched group)."""
    zero = F.array_repeat(F.lit(0).cast("long"), bins)
    return F.aggregate(
        F.collect_list(name), zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))


def rollup_percentile(hist: Column, p: float, *, lo: float, hi: float,
                      bins: int, round_digits: int = 6) -> Column:
    """Approximate percentile from histogram state: walk the cumulative
    counts to the first bin crossing ``p·total`` and interpolate
    linearly inside it — error is bounded by one bin width.  Pure
    Column fold (no UDF); with exact integer counts the estimate is a
    deterministic arithmetic function any engine reproduces, so rollup
    percentile queries stay value-level oracle-checkable."""
    width = (hi - lo) / bins
    total = F.aggregate(hist, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(float(p)) * total
    pairs = F.zip_with(hist, F.sequence(F.lit(0), F.lit(bins - 1)),
                       lambda c, i: F.struct(c.alias("c"), i.alias("i")))
    acc0 = F.struct(F.lit(0).cast("long").alias("cum"),
                    F.lit(None).cast("double").alias("ans"))
    est = F.aggregate(
        pairs, acc0,
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(acc["ans"].isNotNull(), acc["ans"])
            .when((x["c"] > 0) & ((acc["cum"] + x["c"]) >= target),
                  F.lit(lo) + (x["i"] + (target - acc["cum"]) / x["c"])
                  * F.lit(width))
            .alias("ans")),
        lambda acc: acc["ans"])
    return F.round(F.when(total > 0, est), round_digits)


def time_bucket(ts: Column, width: str = "hour") -> Column:
    """Truncate a timestamp to its bucket start (``date_trunc``)."""
    return F.date_trunc(width, ts)


def _check(metrics: Mapping[str, Tuple]) -> None:
    for name, spec in metrics.items():
        kind = spec[0]
        if kind not in _KINDS:
            raise ValueError(
                f"metric {name!r}: unknown kind {kind!r} "
                f"(expected one of {sorted(_KINDS)})")
        if kind == "histogram":
            if len(spec) != 5:
                raise ValueError(
                    f"metric {name!r}: histogram spec is "
                    "('histogram', col, lo, hi, bins)")
            _, _col, lo, hi, bins = spec
            if not (math.isfinite(lo) and math.isfinite(hi)):
                raise ValueError(
                    f"metric {name!r}: lo and hi must be finite (got "
                    f"{lo!r}, {hi!r}) — an infinite range has no bin width")
            if not lo < hi:
                raise ValueError(
                    f"metric {name!r}: need lo < hi (got {lo!r}, {hi!r}) "
                    "— a zero-width range would silently produce "
                    "all-NULL bins")
            if bins < 1:
                raise ValueError(f"metric {name!r}: bins must be >= 1")


def rollup_build(df: DataFrame, *, group_cols: Sequence[str],
                 metrics: Mapping[str, Tuple]) -> DataFrame:
    """Aggregate raw rows into rollup state.

    ``metrics`` maps output column -> (kind, source column), e.g.::

        {"n": ("count", "*"), "sum_value": ("sum", "value"),
         "users": ("approx_distinct", "user_id")}

    One hash-aggregate (partial map-side combine applies); sketch
    columns are binary HLL state, readable via :func:`rollup_finalize`.
    """
    _check(metrics)
    aggs = []
    for name, spec in metrics.items():
        if spec[0] == "histogram":
            _, col, lo, hi, bins = spec
            aggs.append(_hist_build(col, lo, hi, bins).alias(name))
        else:
            aggs.append(_KINDS[spec[0]][0](spec[1]).alias(name))
    return df.groupBy(*group_cols).agg(*aggs)


def rollup_merge(*rollups: DataFrame, group_cols: Sequence[str],
                 metrics: Mapping[str, Tuple]) -> DataFrame:
    """Fold rollup tables (or a stored rollup + a new batch's rollup)
    into one: union then per-group merge aggregates.  Only groups
    present in more than one input do real work after the map-side
    combine; untouched groups stream through."""
    _check(metrics)
    if not rollups:
        raise ValueError("need at least one rollup")
    unioned = rollups[0]
    for r in rollups[1:]:
        unioned = unioned.unionByName(r)
    aggs = []
    for name, spec in metrics.items():
        if spec[0] == "histogram":
            aggs.append(_hist_merge(name, spec[4]).alias(name))
        else:
            aggs.append(_KINDS[spec[0]][1](name).alias(name))
    return unioned.groupBy(*group_cols).agg(*aggs)


def rollup_finalize(rollup: DataFrame, *,
                    metrics: Mapping[str, Tuple]) -> DataFrame:
    """Readable view of rollup state: HLL sketch columns become
    estimates (bigint); scalar states pass through unchanged."""
    _check(metrics)
    cols = []
    metric_names = set(metrics)
    for c in rollup.columns:
        if c in metric_names and metrics[c][0] == "approx_distinct":
            cols.append(F.hll_sketch_estimate(F.col(c)).alias(c))
        else:
            cols.append(F.col(c))  # histogram state passes through;
            # extract quantiles with rollup_percentile
    return rollup.select(*cols)
