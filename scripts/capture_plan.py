#!/usr/bin/env python
"""Capture .explain("formatted") for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python scripts/capture_plan.py <suffix> <query> [query ...]
       (suffix is e.g. "before" or "after"; tag defaults to r14)

The plan is captured from the SAME builder the bench times (plan-build
only — no execution), so the committed files are the honest record of
plan shape (Exchange count, join strategy, PushedFilters, ReadSchema,
Python-eval nodes) that OPTIMIZATION_r14.md claims are checked against.
Queries that run streaming drains or side-effecting builds inside the
builder DO execute those side effects here; the captured plan is the
final returned DataFrame's plan.  A builder that runs an eager
``localCheckpoint`` (``minhash_lsh_pairs``, whose skew guard
checkpoints the banded signatures) therefore yields the plan AFTER the
checkpoint: a scan of the checkpointed rows, with the stages before it
already run and absent from the plan.

Besides the registered queries, the names in ``OPERATORS`` capture one
operator's own plan over the sf ``documents`` table, with no
checkpoint in between: ``minhash_signatures`` and ``minhash_banded``
(64 hashes, 16 bands, 3-token shingles, as ``minhash_lsh_pairs``
uses).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from wrangle_pypes_spark.operators.dedup import (minhash_banded,
                                                 minhash_signatures)
from wrangle_pypes_spark.session import get_session


def _documents(spark, sf_dir):
    return entrymod._t(spark, sf_dir, "documents").select("doc_id", "text")


OPERATORS = {
    "minhash_signatures": lambda spark, sf_dir: minhash_signatures(
        _documents(spark, sf_dir), "text", id_col="doc_id", num_hashes=64,
        shingle_n=3),
    "minhash_banded": lambda spark, sf_dir: minhash_banded(
        _documents(spark, sf_dir), "text", id_col="doc_id", num_hashes=64,
        bands=16, shingle_n=3),
}


def main() -> None:
    tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "r14")
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_session(cpus=cpus)
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    qs = {**entrymod.queries(), **OPERATORS}
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
