"""Registry output-schema contract: value-oracle queries must return
SCALAR columns only.

Round-4/5 regression: ``random_projection_emb`` and
``quantize_embeddings_int8`` returned ``array<double>``/``array<int>``
columns; the correctness DRIVER canonicalizes results with pandas
``sort_values`` → ``factorize``, which throws ``unhashable type:
'list'`` on list cells — while the local replica
(``scripts/check_oracle.py``) tuple-ized lists and green-lit exactly
the queries the driver then crashed on, burning two verification-window
slots per round.  These tests close that gap on both layers: the
replica's guard itself, and a sweep pinning every registered
value-oracle query to a scalar-only output schema.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import complex_value_oracle_cols  # noqa: E402


def test_guard_flags_array_valued_fixture(spark):
    """The replica guard must FAIL a deliberately array-valued result —
    the exact shape that crashed the driver in r4/r5."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id",
        F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
        F.struct(F.lit(1).alias("a")).alias("s"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.lit("ok").alias("name"))
    assert complex_value_oracle_cols(df.dtypes) == ["vec", "s", "m"]


def test_guard_passes_scalar_schema(spark):
    df = spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS x",
                                   "CAST(id AS STRING) AS s")
    assert complex_value_oracle_cols(df.dtypes) == []


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entry
    return entry.queries(), entry.oracle_sql()


def test_no_value_oracle_query_returns_complex_columns(spark, sf_dir,
                                                       registry):
    """Build every value-oracle query's DataFrame and check its output
    schema — analysis only, nothing collected beyond what the query
    function itself materializes.  A complex column here means the
    driver's next window check of that query is guaranteed to crash."""
    import inspect
    from concurrent.futures import ThreadPoolExecutor

    qs, oracles = registry
    names = [n for n in qs if n in oracles]

    def check(name):
        # independent jobs overlap on the shared scheduler (guide
        # §2.6) — this test was the suite's single slowest item (184 s
        # serial: ~40 lifecycle queries execute their writes/drains
        # inside the builder), and only the SCHEMA is asserted
        df = qs[name](spark, sf_dir)
        cols = complex_value_oracle_cols(df.dtypes)
        spark.catalog.clearCache()
        return name, cols

    def sets_session_conf(name):
        # a builder that changes a session conf (e.g. the shuffle
        # partitions a stateful drain pins around its start) would leak
        # it into builders planning concurrently; those run serially
        try:
            src = inspect.getsource(qs[name])
        except (OSError, TypeError):
            return True
        return "conf.set(" in src or "state_partitions=" in src

    serial = [n for n in names if sets_session_conf(n)]
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(
            check, [n for n in names if n not in serial]))
    results += [check(n) for n in serial]
    offenders = {n: bad for n, bad in results if bad}
    assert not offenders, (
        f"value-oracle queries with driver-unhashable columns: {offenders}")
