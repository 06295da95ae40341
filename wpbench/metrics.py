"""Metric names and units, read from ``BENCHMARK.json``.

End-to-end metrics are reported on every workload (untraced runs):

* ``setup_s`` - process start to the first timed op: interpreter start,
  ``get_session``, writing the inputs, the store bootstrap and the
  warm-up op; the benchmark's own data generation is excluded.
* ``items_per_cpu_s`` - input items per CPU second of one step, median
  over the run: orders (``wrangle_bulk``), upserted records
  (``ingest_serve``, whose step is a commit plus its lookups and, every
  ``VACUUM_EVERY`` commits, a vacuum) or documents (``corpus_dedup``).
  CPU time is that of the Python driver, its JVM and Spark's Python
  workers (``stats.tree_cpu_s``); time spent waiting for a CPU is not
  in it, so it spreads less than wall time on a shared host.
* ``peak_rss_mb`` - peak resident memory (VmHWM) of the Python driver
  plus its JVM.

The wall-clock figures (``items_per_s``, ``op_p50_ms``, and on
``ingest_serve`` the lookup latencies) are in the report line before the
result, not bounded metrics: on a shared host they spread by more than
the widest bound a metric may have.

Per-layer metrics come from traced runs; a layer a workload does not
use reports 0 there.  ``pipeline.compile_ms`` times ``Pipeline.compile``
in calls of its own after the measured ops;
``pipeline.create_multiple_plan_ms`` is the whole driver-side plan build
of ``create_multiple``, its own compile included.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
BENCHMARK_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def declared(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics of ``BENCHMARK.json``."""
    return json.loads(BENCHMARK_JSON.read_text())[kind]


def as_result(values: dict, metrics: list[dict]) -> dict:
    """``{name: {"value": v, "unit": u}}`` for the declared ``metrics``."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics}
