"""Seeded end-to-end benchmark for ``wrangle_pypes_spark``.

Run one workload with ``python3 wpbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>`` from the repository root; the last line
of standard output is the JSON result.  ``wpbench/steady.py`` repeats
runs and reports each metric's median and quartiles.
"""
