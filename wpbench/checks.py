"""Correctness checks.  Each returns a list of problems; empty means the
output passed.  They compare plain Python values, so the tests can feed
them deliberately corrupted outputs."""

from __future__ import annotations

import math


def same(a, b) -> bool:
    """Structural equality; floats compare to 1e-9 relative."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def rows_by_key(expected: dict, actual_rows: list, key: str,
                what: str) -> list[str]:
    """``actual_rows`` (dicts) must hold exactly the ``expected`` rows,
    keyed by ``key``."""
    actual = {}
    for r in actual_rows:
        if r[key] in actual:
            return [f"{what}: duplicate {key}={r[key]}"]
        actual[r[key]] = r
    problems = []
    if actual.keys() != expected.keys():
        missing = sorted(expected.keys() - actual.keys())[:5]
        extra = sorted(actual.keys() - expected.keys())[:5]
        problems.append(f"{what}: key mismatch, missing {missing} extra {extra}")
    for k in sorted(expected.keys() & actual.keys()):
        if not same(expected[k], actual[k]):
            problems.append(f"{what}: {key}={k} expected {expected[k]!r} "
                            f"got {actual[k]!r}")
            break
    return problems


def equal_count(what: str, expected: int, actual) -> list[str]:
    return [] if actual == expected else \
        [f"{what}: expected {expected}, got {actual}"]


def expected_accounts(spec, account_model, records, dim: dict) -> dict:
    """get_or_create's result per order: the dimension row on a hit, the
    built row on a miss, with the ``created`` flag."""
    out = {}
    for r in records:
        built = spec.evaluate(account_model, r)
        hit = dim.get(built["customer_id"])
        row = dict(hit, created=False) if hit is not None \
            else dict(built, created=True)
        row["order_id"] = r["order_id"]
        out[r["order_id"]] = row
    return out


def lookup(model: dict, keys, rows: list, key: str) -> list[str]:
    """A GET must return exactly the model's live rows for ``keys``."""
    expected = {k: model[k] for k in keys if k in model}
    return rows_by_key(expected, rows, key, f"lookup {list(keys)[:4]}")


def near_dup_recall(planted: list, found: set) -> float:
    return sum((min(a, b), max(a, b)) in found for a, b in planted) \
        / max(len(planted), 1)
