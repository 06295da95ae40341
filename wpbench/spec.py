"""The benchmark's pipeline specs, each op carrying two semantics.

Every :class:`Op` pairs a package transformation with a pure-Python
function over plain values (dicts, lists, scalars, None).  Composing ops
with ``|`` composes both sides, so :func:`evaluate` runs exactly the spec
the Spark pipeline compiles, one record at a time: the correctness
oracle for the ``wrangle_bulk`` and ``ingest_serve`` workloads.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import functions as F

from wrangle_pypes_spark import transformations as W


@dataclass(frozen=True)
class Op:
    t: W.Transformation
    py: Callable[[Any], Any]

    def __or__(self, other: "Op") -> "Op":
        first, then = self.py, other.py
        return Op(self.t | other.t, lambda v: then(first(v)))


def _nullsafe(fn):
    return lambda v: None if v is None else fn(v)


def get(key, default=W.MISSING) -> Op:
    fallback = None if default is W.MISSING else default

    def py(v):
        if v is None:
            return None
        if isinstance(v, list):
            return v[key] if -len(v) <= key < len(v) else fallback
        return v.get(key, fallback)
    return Op(W.Get(key, default), py)


def attr(name) -> Op:
    return Op(W.Attr(name), _nullsafe(lambda v: v[name]))


def ident() -> Op:
    return Op(W.Id(), lambda v: v)


def const(value) -> Op:
    return Op(W.Constant(value), lambda v: value)


_INT = re.compile(r"-?\d+")


def cast_int() -> Op:
    """Lenient integer cast of strings (malformed -> null)."""
    def py(v):
        if v is None or isinstance(v, int):
            return v
        return int(v) if _INT.fullmatch(v) else None
    return Op(W.Cast(int), py)


def expr(builder, py, out_type=None) -> Op:
    return Op(W.Expr(builder, out_type), py)


def default(value) -> Op:
    return Op(W.Default(value), lambda v: v if v else value)


def if_(cond, cond_py, then: Op, else_: Op) -> Op:
    return Op(W.If(cond, then.t, else_.t),
              lambda v: then.py(v) if cond_py(v) is True else else_.py(v))


def filter_(pred, pred_py) -> Op:
    return Op(W.Filter(pred),
              _nullsafe(lambda v: [x for x in v if pred_py(x) is True]))


def map_(fn, fn_py, out_type=None) -> Op:
    return Op(W.Map(fn, out_type), _nullsafe(lambda v: [fn_py(x) for x in v]))


def for_each(op: Op) -> Op:
    return Op(W.ForEach(op.t), _nullsafe(lambda v: [op.py(x) for x in v]))


def flatten() -> Op:
    def py(v):
        if v is None or any(x is None for x in v):
            return None
        return [y for x in v for y in x]
    return Op(W.Flatten(), py)


def gather(keys) -> Op:
    # struct() never yields null: a null input gives a struct of nulls
    return Op(W.Gather(keys),
              lambda v: {k: (None if v is None else v[k]) for k in keys})


def fold_in_keys(name) -> Op:
    return Op(W.FoldInKeys(name), _nullsafe(
        lambda v: [{name: k, **val} for k, val in v.items()]))


def get_keys() -> Op:
    return Op(W.GetKeys(), _nullsafe(lambda v: list(v.keys())))


def get_values() -> Op:
    return Op(W.GetValues(), _nullsafe(lambda v: list(v.values())))


class Spec:
    """``{model: {field: Op}}`` with both a package Pipeline and a Python
    evaluator built from it."""

    def __init__(self, models: dict):
        self.models = models

    def transformations(self) -> dict:
        return {m: {f: op.t for f, op in fields.items()}
                for m, fields in self.models.items()}

    def create(self, model) -> Op:
        return Op(W.Create(model), lambda v: self.evaluate(model, v))

    def create_multiple(self, model) -> Op:
        return Op(W.CreateMultiple(model),
                  _nullsafe(lambda v: [self.evaluate(model, x) for x in v]))

    def evaluate(self, model, record, audit: bool = False) -> dict:
        out = {f: op.py(record) for f, op in self.models[model].items()}
        if audit:
            out["_nulled_fields"] = [f for f, v in out.items() if v is None]
        return out


# --------------------------------------------------------------------------
# wrangle_bulk: ~25-field order spec over nested records
# --------------------------------------------------------------------------

@dataclass
class Customer:
    id: int
    name: str
    email_domain: str
    tier: str


@dataclass
class LineItem:
    sku: str
    qty: int
    price: float
    amount: float


@dataclass
class Metric:
    name: str
    value: float
    weight: int


@dataclass
class Order:
    order_id: int
    customer_id: int
    customer: Customer
    contact: Any
    items: list[LineItem]
    n_items: int
    total: float
    first_sku: str
    upper_skus: list[Optional[str]]
    status: str
    is_open: bool
    priority: int
    priority_level: str
    channel: str
    is_gift: bool
    attr_keys: list[Optional[str]]
    attr_values: list[Optional[str]]
    ship_city: str
    tags: list[str]
    n_tags: int
    metric_list: list[Metric]
    weighted: float
    day: int
    ts: int
    source: str


@dataclass
class Account:
    customer_id: int
    name: str
    tier: str


def _sum_doubles(c):
    return F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x)


def _sum_py(v):
    if v is None:
        return None
    acc = 0.0
    for x in v:
        if x is None:
            return None
        acc = acc + x
    return acc


def _line_amount(x):
    return x["qty"] * F.coalesce(x["price"], F.lit(0.0))


def _line_amount_py(x):
    return x["qty"] * (0.0 if x["price"] is None else x["price"])


def _upper_py(v):
    return None if v is None else v.upper()


def _sorted_py(v):
    return None if v is None else sorted(v)


def wrangle_spec() -> Spec:
    spec = Spec({})
    items = get("items")
    attrs = get("attrs")
    priority = get("priority_raw") | cast_int()
    metric_rows = get("metrics") | fold_in_keys("name")
    spec.models.update({
        Customer: {
            "id": get("id"),
            "name": get("name") | expr(F.upper, _upper_py),
            "email_domain": get("email") | expr(
                lambda c: F.substring_index(c, "@", -1),
                _nullsafe(lambda s: s.rsplit("@", 1)[-1])),
            "tier": get("tier") | default("standard"),
        },
        LineItem: {
            "sku": get("sku"),
            "qty": get("qty") | cast_int(),
            "price": get("price") | default(0.0),
            "amount": ident() | expr(_line_amount, _line_amount_py, float),
        },
        Order: {
            "order_id": get("order_id"),
            "customer_id": get("customer") | attr("id"),
            "customer": get("customer") | spec.create(Customer),
            "contact": get("customer") | gather(["name", "email"]),
            "items": items | filter_(lambda x: x["qty"] > 0,
                                     lambda x: x["qty"] > 0)
                     | spec.create_multiple(LineItem),
            "n_items": items | expr(F.size, len, int),
            "total": items | map_(_line_amount, _line_amount_py, float)
                     | expr(_sum_doubles, _sum_py, float),
            "first_sku": items | get(0, None) | attr("sku"),
            "upper_skus": items | for_each(
                get("sku") | expr(F.upper, _upper_py)),
            "status": get("status") | default("unknown"),
            "is_open": get("status") | expr(
                lambda c: c.isin("new", "paid"),
                _nullsafe(lambda s: s in ("new", "paid"))),
            "priority": priority,
            "priority_level": priority | if_(
                lambda c: c >= 4, lambda p: None if p is None else p >= 4,
                const("high"), const("normal")),
            "channel": attrs | get("channel", "web"),
            "is_gift": attrs | get("gift", "no") | expr(
                lambda c: c == F.lit("yes"), _nullsafe(lambda s: s == "yes")),
            "attr_keys": attrs | get_keys() | expr(F.array_sort, _sorted_py),
            "attr_values": attrs | get_values() | expr(F.array_sort, _sorted_py),
            "ship_city": get("ship") | attr("city"),
            "tags": get("tag_groups") | flatten(),
            "n_tags": get("tag_groups") | flatten() | expr(F.size, len, int),
            "metric_list": metric_rows,
            "weighted": metric_rows | map_(
                lambda m: m["value"] * m["weight"],
                lambda m: m["value"] * m["weight"], float)
                | expr(_sum_doubles, _sum_py, float),
            "day": get("ts") | expr(lambda c: F.floor(c / F.lit(86400)),
                                    _nullsafe(lambda t: math.floor(t / 86400)),
                                    int),
            "ts": get("ts"),
            "source": const("wpbench"),
        },
        Account: {
            "customer_id": get("customer") | attr("id"),
            "name": get("customer") | attr("name") | expr(F.upper, _upper_py),
            "tier": get("customer") | attr("tier") | default("standard"),
        },
    })
    return spec


# --------------------------------------------------------------------------
# ingest_serve: flat keyed rows built from raw micro-batch dicts
# --------------------------------------------------------------------------

@dataclass
class StoredOrder:
    order_id: int
    customer_id: int
    status: str
    priority: int
    amount: float
    channel: str
    deleted: bool


STORED_COLUMNS = ("order_id", "customer_id", "status", "priority",
                  "amount", "channel")


def ingest_spec() -> Spec:
    return Spec({StoredOrder: {
        "order_id": get("order_id"),
        "customer_id": get("customer_id"),
        "status": get("status") | default("unknown"),
        "priority": get("priority_raw") | cast_int(),
        "amount": get("amount") | default(0.0),
        "channel": get("channel") | expr(F.upper, _upper_py),
        "deleted": get("deleted"),
    }})
