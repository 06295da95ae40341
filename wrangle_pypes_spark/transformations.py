"""The 21 reference transformations, re-expressed as Catalyst Column builders.

Parity target: reference ``wrangle_pypes/transformations.py`` (21 exported
operators, ``transformations.py:22-44``).  Each node here compiles to a
``pyspark.sql.Column`` expression given the *current value* column and its
DataType — the whole chain stays inside Catalyst/whole-stage-codegen; no
Python executes per record.  Intended (bug-fixed) semantics are pinned in
SURVEY.md section 2.3:

* ``Filter`` applies its predicate per-element (reference bug at
  ``transformations.py:124`` applies it to the whole collection).
* ``Get``'s missing-key default uses a MISSING sentinel: only OMITTING
  ``default`` means "no default"; an explicit ``Get(k, None)`` is a real
  default that nulls out missing keys.  (Deliberate divergence from the
  reference's ``if self.default is not None`` check,
  ``transformations.py:105-108``, which cannot express "default to
  null"; the sentinel also avoids conflating a *present* null with a
  *missing* key.)
* Chains are immutable (reference ``Chain.__or__`` mutates in place,
  ``pipeline.py:164-166``).

Design notes (SURVEY.md section 4.3): expressiveness in the reference comes
from arbitrary Python callables.  Here the fast path is expression-first —
callable-valued parameters receive and return ``Column`` — and ``Custom``
remains the explicit (pandas-)UDF escape hatch, documented as an
optimization barrier.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import SpecError, TransformationError

__all__ = (
    "MISSING",
    "Transformation",
    "Chain",
    "Id",
    "Constant",
    "Cast",
    "Custom",
    "Expr",
    "Default",
    "Get",
    "Attr",
    "Filter",
    "Map",
    "ForEach",
    "Flatten",
    "Gather",
    "FoldInKeys",
    "FoldInValue",
    "GetKeys",
    "GetValues",
    "If",
    "Create",
    "CreateMultiple",
    "GetOrCreate",
    "GetOrCreateMultiple",
)


class _Missing:
    """Sentinel distinguishing "no default" from "default is None"."""

    _instance: Optional["_Missing"] = None

    def __new__(cls) -> "_Missing":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # pragma: no cover
        return "MISSING"


MISSING = _Missing()


# ---------------------------------------------------------------------------
# Compile context
# ---------------------------------------------------------------------------


@dataclass
class CompileContext:
    """State threaded through a compile pass.

    ``pipeline`` gives ``Create``/``CreateMultiple`` access to child-model
    specs; ``stack`` detects spec cycles; ``strict`` toggles ANSI-style
    fail-fast vs null-out (``try_cast`` et al.) semantics.  ``root`` is
    the input row as one struct Column, built once per compile: a field
    read off exactly this object becomes a top-level column reference
    (:func:`_get_field`); nodes that consume the whole row (``Expr``,
    ``Id``, ...) get the struct itself.
    """

    pipeline: Any  # wrangle_pypes_spark.pipeline.Pipeline (circular import)
    strict: bool = True
    model: str | None = None
    field: str | None = None
    stack: tuple = ()
    root: Column | None = None

    def err(self, op: str, message: str) -> TransformationError:
        return TransformationError(message, model=self.model, field=self.field, op=op)


def quoted_col(name: str) -> Column:
    """Top-level column ``name`` taken literally: backtick-quoted, so a
    ``.`` or a backtick in the name is not read as nesting or quoting."""
    return F.col("`" + name.replace("`", "``") + "`")


# one segment of a column name as ``F.col`` reads it: backticked (a
# doubled backtick escapes one) or a run without dots and backticks
_NAME_SEGMENT = re.compile(r"`((?:[^`]|``)*)`|([^.`]+)")


def sql_ref(col: str) -> str:
    """``col`` as a SQL column reference with ``F.col``'s reading of it:
    an unquoted dot steps into a struct field (``"s.v"`` is field ``v``
    of ``s``), a backticked segment is taken literally.  Each segment is
    re-quoted on its own, so no name can break out of the SQL text."""
    parts, pos = [], 0
    while True:
        m = _NAME_SEGMENT.match(col, pos)
        if m is None:
            raise ValueError(f"invalid column name syntax: {col!r}")
        quoted, plain = m.groups()
        parts.append(plain if quoted is None else quoted.replace("``", "`"))
        pos = m.end()
        if pos == len(col):
            break
        if col[pos] != ".":
            raise ValueError(f"invalid column name syntax: {col!r}")
        pos += 1
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _get_field(ctx: CompileContext, col: Column, name: str) -> Column:
    """Field ``name`` of the struct value ``col``.  On the root row this
    is a plain column reference rather than ``struct(<every
    column>).getField(name)``, which would put a copy of the whole row
    into every output column's expression tree."""
    return quoted_col(name) if col is ctx.root else col.getField(name)


def _lit_type(value: Any) -> T.DataType | None:
    """Best-effort DataType of a Python literal (for Constant/Default)."""
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, bytes):
        return T.BinaryType()
    if isinstance(value, _dt.datetime):
        return T.TimestampType()
    if isinstance(value, _dt.date):
        return T.DateType()
    if isinstance(value, decimal.Decimal):
        return T.DecimalType(38, 18)
    if value is None:
        return T.NullType()
    return None


def _truthy(col: Column, dtype: T.DataType | None) -> Column:
    """Python-truthiness as a Column predicate, dispatched on the type.

    Mirrors the reference ``Default``'s ``cond=bool`` (falsy replacement,
    not just null replacement — ``transformations.py:80-86``): null, 0,
    0.0, "", empty array/map and False are all falsy.
    """
    if isinstance(dtype, T.BooleanType):
        return col.isNotNull() & col
    if isinstance(dtype, T.NumericType):
        return col.isNotNull() & (col != F.lit(0))
    if isinstance(dtype, T.StringType):
        return col.isNotNull() & (col != F.lit(""))
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return col.isNotNull() & (F.size(col) > 0)
    return col.isNotNull()


# ---------------------------------------------------------------------------
# Base + Chain
# ---------------------------------------------------------------------------


class Transformation:
    """A single composable transformation node.

    ``compile`` maps ``(current value column, its DataType)`` to the
    transformed ``(column, DataType)``.  Composition with ``|`` builds an
    immutable :class:`Chain` (reference composition operator:
    ``pipeline.py:150-166``).
    """

    def compile(self, ctx: CompileContext, col: Column,
                dtype: T.DataType | None) -> tuple[Column, T.DataType | None]:
        raise NotImplementedError

    def __or__(self, other: "Transformation") -> "Chain":
        if not isinstance(other, Transformation):
            return NotImplemented
        return Chain(self.nodes + other.nodes)

    @property
    def nodes(self) -> tuple["Transformation", ...]:
        return (self,)

    @property
    def op_name(self) -> str:
        return type(self).__name__


@dataclass(frozen=True)
class Chain(Transformation):
    """Left-to-right composition of transformations; immutable."""

    _nodes: tuple[Transformation, ...] = ()

    def __init__(self, nodes: Sequence[Transformation] = ()):
        object.__setattr__(self, "_nodes", tuple(nodes))

    @property
    def nodes(self) -> tuple[Transformation, ...]:
        return self._nodes

    def __or__(self, other: Transformation) -> "Chain":
        if not isinstance(other, Transformation):
            return NotImplemented
        return Chain(self._nodes + other.nodes)

    def compile(self, ctx, col, dtype):
        for node in self._nodes:
            col, dtype = node.compile(ctx, col, dtype)
        return col, dtype


# ---------------------------------------------------------------------------
# Group A — identity / literals / casting / conditionals
# (reference transformations.py:50-86, 210-222)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Id(Transformation):
    """Identity (reference ``transformations.py:50-53``)."""

    def compile(self, ctx, col, dtype):
        return col, dtype


@dataclass(frozen=True)
class Constant(Transformation):
    """Ignore input, produce a literal (``transformations.py:56-61``)."""

    value: Any

    def compile(self, ctx, col, dtype):
        return F.lit(self.value), _lit_type(self.value)


_PY_CASTS: dict[Any, T.DataType] = {
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bool: T.BooleanType(),
    bytes: T.BinaryType(),
    decimal.Decimal: T.DecimalType(38, 18),
    _dt.datetime: T.TimestampType(),
    _dt.date: T.DateType(),
}


def resolve_cast_target(target: Any) -> T.DataType:
    """Map a cast spec (python type / DataType / DDL string) to a DataType."""
    if isinstance(target, T.DataType):
        return target
    if target in _PY_CASTS:
        return _PY_CASTS[target]
    if isinstance(target, str):
        return T._parse_datatype_string(target)  # DDL, e.g. "decimal(12,2)"
    raise SpecError(
        f"Cast target {target!r} is not a Spark type, python scalar type, or DDL "
        "string. Arbitrary callables are an optimization barrier — wrap them in "
        "Custom(func, returnType) explicitly (SURVEY.md section 4.3)."
    )


@dataclass(frozen=True)
class Cast(Transformation):
    """Type conversion (reference ``transformations.py:64-69``).

    The reference takes an arbitrary ``Callable[[K], V]`` (``int``,
    ``float``, ...).  Expression-first policy: we accept python scalar
    types, Spark DataTypes, or DDL strings and compile to a native
    ``cast`` (strict → ANSI cast, errors on malformed input like the
    reference's ``int("x")``; lenient → ``try_cast`` nulls out).
    """

    target: Any

    def compile(self, ctx, col, dtype):
        to = resolve_cast_target(self.target)
        out = col.cast(to) if ctx.strict else col.try_cast(to)
        return out, to


@dataclass(frozen=True)
class Custom(Transformation):
    """Arbitrary Python function — the explicit UDF escape hatch
    (reference ``transformations.py:72-77``).

    This is an optimization barrier (opaque to Catalyst).  ``vectorized=True``
    (default) uses an Arrow-batched pandas UDF (``func: pd.Series -> pd.Series``);
    ``vectorized=False`` a row-at-a-time UDF (``func: Any -> Any``).
    """

    func: Callable
    return_type: Any = T.StringType()
    vectorized: bool = True

    def compile(self, ctx, col, dtype):
        to = resolve_cast_target(self.return_type)
        if self.vectorized:
            udf = F.pandas_udf(self.func, returnType=to)
        else:
            udf = F.udf(self.func, returnType=to)
        return udf(col), to


@dataclass(frozen=True)
class Expr(Transformation):
    """Expression escape hatch: ``builder(Column) -> Column`` stays inside
    Catalyst (unlike :class:`Custom`).  This is the idiomatic replacement
    for most reference ``Custom``/``Cast(lambda ...)`` uses.
    """

    builder: Callable[[Column], Column]
    out_type: Any = None

    def compile(self, ctx, col, dtype):
        out = self.builder(col)
        to = resolve_cast_target(self.out_type) if self.out_type is not None else None
        return out, to


@dataclass(frozen=True)
class Default(Transformation):
    """Falsy-replacement (reference ``transformations.py:80-86``):
    ``data if cond(data) else value`` with ``cond`` defaulting to Python
    truthiness (null/0/""/empty → replaced).  ``cond`` here is a Column
    predicate builder ``Column -> Column``.
    """

    value: Any
    cond: Optional[Callable[[Column], Column]] = None

    def compile(self, ctx, col, dtype):
        pred = self.cond(col) if self.cond is not None else _truthy(col, dtype)
        out = F.when(pred, col).otherwise(F.lit(self.value))
        return out, dtype if dtype is not None else _lit_type(self.value)


@dataclass(frozen=True)
class If(Transformation):
    """Ternary over sub-transformations (reference ``transformations.py:210-222``);
    missing ``else_`` yields null (reference returns ``None``)."""

    cond: Callable[[Column], Column]
    then: Transformation
    else_: Optional[Transformation] = None

    def compile(self, ctx, col, dtype):
        then_col, then_t = self.then.compile(ctx, col, dtype)
        if self.else_ is not None:
            else_col, _ = self.else_.compile(ctx, col, dtype)
        else:
            else_col = F.lit(None)
        return F.when(self.cond(col), then_col).otherwise(else_col), then_t


# ---------------------------------------------------------------------------
# Group B — access / projection (reference transformations.py:89-116, 159-166)
# ---------------------------------------------------------------------------


def _struct_field_type(dtype: T.StructType, name: str) -> T.DataType | None:
    for f in dtype.fields:
        if f.name == name:
            return f.dataType
    return None


@dataclass(frozen=True)
class Get(Transformation):
    """``data[key]`` over struct / map / array inputs
    (reference overloads for Mapping and Sequence, ``transformations.py:89-108``).

    Missing-key behavior (pinned semantics, SURVEY.md section 2.3.3):
    with no ``default`` the engine raises — at compile time for structs
    (schema-checked), at run time (ANSI ``element_at``) for maps/arrays in
    strict mode.  With a ``default``, *missing* keys yield the default
    while a *present* null stays null (no falsy conflation).
    """

    key: Any
    default: Any = MISSING

    def compile(self, ctx, col, dtype):
        has_default = self.default is not MISSING
        # --- struct input: membership is static ---------------------------
        if isinstance(dtype, T.StructType):
            ft = _struct_field_type(dtype, self.key)
            if ft is None:
                if has_default:
                    return F.lit(self.default), _lit_type(self.default)
                raise ctx.err("Get", f"key {self.key!r} not in struct fields "
                                     f"{[f.name for f in dtype.fields]}")
            return _get_field(ctx, col, self.key), ft
        # --- map input ----------------------------------------------------
        if isinstance(dtype, T.MapType):
            if has_default:
                # default fills MISSING keys only; a null container
                # propagates null (null-in/null-out, like every Spark op)
                out = F.when(col.isNull(),
                             F.lit(None).cast(dtype.valueType)) \
                    .when(F.map_contains_key(col, F.lit(self.key)),
                          col.getItem(self.key)) \
                    .otherwise(F.lit(self.default))
                return out, dtype.valueType
            if ctx.strict:
                return F.element_at(col, F.lit(self.key)), dtype.valueType
            return F.try_element_at(col, F.lit(self.key)), dtype.valueType
        # --- array input (0-based like Python; negative = from end) ------
        if isinstance(dtype, T.ArrayType):
            idx = self.key
            if not isinstance(idx, int):
                raise ctx.err("Get", f"array index must be int, got {idx!r}")
            pos = idx + 1 if idx >= 0 else idx  # element_at is 1-based
            if has_default:
                in_bounds = (F.size(col) > F.lit(idx)) if idx >= 0 else \
                            (F.size(col) >= F.lit(-idx))
                out = F.when(col.isNull(),
                             F.lit(None).cast(dtype.elementType)) \
                    .when(in_bounds, F.try_element_at(col, F.lit(pos))) \
                    .otherwise(F.lit(self.default))
                return out, dtype.elementType
            getter = F.element_at if ctx.strict else F.try_element_at
            return getter(col, F.lit(pos)), dtype.elementType
        # --- unknown input type: generic extraction ----------------------
        out = col.getItem(self.key)
        if has_default:
            out = F.coalesce(out, F.lit(self.default))
        return out, None


@dataclass(frozen=True)
class Attr(Transformation):
    """Object attribute access (reference ``transformations.py:111-116``).
    Objects ≅ structs in Spark, so this is struct-field access."""

    attr: str

    def compile(self, ctx, col, dtype):
        if isinstance(dtype, T.StructType):
            ft = _struct_field_type(dtype, self.attr)
            if ft is None:
                raise ctx.err("Attr", f"attribute {self.attr!r} not in struct "
                                      f"fields {[f.name for f in dtype.fields]}")
            return _get_field(ctx, col, self.attr), ft
        return col.getItem(self.attr), None


@dataclass(frozen=True)
class Gather(Transformation):
    """Project a mapping down to a subset of keys
    (reference ``transformations.py:159-166``; KeyError on missing).

    Struct input → narrower struct (static check).  Map input → filtered
    map; strict mode raises at runtime when a key is absent (parity with
    the reference KeyError), lenient keeps whatever subset exists.
    """

    keys: tuple

    def __init__(self, keys: Sequence) -> None:
        object.__setattr__(self, "keys", tuple(keys))

    def compile(self, ctx, col, dtype):
        if isinstance(dtype, T.StructType):
            missing = [k for k in self.keys if _struct_field_type(dtype, k) is None]
            if missing:
                raise ctx.err("Gather", f"keys {missing!r} not in struct")
            out = F.struct(*[_get_field(ctx, col, k).alias(k) for k in self.keys])
            out_t = T.StructType([T.StructField(k, _struct_field_type(dtype, k), True)
                                  for k in self.keys])
            return out, out_t
        if isinstance(dtype, T.MapType):
            key_arr = F.array(*[F.lit(k) for k in self.keys])
            filtered = F.map_filter(col, lambda k, v: F.array_contains(key_arr, k))
            if ctx.strict:
                ok = F.size(filtered) == F.lit(len(self.keys))
                filtered = F.when(ok, filtered).otherwise(
                    F.raise_error(F.lit(f"Gather: missing key among {list(self.keys)!r}"))
                )
            return filtered, dtype
        raise ctx.err("Gather", f"expected struct or map input, got {dtype}")


# ---------------------------------------------------------------------------
# Group C — collection (array) operators (reference transformations.py:119-156)
# ---------------------------------------------------------------------------


def _elem_type(dtype: T.DataType | None) -> T.DataType | None:
    return dtype.elementType if isinstance(dtype, T.ArrayType) else None


@dataclass(frozen=True)
class Filter(Transformation):
    """Keep elements where the predicate holds.

    Implements the reference's *intended* per-element semantics — the
    reference body applies the predicate to the whole collection
    (``transformations.py:124``), pinned as a bug in SURVEY.md section 2.3.1.
    ``func`` is a Column predicate builder over the element.
    """

    func: Callable[[Column], Column]

    def compile(self, ctx, col, dtype):
        return F.filter(col, self.func), dtype


@dataclass(frozen=True)
class Map(Transformation):
    """Element-wise expression map (reference ``transformations.py:127-132``).
    ``func`` is ``Column -> Column`` over the element."""

    func: Callable[[Column], Column]
    out_type: Any = None

    def compile(self, ctx, col, dtype):
        out_elem = (resolve_cast_target(self.out_type)
                    if self.out_type is not None else None)
        out_t = T.ArrayType(out_elem) if out_elem is not None else None
        return F.transform(col, self.func), out_t


@dataclass(frozen=True)
class ForEach(Transformation):
    """Apply a sub-transformation *chain* to every element
    (reference ``transformations.py:135-143``)."""

    transformation: Transformation

    def compile(self, ctx, col, dtype):
        elem_t = _elem_type(dtype)
        out_elem_t: list = [None]

        def body(x: Column) -> Column:
            out, ot = self.transformation.compile(ctx, x, elem_t)
            out_elem_t[0] = ot
            return out

        out = F.transform(col, body)
        return out, (T.ArrayType(out_elem_t[0]) if out_elem_t[0] is not None else None)


@dataclass(frozen=True)
class Flatten(Transformation):
    """Concatenate ``depth`` nesting levels (reference ``transformations.py:146-156``
    — its ``sum(result, [])`` is O(n^2); ``F.flatten`` is linear and codegen'd)."""

    depth: int = 1

    def compile(self, ctx, col, dtype):
        out = col
        for _ in range(self.depth):
            out = F.flatten(out)
            dtype = _elem_type(dtype) if isinstance(dtype, T.ArrayType) else None
        # after peeling: array<array<x>> flattened depth times
        return out, dtype if isinstance(dtype, T.ArrayType) else None


# ---------------------------------------------------------------------------
# Group D — mapping (dict) operators (reference transformations.py:169-207)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FoldInKeys(Transformation):
    """Un-pivot a keyed map: ``{k: row}`` → ``[{name: k, **row}]``
    (reference ``transformations.py:169-176``)."""

    name: str

    def compile(self, ctx, col, dtype):
        if isinstance(dtype, T.MapType) and isinstance(dtype.valueType, T.StructType):
            vt = dtype.valueType

            def body(e: Column) -> Column:
                return F.struct(
                    e.getField("key").alias(self.name),
                    *[e.getField("value").getField(f.name).alias(f.name)
                      for f in vt.fields],
                )

            out = F.transform(F.map_entries(col), body)
            out_t = T.ArrayType(T.StructType(
                [T.StructField(self.name, dtype.keyType, True)] + list(vt.fields)))
            return out, out_t
        if isinstance(dtype, T.StructType):
            # struct-of-structs (JSON objects land as structs in Spark)
            rows = []
            fields_t = None
            for f in dtype.fields:
                if not isinstance(f.dataType, T.StructType):
                    raise ctx.err("FoldInKeys", f"value at {f.name!r} is not a struct")
                rows.append(F.struct(
                    F.lit(f.name).alias(self.name),
                    *[_get_field(ctx, col, f.name).getField(g.name).alias(g.name)
                      for g in f.dataType.fields]))
                fields_t = f.dataType
            out_t = T.ArrayType(T.StructType(
                [T.StructField(self.name, T.StringType(), True)]
                + (list(fields_t.fields) if fields_t else [])))
            return F.array(*rows), out_t
        raise ctx.err("FoldInKeys", f"expected map<k, struct> or struct-of-structs, got {dtype}")


@dataclass(frozen=True)
class FoldInValue(Transformation):
    """Remove entry ``key`` and fold its value into every remaining entry's
    sub-dict under ``name`` (reference ``transformations.py:179-191``)."""

    key: str
    name: str

    def compile(self, ctx, col, dtype):
        if not (isinstance(dtype, T.MapType) and isinstance(dtype.valueType, T.StructType)):
            raise ctx.err("FoldInValue", f"expected map<k, struct>, got {dtype}")
        vt = dtype.valueType
        folded = F.element_at(col, F.lit(self.key))
        remaining = F.map_filter(col, lambda k, v: k != F.lit(self.key))

        def body(k: Column, v: Column) -> Column:
            return F.struct(folded.alias(self.name),
                            *[v.getField(f.name).alias(f.name) for f in vt.fields])

        out = F.transform_values(remaining, body)
        out_t = T.MapType(dtype.keyType, T.StructType(
            [T.StructField(self.name, vt, True)] + list(vt.fields)))
        return out, out_t


@dataclass(frozen=True)
class GetKeys(Transformation):
    """``list(data.keys())`` (reference ``transformations.py:194-199``)."""

    def compile(self, ctx, col, dtype):
        if isinstance(dtype, T.StructType):
            names = [f.name for f in dtype.fields]
            return F.array(*[F.lit(n) for n in names]), T.ArrayType(T.StringType())
        if isinstance(dtype, T.MapType):
            return F.map_keys(col), T.ArrayType(dtype.keyType)
        raise ctx.err("GetKeys", f"expected struct or map, got {dtype}")


@dataclass(frozen=True)
class GetValues(Transformation):
    """``list(data.values())`` (reference ``transformations.py:202-207``)."""

    def compile(self, ctx, col, dtype):
        if isinstance(dtype, T.StructType):
            # heterogeneous struct values only form an array if types unify
            vals = [_get_field(ctx, col, f.name) for f in dtype.fields]
            ts = {f.dataType.simpleString() for f in dtype.fields}
            if len(ts) > 1:
                vals = [v.cast("string") for v in vals]
                return F.array(*vals), T.ArrayType(T.StringType())
            return F.array(*vals), T.ArrayType(dtype.fields[0].dataType)
        if isinstance(dtype, T.MapType):
            return F.map_values(col), T.ArrayType(dtype.valueType)
        raise ctx.err("GetValues", f"expected struct or map, got {dtype}")


# ---------------------------------------------------------------------------
# Group E — model construction (reference transformations.py:225-266)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Create(Transformation):
    """Recursively build ONE child-model instance from the current value
    (reference ``transformations.py:225-230``).  The child spec compiles
    inline into a nested ``F.struct`` — recursion flattens into a single
    Catalyst expression tree; no extra pass over the data."""

    model: type

    def compile(self, ctx, col, dtype):
        exprs, out_t = ctx.pipeline._compile_model(ctx, self.model, col, dtype)
        return F.struct(*exprs), out_t


@dataclass(frozen=True)
class CreateMultiple(Transformation):
    """Build a list of child models from a sequence
    (reference ``transformations.py:233-240``)."""

    model: type

    def compile(self, ctx, col, dtype):
        elem_t = _elem_type(dtype)
        out_t: list = [None]

        def body(x: Column) -> Column:
            exprs, out_t[0] = ctx.pipeline._compile_model(ctx, self.model, x,
                                                           elem_t)
            return F.struct(*exprs)

        out = F.transform(col, body)
        return out, (T.ArrayType(out_t[0]) if out_t[0] is not None else None)


@dataclass(frozen=True)
class GetOrCreate(Transformation):
    """Lookup-join construction (reference ``transformations.py:243-251``).

    In the reference this performs a per-record external lookup; in a
    set-oriented engine that protocol IS a left join against a dimension
    DataFrame (SURVEY.md section 3.3), which cannot compile into a scalar
    column expression.  Use :meth:`Pipeline.get_or_create` instead.
    """

    model: type
    match_targets: Optional[tuple] = None

    def compile(self, ctx, col, dtype):
        raise ctx.err(
            "GetOrCreate",
            "get_or_create is a set-oriented join in the Spark engine; call "
            "Pipeline.get_or_create(model, df, dim, match_targets) at the "
            "DataFrame level instead of inside a field chain.",
        )


@dataclass(frozen=True)
class GetOrCreateMultiple(GetOrCreate):
    """List version (reference ``transformations.py:254-266``); same
    set-oriented mapping as :class:`GetOrCreate`."""
