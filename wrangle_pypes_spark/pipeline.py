"""The Pipeline: spec-dict -> Catalyst select-list compiler.

Parity target: reference ``wrangle_pypes/pipeline.py``.  The reference
interprets the spec dict record-at-a-time (``pipeline.py:35-51``); here
the same spec compiles into a flat list of Column expressions, one per
model field, and ``create_multiple(model, df)`` is ``df.select(*exprs)``
— columnar, whole-stage-codegen'd, lazily executed, Catalyst-optimized
(projection pushdown into the Parquet scan comes for free because every
field chain is a native expression over the source columns).

The select list grows linearly with the spec: a field read off the
input row is a plain column reference, and only ``Create`` /
``CreateMultiple`` build a struct.  A ``Pipeline`` memoizes the list per
(model, input schema, ``strict``, session), so a second call over a
DataFrame of the same schema — the next micro-batch, the next pass,
``get_or_create`` after ``create_multiple`` — reuses it instead of
compiling and re-walking the spec.  The memo is checked against the
spec's field chains on every call, so replacing a chain recompiles.

Scale notes: a compiled pipeline carries no per-record Python; the only
data movement is whatever the enclosing plan needs.  ``get_or_create``
(the reference's per-record external-lookup protocol,
``pipeline.py:53-83``) becomes a set-oriented left join against a
dimension DataFrame, with an automatic broadcast hint when the dimension
is small — the per-record RPC disappears into one shuffle or zero
(broadcast).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field as dc_field
from typing import Any, Mapping, NamedTuple, Optional, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import SpecError, TransformationError
from .models import spark_schema_for
from .transformations import CompileContext, Transformation, quoted_col

__all__ = ("Pipeline", "to_instances")

# Dimensions at or under this many rows get an explicit broadcast hint in
# get_or_create.  (AQE would usually pick this up too; the hint makes the
# plan deterministic for the common "small dim table" case.)
_BROADCAST_ROW_THRESHOLD = 10_000_000 // 100  # ~100k rows, conservative

# Compiled select lists a Pipeline keeps; past this many (model, schema,
# strict, session) keys the memo starts over rather than grow unbounded.
_MEMO_MAX = 32


class _Compiled(NamedTuple):
    """One memoized compile: the spec entries ``(model, field, chain)``
    it was compiled from, the select list, and the ``_nulled_fields``
    audit column over the select list's output names."""

    spec: tuple
    exprs: list[Column]
    nulled: Column


@dataclass
class Pipeline:
    """Declarative model-building pipeline over Spark DataFrames.

    ``transformations``: ``{Model: {field_name: Transformation-chain}}`` —
    identical shape to the reference spec dict (``pipeline.py:30-32``).

    ``strict=True`` → ANSI semantics: malformed casts / missing map keys
    raise, like the reference's exceptions.  ``strict=False`` → lenient:
    ``try_cast``/``try_element_at`` null out failures, and
    ``create_multiple(..., audit=True)`` adds a ``_nulled_fields`` column
    listing output fields that came out null (error-context parity,
    SURVEY.md section 4.3).
    """

    transformations: Mapping[type, Mapping[str, Transformation]]
    strict: bool = True
    _memo: dict = dc_field(default_factory=dict, init=False, repr=False,
                           compare=False)

    # -- compilation -------------------------------------------------------

    def _spec_for(self, model: type) -> Mapping[str, Transformation]:
        try:
            return self.transformations[model]
        except KeyError:
            raise SpecError(f"no spec registered for model {model.__name__!r}")

    def _compile_model(self, ctx: CompileContext, model: type, col: Column,
                       dtype: T.DataType | None
                       ) -> tuple[list[Column], T.StructType]:
        """Compile a model's spec against the value `col` into one aliased
        Column per field — the root select list, and the struct members
        of Create/CreateMultiple."""
        if model in ctx.stack:
            cycle = " -> ".join(m.__name__ for m in ctx.stack + (model,))
            raise SpecError(f"model spec cycle: {cycle}")
        spec = self._spec_for(model)
        declared = ({f.name: f.dataType for f in spark_schema_for(model).fields}
                    if dataclasses.is_dataclass(model) else {})
        exprs: list[Column] = []
        out_fields: list[T.StructField] = []
        for name, chain in spec.items():
            sub = dataclasses.replace(ctx, model=model.__name__, field=name,
                                      stack=ctx.stack + (model,))
            try:
                expr, out_t = chain.compile(sub, col, dtype)
            except (TransformationError, SpecError):
                raise
            except Exception as e:  # compile-time analog of the reference's
                # error re-wrap at pipeline.py:128-135
                raise TransformationError(str(e), model=model.__name__,
                                          field=name, op=type(chain).__name__)
            # If the model declares a type for this field, cast to it so the
            # output schema is exactly the model schema.
            dt = declared.get(name)
            if dt is not None and not isinstance(dt, T.NullType):
                if out_t is None or out_t.simpleString() != dt.simpleString():
                    expr = expr.cast(dt) if ctx.strict else expr.try_cast(dt)
                out_t = dt
            exprs.append(expr.alias(name))
            out_fields.append(T.StructField(name, out_t or T.NullType(), True))
        return exprs, T.StructType(out_fields)

    def _compiled(self, model: type, df: DataFrame) -> _Compiled:
        """The memoized compile of `model` against `df`'s schema.

        Keyed on (model, schema, strict, session); a hit is used only if
        every spec entry is still the same chain object, so a chain
        replaced in ``transformations`` after a compile is honoured.
        Threads racing on one key may each compile; either result is
        correct."""
        spec = tuple((m, name, chain)
                     for m, fields in self.transformations.items()
                     for name, chain in fields.items())
        schema = df.schema
        key = (model, schema, self.strict, df.sparkSession)
        hit = self._memo.get(key)
        if hit is not None and len(hit.spec) == len(spec) and all(
                m is m2 and name == name2 and chain is chain2
                for (m, name, chain), (m2, name2, chain2)
                in zip(hit.spec, spec)):
            return hit
        root = F.struct(*[quoted_col(c) for c in schema.names])
        ctx = CompileContext(pipeline=self, strict=self.strict,
                             model=model.__name__, root=root)
        exprs, out_t = self._compile_model(ctx, model, root, schema)
        nulled = F.filter(
            F.array(*[F.when(quoted_col(n).isNull(), F.lit(n))
                      for n in out_t.names]),
            lambda x: x.isNotNull())
        if len(self._memo) >= _MEMO_MAX:
            self._memo.clear()
        self._memo[key] = entry = _Compiled(spec, exprs, nulled)
        return entry

    def compile(self, model: type, df: DataFrame) -> list[Column]:
        """Compile the spec for `model` against `df`'s schema into one
        aliased Column per model field (the select list).

        The list is flat: a field read off the input row is a column
        reference, so its size is linear in the spec.  It is memoized
        per (model, input schema, strict, session) and reused by every
        later call — ``create_multiple``, ``get_or_create``, ``explain``
        — over a DataFrame of the same schema, until a field chain in
        ``transformations`` is replaced."""
        return list(self._compiled(model, df).exprs)

    # -- entry points (reference pipeline.py:35-51) ------------------------

    def create_multiple(self, model: type, df: DataFrame, *,
                        audit: bool = False) -> DataFrame:
        """The core table-in/table-out op: one typed output row per input
        row (reference ``create_multiple``, ``pipeline.py:43-51``)."""
        compiled = self._compiled(model, df)
        out = df.select(*compiled.exprs)
        if audit:
            out = out.withColumn("_nulled_fields", compiled.nulled)
        return out

    def explain(self, model: type, df: DataFrame) -> str:
        """Human-readable view of what a spec compiles to: the Column
        expression per field plus the physical-plan audit of the
        resulting select (``plans.audit``) — the debugging surface the
        reference's record-at-a-time interpreter never needed but a
        plan-compiled engine owes its users.  Plan-build only, no job.
        The expressions shown are the memoized select list
        :meth:`compile` returns: flat column references for fields read
        off the input row, structs only where ``Create`` builds them.
        """
        from .plans import audit as plan_audit

        exprs = self.compile(model, df)
        lines = [f"Pipeline spec for {model.__name__}:"]
        for field_name, expr in zip(self.transformations[model], exprs):
            lines.append(f"  {field_name} <- {expr!r}")
        rep = plan_audit(df.select(*exprs))
        lines.append(
            f"plan: jvm_only={rep.jvm_only()} shuffles={rep.shuffle_count()}"
            f" broadcast_joins={rep.broadcast_joins}"
            f" pushed_filters={rep.pushed_filters or '[]'}")
        return "\n".join(lines)

    def create(self, model: type, df: DataFrame) -> Row:
        """Build a single instance from the first row (reference
        ``create``, ``pipeline.py:35-41``)."""
        return self.create_multiple(model, df).first()

    def schema_for(self, model: type, df: DataFrame) -> T.StructType:
        """The output schema `create_multiple(model, df)` would produce."""
        return self.create_multiple(model, df).schema

    # -- get_or_create: the lookup-join protocol (reference pipeline.py:53-104)

    def get_or_create(
        self,
        model: type,
        df: DataFrame,
        dim: DataFrame,
        match_targets: Optional[Sequence[str]] = None,
        *,
        broadcast_threshold: int | None = None,
        passthrough: Sequence[str] = (),
        dim_rows: int | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Set-oriented ``get_or_create`` (SURVEY.md section 3.3).

        The reference resolves each record against an external store via a
        user ``lookup`` callable and returns ``(instance, created)`` pairs
        (``pipeline.py:53-83``); on a miss it builds the full model
        (intended semantics — the reference has an unbound-local bug on
        that path, SURVEY.md section 2.3.2).  Here the external store is a
        dimension DataFrame and the whole protocol is one left join:

        * build candidate rows from ``df`` via the model spec,
        * left-join ``dim`` on ``match_targets`` (all fields if None),
        * ``created`` := no dim match,
        * matched rows take the dim's values, misses keep the built ones,
        * the updated dimension is ``dim UNION (new rows)``.

        Returns ``(result, new_dim)`` where ``result`` has the model's
        columns plus a boolean ``created``.  At scale: the dim side gets a
        broadcast hint when it is small — decided from ``dim_rows`` when
        the caller already knows the size, else from a one-off
        memoized ``limit``-probe — otherwise this is a plain
        shuffle join that AQE can re-plan.  Concurrent upsert semantics
        are batch-level and idempotent (dedup on match keys before union);
        a transactional MERGE needs a table format (Delta/Iceberg) and is
        out of scope for the in-memory protocol.
        """
        built = df.select(*self.compile(model, df),
                          *[F.col(c) for c in passthrough])
        model_cols = [c for c in built.columns if c not in set(passthrough)]
        keys = list(match_targets) if match_targets else list(model_cols)
        missing = [k for k in keys if k not in built.columns or k not in dim.columns]
        if missing:
            raise SpecError(f"match_targets {missing!r} not present in both "
                            f"built columns {built.columns} and dim {dim.columns}")

        # Literal hit marker: `created` must not probe a key column —
        # eqNullSafe can match a dim row whose key value IS null, and a
        # key-column probe would flag that real match as created=True
        # (and re-append the null-key row to new_dim every batch).
        dim_side = dim.withColumn("_dim_hit", F.lit(True))
        threshold = (_BROADCAST_ROW_THRESHOLD if broadcast_threshold is None
                     else broadcast_threshold)
        # Explicit broadcast for small dims; for large dims let AQE
        # decide.  ``dim_rows`` (a caller-known row count) skips the
        # probe job entirely — loop drivers like the foreachBatch
        # maintainers track the dim size incrementally and pass it, so
        # the dim-sized probe runs at most once per stream, not per
        # micro-batch.
        if threshold and (dim_rows <= threshold if dim_rows is not None
                          else _cheap_count_at_most(dim, threshold)):
            dim_side = F.broadcast(dim_side)

        b = built.alias("b")
        d = dim_side.alias("d")
        cond = None
        for k in keys:
            eq = F.col(f"b.{k}").eqNullSafe(F.col(f"d.{k}"))
            cond = eq if cond is None else (cond & eq)
        joined = b.join(d, cond, "left")

        dim_cols = set(dim.columns)
        created = F.col("d._dim_hit").isNull()

        out_cols = []
        for c in built.columns:
            if c in dim_cols:
                out_cols.append(F.when(created, F.col(f"b.{c}"))
                                .otherwise(F.col(f"d.{c}")).alias(c))
            else:
                out_cols.append(F.col(f"b.{c}").alias(c))
        result = joined.select(*out_cols, created.alias("created"))

        new_rows = (result.filter(F.col("created"))
                    .select(*[F.col(c).alias(c) for c in model_cols
                              if c in dim_cols])
                    .dropDuplicates(keys))
        # align to dim schema: missing dim columns become null
        aligned = new_rows
        for c in dim.columns:
            if c not in aligned.columns:
                aligned = aligned.withColumn(c, F.lit(None).cast(dict(
                    (f.name, f.dataType) for f in dim.schema.fields)[c]))
        aligned = aligned.select(*dim.columns)
        new_dim = dim.unionByName(aligned)
        return result, new_dim

    def get_or_create_multiple(self, *args, **kwargs):
        """Alias of :meth:`get_or_create` — the engine is set-oriented, so
        the "multiple" variant over flat rows (reference
        ``pipeline.py:85-104``) is the same operation.  For ARRAY-valued
        input (a list of child records per row, the reference
        ``GetOrCreateMultiple`` transformation) use
        :meth:`get_or_create_in_arrays`."""
        return self.get_or_create(*args, **kwargs)

    def get_or_create_in_arrays(
        self,
        model: type,
        df: DataFrame,
        array_col: str,
        dim: DataFrame,
        match_targets: Optional[Sequence[str]] = None,
        *,
        id_col: str,
    ) -> tuple[DataFrame, DataFrame]:
        """``GetOrCreateMultiple`` over an array column (reference
        ``transformations.py:254-266``): each element of
        ``df[array_col]`` (array<struct>) is resolved against ``dim``.

        Topology (SURVEY.md section 2.1 row E4): ``posexplode`` the
        array, run the set-oriented lookup join once over ALL elements
        of ALL rows, then regroup with ``collect_list`` sorted by the
        original element position and left-join back onto the input ids.
        Rows whose array is EMPTY come back with an empty ``items`` list
        (the reference returns ``[]`` for empty input rather than
        dropping the record); a NULL array stays NULL.  Returns
        ``(result, new_dim)`` where ``result`` is ``(id_col, items)``
        and ``items`` is an array of model structs each carrying its
        ``created`` flag, in input order.
        """
        exploded = (df.select(id_col,
                              F.posexplode(F.col(array_col))
                               .alias("_pos", "_elem"))
                    .select(id_col, "_pos", "_elem.*"))
        flat, new_dim = self.get_or_create(
            model, exploded, dim, match_targets,
            passthrough=[id_col, "_pos"])
        entry_cols = [c for c in flat.columns if c not in (id_col, "_pos")]
        entry = F.struct(*[F.col(c) for c in entry_cols])
        regrouped = (flat
                     .groupBy(id_col)
                     .agg(F.array_sort(F.collect_list(
                         F.struct(F.col("_pos").alias("p"),
                                  entry.alias("e")))).alias("_tmp"))
                     .select(id_col,
                             F.transform(F.col("_tmp"),
                                         lambda s: s.getField("e"))
                              .alias("items")))
        items_t = regrouped.schema["items"].dataType
        base = df.select(id_col, F.col(array_col).alias("_src_arr"))
        result = (base.join(regrouped, id_col, "left")
                  .select(id_col,
                          F.when(F.col("_src_arr").isNull(),
                                 F.lit(None).cast(items_t))
                           .otherwise(F.coalesce(F.col("items"),
                                                 F.array().cast(items_t)))
                           .alias("items")))
        return result, new_dim


def to_instances(model: type, df: DataFrame):
    """Materialize a built DataFrame back into actual dataclass
    instances — the reference's output shape (``pipeline.py:41``
    ``model(**kwargs)`` yields real model objects, not rows).

    Nested structs become nested model instances, arrays/maps of models
    convert element-wise, and extra non-model columns (e.g. the
    ``created`` flag from ``get_or_create``) are ignored.  Returns a
    generator like the reference's ``create_multiple``.

    This is deliberately a DRIVER-side adapter for the final
    "hand results to Python" step: it streams partitions via
    ``toLocalIterator`` (never more than one partition of rows held on
    the driver), but instances are plain Python objects — keep
    distributed work in DataFrame land and materialize only what you
    consume.
    """
    import typing

    names = [f.name for f in dataclasses.fields(model)]
    _hints_cache: dict[type, dict[str, Any]] = {}

    def hints_for(m: type) -> dict[str, Any]:
        if m not in _hints_cache:
            _hints_cache[m] = typing.get_type_hints(m)
        return _hints_cache[m]

    def convert(py_type: Any, val: Any):
        if val is None:
            return None
        import types as _types
        origin = typing.get_origin(py_type)
        if origin is typing.Union or origin is _types.UnionType:
            args = [a for a in typing.get_args(py_type) if a is not type(None)]
            return convert(args[0], val) if len(args) == 1 else val
        if origin in (list, tuple):
            (elem,) = typing.get_args(py_type) or (Any,)
            return [convert(elem, v) for v in val]
        if origin is dict:
            kv = typing.get_args(py_type) or (Any, Any)
            return {k: convert(kv[1], v) for k, v in val.items()}
        if isinstance(py_type, type) and dataclasses.is_dataclass(py_type):
            return row_to_instance(py_type, val)
        return val

    def row_to_instance(m: type, row: Row):
        m_hints = hints_for(m)
        return m(**{f.name: convert(m_hints.get(f.name, Any), row[f.name])
                    for f in dataclasses.fields(m)})

    for row in df.select(*names).toLocalIterator():
        yield row_to_instance(model, row)


def _cheap_count_at_most(df: DataFrame, n: int) -> bool:
    """True if df has at most n rows, checked without a full count when
    possible (limit n+1 then count the limited frame).

    This runs an EAGER (but tiny) job at plan-build time; the verdict is
    memoized on the DataFrame handle so repeated ``get_or_create`` calls
    against the same dim object (e.g. per micro-batch) probe once.
    """
    cache = getattr(df, "_wps_atmost_cache", None)
    if cache is None:
        cache = {}
        try:
            df._wps_atmost_cache = cache
        except AttributeError:  # exotic DataFrame proxy; skip memoization
            pass
    if n not in cache:
        try:
            cache[n] = df.limit(n + 1).count() <= n
        except Exception:
            return False
    return cache[n]
