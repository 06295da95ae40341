"""Format-neutral scan core under ``read_delta`` and ``read_iceberg``.

A Delta snapshot (replayed from its log) and an Iceberg snapshot
(decoded from its manifests) both resolve to the same thing: a list of
parquet/orc data files, each with its partition values, plus the row
positions some delete descriptors remove.  From that list on, reading
does not depend on the format, and it lives here once:

- :class:`SnapshotCache`: the bounded per-session LRU of resolved
  snapshots, keyed by canonical path, target and a content fingerprint.
- :func:`norm_path` / :func:`norm_uri`: one canonical form for
  ``file:`` URIs, as a string and as a column, so log, manifest and
  ``_metadata.file_path`` paths compare equal.
- :func:`hive_consistent`: may one ``basePath`` scan infer the
  partition columns?  Only when every file sits at one depth with the
  ``k=v`` segments in the same positions, and each segment agrees
  with the file's metadata values (the metadata stays authoritative).
- :func:`single_scan` (that one scan) and :func:`grouped_scan` (one
  scan per partition tuple, values attached as typed literals, then
  one ``unionByName``).
- :func:`with_row_address`, :func:`position_deletes` and
  :func:`join_positions`: every scanned row carries its
  (file, position) address; delete descriptors expand to
  (file, position) rows INSIDE executors, and one join on the address
  drops (or, for change feeds, keeps) those rows.
- :func:`table_rows`: the table columns, with ``where_range`` applied
  exactly.

What each format keeps is its own metadata: Delta its log replay and
column mapping, Iceberg its manifest decode, transforms, v3 defaults,
ORC, equality deletes and delete sequence numbers.  Nothing here
branches on which format called it.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import OrderedDict
from functools import reduce
from typing import Callable, Optional
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localdf import local_df

ROW_FILE, ROW_POS = "_scan_file", "_scan_pos"
DEL_FILE, DEL_POS, DEL_SEQ = "_del_file", "_del_pos", "_del_seq"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def norm_path(p: str) -> str:
    """Canonical form of a ``file:`` URI ('file:/x', 'file:///x',
    '/x' -> '/x'); other schemes pass through."""
    return re.sub("^file:/+", "/", p)


def norm_uri(col):
    """:func:`norm_path` as a column expression."""
    return F.regexp_replace(col, "^file:/+", "/")


def fingerprint(text: Optional[str]) -> Optional[str]:
    """Content hash of the metadata a snapshot was resolved from — a
    table recreated at the same path never matches an old entry."""
    if text is None:
        return None
    return hashlib.sha1(text.encode()).hexdigest()


class SnapshotCache:
    """Bounded LRU of resolved snapshots.  A committed snapshot is
    immutable, so reusing it within a session is safe; a hit needs the
    same SparkSession object (a snapshot's DataFrame plans die with
    their session) and the same content fingerprint.  One entry per
    (canonical path, target): a newer session or fingerprint replaces
    it."""

    capacity = 64

    def __init__(self):
        self._entries: OrderedDict = OrderedDict()

    @staticmethod
    def _key(path: str, target) -> tuple:
        return norm_path(path).rstrip("/"), target

    def get(self, spark, path: str, target, fp: Optional[str]):
        key = self._key(path, target)
        hit = self._entries.get(key)
        if hit is None or hit[0] is not spark or hit[1] != fp:
            return None
        self._entries.move_to_end(key)
        return hit[2]

    def put(self, spark, path: str, target, fp: Optional[str], snap):
        """Cache ``snap`` and return it."""
        key = self._key(path, target)
        self._entries[key] = (spark, fp, snap)
        self._entries.move_to_end(key)
        while len(self._entries) > self.capacity:
            self._entries.popitem(last=False)
        return snap

    def clear(self) -> None:
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)


def hive_consistent(root: str, files: list, pcols: list) -> bool:
    """True when one ``basePath`` scan of ``root`` reads ``files``
    ([(path, {column: value}, layout)]) with ``pcols`` inferred
    correctly: every path lies under ``root`` at one uniform depth with
    its ``k=v`` segments in the same positions (Spark's partition
    discovery rejects two layouts, e.g. converted-in-place files at
    ``<root>/old/p=x`` beside appends at ``<root>/p=x``), and each
    file's segment for every partition column equals its metadata
    value (``HIVE_NULL`` matching None)."""
    base = norm_path(root).rstrip("/") + "/"
    layout = None
    for path, values, _ in files:
        p = norm_path(path)
        if not p.startswith(base):
            return False  # e.g. a clone's absolute paths
        dirs = p[len(base):].split("/")[:-1]
        sig = (len(dirs), tuple((i, seg.split("=", 1)[0])
                                for i, seg in enumerate(dirs)
                                if "=" in seg))
        if layout is None:
            layout = sig
        elif sig != layout:
            return False
        segs = dict(seg.split("=", 1) for seg in dirs if "=" in seg)
        for c in pcols:
            if c not in segs:
                return False
            sv, v = unquote(segs[c]), values.get(c)
            if sv == HIVE_NULL:
                if v is not None:
                    return False
            elif v is None or sv != str(v):
                return False
    return True


def with_row_address(d: DataFrame) -> DataFrame:
    """Append each row's (canonical file path, row index) address."""
    return d.select("*",
                    norm_uri(F.col("_metadata.file_path")).alias(ROW_FILE),
                    F.col("_metadata.row_index").alias(ROW_POS))


def single_scan(spark: SparkSession, root: str, paths: list, schema, *,
                with_meta: bool = False) -> DataFrame:
    """One parquet scan of ``paths`` under ``schema``, with Spark
    inferring the hive partition columns below ``root`` — which
    :func:`hive_consistent` must have allowed.  This is the
    10k-partition-safe shape: no per-partition unions in the plan."""
    d = (spark.read.schema(schema).option("basePath", root)
         .parquet(*paths))
    return with_row_address(d) if with_meta else d


def union_all(parts: list) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def grouped_scan(files: list, pcols: list, types: dict,
                 read: Callable, *, with_meta: bool = False
                 ) -> DataFrame:
    """One scan per (partition tuple, layout) group of ``files``
    ([(path, {column: value}, layout)]), each group's ``pcols``
    attached as literals cast to ``types``, unioned by name.
    ``read(paths, layout)`` builds one group's scan: format, schema
    and renames are the caller's."""
    groups: dict = {}
    for path, values, layout in files:
        key = (tuple(values.get(c) for c in pcols), layout)
        groups.setdefault(key, ([], values))[0].append(path)
    parts = []
    for key in sorted(groups, key=lambda k: (tuple(map(repr, k[0])),
                                             k[1])):
        paths, values = groups[key]
        d = read(paths, key[1])
        if with_meta:
            d = with_row_address(d)
        for c in pcols:
            d = d.withColumn(c, F.lit(values.get(c)).cast(types[c]))
        parts.append(d)
    return union_all(parts)


def position_deletes(spark: SparkSession, descriptors: list,
                     decode: Callable) -> DataFrame:
    """(DEL_FILE, DEL_POS, DEL_SEQ) rows, one per deleted position.
    ``descriptors`` is [(data file path, seq, descriptor dict)]; the
    rows expand INSIDE executors (``mapInPandas``), so the driver never
    holds decoded positions.  ``decode(descriptor, cache)`` returns one
    descriptor's positions; ``cache`` (path -> bytes) is shared by one
    task's descriptors.  ``seq`` rides along to every row."""
    desc = local_df(spark, [(norm_path(f), int(s), json.dumps(d))
                            for f, s, d in descriptors],
                    "file string, seq long, desc string")

    def _expand(batches):
        import pandas as pd
        cache: dict = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                pos = decode(json.loads(row.desc), cache)
                yield pd.DataFrame({DEL_FILE: row.file,
                                    DEL_POS: pos.astype("int64"),
                                    DEL_SEQ: row.seq})

    return desc.mapInPandas(
        _expand, f"{DEL_FILE} string, {DEL_POS} long, {DEL_SEQ} long")


def join_positions(d: DataFrame, dels: DataFrame, how: str = "left_anti",
                   cond=None) -> DataFrame:
    """Join scanned rows (carrying the row address) to delete rows on
    (file, position): ``left_anti`` drops the deleted rows, ``inner``
    keeps only them.  ``cond`` adds a format's own term."""
    on = ((F.col(ROW_FILE) == F.col(DEL_FILE))
          & (F.col(ROW_POS) == F.col(DEL_POS)))
    return d.join(dels, on if cond is None else on & cond, how)


def table_rows(d: DataFrame, schema, where_range: Optional[dict]
               ) -> DataFrame:
    """The table's columns of ``d``, filtered EXACTLY by
    ``where_range`` ({column: (lo, hi)}, None = unbounded side; SQL
    semantics, so nulls never match)."""
    d = d.select(*schema.fieldNames())
    for c, (lo, hi) in (where_range or {}).items():
        if lo is not None:
            d = d.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            d = d.filter(F.col(c) <= F.lit(hi))
    return d
