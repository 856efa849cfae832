"""The scan core shared by the Delta (``sources.delta``) and Iceberg
(``sources.iceberg``) sources.

Each format replays its own metadata (the Delta log, the Iceberg
manifests) into a ``ScanPlan``: which data files to read, grouped by
partition value, with what read schema, and which rows are deleted.
``to_dataframe`` is the one place that turns a plan into rows — both
readers, the row-position discovery of both ``delete_rows`` and both
``optimize_compact`` rewrites go through it. On the write side,
``written_files`` is the one walker over the parquet files a Spark write
just produced: every create, append and compaction of either format
records its files, and their partition values, through it.

Compaction is size-tiered, one rule for both formats (``rewrite_set``,
which is handed every live file with its partition values and groups
them itself): within a partition group, files are walked from the largest down, and
each stays in place while it has no deletes against it and is at least
``TIER_RATIO`` (2) times the combined size of every smaller file of the
group; the first file that fails and every file below it are rewritten
into one. A kept file is thus more than the whole rewrite below it, so a
byte is rewritten O(log n) times over a table's life instead of on
every OPTIMIZE, and OPTIMIZE after a small append rewrites the append,
not the table.

Scale shape: the plan is metadata (bounded by file count, not row
count). The data plane is one ``spark.read.parquet`` per file group with
an explicit schema, so column pruning and predicate pushdown reach the
parquet scans, and an equality predicate on a partition column prunes
whole groups (the value is a cast literal per group, constant-folded by
Catalyst). Deletes are distributed anti-joins, never a driver-side
materialization.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_spark.sources.readers import local_frame

# Columns ``to_dataframe(..., positions=True)`` appends: the data file as
# Spark reports it (``_metadata.file_path``, a percent-encoded URI) and
# the physical row index inside it.
FILE_PATH = "__file_path"
POS = "__pos"
_KEY = "__mask_key"
_SEQ = "__seq"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_POSITION_DELETE_SCHEMA = T.StructType(
    [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
)
# A file stays in place during compaction only while it is at least this
# many times the combined size of the smaller files of its group.
TIER_RATIO = 2


@dataclass
class FileGroup:
    """Data files read by one scan: their partition values (in
    ``ScanPlan.partition_columns`` order) and, for Iceberg, their data
    sequence number."""

    paths: list[str]
    values: tuple = ()
    seq: int = 0


@dataclass
class EqualityDelete:
    """Iceberg equality-delete files over one set of key columns: a data
    row is deleted when every key matches (null-safe) a delete row of a
    file with a STRICTLY HIGHER sequence number than the row's file.
    ``read_schema`` names the keys by their output names (and carries
    their parquet field ids); ``files`` are (path, sequence number)."""

    read_schema: T.StructType
    files: list[tuple[str, int]]


@dataclass
class ScanPlan:
    """A table snapshot ready to scan.

    ``schema`` is the declared output schema. ``read_schema`` is the
    data files' schema — physical names, or ``parquet.field.id``
    metadata so columns resolve by id; ``physical`` maps an output
    column to its ``read_schema`` name where the two differ.
    ``partition_columns`` are output columns not stored in the files:
    each group supplies them as literals. ``positions`` masks rows as
    (file path, row index), the path spelled as in ``groups`` (what
    ``path_key`` decodes ``_metadata.file_path`` to); ``position_files``
    are parquet (file_path, pos) delete files holding such masks."""

    schema: T.StructType
    read_schema: T.StructType
    groups: list[FileGroup] = field(default_factory=list)
    partition_columns: list[str] = field(default_factory=list)
    physical: dict[str, str] = field(default_factory=dict)
    positions: list[tuple[str, int]] = field(default_factory=list)
    position_files: list[str] = field(default_factory=list)
    equality_deletes: list[EqualityDelete] = field(default_factory=list)


def group_files(files) -> list[FileGroup]:
    """(partition values, sequence number, path) triples as one
    ``FileGroup`` per distinct (values, sequence number). Null partition
    values are legal state in both formats, so the order is None-safe
    (nulls last) and deterministic."""
    groups: dict[tuple, list[str]] = {}
    for values, seq, path in files:
        groups.setdefault((tuple(values), seq), []).append(path)
    return [
        FileGroup(sorted(groups[key]), *key)
        for key in sorted(groups, key=lambda k: (tuple((v is None, str(v)) for v in k[0]), k[1]))
    ]


def rewrite_set(files) -> list[str]:
    """The paths OPTIMIZE rewrites among a table's live files, given as
    ``(path, size, has_deletes)`` triples, or with a fourth element, the
    file's partition values: files group by that element (one group when
    it is absent), each group's rewrite set largest first.

    Within a group the files are walked by size, descending (path breaks
    ties); each is kept while it has no deletes against it and its size
    is at least ``TIER_RATIO`` times the combined size of all smaller
    files. The first file that fails and everything after it are the
    rewrite set. The smallest file always passes the size test (nothing
    is below it), so a one-file set is a file with deletes: a lone file
    without deletes is never rewritten into itself."""
    groups: dict[tuple, list[tuple[str, int, bool]]] = {}
    for path, size, deleted, *values in files:
        groups.setdefault(tuple(values), []).append((path, size, deleted))
    out = []
    for group in groups.values():
        ordered = sorted(group, key=lambda f: (-f[1], f[0]))
        below = sum(size for _path, size, _deleted in ordered)
        kept = 0
        for _path, size, deleted in ordered:
            below -= size
            if deleted or size < TIER_RATIO * below:
                break
            kept += 1
        out += [path for path, _size, _deleted in ordered[kept:]]
    return out


def path_key(col: Column) -> Column:
    """The local path a file URI names — the mask key. Spark reports
    ``_metadata.file_path`` as ``file:/a%20b/...``; the scheme is
    stripped and the path percent-decoded ('+' is literal in a URI path,
    so it is escaped first). Symlinks are not resolved: a table read
    through a link is keyed by the link path on both sides."""
    stripped = F.regexp_replace(col, "^file:/+", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def local_path(uri: str) -> str:
    """``path_key`` of one path string, on the driver."""
    return unquote(re.sub("^file:/+", "/", uri))


def _scan(spark: SparkSession, schema: T.StructType, paths: list[str]) -> DataFrame:
    return spark.read.schema(schema).parquet(*paths)


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def to_dataframe(spark: SparkSession, plan: ScanPlan, *, positions: bool = False) -> DataFrame:
    """Rows of ``plan`` with every delete applied, as ``plan.schema``.

    One scan per file group, partition values added as cast literals;
    all position masks (``positions`` and ``position_files``) applied by
    ONE anti-join on (file path, ``_metadata.row_index``); one anti-join
    per equality-delete key set. With ``positions=True`` the result also
    carries ``FILE_PATH`` and ``POS`` for each surviving row."""
    extra = [T.StructField(FILE_PATH, T.StringType()), T.StructField(POS, T.LongType())]
    out_schema = T.StructType(plan.schema.fields + (extra if positions else []))
    if not plan.groups:
        return local_frame(spark, [], out_schema)
    schemas = [plan.read_schema] + [eq.read_schema for eq in plan.equality_deletes]
    if any("parquet.field.id" in f.metadata for s in schemas for f in s.fields):
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    masked = bool(plan.positions or plan.position_files)
    frames = []
    for group in plan.groups:
        literals = dict(zip(plan.partition_columns, group.values))
        cols = [
            F.lit(literals[f.name]).cast(f.dataType).alias(f.name)
            if f.name in literals
            else F.col(plan.physical.get(f.name, f.name)).alias(f.name)
            for f in plan.schema.fields
        ]
        if masked:
            cols.append(path_key(F.col("_metadata.file_path")).alias(_KEY))
        if positions:
            cols.append(F.col("_metadata.file_path").alias(FILE_PATH))
        if masked or positions:
            cols.append(F.col("_metadata.row_index").alias(POS))
        if plan.equality_deletes:
            cols.append(F.lit(group.seq).cast("long").alias(_SEQ))
        frames.append(_scan(spark, plan.read_schema, group.paths).select(*cols))
    out = _union(frames)
    if masked:
        masks = []
        if plan.positions:
            # Decoded on the driver into an Arrow LocalRelation (no Python
            # worker). Above the local-relation threshold it is an Arrow
            # batch RDD with no size estimate, so the hint keeps the
            # anti-join a broadcast at every mask size.
            masks.append(
                F.broadcast(
                    local_frame(
                        spark,
                        [(p, int(i)) for p, i in plan.positions],
                        f"{_KEY} string, {POS} long",
                    )
                )
            )
        if plan.position_files:
            masks.append(
                _scan(spark, _POSITION_DELETE_SCHEMA, plan.position_files).select(
                    path_key(F.col("file_path")).alias(_KEY), F.col("pos").alias(POS)
                )
            )
        out = out.join(_union(masks), [_KEY, POS], "left_anti")
    for eq in plan.equality_deletes:
        keys = eq.read_schema.names
        dels = _union(
            [
                _scan(spark, eq.read_schema, [path]).select(
                    *[F.col(k).alias(f"__d_{k}") for k in keys],
                    F.lit(seq).cast("long").alias("__dseq"),
                )
                for path, seq in eq.files
            ]
        )
        cond = F.col("__dseq") > F.col(_SEQ)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__d_{k}"))
        out = out.join(dels, on=cond, how="left_anti")
    # .to() casts to the DECLARED schema, nullability included (the
    # partition literals are otherwise non-nullable), and projects away
    # the helper columns.
    return out.to(out_schema)


def written_files(directory: str) -> list[tuple[str, dict]]:
    """Every parquet file under ``directory`` (sorted by path) with the
    partition values of its hive ``key=value`` directories, relative to
    ``directory``. Spark percent-escapes characters such as ':' and '/'
    in those names; keys and values are unescaped (Spark's
    ``unescapePathName``), and ``__HIVE_DEFAULT_PARTITION__`` is a null
    value. Every data file either format creates, appends or compacts is
    recorded through this walker."""
    out = []
    for root, _dirs, names in os.walk(directory):
        pieces = os.path.relpath(root, directory).split(os.sep)
        values = {
            unquote(k): None if v == _HIVE_NULL else unquote(v)
            for k, v in (p.split("=", 1) for p in pieces if "=" in p)
        }
        out += [(os.path.join(root, n), dict(values)) for n in names if n.endswith(".parquet")]
    return sorted(out, key=lambda pair: pair[0])
