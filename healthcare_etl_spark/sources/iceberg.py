"""Minimal Apache Iceberg (format-version 2) reader on vanilla Spark.

Implements the public Iceberg table spec (iceberg.apache.org/spec/)
directly — no iceberg-spark runtime jar, which this container does not
ship — the same way ``sources.delta`` implements delta.io PROTOCOL.md:

* metadata resolution: ``metadata/version-hint.text`` (HadoopTables
  convention) or the highest ``v<N>.metadata.json``;
* snapshot selection: ``current-snapshot-id`` or explicit time travel
  by ``snapshot_id`` through the metadata's snapshot list;
* the manifest LIST (Avro, via the in-repo ``sources.avro`` codec) to
  enumerate manifest files, then each manifest's ``manifest_entry``
  records to the live data-file set (status DELETED excluded);
* identity-transform partition reconstruction: partition values come
  from the manifest's typed partition struct and are attached as
  literal columns when missing from the data files (the spec's rule
  for identity transforms / migrated files);
* optional partition pruning BEFORE the scan: an equality filter on a
  partition column drops file groups at the metadata plane, so the
  Spark job never opens pruned files;
* POSITION delete files (v2 row-level deletes): delete parquet files
  of (file_path, pos) are read as a DataFrame and masked out with a
  distributed LEFT ANTI join on ``_metadata.file_path`` +
  ``_metadata.row_index`` — the same Spark-first shape as the Delta
  deletion-vector path; ``delete_rows`` writes them.

Also implemented: ``bucket[N]`` / ``truncate[W]`` partition transforms
(spec Murmur3, Appendix B vectors unit-tested) with source-value
pruning mapped through the transform; FIELD-ID column resolution (read
schemas carry ``parquet.field.id`` metadata and the parquet reader
matches on it — the Iceberg contract that makes ``rename_column`` a
metadata-only commit, old files resolving by id); ``append_rows``
snapshots.

* EQUALITY delete files (the other v2 row-level delete kind): delete
  rows matching the equality columns (null-safe) in data files with a
  STRICTLY OLDER data sequence number — rows appended after the delete
  survive; one anti-join per distinct equality-id set;
  ``delete_rows_equality`` writes them. Full v2 row-level delete
  support: both delete-file kinds read AND written.

Scope is honest, fail-loud (misreading is worse than raising):
* partition transforms beyond identity/bucket/truncate (days/hours/
  void/...) raise;
* unknown data_file content codes and non-parquet data files raise.

All log/manifest handling is metadata-plane (bounded by file counts,
exactly like real Iceberg readers, which also replay manifests on the
driver). Scale shape: the manifests become a ``sources.lakehouse.ScanPlan``
(file groups, the field-id read schema, position-delete files and
equality deletes) and every data read — the reader, ``delete_rows``'
position discovery and ``optimize_compact``'s rewrite — is
``lakehouse.to_dataframe`` over it: one pruned parquet scan per
partition group, so predicate pushdown and column pruning reach the
files unchanged. The writer is fixture-grade by volume but spec-grade
by format: data files + manifest + manifest list + metadata JSON that
a real Iceberg reader can consume, used by the registered scan query,
the round-trip tests and the time-travel tests.

One write path: every snapshot — create, append, both row-level
deletes, partition delete and compaction — is made by ``_commit``,
which numbers it, has the caller's writer produce the new files, and
carries the unchanged data and delete entries forward as EXISTING (or
DELETED); data files are written by ``_write_spec_files``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_spark.sources import lakehouse
from healthcare_etl_spark.sources.avro import read_avro_file, write_avro_file

_META_DIR = "metadata"
_VERSION_RE = re.compile(r"^v(\d+)\.metadata\.json$")

# ------------------------------------------------------------- type maps

_ICEBERG_TO_SPARK: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
}

_SPARK_TO_ICEBERG: dict[type, str] = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.TimestampNTZType: "timestamp",
    T.TimestampType: "timestamptz",
    T.StringType: "string",
    T.BinaryType: "binary",
}

_ICEBERG_TO_AVRO: dict[str, str] = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": "int",
    "timestamp": "long",
    "timestamptz": "long",
}


def _spark_type(iceberg_type) -> T.DataType:
    if isinstance(iceberg_type, str):
        if iceberg_type in _ICEBERG_TO_SPARK:
            return _ICEBERG_TO_SPARK[iceberg_type]
        m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", iceberg_type)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
    raise NotImplementedError(f"Iceberg type not supported: {iceberg_type!r}")


def _iceberg_type(spark_type: T.DataType) -> str:
    if type(spark_type) in _SPARK_TO_ICEBERG:
        return _SPARK_TO_ICEBERG[type(spark_type)]
    if isinstance(spark_type, T.DecimalType):
        return f"decimal({spark_type.precision},{spark_type.scale})"
    raise NotImplementedError(f"Spark type not supported: {spark_type!r}")


# ------------------------------------------------------- partition transforms


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), the hash the Iceberg spec fixes for
    bucket transforms (Appendix B). Public-domain algorithm (Appleby);
    implemented here because neither mmh3 nor spark-avro ships in this
    container and Spark's ``F.hash`` uses a different seed and integer
    serialization (seed 42, native width) than Iceberg (seed 0, 8-byte
    little-endian for all integral types)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


_TRANSFORM_RE = re.compile(r"^(identity|bucket\[(\d+)\]|truncate\[(\d+)\])$")


def _apply_transform(transform: str, value, iceberg_type: str):
    """Spec semantics of the supported partition transforms. ``None``
    maps to ``None`` under every transform (spec rule)."""
    if value is None:
        return None
    if transform == "identity":
        return value
    m = _TRANSFORM_RE.match(transform)
    if not m:
        raise NotImplementedError(
            f"partition transform {transform!r} not supported "
            "(identity/bucket[N]/truncate[W] only)"
        )
    if transform.startswith("bucket["):
        n = int(m.group(2))
        if iceberg_type in ("int", "long", "date", "timestamp", "timestamptz"):
            data = int(value).to_bytes(8, "little", signed=True)
        elif iceberg_type == "string":
            data = str(value).encode("utf-8")
        elif iceberg_type == "binary":
            data = bytes(value)
        else:
            raise NotImplementedError(
                f"bucket transform over {iceberg_type!r} not supported"
            )
        return (_murmur3_32(data) & 0x7FFFFFFF) % n
    w = int(m.group(3))
    if iceberg_type in ("int", "long"):
        v = int(value)
        return v - (((v % w) + w) % w)
    if iceberg_type == "string":
        return str(value)[:w]
    raise NotImplementedError(
        f"truncate transform over {iceberg_type!r} not supported"
    )


def _transform_result_type(transform: str, iceberg_type: str) -> str:
    """Iceberg result type of a transform (spec): bucket -> int,
    truncate/identity -> source type."""
    if transform.startswith("bucket["):
        return "int"
    return iceberg_type


def _bucket_column(transform: str, iceberg_type: str):
    """Spark column function computing ``bucket[N]`` per row as an
    Arrow-batched pandas UDF — the engine-side path (a literal
    value->bucket map would bound the writer by key cardinality).
    Integral types vectorize the whole Murmur3 block mix in numpy
    (8-byte LE input = exactly two uint32 blocks, no tail); strings
    hash per UNIQUE value per batch."""
    from pyspark.sql.functions import pandas_udf

    n = int(_TRANSFORM_RE.match(transform).group(2))

    if iceberg_type in ("int", "long", "date", "timestamp", "timestamptz"):

        @pandas_udf("int")
        def _bucket(s: pd.Series) -> pd.Series:
            mask = s.notna()
            v = s[mask].astype(np.int64).to_numpy().view(np.uint64)
            k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            k2 = (v >> np.uint64(32)).astype(np.uint32)
            h = np.zeros(len(v), np.uint32)
            for k in (k1, k2):
                k = k * np.uint32(0xCC9E2D51)
                k = (k << np.uint32(15)) | (k >> np.uint32(17))
                k = k * np.uint32(0x1B873593)
                h ^= k
                h = (h << np.uint32(13)) | (h >> np.uint32(19))
                h = h * np.uint32(5) + np.uint32(0xE6546B64)
            h ^= np.uint32(8)  # total byte length
            h ^= h >> np.uint32(16)
            h = h * np.uint32(0x85EBCA6B)
            h ^= h >> np.uint32(13)
            h = h * np.uint32(0xC2B2AE35)
            h ^= h >> np.uint32(16)
            out = pd.Series(np.full(len(s), np.nan), index=s.index, dtype="Float64")
            out[mask] = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int32)
            return out.astype("Int32")

        return _bucket

    @pandas_udf("int")
    def _bucket_str(s: pd.Series) -> pd.Series:
        lut = {
            u: _apply_transform(transform, u, iceberg_type)
            for u in s.dropna().unique()
        }
        return s.map(lut).astype("Int32")

    return _bucket_str


# ------------------------------------------------------------ metadata IO


def _metadata_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _META_DIR, f"v{version}.metadata.json")


def _current_metadata(table_path: str) -> dict:
    meta_dir = os.path.join(table_path, _META_DIR)
    if not os.path.isdir(meta_dir):
        raise FileNotFoundError(f"not an Iceberg table (no metadata dir): {table_path}")
    hint = os.path.join(meta_dir, "version-hint.text")
    version: int | None = None
    if os.path.exists(hint):
        with open(hint, encoding="utf-8") as fh:
            version = int(fh.read().strip())
    else:
        versions = [
            int(m.group(1))
            for name in os.listdir(meta_dir)
            if (m := _VERSION_RE.match(name))
        ]
        if versions:
            version = max(versions)
    if version is None:
        raise FileNotFoundError(f"no metadata json found under {meta_dir}")
    with open(_metadata_path(table_path, version), encoding="utf-8") as fh:
        meta = json.loads(fh.read())
    if meta.get("format-version") not in (1, 2):
        raise NotImplementedError(
            f"Iceberg format-version {meta.get('format-version')!r} not supported"
        )
    # Loaded-from version, so metadata-only commits (schema evolution)
    # can number the next metadata file without colliding with
    # snapshot-id-derived numbering. Stripped before writing.
    meta["_loaded_version"] = version
    return meta


def _current_schema(meta: dict) -> list[dict]:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s["fields"]
        raise ValueError(f"current-schema-id {sid} not in schemas")
    return meta["schema"]["fields"]  # format-version 1 legacy key


def _partition_fields(meta: dict) -> list[dict]:
    if "partition-specs" in meta:
        sid = meta.get("default-spec-id", 0)
        for s in meta["partition-specs"]:
            if s.get("spec-id") == sid:
                return s["fields"]
        raise ValueError(f"default-spec-id {sid} not in partition-specs")
    return meta.get("partition-spec", [])  # v1 legacy key


def _local_path(p: str, table_path: str) -> str:
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


# ---------------------------------------------------------------- reader


def _live_entries(
    meta: dict, snapshot: dict, table_path: str
) -> tuple[list[dict], list[dict], list[dict]]:
    """(data entries, position-delete entries, equality-delete entries)
    live at a snapshot, replayed through manifest list -> manifests
    (DELETED entries dropped). Fail-loud on non-parquet and unknown
    content codes (misreading is worse than raising)."""
    _, manifests = read_avro_file(_local_path(snapshot["manifest-list"], table_path))
    data: list[dict] = []
    pos_deletes: list[dict] = []
    eq_deletes: list[dict] = []
    for mf in manifests:
        _, entries = read_avro_file(_local_path(mf["manifest_path"], table_path))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            dfile = e["data_file"]
            content = dfile.get("content", 0)
            if content not in (0, 1, 2):
                raise NotImplementedError(
                    f"Iceberg data_file content={content!r} not supported"
                )
            if str(dfile.get("file_format", "PARQUET")).upper() != "PARQUET":
                raise NotImplementedError(
                    f"data file format {dfile.get('file_format')!r} not supported"
                )
            (data, pos_deletes, eq_deletes)[content].append(e)
    return data, pos_deletes, eq_deletes


def _scan_plan(
    meta: dict,
    table_path: str,
    entries: tuple[list[dict], list[dict], list[dict]],
    partition_filter: dict | None = None,
) -> lakehouse.ScanPlan:
    """The ``ScanPlan`` of live manifest ``entries`` (data, position
    deletes, equality deletes) under the current schema. Columns resolve
    by FIELD ID (the Iceberg contract that makes renames metadata-only):
    the read schema carries each field's id as parquet.field.id.
    Identity-partition source columns are EXCLUDED from it — their
    values reconstruct from the manifest partition struct (requesting
    them from files that lack them would yield all-null columns);
    bucket/truncate are lossy, so their source columns live in the
    files. Data files group by identity values, and also by data
    sequence number when equality deletes apply (those mask only files
    with a strictly older number)."""
    fields = _current_schema(meta)
    pfields = _partition_fields(meta)
    for pf in pfields:
        if not _TRANSFORM_RE.match(pf.get("transform", "")):
            raise NotImplementedError(
                f"partition transform {pf.get('transform')!r} not supported "
                "(identity/bucket[N]/truncate[W] only)"
            )
    field_by_id = {f["id"]: f for f in fields}
    sources = [field_by_id[pf["source-id"]] for pf in pfields]
    # identity source column -> its partition field name
    identity = {
        src["name"]: pf["name"]
        for pf, src in zip(pfields, sources)
        if pf["transform"] == "identity"
    }

    def _field(f: dict) -> T.StructField:
        return T.StructField(f["name"], _spark_type(f["type"]), True, {"parquet.field.id": f["id"]})

    data_e, pos_del_e, eq_del_e = entries
    if partition_filter:
        # Filter keys are SOURCE column names (or partition field
        # names); each maps through its partition field's transform
        # (identity passes through, bucket hashes, truncate truncates),
        # so an equality predicate on the source column prunes
        # bucket/truncate layouts too — metadata-plane pruning: pruned
        # files are never handed to Spark.
        psources = [src["name"] for src in sources]
        pnames = [pf["name"] for pf in pfields]
        unknown = set(partition_filter) - set(psources) - set(pnames)
        if unknown:
            raise ValueError(f"partition_filter on non-partition columns: {unknown}")
        wanted = []
        for k, v in partition_filter.items():
            i = psources.index(k) if k in psources else pnames.index(k)
            wanted.append(
                (pnames[i], _apply_transform(pfields[i]["transform"], v, sources[i]["type"]))
            )
        data_e = [
            e
            for e in data_e
            if all((e["data_file"].get("partition") or {}).get(n) == tv for n, tv in wanted)
        ]
    by_ids: dict[tuple, list[tuple[str, int]]] = {}
    for e in eq_del_e:
        ids = tuple(e["data_file"].get("equality_ids") or ())
        if not ids:
            raise ValueError(
                "equality delete file without equality_ids: "
                f"{e['data_file'].get('file_path')}"
            )
        by_ids.setdefault(ids, []).append(
            (_local_path(e["data_file"]["file_path"], table_path), e.get("sequence_number") or 0)
        )
    files = [
        (
            tuple((e["data_file"].get("partition") or {}).get(n) for n in identity.values()),
            (e.get("sequence_number") or 0) if by_ids else 0,
            _local_path(e["data_file"]["file_path"], table_path),
        )
        for e in data_e
    ]
    return lakehouse.ScanPlan(
        schema=T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]), not f.get("required", False))
                for f in fields
            ]
        ),
        read_schema=T.StructType([_field(f) for f in fields if f["name"] not in identity]),
        groups=lakehouse.group_files(files),
        partition_columns=list(identity),
        position_files=sorted(
            _local_path(e["data_file"]["file_path"], table_path) for e in pos_del_e
        ),
        equality_deletes=[
            lakehouse.EqualityDelete(
                T.StructType([_field(field_by_id[i]) for i in ids]), sorted(dels)
            )
            for ids, dels in sorted(by_ids.items())
        ],
    )


def read_iceberg_table(
    spark: SparkSession,
    table_path: str,
    *,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Read an Iceberg table as a DataFrame at the current (or an
    explicit ``snapshot_id``) snapshot. ``partition_filter`` is an
    equality predicate dict on identity partition columns, applied at
    the METADATA plane: pruned file groups are never handed to Spark,
    so the scan job opens only matching files (the Iceberg contract —
    partition pruning without touching data)."""
    meta = _current_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    entries: tuple[list, list, list] = ([], [], [])
    if sid is not None and sid != -1:
        if sid not in snaps:
            raise ValueError(f"snapshot {sid} not found in {table_path}")
        entries = _live_entries(meta, snaps[sid], table_path)
    plan = _scan_plan(meta, table_path, entries, partition_filter)
    return lakehouse.to_dataframe(spark, plan)


# ---------------------------------------------------------------- writer


def _manifest_entry_schema(pfields: list[dict], fields: list[dict]) -> dict:
    field_by_id = {f["id"]: f for f in fields}
    part_fields = [
        {
            "name": pf["name"],
            "type": [
                "null",
                _ICEBERG_TO_AVRO[
                    _transform_result_type(
                        pf.get("transform", "identity"),
                        field_by_id[pf["source-id"]]["type"],
                    )
                ],
            ],
            "default": None,
            "field-id": pf["field-id"],
        }
        for pf in pfields
    ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {"type": "record", "name": "r102", "fields": part_fields},
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "default": None,
                            "field-id": 135,
                        },
                    ],
                },
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _typed_partition_value(raw: str | None, iceberg_type: str):
    if raw is None:
        return None
    if iceberg_type in ("long", "int", "date", "timestamp", "timestamptz"):
        return int(raw)
    if iceberg_type in ("double", "float"):
        return float(raw)
    if iceberg_type == "boolean":
        return raw.lower() == "true"
    return raw


def _parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _commit(
    table_path: str,
    meta: dict,
    live: tuple[list[dict], list[dict], list[dict]],
    operation: str,
    write,
    *,
    removed=frozenset(),
    purge_deletes: bool = False,
) -> int:
    """Append one snapshot — the one commit of every write: numbers it
    (``max(snapshot-id) + 1``, deterministic; also its sequence number
    base), has ``write(snapshot_id)`` write the new files and return
    their ADDED entries, carries the ``live`` (data, position-delete,
    equality-delete) entries of the current snapshot forward as EXISTING
    — data files whose manifest path is in ``removed``, and with
    ``purge_deletes`` every delete file, as DELETED — and writes the
    data manifest, a delete manifest (manifest-list ``content=1``) when
    there are delete entries, the manifest list, the metadata json and
    the version hint. Returns the new snapshot id."""
    data_e, pos_e, eq_e = live
    version = max((s["snapshot-id"] for s in meta.get("snapshots", [])), default=0) + 1
    seq = meta.get("last-sequence-number", 0) + 1
    added = write(version)
    manifest_groups = [
        (
            [_carry(e, 2 if e["data_file"]["file_path"] in removed else 0) for e in data_e]
            + [e for e in added if e["data_file"]["content"] == 0],
            0,
            f"manifest-{version}.avro",
        ),
        (
            [_carry(e, 2 if purge_deletes else 0) for e in pos_e + eq_e]
            + [e for e in added if e["data_file"]["content"] != 0],
            1,
            f"manifest-{version}-deletes.avro",
        ),
    ]
    meta_dir = os.path.join(table_path, _META_DIR)
    os.makedirs(meta_dir, exist_ok=True)
    entry_schema = _manifest_entry_schema(_partition_fields(meta), _current_schema(meta))
    mlist_rows: list[dict] = []
    for grp, content, fname in manifest_groups:
        if content and not grp:
            continue
        for e in grp:
            if e["status"] == 1:  # ADDED inherits this snapshot/sequence
                e["snapshot_id"] = version
                e["sequence_number"] = seq
                e["file_sequence_number"] = seq
        manifest_path = os.path.join(meta_dir, fname)
        write_avro_file(manifest_path, entry_schema, grp)
        counts = {
            status: [e["data_file"]["record_count"] for e in grp if e["status"] == status]
            for status in (0, 1, 2)
        }
        mlist_rows.append(
            {
                "manifest_path": "file://" + manifest_path,
                "manifest_length": os.path.getsize(manifest_path),
                "partition_spec_id": 0,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": min(
                    (
                        e["sequence_number"]
                        for e in grp
                        if e["status"] != 2 and e["sequence_number"]
                    ),
                    default=seq,
                ),
                "added_snapshot_id": version,
                "added_files_count": len(counts[1]),
                "existing_files_count": len(counts[0]),
                "deleted_files_count": len(counts[2]),
                "added_rows_count": sum(counts[1]),
                "existing_rows_count": sum(counts[0]),
                "deleted_rows_count": sum(counts[2]),
            }
        )
    mlist_path = os.path.join(meta_dir, f"snap-{version}-manifest-list.avro")
    write_avro_file(mlist_path, _MANIFEST_LIST_SCHEMA, mlist_rows)
    snapshot = {
        "snapshot-id": version,
        "sequence-number": seq,
        "timestamp-ms": version,  # deterministic fixture clock
        "manifest-list": "file://" + mlist_path,
        "summary": {"operation": operation},
        "schema-id": meta.get("current-schema-id", 0),
    }
    new_meta = dict(meta)
    new_meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    new_meta["current-snapshot-id"] = version
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = version
    _write_metadata(table_path, new_meta)
    return version


def _write_metadata(table_path: str, new_meta: dict) -> int:
    """Persist a new metadata json (next file version after the one the
    table was loaded from — schema-only commits advance it without a
    new snapshot) and point version-hint at it."""
    meta_version = new_meta.pop("_loaded_version", 0) + 1
    # Snapshot commits may outrun schema-only commits' numbering; never
    # overwrite an existing metadata file.
    while os.path.exists(_metadata_path(table_path, meta_version)):
        meta_version += 1
    with open(_metadata_path(table_path, meta_version), "w", encoding="utf-8") as fh:
        json.dump(new_meta, fh)
    hint = os.path.join(table_path, _META_DIR, "version-hint.text")
    with open(hint, "w", encoding="utf-8") as fh:
        fh.write(str(meta_version))
    return meta_version


def write_iceberg_table(
    df: DataFrame,
    table_path: str,
    *,
    partition_by: list | None = None,
) -> int:
    """Write ``df`` as snapshot 1 of a new Iceberg format-version-2
    table (parquet data files + Avro manifest/manifest-list + metadata
    JSON + version hint). ``partition_by`` entries are either a column
    name (identity transform) or a ``(column, transform)`` pair with
    transform ``bucket[N]`` / ``truncate[W]`` — for those, the derived
    partition value is computed per the spec (Murmur3 bucket / width
    truncate) and the SOURCE column stays in the data files (the
    transforms are lossy, so readers cannot reconstruct it). Returns
    the snapshot id. Bucket values are computed per row by an
    Arrow-batched pandas UDF (vectorized numpy Murmur3 for integral
    types — 8-byte LE input is exactly two uint32 blocks, no tail);
    truncate folds into a plain codegen expression."""
    specs: list[tuple[str, str]] = [
        (p, "identity") if isinstance(p, str) else (p[0], p[1])
        for p in (partition_by or [])
    ]
    for _c, tr in specs:
        if not _TRANSFORM_RE.match(tr):
            raise NotImplementedError(f"partition transform {tr!r} not supported")
    fields = [
        {
            "id": i + 1,
            "name": f.name,
            "required": False,
            "type": _iceberg_type(f.dataType),
        }
        for i, f in enumerate(df.schema.fields)
    ]
    fid = {f["name"]: f["id"] for f in fields}

    def _pname(col: str, tr: str) -> str:
        if tr == "identity":
            return col
        return f"{col}_bucket" if tr.startswith("bucket[") else f"{col}_trunc"

    pfields = [
        {
            "source-id": fid[c],
            "field-id": 1000 + i,
            "name": _pname(c, tr),
            "transform": tr,
        }
        for i, (c, tr) in enumerate(specs)
    ]
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": table_path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": len(fields),
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": pfields}],
        "default-spec-id": 0,
        "last-partition-id": 1000 + len(pfields) - 1 if pfields else 999,
        "properties": {},
        "snapshots": [],
        "current-snapshot-id": -1,
    }
    return _commit(
        table_path,
        meta,
        ([], [], []),
        "append",
        lambda _v: _write_spec_files(meta, df, os.path.join(table_path, "data")),
    )


def _added_entries(meta: dict, directory: str, *, content: int = 0, **extra) -> list[dict]:
    """ADDED manifest entries for every parquet file under ``directory``
    — data files, or delete files of ``content`` 1/2 — with partition
    values parsed from the hive directory layout and typed by the
    transform RESULT type (delete files are unpartitioned: all null)."""
    field_by_id = {f["id"]: f for f in _current_schema(meta)}
    ptype = {
        pf["name"]: _transform_result_type(pf["transform"], field_by_id[pf["source-id"]]["type"])
        for pf in _partition_fields(meta)
    }
    return [
        {
            "status": 1,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": "file://" + full,
                "file_format": "PARQUET",
                "partition": {
                    n: _typed_partition_value(values.get(n), t) for n, t in ptype.items()
                },
                "record_count": _parquet_row_count(full),
                "file_size_in_bytes": os.path.getsize(full),
                **extra,
            },
        }
        for full, values in lakehouse.written_files(directory)
    ]


def _current_entries(meta: dict, table_path: str) -> tuple[list[dict], list[dict], list[dict]]:
    """``_live_entries`` of the current snapshot."""
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    return _live_entries(meta, snaps[meta.get("current-snapshot-id")], table_path)


def _carry(e: dict, status: int) -> dict:
    return {
        "status": status,
        "snapshot_id": e.get("snapshot_id"),
        "sequence_number": e.get("sequence_number"),
        "file_sequence_number": e.get("file_sequence_number"),
        "data_file": e["data_file"],
    }


def delete_partition(table_path: str, column: str, value) -> int:
    """Append a metadata-only partition DELETE snapshot: surviving
    files are carried as EXISTING entries (their original sequence
    numbers preserved), dropped files recorded as DELETED entries; the
    data files themselves are untouched, so time travel to the prior
    snapshot still reads them. Existing position-delete files are
    carried through unchanged. Returns the new snapshot id."""
    meta = _current_metadata(table_path)
    pnames = [f["name"] for f in _partition_fields(meta)]
    if column not in pnames:
        raise ValueError(f"{column!r} is not a partition column of {table_path}")
    live = _current_entries(meta, table_path)
    removed = {
        e["data_file"]["file_path"]
        for e in live[0]
        if (e["data_file"].get("partition") or {}).get(column) == value
    }
    return _commit(table_path, meta, live, "delete", lambda _v: [], removed=removed)


def delete_rows(spark: SparkSession, table_path: str, predicate: str) -> int:
    """Row-level DELETE via an Iceberg POSITION delete file (table spec
    v2): scan the table (current schema, deletes applied) with
    ``_metadata`` to resolve the (file_path, pos) of every live row
    matching ``predicate`` (a Spark SQL boolean over the current column
    names), write them as
    a sorted parquet position-delete file, and commit a snapshot whose
    manifest list carries the data manifest (EXISTING), any prior
    delete manifests' files (EXISTING) and the new delete file (ADDED,
    manifest-list ``content=1``). Data files are untouched — time
    travel to the prior snapshot reads the undeleted rows. Returns the
    new snapshot id.

    The position resolution is one distributed scan + filter (the same
    job a real engine runs for copy-on-write planning); nothing is
    collected to the driver."""
    meta = _current_metadata(table_path)
    live = _current_entries(meta, table_path)
    matched = (
        lakehouse.to_dataframe(spark, _scan_plan(meta, table_path, live), positions=True)
        .filter(predicate)
        .select(
            F.col(lakehouse.FILE_PATH).alias("file_path"),
            F.col(lakehouse.POS).alias("pos"),
        )
    )

    def write(version: int) -> list[dict]:
        del_dir = os.path.join(table_path, "data", f"deletes-{version}")
        # Spec: position delete files are sorted by file_path then pos.
        # One partition sorted locally writes that one sorted file
        # without the sampling job a global sort's range exchange runs;
        # the masked scan upstream of the exchange keeps its own
        # parallelism.
        matched.repartition(1).sortWithinPartitions("file_path", "pos").write.mode(
            "overwrite"
        ).parquet(del_dir)
        return _added_entries(meta, del_dir, content=1)

    return _commit(table_path, meta, live, "delete", write)


def rename_column(table_path: str, old: str, new: str) -> int:
    """Metadata-only column rename — the operation that makes field-id
    resolution load-bearing: a NEW schema (same field ids, new name) is
    committed with a bumped schema-id, no snapshot and no data-file
    rewrite; existing parquet files keep the old physical name and the
    reader resolves them by id. Returns the new metadata file version."""
    meta = _current_metadata(table_path)
    fields = _current_schema(meta)
    if not any(f["name"] == old for f in fields):
        raise ValueError(f"column {old!r} not in current schema")
    if any(f["name"] == new for f in fields):
        raise ValueError(f"column {new!r} already exists")
    new_fields = [
        {**f, "name": new} if f["name"] == old else dict(f) for f in fields
    ]
    new_sid = max(s["schema-id"] for s in meta["schemas"]) + 1
    new_meta = dict(meta)
    new_meta["schemas"] = list(meta["schemas"]) + [
        {"schema-id": new_sid, "type": "struct", "fields": new_fields}
    ]
    new_meta["current-schema-id"] = new_sid
    return _write_metadata(table_path, new_meta)


def _write_spec_files(
    meta: dict, df: DataFrame, out_dir: str, *, compact: bool = False
) -> list[dict]:
    """Write ``df`` as new data files under the table's partition spec
    (identity / bucket / truncate computed per the spec, parquet field
    ids stamped from the current schema — the mechanism that makes
    FIELD-ID column resolution, and therefore schema evolution, work on
    read) into ``out_dir``; returns the ADDED manifest entries."""
    fields = _current_schema(meta)
    field_by_id = {f["id"]: f for f in fields}
    missing = [f["name"] for f in fields if f["name"] not in df.columns]
    if missing:
        raise ValueError(f"append is missing columns: {missing}")
    out = df.select(
        *[
            F.col(f["name"]).alias(f["name"], metadata={"parquet.field.id": f["id"]})
            for f in fields
        ]
    )
    # Derived partition columns: truncate as a codegen expression, bucket
    # as the vectorized Murmur3 UDF. Identity fields partition as the
    # source column, materialized under the PARTITION FIELD name when the
    # two differ (after a rename) so the hive layout stays uniform.
    part_cols = [pf["name"] for pf in _partition_fields(meta)]
    renames = {}
    for pf, name in zip(_partition_fields(meta), part_cols):
        src, tr = field_by_id[pf["source-id"]], pf["transform"]
        c = src["name"]
        if tr == "identity":
            if name != c:
                renames[c] = name
        elif tr.startswith("truncate["):
            w = int(_TRANSFORM_RE.match(tr).group(3))
            if src["type"] == "string":
                out = out.withColumn(name, F.substring(F.col(c), 1, w))
            else:
                out = out.withColumn(name, F.col(c) - (((F.col(c) % w) + w) % w))
        else:  # bucket[N]
            out = out.withColumn(name, _bucket_column(tr, src["type"])(F.col(c)))
    for c, name in renames.items():
        out = out.withColumn(name, F.col(c)).drop(c)
    if compact:
        # Bin-pack: co-locate each partition value in one task so every
        # group writes one file (unpartitioned tables collapse to one).
        out = out.repartition(*part_cols) if part_cols else out.coalesce(1)
    writer = out.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)
    return _added_entries(meta, out_dir)


def append_rows(df: DataFrame, table_path: str) -> int:
    """Append ``df`` as a new snapshot: new data files written under
    the table's partition spec (identity / bucket / truncate recomputed
    exactly as at create time), prior data and delete files carried as
    EXISTING entries. Column matching is by CURRENT schema name —
    after a ``rename_column``, append under the new name; the new
    files' parquet field ids keep reads consistent across the rename
    boundary. Returns the new snapshot id."""
    meta = _current_metadata(table_path)
    return _commit(
        table_path,
        meta,
        _current_entries(meta, table_path),
        "append",
        lambda v: _write_spec_files(meta, df, os.path.join(table_path, "data", f"append-{v}")),
    )


def _position_delete_targets(pos_e: list[dict], data_paths, table_path: str) -> set[str]:
    """The live data files (local paths, out of ``data_paths``) that the
    position-delete files ``pos_e`` can touch, read from each delete
    file's parquet footer: a file whose ``file_path`` column has min ==
    max in every row group names one data file (decoded like
    ``lakehouse.path_key``: Spark writes ``file:/a%20b``, manifests hold
    ``file:///a b``); an empty file touches none. Any other file counts
    as touching every data file — decoded values do not keep the
    encoded byte order, so a min/max range cannot be narrowed safely,
    and a named file that is not live means the footer is not trusted."""
    import pyarrow.parquet as pq

    data_paths = set(data_paths)
    touched: set[str] = set()
    for e in pos_e:
        meta = pq.ParquetFile(_local_path(e["data_file"]["file_path"], table_path)).metadata
        if meta.num_rows == 0:
            continue
        column = meta.schema.names.index("file_path")
        names = set()
        for i in range(meta.num_row_groups):
            stats = meta.row_group(i).column(column).statistics
            if stats is None or not stats.has_min_max:
                return data_paths
            names |= {stats.min, stats.max}
        named = lakehouse.local_path(names.pop()) if len(names) == 1 else None
        if named not in data_paths:
            return data_paths
        touched.add(named)
    return touched


def optimize_compact(spark: SparkSession, table_path: str) -> int:
    """OPTIMIZE / rewrite (size-tiered): in each partition group, rewrite
    ``lakehouse.rewrite_set`` of its data files — the small files and
    every file a delete applies to — under the table's partition spec
    (one file per group), and commit a REPLACE snapshot: rewrite-set
    files DELETED, files large against the rest of their group carried
    as EXISTING with their sequence numbers, rewritten files ADDED at
    the new sequence number, all delete files purged. Every file a
    delete applies to is in a rewrite set, so the purge loses no
    delete; read amplification accrued by streaming equality/position
    deletes drops to zero. Old snapshots stay time-travelable. Returns
    the new snapshot id, or the current one when there is nothing to
    rewrite and no delete file.

    A data file has deletes against it when a position-delete file's
    footer names it (``_position_delete_targets``) or an equality
    delete has a higher sequence number. Sizes come from the manifests
    (``file_size_in_bytes``). Scale shape: the rewrite is one
    distributed masked scan of the rewrite files only + one partitioned
    write; the commit is metadata — the same contract as
    ``sources.delta.optimize_compact``."""
    meta = _current_metadata(table_path)
    data_e, pos_e, eq_e = _current_entries(meta, table_path)
    pnames = [f["name"] for f in _partition_fields(meta)]
    by_path = {_local_path(e["data_file"]["file_path"], table_path): e for e in data_e}
    touched = _position_delete_targets(pos_e, by_path, table_path)
    eq_seq = max((e.get("sequence_number") or 0 for e in eq_e), default=-1)
    rewrite = set(
        lakehouse.rewrite_set(
            [
                (
                    path,
                    e["data_file"]["file_size_in_bytes"],
                    path in touched or (e.get("sequence_number") or 0) < eq_seq,
                    tuple((e["data_file"].get("partition") or {}).get(n) for n in pnames),
                )
                for path, e in by_path.items()
            ]
        )
    )
    if not rewrite and not (pos_e or eq_e):
        return meta["current-snapshot-id"]

    def write(version: int) -> list[dict]:
        if not rewrite:
            return []
        rows = lakehouse.to_dataframe(
            spark,
            _scan_plan(meta, table_path, ([by_path[p] for p in sorted(rewrite)], pos_e, eq_e)),
        )
        out_dir = os.path.join(table_path, "data", f"rewrite-{version}")
        return _write_spec_files(meta, rows, out_dir, compact=True)

    return _commit(
        table_path,
        meta,
        (data_e, pos_e, eq_e),
        "replace",
        write,
        removed={by_path[p]["data_file"]["file_path"] for p in rewrite},
        purge_deletes=True,
    )


def delete_rows_equality(spark: SparkSession, table_path: str, keys_df: DataFrame) -> int:
    """Row-level DELETE via an Iceberg EQUALITY delete file (table spec
    v2): ``keys_df``'s columns name the equality columns (a subset of
    the table schema); every current data row matching one of its rows
    (null-safe) is masked on read. The delete file records the columns'
    FIELD IDS (``equality_ids``) and commits at a sequence number
    strictly above all current data files, so rows APPENDED AFTERWARD
    with the same keys survive — the spec's ordering semantic, covered
    by tests. Returns the new snapshot id.

    Unlike ``delete_rows`` (position deletes) no data scan is needed at
    all — writing the keys IS the delete; the cost moves to read-time
    anti-joins, the classic equality-delete trade (cheap streaming
    upsert/delete ingest, compaction later)."""
    meta = _current_metadata(table_path)
    fields = _current_schema(meta)
    by_name = {f["name"]: f for f in fields}
    unknown = [c for c in keys_df.columns if c not in by_name]
    if unknown:
        raise ValueError(f"equality columns not in schema: {unknown}")
    ids = [by_name[c]["id"] for c in keys_df.columns]

    def write(version: int) -> list[dict]:
        del_dir = os.path.join(table_path, "data", f"eqdeletes-{version}")
        (
            keys_df.select(
                *[
                    F.col(c).alias(c, metadata={"parquet.field.id": by_name[c]["id"]})
                    for c in keys_df.columns
                ]
            )
            .sort(*keys_df.columns)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(del_dir)
        )
        return _added_entries(meta, del_dir, content=2, equality_ids=ids)

    return _commit(table_path, meta, _current_entries(meta, table_path), "delete", write)
