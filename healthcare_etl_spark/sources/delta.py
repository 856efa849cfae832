"""Minimal Delta Lake table reader (+ fixture writer) on vanilla Spark.

The Delta transaction protocol is public (delta.io PROTOCOL.md): a table
is a directory of parquet data files plus a ``_delta_log/`` of ordered
JSON commits, each a list of actions (``protocol``, ``metaData``,
``add``, ``remove``). The live file set at version V is the replay of
commits 0..V. Vanilla Spark cannot read such tables without the external
delta-spark package; this module implements the reader side of the
protocol directly, because a 100 TB lake's tables frequently live in
this layout.

Scale shape: the transaction log is METADATA — real Delta readers replay
it driver-side exactly as done here (the log is bounded by file count,
not row count). The replay becomes a ``sources.lakehouse.ScanPlan`` (live
files grouped by partition value, the physical read schema, deletion
vectors decoded into row masks) and every data read — the reader,
``delete_rows``' row-index discovery, ``optimize_compact``'s rewrite —
is ``lakehouse.to_dataframe`` over such a plan: one parquet scan per
partition group with an explicit schema, so column pruning, predicate
pushdown and partition pruning reach the scans unchanged.

One write path: every snapshot comes from ``_replay``, which applies
checkpoint rows and JSON commit lines through the one action handler
``_apply``; create, append and compact write data files through
``_write_files`` (logical->physical projection, ``partitionBy`` on the
physical partition names, ``add`` actions from
``lakehouse.written_files``), so OPTIMIZE is one Spark write for all
rewritten partition groups; both checkpoint writers take their add rows,
pyarrow schema and deletion-vector guard from ``_checkpoint_rows``.

Honest scope (unsupported features raise, never misread):
- JSON commits plus CLASSIC checkpoint parquet (``_last_checkpoint`` +
  ``<version>.checkpoint.parquet`` — the standard every-10-commits log
  compaction; replay starts from the newest checkpoint at or below the
  requested version and applies the JSON commits after it) plus V2
  checkpoints (``<version>.checkpoint.<uuid>.{parquet,json}`` top-level
  file with ``checkpointMetadata`` + ``sidecar`` actions; file actions
  read from the ``_delta_log/_sidecars/`` parquet files, PROTOCOL.md
  "V2 spec"). Multi-part classic checkpoints raise;
- DELETION VECTORS (PROTOCOL.md "Deletion Vectors"): adds carrying a
  ``deletionVector`` descriptor are read with the DV's row indexes
  masked out — inline ('i', Z85 payload), relative-path ('u', Z85 uuid
  file name) and path ('p') storage, CRC-verified file blobs, and the
  64-bit RoaringBitmapArray portable format parsed natively
  (``sources.roaring``, all three container types);
- COLUMN MAPPING in 'name' AND 'id' mode (PROTOCOL.md "Column
  Mapping"): name-mode scans use the fields'
  delta.columnMapping.physicalName; id-mode scans resolve columns by
  PARQUET FIELD ID (delta.columnMapping.id -> parquet.field.id read
  schema — names in the files are ignored, proven by a
  scrambled-names test); partitionValues are keyed by physical name,
  the result carries the logical schema;
- ``minReaderVersion`` must be 1, 2 (column mapping), or 3 with
  ``readerFeatures`` a subset of {v2Checkpoint, deletionVectors,
  columnMapping}; anything else (type widening, ...) raises.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_spark.sources import lakehouse

_LOG_DIR = "_delta_log"


def _commit_files(table_path: str, *, allow_empty: bool = False) -> list[tuple[int, str]]:
    log_dir = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {table_path}")
    out = []
    for name in os.listdir(log_dir):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append((int(stem), os.path.join(log_dir, name)))
    if not out and not allow_empty:
        raise FileNotFoundError(f"empty Delta log: {log_dir}")
    return sorted(out)


# Reader features this module implements: v2 checkpoints and deletion
# vectors (column mapping / type widening change how data files are
# interpreted and MUST raise, never misread).
_SUPPORTED_READER_FEATURES = frozenset(
    {"v2Checkpoint", "deletionVectors", "columnMapping"}
)


def _check_protocol(protocol: dict) -> None:
    """Raise unless this reader can honor the table's protocol action:
    minReaderVersion 1, or 3 with readerFeatures we implement (table
    features, PROTOCOL.md). mrv=2 is column mapping — unsupported."""
    mrv = protocol.get("minReaderVersion") or 1
    if mrv == 1:
        return
    if mrv == 2:
        # reader version 2 = column mapping; implemented ('name' mode —
        # 'id' mode raises at read time where the mode is known)
        return
    if mrv == 3:
        features = protocol.get("readerFeatures")
        if features is None:
            # the spec REQUIRES readerFeatures at mrv 3; absent means we
            # cannot know what reading needs — fail loud, never misread
            raise NotImplementedError(
                "Delta minReaderVersion=3 without a readerFeatures list"
            )
        unsupported = set(features) - _SUPPORTED_READER_FEATURES
        if not unsupported:
            return
        raise NotImplementedError(
            f"Delta readerFeatures {sorted(unsupported)} not implemented "
            "by this minimal reader"
        )
    raise NotImplementedError(
        f"Delta minReaderVersion={mrv} is newer than this minimal reader"
    )


def _classify_checkpoint_name(name: str) -> tuple[int, str] | None:
    """(version, kind) for a checkpoint file name, else None.
    kinds: 'classic' (<v>.checkpoint.parquet), 'v2' (<v>.checkpoint.
    <uuid>.{parquet,json}); multi-part classic (<v>.checkpoint.<i>.<n>.
    parquet) raises — silently replaying one part would drop files."""
    parts = name.split(".")
    if len(parts) < 3 or parts[1] != "checkpoint" or not parts[0].isdigit():
        return None
    v = int(parts[0])
    if len(parts) == 3 and parts[2] == "parquet":
        return (v, "classic")
    if len(parts) == 5 and parts[2].isdigit() and parts[3].isdigit() and parts[4] == "parquet":
        raise NotImplementedError(f"multi-part Delta checkpoint not supported: {name}")
    if len(parts) == 4 and parts[3] in ("parquet", "json"):
        return (v, "v2")
    raise NotImplementedError(f"unrecognized Delta checkpoint layout: {name}")


def _checkpoint_at_or_below(
    table_path: str, version: int | None
) -> tuple[int, str, str] | None:
    """Newest checkpoint usable for ``version`` (None = latest) as
    ``(version, path, kind)`` — classic parquet or v2 (top-level file +
    sidecars), discovered from ``_last_checkpoint`` when valid plus a
    log-dir scan. Classic preferred when both exist at one version."""
    log_dir = os.path.join(table_path, _LOG_DIR)
    # (version, kind_rank, path): kind_rank 0 = classic preferred
    found: dict[tuple[int, int], str] = {}
    last = os.path.join(log_dir, "_last_checkpoint")
    last_version: int | None = None
    if os.path.exists(last):
        with open(last, encoding="utf-8") as fh:
            meta = json.load(fh)
        if meta.get("parts"):
            raise NotImplementedError("multi-part Delta checkpoints not supported")
        last_version = int(meta["version"])
    for name in os.listdir(log_dir):
        classified = _classify_checkpoint_name(name)
        if classified is None:
            continue
        v, kind = classified
        found[(v, 0 if kind == "classic" else 1)] = os.path.join(log_dir, name)
    usable = [
        (v, rank) for (v, rank) in found if version is None or v <= version
    ]
    if not usable:
        if last_version is not None and (version is None or last_version <= version):
            raise FileNotFoundError(
                f"_last_checkpoint points at version {last_version} but no "
                f"checkpoint file exists in {log_dir}"
            )
        return None
    v, rank = min(usable, key=lambda t: (-t[0], t[1]))
    return (v, found[(v, rank)], "classic" if rank == 0 else "v2")


def _normalize_pv(pv) -> dict:
    """partitionValues as a plain dict: checkpoint parquet MAP columns
    come back from pyarrow as a list of (key, value) tuples, legacy
    struct-typed checkpoints and JSON commits as a dict, absent as None."""
    if pv is None:
        return {}
    if isinstance(pv, dict):
        return pv
    return dict(pv)


class _Snapshot(NamedTuple):
    """A replayed table version: the live ``add`` actions keyed by path,
    the metaData's schema string, partition columns and configuration,
    and the protocol."""

    live: dict[str, dict]
    schema_string: str | None
    partition_columns: list[str]
    protocol: dict
    version: int
    configuration: dict


def _apply(state: dict, action: dict) -> None:
    """Apply one log action to the replay ``state`` (a dict of the
    ``_Snapshot`` fields). JSON commit lines and checkpoint rows both
    land here; a checkpoint row's null columns are dropped first, so
    each row is the one action it carries. A checkpoint's remove rows
    are vacuum tombstones for files its add rows do not list, so
    applying them changes nothing. commitInfo / txn / cdc /
    checkpointMetadata / sidecar actions carry no file-set state."""
    if action.get("protocol"):
        state["protocol"] = {k: v for k, v in action["protocol"].items() if v is not None}
        _check_protocol(state["protocol"])
    if action.get("metaData"):
        md = action["metaData"]
        provider = (md.get("format") or {}).get("provider") or "parquet"
        if provider != "parquet":
            raise NotImplementedError(f"non-parquet Delta format: {md['format']}")
        state["schema_string"] = md["schemaString"]
        state["partition_columns"] = list(md.get("partitionColumns") or [])
        state["configuration"] = _normalize_pv(md.get("configuration"))
    if action.get("add"):
        add = dict(action["add"])
        add["partitionValues"] = _normalize_pv(add.get("partitionValues"))
        state["live"][add["path"]] = add
    if action.get("remove"):
        state["live"].pop(action["remove"]["path"], None)


def _replay(table_path: str, version: int | None = None) -> _Snapshot:
    """Checkpoint-aware log replay shared by every entry point (reader,
    writers, checkpoint writers): the newest usable checkpoint first (if
    any), then the JSON commits after it, every action through
    ``_apply``.

    Metadata-scale by construction: the checkpoint is read driver-side
    with pyarrow (bounded by file count, not row count), exactly the
    replay real Delta readers perform."""
    commits = _commit_files(table_path, allow_empty=True)
    ckpt = _checkpoint_at_or_below(table_path, version)
    if version is not None:
        commits = [(v, p) for v, p in commits if v <= version]
        reachable = commits and commits[-1][0] == version
        if not reachable and not (ckpt is not None and ckpt[0] == version):
            have = sorted(
                {v for v, _ in _commit_files(table_path, allow_empty=True)}
                | ({ckpt[0]} if ckpt else set())
            )
            raise ValueError(f"version {version} not in Delta log (have {have})")
    if not commits and ckpt is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}/{_LOG_DIR}")
    state = {
        "live": {},
        "schema_string": None,
        "partition_columns": [],
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "version": -1,
        "configuration": {},
    }
    if ckpt is not None:
        # A checkpoint is the full action state: one row per action with
        # nullable protocol/metaData/add/remove columns (partitionValues
        # is MAP<string,string> per the spec; legacy struct-typed
        # fixtures are normalized too). V2 top-level files additionally
        # carry checkpointMetadata + sidecar actions, with the file
        # actions living in _delta_log/_sidecars/ parquet files.
        state["version"], ckpt_path, ckpt_kind = ckpt
        if ckpt_kind == "classic":
            import pyarrow.parquet as papq

            rows = papq.read_table(ckpt_path).to_pylist()
        else:
            rows = _v2_checkpoint_rows(table_path, ckpt_path)
        for row in rows:
            _apply(state, {k: v for k, v in row.items() if v is not None})
        commits = [(v, p) for v, p in commits if v > state["version"]]
    for v, commit_path in commits:
        state["version"] = v
        with open(commit_path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    _apply(state, json.loads(line))
    return _Snapshot(**state)


def _v2_checkpoint_rows(table_path: str, ckpt_path: str):
    """Yield action dicts from a V2 checkpoint: the top-level file
    (parquet or json) first — its checkpointMetadata is validated, its
    sidecar actions resolved to ``_delta_log/_sidecars/`` parquet files
    whose rows are yielded too (PROTOCOL.md V2 spec: file actions may
    live inline in the top-level file, in sidecars, or both)."""
    import pyarrow.parquet as papq

    log_dir = os.path.join(table_path, _LOG_DIR)
    expected_version = int(os.path.basename(ckpt_path).split(".", 1)[0])
    if ckpt_path.endswith(".json"):
        with open(ckpt_path, encoding="utf-8") as fh:
            top = [json.loads(line) for line in fh if line.strip()]
    else:
        top = papq.read_table(ckpt_path).to_pylist()
    sidecars: list[str] = []
    for d in top:
        cm = d.get("checkpointMetadata")
        if cm and int(cm.get("version", expected_version)) != expected_version:
            raise ValueError(
                f"v2 checkpoint metadata version {cm['version']} != file "
                f"name version {expected_version}: {ckpt_path}"
            )
        sc = d.get("sidecar")
        if sc:
            rel = sc["path"]
            # spec: sidecars always live in _delta_log/_sidecars; writers
            # are encouraged to store just the file name
            full = (
                os.path.join(log_dir, rel)
                if "/" in rel
                else os.path.join(log_dir, "_sidecars", rel)
            )
            sidecars.append(full)
        yield d
    for sidecar_path in sidecars:
        if not os.path.exists(sidecar_path):
            raise FileNotFoundError(f"v2 checkpoint sidecar missing: {sidecar_path}")
        yield from papq.read_table(sidecar_path).to_pylist()


def _physical(f: T.StructField, mode: str) -> T.StructField:
    """The data-file field of logical field ``f`` under COLUMN MAPPING
    ``mode`` (PROTOCOL.md): 'name' and 'id' mode files carry the
    delta.columnMapping.physicalName; 'id' mode files also carry the
    delta.columnMapping.id as their parquet field id, and columns
    resolve by that id, never by name."""
    md = f.metadata or {}
    name = md.get("delta.columnMapping.physicalName", f.name)
    ids = {"parquet.field.id": md["delta.columnMapping.id"]} if mode == "id" else {}
    return T.StructField(name, f.dataType, f.nullable, ids)


def _mapping_mode(configuration: dict) -> str:
    mode = configuration.get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        raise NotImplementedError(f"Delta columnMapping.mode={mode!r} not implemented")
    return mode


def _abs(table_path: str, rel: str) -> str:
    return os.path.abspath(os.path.join(table_path, rel))


def _scan_plan(table_path: str, snap: _Snapshot) -> lakehouse.ScanPlan:
    """The ``ScanPlan`` of ``snap``'s live files: grouped by their
    partitionValues (keyed by physical name, cast to the declared types
    on read), the physical read schema, and every deletion vector decoded
    into (file, row index) masks. The output carries the logical schema."""
    if snap.schema_string is None:
        raise ValueError(f"Delta log has no metaData action: {table_path}")
    schema = T.StructType.fromJson(json.loads(snap.schema_string))
    mode = _mapping_mode(snap.configuration)
    phys = {f.name: _physical(f, mode) for f in schema.fields}
    adds = [snap.live[p] for p in sorted(snap.live)]
    files = [
        (
            tuple(add["partitionValues"].get(phys[c].name) for c in snap.partition_columns),
            0,
            _abs(table_path, add["path"]),
        )
        for add in adds
    ]
    return lakehouse.ScanPlan(
        schema=T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields]),
        read_schema=T.StructType(
            [p for name, p in phys.items() if name not in snap.partition_columns]
        ),
        groups=lakehouse.group_files(files),
        partition_columns=list(snap.partition_columns),
        physical={name: p.name for name, p in phys.items()},
        positions=[
            (_abs(table_path, add["path"]), pos)
            for add in adds
            if add.get("deletionVector")
            for pos in _load_dv(table_path, add["deletionVector"])
        ],
    )


def read_delta_table(
    spark: SparkSession, table_path: str, *, version: int | None = None
) -> DataFrame:
    """Read a Delta table at ``version`` (default: latest) by replaying
    the log (checkpoint parquet + later JSON commits). Returns a
    DataFrame with the table's declared schema (partition columns
    reconstructed from ``partitionValues`` and cast to their declared
    types, Delta semantics)."""
    return lakehouse.to_dataframe(spark, _scan_plan(table_path, _replay(table_path, version)))


def _load_dv(table_path: str, dv: dict) -> list[int]:
    """Resolve a deletionVector descriptor to its deleted row indexes.

    storageType 'i': pathOrInlineDv IS the Z85-encoded serialized
    RoaringBitmapArray (sizeInBytes trims the 4-byte-block padding).
    storageType 'p'/'u': an on-disk DV file — format version byte 1,
    then at ``offset``: 4-byte big-endian data size, the bitmap bytes,
    and a 4-byte big-endian CRC-32 of the data, which is verified.
    'u' descriptors encode the file name as <optional prefix><20-char
    Z85 uuid> -> <prefix>/deletion_vector_<uuid>.bin under the table."""
    import struct
    import uuid as _uuid
    import zlib

    from healthcare_etl_spark.sources.roaring import parse_rbm_array, z85_decode

    storage = dv.get("storageType")
    size = int(dv.get("sizeInBytes"))
    if storage == "i":
        return parse_rbm_array(z85_decode(dv["pathOrInlineDv"], size))
    if storage == "p":
        dv_path = os.path.join(table_path, dv["pathOrInlineDv"])
    elif storage == "u":
        raw = dv["pathOrInlineDv"]
        prefix, enc = raw[:-20], raw[-20:]
        u = _uuid.UUID(bytes=z85_decode(enc, 16))
        parts = [table_path] + ([prefix] if prefix else []) + [f"deletion_vector_{u}.bin"]
        dv_path = os.path.join(*parts)
    else:
        raise NotImplementedError(f"deletion vector storageType {storage!r}")
    with open(dv_path, "rb") as fh:
        blob = fh.read()
    if not blob or blob[0] != 1:
        raise ValueError(f"unsupported DV file format version in {dv_path}")
    offset = int(dv["offset"])
    (data_size,) = struct.unpack_from(">i", blob, offset)
    if data_size != size:
        raise ValueError(f"DV size mismatch in {dv_path}: {data_size} != {size}")
    data = blob[offset + 4 : offset + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch in {dv_path}")
    return parse_rbm_array(data)


def write_delta_table(
    df: DataFrame,
    table_path: str,
    *,
    partition_by: list[str] | None = None,
    column_mapping: bool | str = False,
) -> None:
    """Write ``df`` as version 0 of a new Delta table (data files +
    hand-built JSON commit). Fixture-grade writer: enough protocol for
    ``read_delta_table`` and any real Delta reader to consume — used by
    the registered scan query and the round-trip tests; a production
    sink would add optimistic-concurrency commit semantics.

    ``column_mapping``: ``'name'`` (or ``True``) writes a NAME-mode
    column-mapping table (PROTOCOL.md): parquet files carry
    deterministic physical column names, the schemaString fields carry
    delta.columnMapping.id / physicalName metadata, configuration sets
    the mode, and the protocol is the legacy column-mapping pair
    (2, 5). ``'id'`` writes ID mode: same physical layout plus
    parquet FIELD IDS stamped into the data files (the reader then
    resolves columns by delta.columnMapping.id, ignoring names — the
    same parquet.field.id mechanism as the Iceberg reader)."""
    import uuid as _uuid

    partition_by = partition_by or []
    protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    configuration: dict = {}
    fields = df.schema.fields
    mode = {True: "name", False: None}.get(column_mapping, column_mapping)
    if mode not in (None, "name", "id"):
        raise ValueError(f"column_mapping must be False/'name'/'id', got {mode!r}")
    if mode:
        fields = [
            T.StructField(
                f.name,
                f.dataType,
                f.nullable,
                {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": "col-"
                    + str(_uuid.uuid5(_uuid.NAMESPACE_URL, f"hes-delta-col-{f.name}"))[:8],
                },
            )
            for i, f in enumerate(fields)
        ]
        configuration = {
            "delta.columnMapping.mode": mode,
            "delta.columnMapping.maxColumnId": str(len(fields)),
        }
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
    actions = [
        {"protocol": protocol},
        {
            "metaData": {
                "id": "00000000-0000-0000-0000-000000000000",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": T.StructType(fields).json(),
                "partitionColumns": partition_by,
                "configuration": configuration,
                "createdTime": 0,
            }
        },
        *_write_files(df, table_path, table_path, fields, partition_by, mode or "none"),
    ]
    _write_commit(table_path, 0, actions)


def _write_files(
    df: DataFrame,
    table_path: str,
    out_dir: str,
    fields: list[T.StructField],
    partition_columns: list[str],
    mode: str,
    *,
    compact: bool = False,
) -> list[dict]:
    """Write the logical ``fields`` of ``df`` as new data files under
    ``out_dir`` and return their ``add`` actions — the one data-file
    writer of create, append and compact. Columns are projected to their
    data-file layout under column-mapping ``mode`` (physical names, and
    in 'id' mode parquet field ids), the write is partitioned by the
    physical partition names, and each file's partitionValues are read
    back from its hive directories. ``compact`` puts each partition
    value in one task, so every partition group is one new file
    (unpartitioned: one file), and marks the adds ``dataChange=false``."""
    phys = {f.name: _physical(f, mode) for f in fields}
    out = df.select(
        *[F.col(f.name).alias(phys[f.name].name, metadata=phys[f.name].metadata) for f in fields]
    )
    parts = [phys[c].name for c in partition_columns]
    if compact:
        out = out.repartition(*parts) if parts else out.coalesce(1)
    writer = out.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(out_dir)
    return [
        {
            "add": {
                "path": os.path.relpath(full, table_path).replace(os.sep, "/"),
                "partitionValues": values,
                "size": os.path.getsize(full),
                "modificationTime": 0,
                "dataChange": not compact,
            }
        }
        for full, values in lakehouse.written_files(out_dir)
    ]


def delete_partition(table_path: str, column: str, value: str) -> int:
    """Append a commit that removes every live file of one partition
    (Delta metadata-only DELETE, e.g. dropping a bad ingest day): the
    data files are untouched; the new version's replay just no longer
    lists them. Returns the new version number.

    Replays via the shared checkpoint-aware ``_replay`` — a table whose
    older JSON commits were vacuumed after a checkpoint still resolves
    the full live set (a JSON-only replay here would silently delete
    nothing for files whose add actions live only in the checkpoint).
    ``column`` is the LOGICAL name; on column-mapping tables the
    partitionValues keys are physical, so the name is resolved through
    the schema metadata first (matching on the logical key would
    silently remove nothing — the same fail-silent class the r8 advice
    flagged for the checkpoint replay)."""
    snap = _replay(table_path)
    pv_key = column
    if snap.schema_string is not None:
        for f in T.StructType.fromJson(json.loads(snap.schema_string)).fields:
            if f.name == column:
                pv_key = _physical(f, "none").name
    removes = [
        {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
        for p, add in sorted(snap.live.items())
        if add.get("partitionValues", {}).get(pv_key) == value
    ]
    _write_commit(table_path, snap.version + 1, removes)
    return snap.version + 1


def _checkpoint_rows(table_path: str):
    """What both checkpoint writers write: the replayed snapshot, its
    metaData row, one ``add`` row per live file (``dataChange=false``)
    and the pyarrow fields of the protocol, metaData and add columns.
    The metaData keeps the table configuration (the column-mapping
    mode). The spec types add.partitionValues and metaData.configuration
    as MAP<string,string>: explicit, because struct inference breaks on
    empty maps (an empty struct is unwritable). Fixture-grade: the
    action fields this reader (and the live-set semantics) need; a
    production writer also carries txn/commitInfo and stats."""
    import pyarrow as pa

    # Checkpoint-aware replay: re-checkpointing a table that already has
    # a checkpoint (with vacuumed older JSON commits) must carry the
    # checkpointed live set forward, not just the surviving JSON tail.
    snap = _replay(table_path)
    if snap.schema_string is None:
        raise ValueError(f"Delta log has no metaData action: {table_path}")
    if any(a.get("deletionVector") for a in snap.live.values()):
        # the checkpoint schema has no DV struct; compacting a DV table
        # here would silently RESURRECT deleted rows
        raise NotImplementedError(
            "checkpointing a table with live deletion vectors is not "
            "supported by the fixture checkpoint writers"
        )
    meta = {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "schemaString": snap.schema_string,
            "partitionColumns": snap.partition_columns,
            "configuration": sorted(snap.configuration.items()),
        }
    }
    adds = [
        {
            "add": {
                "path": add["path"],
                # pyarrow map columns take list-of-pairs input
                "partitionValues": sorted(add.get("partitionValues", {}).items()),
                "size": add.get("size", 0),
                "modificationTime": add.get("modificationTime", 0),
                "dataChange": False,
            }
        }
        for _path, add in sorted(snap.live.items())
    ]
    strings = pa.list_(pa.string())
    fields = {
        "protocol": [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", strings),
            ("writerFeatures", strings),
        ],
        "metaData": [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", strings),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ],
        "add": [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ],
    }
    return snap, meta, adds, {k: pa.field(k, pa.struct(v)) for k, v in fields.items()}


def _protocol(protocol: dict, feature: str | None = None) -> dict:
    """The table's replayed ``protocol`` as a protocol action, keeping its
    reader and writer feature lists (a table-features protocol without
    them is unreadable). With ``feature``, the protocol moves to table
    features (3, 7) and lists ``feature`` next to every feature the
    table already needs; a legacy column-mapping protocol (2, 5) lists
    its column mapping as ``columnMapping`` there."""
    mrv = int(protocol.get("minReaderVersion", 1))
    reader, writer = protocol.get("readerFeatures"), protocol.get("writerFeatures")
    if feature is None:
        return {
            "minReaderVersion": mrv,
            "minWriterVersion": int(protocol.get("minWriterVersion", 2)),
            "readerFeatures": reader,
            "writerFeatures": writer,
        }
    added = {feature, "columnMapping"} if mrv == 2 else {feature}
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(set(reader or []) | added),
        "writerFeatures": sorted(set(writer or []) | added),
    }


def _write_parquet(path: str, rows: list[dict], fields) -> None:
    import pyarrow as pa
    import pyarrow.parquet as papq

    papq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(fields)), path)


def _write_last_checkpoint(table_path: str, version: int, size: int) -> int:
    with open(
        os.path.join(table_path, _LOG_DIR, "_last_checkpoint"), "w", encoding="utf-8"
    ) as fh:
        json.dump({"version": version, "size": size}, fh)
    return version


def write_checkpoint(spark: SparkSession, table_path: str) -> int:
    """Compact the JSON log into a CLASSIC checkpoint parquet at the
    latest version (+ ``_last_checkpoint`` pointer) — the standard
    every-10-commits Delta maintenance op that bounds log-replay cost.
    After this, readers replay [checkpoint] + [later JSON commits] and
    the older JSON commits are dead weight (vacuumable). The protocol
    row keeps the table's reader and writer features (a table-features
    protocol without its feature lists is unreadable). Returns the
    checkpointed version."""
    snap, meta, adds, fields = _checkpoint_rows(table_path)
    rows = [{"protocol": _protocol(snap.protocol)}, meta, *adds]
    _write_parquet(
        os.path.join(table_path, _LOG_DIR, f"{snap.version:020d}.checkpoint.parquet"),
        rows,
        [fields["protocol"], fields["metaData"], fields["add"]],
    )
    return _write_last_checkpoint(table_path, snap.version, len(rows))


def write_checkpoint_v2(
    spark: SparkSession, table_path: str, *, n_sidecars: int = 2
) -> int:
    """Compact the log into a V2 checkpoint (PROTOCOL.md V2 spec): a
    top-level ``<version>.checkpoint.<uuid>.parquet`` carrying
    checkpointMetadata + protocol + metaData + sidecar actions, with the
    file actions split across ``_delta_log/_sidecars/`` parquet files —
    the layout modern writers emit for very large tables (sidecars are
    readable in parallel and reusable across checkpoints). Upgrades the
    protocol row to table features, listing v2Checkpoint next to the
    table's own features, as the spec requires for a v2-checkpointed
    table.
    Fixture-grade, same caveats as ``write_checkpoint``. Returns the
    checkpointed version."""
    import uuid

    import pyarrow as pa

    snap, meta, adds, fields = _checkpoint_rows(table_path)
    sidecar_dir = os.path.join(table_path, _LOG_DIR, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    n_sidecars = max(1, min(n_sidecars, len(adds)) if adds else 1)
    chunk = -(-len(adds) // n_sidecars) if adds else 1
    sidecar_actions = []
    # deterministic uuids so fixture writes are reproducible
    ns = uuid.uuid5(uuid.NAMESPACE_URL, f"{os.path.abspath(table_path)}@{snap.version}")
    for i in range(n_sidecars):
        name = f"{uuid.uuid5(ns, f'sidecar-{i}')}.parquet"
        full = os.path.join(sidecar_dir, name)
        _write_parquet(full, adds[i * chunk : (i + 1) * chunk], [fields["add"]])
        sidecar_actions.append(
            {"sidecar": {"path": name, "sizeInBytes": os.path.getsize(full), "modificationTime": 0}}
        )
    top_fields = [
        pa.field("checkpointMetadata", pa.struct([("version", pa.int64())])),
        pa.field(
            "sidecar",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                ]
            ),
        ),
        fields["protocol"],
        fields["metaData"],
    ]
    top_rows = [
        {"checkpointMetadata": {"version": snap.version}},
        {"protocol": _protocol(snap.protocol, "v2Checkpoint")},
        meta,
        *sidecar_actions,
    ]
    top_name = f"{snap.version:020d}.checkpoint.{uuid.uuid5(ns, 'top')}.parquet"
    _write_parquet(os.path.join(table_path, _LOG_DIR, top_name), top_rows, top_fields)
    return _write_last_checkpoint(table_path, snap.version, len(top_rows) + len(adds))


def _write_commit(table_path: str, version: int, actions: list[dict]) -> None:
    log_dir = os.path.join(table_path, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    commit = os.path.join(log_dir, f"{version:020d}.json")
    with open(commit, "w", encoding="utf-8") as fh:
        for action in actions:
            fh.write(json.dumps(action, separators=(",", ":")) + "\n")


def delete_rows(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    *,
    storage: str = "i",
) -> int:
    """Row-level DELETE via deletion vectors (fixture-grade writer for
    the reader above + any DV-capable reader): for every live file with
    rows matching ``predicate`` (a Spark SQL boolean over the table's
    logical columns), append a commit that re-adds the file with a deletion
    vector marking those physical row indexes and removes the old add —
    data files untouched, the Delta DV contract. Upgrades the protocol
    to table features (minReaderVersion 3 / minWriterVersion 7 with
    deletionVectors listed). ``storage``: 'i' (inline Z85) or 'u'
    (CRC'd .bin file under the table root). Returns the new version.

    The row-index discovery reads each affected file once with
    ``_metadata.row_index`` — bounded by file size, the same per-file
    pass a real DV writer's touched-file rewrite performs."""
    import struct
    import uuid as _uuid
    import zlib

    from healthcare_etl_spark.sources.roaring import serialize_rbm_array, z85_encode

    snap = _replay(table_path)
    live = snap.live
    if any(add.get("deletionVector") for add in live.values()):
        raise NotImplementedError("fixture delete_rows does not merge with an existing DV")
    # Row-index discovery is ONE distributed scan over ALL live files
    # (the file path attributes each matching row to its file) instead
    # of one driver-sequenced job per file; a real DV writer's
    # touched-file pass is likewise one distributed job. The predicate
    # is written over the logical schema.
    rel_by_path = {_abs(table_path, p): p for p in live}
    matched = lakehouse.to_dataframe(spark, _scan_plan(table_path, snap), positions=True)
    matched = matched.filter(predicate)
    hits_by_file: dict[str, list[int]] = {}
    for path, pos in matched.select(
        lakehouse.path_key(F.col(lakehouse.FILE_PATH)), lakehouse.POS
    ).collect():
        rel = rel_by_path.get(path)
        if rel is None:  # pragma: no cover - metadata path outside the log
            raise ValueError(f"matched row in unknown file: {path}")
        hits_by_file.setdefault(rel, []).append(pos)
    actions: list[dict] = []
    for path in sorted(live):
        add = live[path]
        full = os.path.join(table_path, path)
        hit = hits_by_file.get(path, [])
        if not hit:
            continue
        data = serialize_rbm_array(hit)
        if storage == "i":
            descriptor = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(data),
                "sizeInBytes": len(data),
                "cardinality": len(hit),
            }
        elif storage == "u":
            u = _uuid.uuid5(_uuid.NAMESPACE_URL, f"{os.path.abspath(full)}@dv")
            blob = (
                b"\x01"
                + struct.pack(">i", len(data))
                + data
                + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
            )
            with open(
                os.path.join(table_path, f"deletion_vector_{u}.bin"), "wb"
            ) as fh:
                fh.write(blob)
            descriptor = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": 1,
                "sizeInBytes": len(data),
                "cardinality": len(hit),
            }
        else:
            raise ValueError(f"storage must be 'i' or 'u', got {storage!r}")
        actions.append(
            {"remove": {"path": path, "deletionTimestamp": 0, "dataChange": True}}
        )
        new_add = {k: v for k, v in add.items() if k != "deletionVector"}
        new_add["deletionVector"] = descriptor
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    actions.insert(0, {"protocol": _protocol(snap.protocol, "deletionVectors")})
    _write_commit(table_path, snap.version + 1, actions)
    return snap.version + 1


def optimize_compact(spark: SparkSession, table_path: str) -> int:
    """OPTIMIZE (size-tiered compaction): in each live partition group,
    rewrite ``lakehouse.rewrite_set`` of its files — the small files and
    every file carrying a deletion vector — into one file, and commit
    the swap with ``dataChange=false`` adds/removes (the Delta contract
    for compaction: readers see identical rows, streaming readers skip
    the rewrite). Files large against the rest of their group stay in
    place and get no action. Deletion vectors are APPLIED during the
    rewrite (masked rows physically dropped), so compacted files carry
    no DV — exactly what engine OPTIMIZE does. Old files stay on disk
    for time travel. Returns the new version, or the current one if
    nothing needed compaction.

    Sizes and DVs come from the replayed add actions (no file stat).
    Scale shape: one distributed masked scan of the rewrite files of
    every group and one partitioned write (each group's rows in one
    task, so one file per group); the commit is metadata. A production
    OPTIMIZE also caps the output file size; the tiering keeps each
    rewrite at most half the smallest kept file."""
    snap = _replay(table_path)
    rewrite = sorted(
        lakehouse.rewrite_set(
            [
                (
                    path,
                    add["size"],
                    bool(add.get("deletionVector")),
                    tuple(sorted(add["partitionValues"].items())),
                )
                for path, add in snap.live.items()
            ]
        )
    )
    if not rewrite:
        return snap.version
    # The rewrite set's rows with their deletion vectors applied,
    # written back in the data-file layout.
    rows = lakehouse.to_dataframe(
        spark, _scan_plan(table_path, snap._replace(live={p: snap.live[p] for p in rewrite}))
    )
    adds = _write_files(
        rows,
        table_path,
        os.path.join(table_path, f"compact-{snap.version + 1}"),
        T.StructType.fromJson(json.loads(snap.schema_string)).fields,
        snap.partition_columns,
        _mapping_mode(snap.configuration),
        compact=True,
    )
    removes = [
        {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": False}} for p in rewrite
    ]
    _write_commit(table_path, snap.version + 1, adds + removes)
    return snap.version + 1


def append_delta_table(df: DataFrame, table_path: str) -> int:
    """Append ``df`` to an existing Delta table as a new commit (add
    actions only, dataChange=true): new data files land in an
    ``append-<version>`` subdirectory under the table root, the
    existing schema/partitioning is honored (column-mapping tables get
    the logical->physical projection, id mode re-stamps parquet field
    ids), and replay sees old + new files. Returns the new version —
    the primitive under streaming lakehouse ingestion
    (``streaming.incremental.run_delta_ingest``)."""
    snap = _replay(table_path)
    if snap.schema_string is None:
        raise ValueError(f"Delta log has no metaData action: {table_path}")
    fields = T.StructType.fromJson(json.loads(snap.schema_string)).fields
    missing = [f.name for f in fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"append is missing columns: {missing}")
    adds = _write_files(
        df,
        table_path,
        os.path.join(table_path, f"append-{snap.version + 1}"),
        fields,
        snap.partition_columns,
        _mapping_mode(snap.configuration),
    )
    _write_commit(table_path, snap.version + 1, adds)
    return snap.version + 1
