"""Apache Iceberg table reader/writer on the REAL metadata formats —
no runtime jar (the follow-through on VERDICT r4 item 6's "real-format
lakehouse interop": :mod:`.deltalog` covers Delta; this covers Iceberg,
whose manifests are Avro — readable here via the pure-Python
:mod:`.avro` codec).

Format (public spec, iceberg.apache.org/spec, v1 subset):

    table/
      metadata/v<N>.metadata.json      table metadata: schemas,
                                       partition specs, snapshots
      metadata/version-hint.text       current metadata version
      metadata/snap-<id>.avro          manifest LIST: one row per
                                       manifest file
      metadata/manifest-<...>.avro     manifest: one row per data file
                                       (status, partition tuple, stats)
      data/...parquet                  immutable data files

A read resolves: version-hint -> metadata.json -> snapshot (current,
by id, or newest with timestamp-ms <= asof) -> its manifest list ->
manifests -> live data-file entries (status != DELETED) -> parquet
scan. All metadata is driver-side and metadata-sized; partition and
min/max pruning drop files BEFORE Spark lists anything (same win as
:mod:`.deltalog`). Unlike Delta, Iceberg data
files physically CONTAIN identity-partition columns, so no literal
re-attachment is needed.

The writer emits spec-shaped v1 metadata (append / partition-delete
snapshots, Avro manifests with per-file value bounds) so the reader —
and tests — exercise genuine Avro manifest bytes, not a JSON stand-in.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..operators.checkpoint import _materialized
from .avro import read_avro_records, write_avro_file
from .deltalog import _write_single_parquet
from .iceberg_transforms import (
    parse_transform,
    partition_field_name,
    result_ice_type,
    transform_expr,
    transform_value,
)

# ---------------------------------------------------------------------------
# spec schemas (v1 subset; field ids per the spec tables)
# ---------------------------------------------------------------------------

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
        # v2: 0 = data manifest, 1 = delete manifest (field-id 517);
        # nullable so v1 lists (and files written before this field
        # existed — the Avro reader uses the embedded writer schema)
        # fold to data
        {"name": "content", "type": ["null", "int"], "field-id": 517},
        # v2 data sequence number (field-id 515): the commit order that
        # scopes row-level deletes — an equality delete applies only to
        # data files with a STRICTLY SMALLER sequence number (position
        # deletes are implicitly scoped: they name exact file paths).
        # Nullable: v1 lists fold to 0.
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 515},
    ],
}

# v2 row-delete manifest: entries point at PARQUET delete files.
# content=1 (position deletes): rows are (file_path, pos) pairs — spec
# field-ids 2147483546/2147483545 inside the delete file itself.
# content=2 (equality deletes): rows carry the equality columns named
# by ``equality_ids`` (spec field-id 135, the table-schema field ids a
# matching row is deleted on). The manifest entry mirrors the
# data-file shape either way.
_DELETE_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    # null for position deletes (old files fold to null
                    # via the embedded writer schema)
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "field-id": 135},
                ],
            },
            "field-id": 2,
        },
    ],
}


def _manifest_schema(partition_fields: list[dict]) -> dict:
    part_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": f["name"], "type": ["null", f["avro_type"]], "field-id": f["id"]}
            for f in partition_fields
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            # v2 inheritance: null on ADDED entries (inherit the
            # manifest-list row's sequence_number); EXISTING entries
            # carried into a newer manifest keep their ORIGINAL data
            # sequence number here explicitly, per the spec.
            {"name": "sequence_number", "type": ["null", "long"],
             "field-id": 3},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {"name": "partition", "type": part_record, "field-id": 102},
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        # JSON-encoded {col: [lo, hi]} — stand-in for the
                        # spec's binary bounds maps (readable either way)
                        {"name": "bounds_json", "type": ["null", "string"],
                         "field-id": 999},
                    ],
                },
            },
        ],
    }


def _pf_meta_for_keys(meta: dict, keys: frozenset) -> tuple[list, int]:
    """Reconstruct the partition Avro fields (+ spec id) for a set of
    partition FIELD names, from the table's spec catalog — used to
    carry forward manifests written under an OLDER partition spec
    (spec evolution: entries keep their original tuple shape)."""
    from .iceberg_transforms import parse_transform, result_ice_type

    schema_fields = _current_schema(meta).get("fields", [])
    by_id = {f["id"]: f for f in schema_fields}
    for spec in meta.get("partition-specs") or []:
        names = {f["name"] for f in spec.get("fields", [])}
        if names == set(keys):
            out = []
            for f in spec["fields"]:
                kind, _param = parse_transform(
                    f.get("transform", "identity")
                )
                src = by_id.get(f.get("source-id")) or {}
                out.append({
                    "name": f["name"],
                    "id": f.get("field-id", 1000),
                    "avro_type": _ICE_TO_AVRO.get(
                        result_ice_type(kind, src.get("type")), "string"
                    ),
                })
            return out, spec["spec-id"]
    if not keys:
        return [], 0
    raise ValueError(f"no partition spec matches fields {sorted(keys)}")


_SPARK_TO_ICE = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "binary": "binary", "date": "date",
    "timestamp": "timestamp",
}
_ICE_TO_SPARK = {
    "long": "long", "int": "integer", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "binary": "binary",
    "date": "date", "timestamp": "timestamp", "timestamptz": "timestamp",
}
_ICE_TO_AVRO = {
    "long": "long", "int": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean",
}


class IcebergConcurrentWriteError(RuntimeError):
    """Another writer committed this metadata version first (the
    optimistic-concurrency loss signal — Iceberg's commit is an atomic
    swap of the metadata pointer; two writers computing the same next
    version must not both win)."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _publish_metadata(path: str, new_v: int, meta: dict) -> None:
    """Atomic PUT-IF-ABSENT metadata commit. ``v{N}.metadata.json`` is
    published with ``os.link`` (fail-if-exists on POSIX — the same
    primitive as :mod:`.deltalog`'s ``_write_commit``), so a concurrent
    writer racing to the same version loses loudly instead of silently
    clobbering; a mid-write crash leaves only a temp file, never a
    truncated metadata file. ``version-hint.text`` is then advanced via
    temp + ``os.replace`` (atomic rename — the hint is advisory: readers
    fall back to scanning ``v*.metadata.json`` if it trails)."""
    md = _meta_dir(path)
    target = os.path.join(md, f"v{new_v}.metadata.json")
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise IcebergConcurrentWriteError(
            f"metadata version {new_v} was committed concurrently in {path}"
        ) from None
    finally:
        os.remove(tmp)
    hint = os.path.join(md, "version-hint.text")
    htmp = hint + f".tmp-{uuid.uuid4().hex}"
    with open(htmp, "w") as f:
        f.write(str(new_v))
    os.replace(htmp, hint)


def _current_version(path: str) -> int:
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    if not os.path.exists(hint):
        raise FileNotFoundError(f"not an Iceberg table (no version hint): {path}")
    with open(hint) as f:
        return int(f.read().strip())


def _load_metadata(path: str, version: int | None = None) -> dict:
    v = version if version is not None else _current_version(path)
    with open(os.path.join(_meta_dir(path), f"v{v}.metadata.json")) as f:
        return json.load(f)


def _main_lineage(meta: dict) -> list[dict]:
    """Snapshots on the MAIN branch lineage, oldest -> newest by
    timestamp — what time travel, changelogs, and the stream source
    walk. A snapshot staged on a WAP branch (``write_iceberg(branch=)``)
    but never fast-forwarded must not surface on any of those paths.
    Snapshots without a ``parent-snapshot-id`` predate branch writes
    (there was no other way to commit, so they are necessarily main);
    when NO snapshot records a parent the whole list is main lineage
    (pre-branch metadata, including rollback'd histories — walking
    parents there would wrongly drop rolled-back-over snapshots that
    time travel has always reached)."""
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["timestamp-ms"]
    )
    if not any("parent-snapshot-id" in s for s in snaps):
        return snaps
    by_id = {s["snapshot-id"]: s for s in snaps}
    main_ids: set = set()
    cur = meta.get("current-snapshot-id")
    while cur is not None and cur in by_id and cur not in main_ids:
        main_ids.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return [
        s for s in snaps
        if s["snapshot-id"] in main_ids or "parent-snapshot-id" not in s
    ]


def _select_snapshot(
    meta: dict, snapshot_id: int | None, as_of_ms: int | None
) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise ValueError("table has no snapshots")
    if snapshot_id is not None and as_of_ms is not None:
        raise ValueError("pass snapshot_id OR as_of_ms, not both")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"no snapshot {snapshot_id}")
    if as_of_ms is not None:
        eligible = [
            s for s in _main_lineage(meta) if s["timestamp-ms"] <= as_of_ms
        ]
        if not eligible:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = meta["current-snapshot-id"]
    return next(s for s in snaps if s["snapshot-id"] == cur)


def _current_schema(meta: dict) -> dict:
    """The table's current schema: the ``schemas`` entry that
    ``current-schema-id`` names (format v2, as other writers lay it
    out), else the single ``schema`` this engine writes."""
    sid = meta.get("current-schema-id")
    for schema in meta.get("schemas") or []:
        if sid is not None and schema.get("schema-id") == sid:
            return schema
    if meta.get("schema"):
        return meta["schema"]
    raise ValueError(
        f"table metadata has no current schema (current-schema-id {sid})"
    )


def _spark_schema(meta: dict):
    """The current schema as a ``StructType``, built in plain Python:
    the ``iceberg_lite`` source plans where no JVM runs."""
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_json_value,
    )

    fields = []
    for f in _current_schema(meta).get("fields", []):
        t = f["type"]
        if not isinstance(t, str) or t not in _ICE_TO_SPARK:
            raise ValueError(f"unsupported Iceberg type {t!r}")
        fields.append(
            StructField(
                f["name"], _parse_datatype_json_value(_ICE_TO_SPARK[t]),
                not f.get("required", False),
            )
        )
    return StructType(fields)


def snapshot_files(
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> list[dict]:
    """Live data-file entries (dicts with file_path, partition, bounds)
    for the chosen snapshot — the planning step, all driver-side."""
    meta = _load_metadata(path)
    snap = _select_snapshot(meta, snapshot_id, as_of_ms)
    _, manifests = read_avro_records(
        os.path.join(path, snap["manifest-list"])
    )
    out = []
    for m in manifests:
        if m.get("content"):  # 1 = delete manifest (v2)
            continue
        m_seq = m.get("sequence_number") or 0
        _, entries = read_avro_records(os.path.join(path, m["manifest_path"]))
        for e in entries:
            if e["status"] != 2:  # 0 EXISTING / 1 ADDED live; 2 DELETED
                # v2 inheritance: ADDED entries (null) take the
                # manifest-list row's sequence number; EXISTING entries
                # carry their original one explicitly
                seq = e.get("sequence_number")
                out.append(
                    dict(e["data_file"], _seq=m_seq if seq is None else seq)
                )
    return out


def snapshot_delete_files(
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> list[dict]:
    """Live row-delete file entries (v2, manifest ``content=1``) for
    the chosen snapshot — empty for v1/append-only tables. Each entry
    carries ``content`` (1 = position deletes, 2 = equality deletes),
    ``_seq`` (the delete's data sequence number) and, for equality
    deletes, ``equality_ids``."""
    meta = _load_metadata(path)
    snap = _select_snapshot(meta, snapshot_id, as_of_ms)
    _, manifests = read_avro_records(
        os.path.join(path, snap["manifest-list"])
    )
    out = []
    for m in manifests:
        if not m.get("content"):
            continue
        m_seq = m.get("sequence_number") or 0
        _, entries = read_avro_records(os.path.join(path, m["manifest_path"]))
        for e in entries:
            if e["status"] != 2 and (e["data_file"].get("content") in (1, 2)):
                seq = e.get("sequence_number")
                out.append(
                    dict(e["data_file"], _seq=m_seq if seq is None else seq)
                )
    return out


def read_iceberg(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
    partition_filter: dict[str, list] | None = None,
    stats_filter: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read an Iceberg table at a snapshot with driver-side pruning.

    ``ref``: a named tag/branch (:func:`set_ref`) — resolved to its
    snapshot id before planning.

    ``partition_filter``: partition field -> allowed values (compared on
    the manifest's partition tuple). ``stats_filter``: column -> (lo,
    hi) closed range against per-file bounds. Skipped files are never
    listed by Spark.

    v2 merge-on-read: when the snapshot carries position-delete files
    (``content=1``), they are applied with an anti-join on
    ``(file, _metadata.row_index)``; equality-delete files
    (``content=2``) anti-join on their ``equality_ids`` columns
    (null-safe), scoped by DATA SEQUENCE NUMBER — an equality delete
    only affects rows from files committed strictly BEFORE it, so a
    key deleted and then re-appended survives, per the spec. The
    delete parquet scans stay distributed, and a file skipped by
    pruning never pays for its deletes either."""
    from pyspark.sql import functions as F

    if ref is not None:
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError("pass ref OR snapshot_id/as_of_ms, not both")
        snapshot_id = resolve_ref(path, ref)
    if partition_filter or stats_filter:
        # Filtered reads of MANY-MANIFEST tables route through the
        # DataFrame-native planner by default (mirrors read_delta's
        # checkpoint rule): past the threshold the driver loop decodes
        # every manifest just to throw most entries away, while the
        # pruned path decodes them in executor tasks and collects
        # survivors only. The manifest-list read is one small avro
        # file — the same read snapshot_files starts with.
        meta0 = _load_metadata(path)
        snap0 = _select_snapshot(meta0, snapshot_id, as_of_ms)
        _, mans = read_avro_records(
            os.path.join(path, snap0["manifest-list"])
        )
        if len(mans) >= _PRUNED_PLANNING_MANIFESTS:
            return read_iceberg_pruned(
                spark, path, snapshot_id=snap0["snapshot-id"],
                partition_filter=partition_filter,
                stats_filter=stats_filter,
            )
    files = snapshot_files(path, snapshot_id, as_of_ms)
    delete_files = snapshot_delete_files(path, snapshot_id, as_of_ms)
    pos_deletes = [f for f in delete_files if f.get("content") == 1]
    eq_deletes = [f for f in delete_files if f.get("content") == 2]
    if partition_filter:
        resolved = _resolve_partition_filter(
            _load_metadata(path), partition_filter
        )
        files = [
            f for f in files
            if all(
                k not in (f.get("partition") or {})  # older-spec file:
                or (f.get("partition") or {}).get(k) in vals  # keep
                for k, vals in resolved.items()
            )
        ]
    if stats_filter:
        def survives(f):
            b = f.get("bounds_json")
            if not b:
                return True
            bounds = json.loads(b)
            for c, (lo, hi) in stats_filter.items():
                if c in bounds:
                    mn, mx = bounds[c]
                    if (hi is not None and mn is not None and mn > hi) or (
                        lo is not None and mx is not None and mx < lo
                    ):
                        return False
            return True

        files = [f for f in files if survives(f)]
    return _assemble_iceberg_scan(
        spark, path, _load_metadata(path), files, pos_deletes, eq_deletes
    )


# Filtered read_iceberg routes through the DataFrame-native planner at
# this many manifests (one manifest per commit in this engine, so 64 ~
# a well-maintained table past compaction cadence; below it the driver
# loop is cheaper than a mapInPandas worker spin-up).
_PRUNED_PLANNING_MANIFESTS = 64


def snapshot_files_df_iceberg(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Manifest ENTRIES as a DATAFRAME — the planning path for tables
    whose data-file count outgrows a driver loop, mirroring
    :func:`..deltalog.snapshot_files_df` (q397). The driver reads ONE
    manifest list (rows = #manifests, log-scale smaller than #files);
    each manifest decodes inside its own Arrow task via the library's
    avro reader; pruning then runs as Catalyst filters and only
    SURVIVORS are ever collected.

    Columns: ``file_path``, ``m_content`` (manifest: 0 data/1 deletes),
    ``content`` (data_file: 0 data/1 pos-delete/2 eq-delete),
    ``record_count``, ``file_size_in_bytes``, ``partition_json`` (the
    spec-typed tuple as JSON), ``bounds_json``, ``equality_ids``,
    ``_seq`` (v2 sequence-number inheritance applied)."""
    meta = _load_metadata(path)
    snap = _select_snapshot(meta, snapshot_id, as_of_ms)
    _, manifests = read_avro_records(
        os.path.join(path, snap["manifest-list"])
    )
    ddl = (
        "file_path string, m_content int, content int, "
        "record_count long, file_size_in_bytes long, "
        "partition_json string, bounds_json string, "
        "equality_ids array<int>, _seq long"
    )
    rows = [
        (
            os.path.join(path, m["manifest_path"]),
            int(m.get("content") or 0),
            int(m.get("sequence_number") or 0),
        )
        for m in manifests
    ]
    if not rows:
        return spark.createDataFrame([], ddl)
    mdf = spark.createDataFrame(
        rows, "m_path string, m_content int, m_seq long"
    ).repartition(min(len(rows), 32))

    def decode(batches):
        import json as _json

        import pandas as pd

        # absolute import: this closure executes in the Python worker
        from etl_market_survey_spark.sources.avro import (
            read_avro_records as _read,
        )

        names = [
            "file_path", "m_content", "content", "record_count",
            "file_size_in_bytes", "partition_json", "bounds_json",
            "equality_ids", "_seq",
        ]
        for pdf in batches:
            out: dict[str, list] = {n: [] for n in names}
            for m_path, m_content, m_seq in zip(
                pdf["m_path"], pdf["m_content"], pdf["m_seq"]
            ):
                _, entries = _read(m_path)
                for e in entries:
                    if e["status"] == 2:  # DELETED entry
                        continue
                    d = e["data_file"]
                    seq = e.get("sequence_number")
                    out["file_path"].append(d["file_path"])
                    out["m_content"].append(int(m_content))
                    out["content"].append(int(d.get("content") or 0))
                    out["record_count"].append(int(d["record_count"]))
                    out["file_size_in_bytes"].append(
                        int(d["file_size_in_bytes"])
                    )
                    p = d.get("partition")
                    out["partition_json"].append(
                        None if p is None
                        else _json.dumps(p, default=str)
                    )
                    out["bounds_json"].append(d.get("bounds_json"))
                    out["equality_ids"].append(d.get("equality_ids"))
                    out["_seq"].append(
                        int(m_seq) if seq is None else int(seq)
                    )
            yield pd.DataFrame(out)

    from pyspark.sql.types import _parse_datatype_string

    return mdf.mapInPandas(decode, _parse_datatype_string(ddl))


def read_iceberg_pruned(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    partition_filter: dict[str, list] | None = None,
    stats_filter: dict[str, tuple] | None = None,
) -> DataFrame:
    """:func:`read_iceberg` for MANY-FILE tables: manifest state stays
    a DataFrame (:func:`snapshot_files_df_iceberg`) and file pruning
    runs as distributed filters — partition values against the entry's
    ``partition_json`` (transform-aware, same resolution as
    ``read_iceberg``), stats ranges against ``bounds_json`` cast to the
    column's type (the conservative keep-on-null contract). Only
    SURVIVING entries reach the driver. One semantic delta vs the
    driver loop, conservative by construction: a partition field whose
    VALUE is null is kept (the dict loop prunes it) — fewer prunes,
    never a wrong answer. Delete-file entries are metadata-sized and
    collected unpruned, as in ``read_iceberg``."""
    from pyspark.sql import functions as F

    meta = _load_metadata(path)
    entries = snapshot_files_df_iceberg(
        spark, path, snapshot_id=snapshot_id
    )
    # build ONE keep-predicate over the single entries frame — a
    # union of two filtered branches of the same mapInPandas frame
    # would decode every manifest twice (ADVICE r9)
    keep_data = (F.col("m_content") == 0) & (F.col("content") == 0)
    if partition_filter:
        # TYPED comparison (mirrors the stats side below): the JSON
        # text of a partition value diverges from str(v) for bool
        # ('true' vs 'True') and float ('5.0' vs '5') — a text compare
        # silently WRONG-PRUNES matching files. Cast the JSON value to
        # the partition field's transform-result type and compare cast
        # literals; a value the cast cannot parse keeps the file
        # (conservative, same contract as the null case).
        ptypes = _partition_result_types(meta)
        for k, vals in _resolve_partition_filter(
            meta, partition_filter
        ).items():
            t = ptypes.get(k, "string")
            pv = F.get_json_object("partition_json", f"$['{k}']")
            pvt = pv.cast(t)
            matched = F.lit(False)
            for v in sorted(vals, key=repr):
                matched = matched | pvt.eqNullSafe(F.lit(v).cast(t))
            keep_data = keep_data & (
                pv.isNull()   # older-spec file or null value: keep
                | pvt.isNull()  # unparseable under the typed cast: keep
                | matched
            )
    if stats_filter:
        sfields = _current_schema(meta).get("fields", [])
        dtypes = {
            f["name"]: _ICE_TO_SPARK.get(f["type"], "string")
            for f in sfields
            if isinstance(f.get("type"), str)
        }
        for c, (lo, hi) in stats_filter.items():
            t = dtypes.get(c, "string")
            mn = F.get_json_object("bounds_json", f"$['{c}'][0]").cast(t)
            mx = F.get_json_object("bounds_json", f"$['{c}'][1]").cast(t)
            keep = F.col("bounds_json").isNull() | mn.isNull() | mx.isNull()
            disjoint = F.lit(False)
            if hi is not None:
                disjoint = disjoint | (mn > F.lit(hi))
            if lo is not None:
                disjoint = disjoint | (mx < F.lit(lo))
            keep_data = keep_data & (keep | ~disjoint)

    import json as _json

    def to_entry(r) -> dict:
        return {
            "file_path": r["file_path"],
            "content": r["content"],
            "record_count": r["record_count"],
            "file_size_in_bytes": r["file_size_in_bytes"],
            "partition": (
                None if r["partition_json"] is None
                else _json.loads(r["partition_json"])
            ),
            "bounds_json": r["bounds_json"],
            "equality_ids": (
                list(r["equality_ids"])
                if r["equality_ids"] is not None else None
            ),
            "_seq": r["_seq"],
        }

    # ONE decode job for both halves: data survivors + (metadata-sized,
    # unpruned) delete entries collect together through a single filter
    # over the single entries frame, split driver-side
    rows = entries.filter(
        (F.col("m_content") == 1) | keep_data
    ).collect()  # SURVIVORS only
    files = [to_entry(r) for r in rows if r["m_content"] == 0]
    dels = [to_entry(r) for r in rows if r["m_content"] == 1]
    pos_deletes = [f for f in dels if f.get("content") == 1]
    eq_deletes = [f for f in dels if f.get("content") == 2]
    return _assemble_iceberg_scan(
        spark, path, meta, files, pos_deletes, eq_deletes
    )


def _partition_result_types(meta: dict) -> dict[str, str]:
    """{partition FIELD name -> SPARK type of the partition tuple
    value}: the transform RESULT type per the spec (bucket/days/hours
    -> int; identity/truncate -> the source column type), over every
    spec in the table's spec catalog so older-spec entries resolve
    too. Date/timestamp tuples are physically stored as strings in
    this engine's manifests (``_pv_caster_ice``), which cast cleanly
    through their Spark type — the typed compare is storage-agnostic."""
    sfields = _current_schema(meta).get("fields", [])
    id2type = {f["id"]: f["type"] for f in sfields}
    out: dict[str, str] = {}
    for sp in meta.get("partition-specs") or []:
        for f in sp.get("fields", []):
            kind, _ = parse_transform(f.get("transform", "identity"))
            src = id2type.get(f.get("source-id"))
            rt = result_ice_type(kind, src) if isinstance(src, str) else None
            out[f["name"]] = _ICE_TO_SPARK.get(rt, "string")
    return out


def _resolve_partition_filter(
    meta: dict, partition_filter: dict[str, list]
) -> dict[str, set]:
    """TRANSFORM-AWARE filter resolution: a filter keyed by the SOURCE
    column of a transformed spec field (bucket/truncate/days) has the
    spec transform applied to its values, so callers filter by the
    values they know — hidden partitioning's whole point. Filters keyed
    by the partition FIELD name compare raw. Returns
    {partition field name -> allowed value set}."""
    spec_fields = [
        f for sp in (meta.get("partition-specs") or [{}])
        for f in sp.get("fields", [])
    ]
    sfields = _current_schema(meta).get("fields", [])
    id2name = {f["id"]: f["name"] for f in sfields}
    id2type = {f["id"]: f["type"] for f in sfields}
    resolved: dict[str, set] = {}
    for k, vals in partition_filter.items():
        fld = next((sf for sf in spec_fields if sf["name"] == k), None)
        if fld is None:
            fld = next(
                (sf for sf in spec_fields
                 if id2name.get(sf["source-id"]) == k),
                None,
            )
            if fld is None:
                raise ValueError(
                    f"{k!r} matches no partition field or source "
                    f"column of the partition spec"
                )
            kind, param = parse_transform(fld["transform"])
            vals = [
                transform_value(kind, param, v,
                                id2type[fld["source-id"]])
                for v in vals
            ]
        # date/timestamp partition tuples are stored as their string
        # rendering (``_pv_caster_ice``): canonicalize date/datetime
        # filter values to the same rendering so callers may filter
        # with native date objects OR strings, identically on the
        # driver-loop and DataFrame-pruned paths.
        kind0, _p0 = parse_transform(fld.get("transform", "identity"))
        rt = result_ice_type(kind0, id2type.get(fld["source-id"]))
        if rt in ("date", "timestamp", "timestamptz"):
            import datetime as _dt

            vals = [
                v.isoformat(sep=" ") if isinstance(v, _dt.datetime)
                else v.isoformat() if isinstance(v, _dt.date)
                else v
                for v in vals
            ]
        resolved[fld["name"]] = set(vals)
    return resolved


def _assemble_iceberg_scan(
    spark: SparkSession,
    path: str,
    meta: dict,
    files: list[dict],
    pos_deletes: list[dict],
    eq_deletes: list[dict],
) -> DataFrame:
    """The scan half shared by :func:`read_iceberg` (driver-pruned) and
    :func:`read_iceberg_pruned` (DataFrame-pruned): surviving data-file
    entries -> one pruned parquet read, v2 deletes anti-joined
    distributed."""
    from pyspark.sql import functions as F

    schema = _spark_schema(meta)
    if not files:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(path, f["file_path"]) for f in files]
    df = spark.read.schema(schema).parquet(*paths)
    if not pos_deletes and not eq_deletes:
        return df
    cols = df.columns
    # attach file identity ONCE at the scan (``_metadata`` only
    # resolves on the base relation — any projection in between would
    # lose it, which is exactly the pos+eq combination bug this guards)
    df = df.select(
        "*",
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("_if"),
        F.col("_metadata.row_index").alias("_ip"),
    )
    if pos_deletes:
        # merge-on-read: anti-join deleted (file, pos) pairs. File
        # identity is the basename (file names carry a uuid, unique per
        # table), which joins _metadata.file_path URIs against the
        # manifests' table-relative paths without URI normalization.
        dels = (
            spark.read.schema("file_path string, pos long")
            .parquet(
                *[os.path.join(path, f["file_path"]) for f in pos_deletes]
            )
            .select(
                F.element_at(F.split("file_path", "/"), -1).alias("_if"),
                F.col("pos").alias("_ip"),
            )
        )
        df = df.join(dels, ["_if", "_ip"], "left_anti")
    if eq_deletes:
        df = _apply_equality_deletes(spark, path, df, files, eq_deletes, meta)
    return df.select(*cols)


def _apply_equality_deletes(
    spark, path: str, df, files: list[dict], eq_deletes: list[dict], meta: dict
):
    """Anti-join equality-delete rows, scoped by data sequence number.

    ``df`` must already carry the ``_if`` file-basename column (the
    caller attaches it at the scan, where ``_metadata`` resolves).
    Each data row gets its file's sequence number via a BROADCAST join
    on that basename (the file list is metadata-sized — KBs on the
    driver, never a shuffle); each delete file contributes its
    ``equality_ids`` columns plus its own sequence number as ``_dseq``.
    One null-safe anti-join per distinct equality-id set with the
    residual predicate ``data._seq < delete._dseq`` — row-identity
    deletes never apply forward to files committed at or after them."""
    from pyspark.sql import functions as F

    cols = df.columns
    seq_rows = [
        (os.path.basename(f["file_path"]), int(f.get("_seq") or 0))
        for f in files
    ]
    seq_df = spark.createDataFrame(seq_rows, "_if string, _seq long")
    df = df.join(F.broadcast(seq_df), "_if")

    by_ids: dict[tuple, list[dict]] = {}
    for d in eq_deletes:
        by_ids.setdefault(tuple(d.get("equality_ids") or ()), []).append(d)
    schema = _spark_schema(meta)
    for _, dels in sorted(by_ids.items()):
        keyed = [
            _equality_delete_keys(spark, path, _eq_delete(meta, d), schema)
            for d in dels
        ]
        del_df = keyed[0][0]
        for keys, _ in keyed[1:]:
            del_df = del_df.unionByName(keys)
        df = df.join(del_df, keyed[0][1], "left_anti")
    return df.select(*cols)


def _eq_delete(meta: dict, d: dict) -> tuple[str, int, list[str]]:
    """An equality-delete file entry as ``(file path, data sequence
    number, column names)``, its ``equality_ids`` resolved against the
    current schema."""
    id_to_name = {
        f["id"]: f["name"] for f in _current_schema(meta).get("fields", [])
    }
    names = [id_to_name[i] for i in (d.get("equality_ids") or [])]
    if not names:
        raise ValueError("equality delete file without equality_ids")
    return d["file_path"], int(d.get("_seq") or 0), names


def _equality_delete_keys(spark, path: str, eq: tuple, schema):
    """One equality delete ``(file, seq, columns)`` (:func:`_eq_delete`)
    as ``_d_<col>`` key columns plus its sequence number ``_dseq``, and
    the null-safe match against data rows carrying ``_seq`` (only rows
    of files committed before the delete). The keys are read with the
    table schema's types, so Spark runs no job to infer the file's
    schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    rel, dseq, names = eq
    keys = (
        spark.read.schema(StructType([schema[c] for c in names]))
        .parquet(os.path.join(path, rel))
        .select(*[F.col(c).alias(f"_d_{c}") for c in names])
        .withColumn("_dseq", F.lit(dseq))
    )
    cond = F.col("_seq") < F.col("_dseq")
    for c in names:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_d_{c}"))
    return keys, cond


class _SnapshotChanges(NamedTuple):
    """What one snapshot changed, as :func:`_change_walk` reports it.
    Data-file entries are sorted by path. ``dropped`` rows are emitted
    as they were live at the previous snapshot, so ``dropped_pos`` /
    ``dropped_eq`` carry that snapshot's position / equality deletes
    (its delete set is authoritative: an overwrite drops delete
    manifests along with data files). New position deletes
    (``pos_deletes``) name positions in ``live_before`` files; each new
    equality delete is ``(file, seq, columns, the live_before files
    with a smaller sequence number)``, the only ones it applies to."""

    snapshot_id: int
    timestamp: int
    added: list
    dropped: list
    dropped_pos: list
    dropped_eq: list
    live_before: list
    pos_deletes: list
    eq_deletes: list


def _change_walk(
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> list[_SnapshotChanges]:
    """THE changelog walk: one :class:`_SnapshotChanges` per main-lineage
    snapshot after ``from_snapshot_id`` (exclusive; None = before the
    first) up to ``to_snapshot_id`` (inclusive; None = the latest),
    diffed from the live data and delete files of consecutive
    snapshots. Metadata JSON and Avro manifests only, no SparkSession;
    ``read_iceberg_changes`` scans its records, the ``iceberg_lite``
    stream maps them to partitions."""
    meta = _load_metadata(path)
    snaps = _main_lineage(meta)  # staged WAP branches never hit changelogs
    if not snaps:
        raise ValueError("table has no snapshots")
    ids = [s["snapshot-id"] for s in snaps]
    for sid in (from_snapshot_id, to_snapshot_id):
        if sid is not None and sid not in ids:
            raise ValueError(
                f"snapshot {sid} is not in the table history (expired?)"
            )
    start = 0 if from_snapshot_id is None else ids.index(from_snapshot_id) + 1
    end = len(ids) - 1 if to_snapshot_id is None else ids.index(to_snapshot_id)

    def live(sid):
        if sid is None:
            return {}, {}
        return (
            {f["file_path"]: f for f in snapshot_files(path, snapshot_id=sid)},
            {d["file_path"]: d
             for d in snapshot_delete_files(path, snapshot_id=sid)},
        )

    files, dels = live(ids[start - 1] if start > 0 else None)
    out = []
    for snap in snaps[start:end + 1]:
        cur_files, cur_dels = live(snap["snapshot-id"])
        before = [f for _, f in sorted(files.items())]
        dropped = [f for f in before if f["file_path"] not in cur_files]
        new_dels = [d for p, d in sorted(cur_dels.items()) if p not in dels]
        old_dels = list(dels.values()) if dropped else []
        out.append(_SnapshotChanges(
            snap["snapshot-id"], snap["timestamp-ms"],
            added=[f for p, f in sorted(cur_files.items()) if p not in files],
            dropped=dropped,
            dropped_pos=[d for d in old_dels if d.get("content") == 1],
            dropped_eq=[_eq_delete(meta, d) for d in old_dels
                        if d.get("content") == 2],
            live_before=before,
            pos_deletes=[d for d in new_dels if d.get("content") == 1],
            eq_deletes=[
                (*eq, [f for f in before if int(f.get("_seq") or 0) < eq[1]])
                for eq in (_eq_delete(meta, d) for d in new_dels
                           if d.get("content") == 2)
            ],
        ))
        files, dels = cur_files, cur_dels
    return out


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental CHANGELOG scan between snapshots — Iceberg's
    ``fromSnapshotId``-exclusive / ``toSnapshotId``-inclusive contract
    (``from=None`` starts before the first snapshot). Rows are table
    columns + ``_change_type`` ('insert'/'delete') + ``_snapshot_id`` +
    ``_commit_timestamp``.

    Per snapshot: newly added data files contribute inserts; data files
    dropped from the live set (overwrite / partition delete) contribute
    their rows still live at the previous snapshot as deletes; NEW
    position-delete files contribute ROW-exact deletes (join on
    ``(file, _metadata.row_index)``); NEW equality-delete files
    contribute key-matched deletes of data files with a smaller
    sequence number — the rules :func:`read_iceberg` applies.

    Scale shape: the per-snapshot diff is :func:`_change_walk`, the one
    walk the ``iceberg_lite`` changelog stream plans from too (metadata
    and manifests, driver-side, no Spark job); row materialization
    scans only the files each snapshot touched (plus, for position
    deletes, the prior live set the join prunes logically — a
    production scan would prune via delete-file stats)."""
    from pyspark.sql import functions as F

    commits = _change_walk(path, from_snapshot_id, to_snapshot_id)
    schema = _spark_schema(_load_metadata(path))
    cols = [f.name for f in schema.fields]

    def scan(entries, keep_pos=False, keep_seq=False):
        df = spark.read.schema(schema).parquet(
            *[os.path.join(path, e["file_path"]) for e in entries]
        )
        extra = [
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("_file"),
        ]
        if keep_pos:
            extra.append(F.col("_metadata.row_index").alias("_pos"))
        df = df.select(*cols, *extra)
        if keep_seq:
            seq_df = spark.createDataFrame(
                [(os.path.basename(e["file_path"]), int(e.get("_seq") or 0))
                 for e in entries],
                "_file string, _seq long",
            )
            df = df.join(F.broadcast(seq_df), "_file")
        return df

    def positions(pos_deletes):
        return (
            spark.read.schema("file_path string, pos long")
            .parquet(*[os.path.join(path, d["file_path"])
                       for d in pos_deletes])
            .select(
                F.element_at(F.split("file_path", "/"), -1).alias("_file"),
                F.col("pos").alias("_pos"),
            )
        )

    def tag(df, ct, c: _SnapshotChanges):
        return df.select(
            *cols,
            F.lit(ct).alias("_change_type"),
            F.lit(c.snapshot_id).cast("long").alias("_snapshot_id"),
            F.lit(c.timestamp).cast("long").alias("_commit_timestamp"),
        )

    pieces = []
    for c in commits:
        if c.added:
            pieces.append(tag(scan(c.added), "insert", c))
        if c.dropped:
            # rows already deleted before this snapshot are not deleted
            # again when their file drops
            df = scan(c.dropped, keep_pos=True, keep_seq=bool(c.dropped_eq))
            if c.dropped_pos:
                df = df.join(positions(c.dropped_pos), ["_file", "_pos"],
                             "left_anti")
            for eq in c.dropped_eq:
                keys, cond = _equality_delete_keys(spark, path, eq, schema)
                df = df.join(keys, cond, "left_anti")
            pieces.append(tag(df, "delete", c))
        if c.pos_deletes and c.live_before:
            pieces.append(tag(
                scan(c.live_before, keep_pos=True)
                .join(positions(c.pos_deletes), ["_file", "_pos"]),
                "delete", c,
            ))
        for *eq, older in c.eq_deletes:
            if older:
                keys, cond = _equality_delete_keys(spark, path, eq, schema)
                pieces.append(tag(
                    scan(older, keep_seq=True).join(keys, cond), "delete", c
                ))

    if not pieces:
        empty = spark.createDataFrame([], schema).select(*cols)
        return empty.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_snapshot_id"),
            F.lit(None).cast("long").alias("_commit_timestamp"),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def table_history(path: str) -> list[dict]:
    meta = _load_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s["timestamp-ms"],
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in meta.get("snapshots") or []
    ]


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def write_iceberg(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    mode: str = "append",
    partition_col: str | None = None,
    partition_transform: str = "identity",
    commit_ts: int = 0,
    merge_schema: bool = False,
    allow_spec_evolution: bool = False,
    preserve_layout: bool = False,
    branch: str | None = None,
) -> int:
    """Commit ``df`` as a new snapshot; returns the snapshot id.

    ``mode='append'`` adds files; ``'overwrite'`` starts the file set
    fresh. Deterministic by contract (caller-supplied ``commit_ts``,
    snapshot ids derived from the version counter).

    ``branch``: commit to a NAMED BRANCH instead of advancing the main
    table pointer — the write-audit-publish (WAP) staging step. The
    snapshot's parent (and the file set an ``append`` carries forward)
    is the branch head if the branch exists, else the current main
    head (the branch forks there); ``current-snapshot-id`` is left
    untouched and ``refs[branch]`` advances instead. Readers see the
    staged state only via ``read_iceberg(ref=branch)`` until
    :func:`fast_forward` publishes it (or :func:`drop_ref` discards
    it). :func:`delete_rows_where_iceberg` and
    :func:`update_rows_where_iceberg`, and :func:`merge_iceberg`
    accept ``branch`` too — every row-level verb works on staged
    state.

    ``partition_transform``: the spec's HIDDEN-partitioning function
    applied to ``partition_col`` — ``'identity'`` (default),
    ``'bucket[N]'`` (spec murmur3 over the serialized value),
    ``'truncate[W]'``, or ``'days'``. The partition tuple in the
    manifests holds the TRANSFORMED value under the conventional field
    name (``<col>_bucket`` etc.); data files still physically contain
    the source column, so reads need no re-attachment, and
    ``read_iceberg``'s ``partition_filter`` prunes transform-aware
    (filter by SOURCE values; the reader applies the spec transform).

    ``allow_spec_evolution``: a write whose (column, transform) differs
    from the table's current DEFAULT spec appends a NEW spec to the
    catalog (fresh spec-id, default-spec-id advanced) instead of
    raising — the spec's partition evolution. Prior manifests keep
    their original tuple shape (carried forward as separate manifests
    per key set); pruning skips files whose spec lacks the filtered
    field (conservative keep).

    Schema enforcement + evolution: a write missing table columns or
    changing a column's type is rejected; NEW columns need
    ``merge_schema=True`` and evolve the schema with STABLE field ids
    (existing fields keep their ids — the property equality-delete
    ``equality_ids`` and partition-spec source-ids depend on; new
    fields take ``last-column-id + 1``...). Old data files null-fill
    the new columns on read."""
    plan = _plan_write_iceberg(
        path, df.schema, mode=mode, partition_col=partition_col,
        partition_transform=partition_transform, merge_schema=merge_schema,
        allow_spec_evolution=allow_spec_evolution,
    )
    df = df.select(*plan["ordered"])
    partition_col = plan["partition_col"]
    pexpr = (
        transform_expr(partition_col, plan["t_kind"], plan["t_param"],
                       plan["src_ice_type"])
        if partition_col else None
    )
    staged = _stage_iceberg_files(
        spark, path, df, partition_col,
        pexpr=pexpr, pfield=plan["pfield"],
        pv_caster=(
            _pv_caster_ice(plan["res_ice_type"]) if partition_col else None
        ),
        preserve_layout=preserve_layout,
    )
    return _commit_planned_iceberg(
        path, plan, staged, mode=mode, commit_ts=commit_ts, branch=branch
    )


def _plan_write_iceberg(
    path: str,
    schema,
    *,
    mode: str,
    partition_col: str | None,
    partition_transform: str,
    merge_schema: bool,
    allow_spec_evolution: bool,
) -> dict:
    """Everything :func:`write_iceberg` decides BEFORE any bytes stage:
    partition-spec resolution (inheritance / evolution), schema
    enforcement + evolution with stable field ids, version and snapshot
    id. Pure metadata work — no SparkSession — so the registered
    ``iceberg_lite`` writer plans on the driver and stages in
    executors."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    os.makedirs(_meta_dir(path), exist_ok=True)
    try:
        cur_v = _current_version(path)
        meta = _load_metadata(path, cur_v)
    except FileNotFoundError:
        cur_v, meta = 0, None

    t_kind, t_param = parse_transform(partition_transform)
    if t_kind != "identity" and not partition_col:
        raise ValueError("partition_transform requires partition_col")
    pfield = (
        partition_field_name(partition_col, t_kind) if partition_col else None
    )
    pcols = [pfield] if pfield else []
    spec_evolved = False
    prior_specs = list((meta or {}).get("partition-specs") or [])
    if meta is not None:
        default_id = (meta.get("default-spec-id")
                      if meta.get("default-spec-id") is not None
                      else (prior_specs[-1]["spec-id"] if prior_specs else 0))
        cur_spec = next(
            (sp for sp in prior_specs if sp["spec-id"] == default_id),
            {"spec-id": 0, "fields": []},
        )
        prev_fields = cur_spec.get("fields", [])
        prev_pcols = [f["name"] for f in prev_fields]
        new_t = f"{t_kind}[{t_param}]" if t_param is not None else t_kind
        if pcols != prev_pcols:
            if partition_col is None and prev_pcols:
                # inherit the table's spec: source column via source-id
                pf = prev_fields[0]
                t_kind, t_param = parse_transform(pf["transform"])
                sfields = _current_schema(meta).get("fields", [])
                partition_col = next(
                    f["name"] for f in sfields
                    if f["id"] == pf["source-id"]
                )
                pfield = pf["name"]
                pcols = prev_pcols
            elif allow_spec_evolution:
                spec_evolved = True
            else:
                raise ValueError(
                    f"partitioning mismatch: table has {prev_pcols}"
                )
        elif prev_fields and prev_fields[0]["transform"] != new_t:
            if allow_spec_evolution:
                spec_evolved = True
            else:
                raise ValueError(
                    "partition transform mismatch: table has "
                    f"{prev_fields[0]['transform']}"
                )

    new_v = cur_v + 1
    snap_id = new_v  # deterministic; spec only requires uniqueness

    # schema enforcement + evolution with STABLE field ids
    prior_fields = (
        _current_schema(meta).get("fields", [])
        if meta is not None
        else []
    )
    by_name = {f["name"]: f for f in prior_fields}
    if prior_fields:
        lost = [f["name"] for f in prior_fields
                if f["name"] not in schema.names]
        if lost:
            raise ValueError(f"write is missing table columns: {lost}")
    ice_fields = list(prior_fields)
    last_id = max(
        [f["id"] for f in prior_fields]
        + [int((meta or {}).get("last-column-id", 0))]
        or [0]
    )
    new_names = []
    for f in schema.fields:
        t = _SPARK_TO_ICE.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(f"unsupported Spark type {f.dataType}")
        old = by_name.get(f.name)
        if old is not None:
            if old["type"] != t:
                raise ValueError(
                    f"column type change not allowed: {f.name} "
                    f"({old['type']} -> {t})"
                )
            continue
        if prior_fields and not merge_schema:
            raise ValueError(
                f"write adds column {f.name!r}; pass merge_schema=True "
                "to evolve the table schema"
            )
        last_id += 1
        ice_fields.append(
            {"id": last_id, "name": f.name, "required": False, "type": t}
        )
        new_names.append(f.name)
    # table column order: prior fields, then new fields
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    ordered = [f["name"] for f in ice_fields]
    schema = _ST([_SF(n, schema[n].dataType, True) for n in ordered])
    src_ice_type = (
        _SPARK_TO_ICE[schema[partition_col].dataType.simpleString()]
        if partition_col else None
    )
    res_ice_type = (
        result_ice_type(t_kind, src_ice_type) if partition_col else None
    )
    _pf_field_id = 1000 + (
        (max(sp["spec-id"] for sp in prior_specs) + 1)
        if spec_evolved and prior_specs
        else (
            (meta or {}).get("default-spec-id") or 0 if meta is not None
            else 0
        )
    )
    pf_meta = (
        [{
            "name": pfield,
            "id": _pf_field_id,
            "avro_type": _ICE_TO_AVRO.get(res_ice_type, "string"),
        }]
        if partition_col else []
    )

    return {
        "meta": meta,
        "cur_v": cur_v,
        "new_v": new_v,
        "snap_id": snap_id,
        "t_kind": t_kind,
        "t_param": t_param,
        "partition_col": partition_col,
        "pfield": pfield,
        "spec_evolved": spec_evolved,
        "prior_specs": prior_specs,
        "ice_fields": ice_fields,
        "last_id": last_id,
        "ordered": ordered,
        "src_ice_type": src_ice_type,
        "res_ice_type": res_ice_type,
        "pf_meta": pf_meta,
        "pf_field_id": _pf_field_id,
    }


def _commit_planned_iceberg(
    path: str, plan: dict, staged: list, *, mode: str, commit_ts: int,
    summary_extra: dict | None = None,
    position_delete_entries: list[tuple[str, int]] | None = None,
    equality_delete_entries: (
        tuple[list[tuple[str, int]], list[int]] | None
    ) = None,
    summary_operation: str | None = None,
    branch: str | None = None,
) -> int:
    """The commit half of :func:`write_iceberg`: fold pre-staged data
    files ``[(rel, partition_value, bounds_json, record_count)]`` into
    manifests + manifest list + metadata and publish put-if-absent.
    Pure Avro/JSON — callable from the driver without a SparkSession
    (the ``iceberg_lite`` writer's commit path). ``summary_extra``
    merges additional snapshot-summary properties (the streaming
    sink's app-id/epoch-id exactly-once markers).

    ``position_delete_entries``: pre-written position-delete parquet
    files ``[(rel, record_count)]`` to commit IN THE SAME SNAPSHOT as
    the staged data files — the single-commit row UPDATE/MERGE shape
    (VERDICT r9 item 4: delete-then-append exposed an intermediate
    deleted-only state to changelog consumers).
    ``equality_delete_entries``: ``([(rel, record_count)], eq_ids)`` —
    equality-delete files in the same snapshot; sequence-number
    scoping (strictly-before) means they never touch the same-commit
    data files, which is exactly the Flink streaming-upsert commit
    shape. Either forces format v2 and an ``overwrite`` summary unless
    ``summary_operation`` overrides."""
    meta = plan["meta"]
    new_v, snap_id = plan["new_v"], plan["snap_id"]
    if branch is not None and meta is None:
        raise ValueError("branch write requires an existing table")
    # WAP: the snapshot's base — what an append builds on and what the
    # parent pointer records — is the branch head when writing to a
    # branch (fork from main head if the branch is new), else main
    base_sid = None
    if meta is not None:
        ref = (meta.get("refs") or {}).get(branch) if branch else None
        if ref is not None and ref.get("type") != "branch":
            raise ValueError(f"ref {branch!r} is a tag, not a branch")
        base_sid = (
            int(ref["snapshot-id"]) if ref is not None
            else meta.get("current-snapshot-id")
        )
    t_kind, t_param = plan["t_kind"], plan["t_param"]
    partition_col, pfield = plan["partition_col"], plan["pfield"]
    spec_evolved, prior_specs = plan["spec_evolved"], plan["prior_specs"]
    ice_fields, last_id = plan["ice_fields"], plan["last_id"]
    pf_meta, _pf_field_id = plan["pf_meta"], plan["pf_field_id"]

    # ---- data files (identity partitioning keeps columns IN the files).
    # One shuffle+write job for ALL partitions (a duplicated "_pk" dir
    # key so the identity column itself stays in the file content —
    # Spark's partitionBy strips the dir column) plus ONE grouped bounds
    # aggregate — never a per-partition driver loop (same batching as
    # deltalog._stage_partitioned; measured ~25% there).
    entries = []
    for rel, pv, bounds, n in staged:
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherit the new snapshot's
                "data_file": {
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "partition": {pfield: pv} if partition_col else {},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(path, rel)
                    ),
                    "bounds_json": bounds,
                },
            }
        )

    # carry forward prior live files on append — EXISTING entries keep
    # their ORIGINAL data sequence number explicitly (spec inheritance
    # rule), so older equality deletes still scope correctly around
    # them. Entries whose partition TUPLE SHAPE differs from the new
    # spec (spec evolution) cannot share the new manifest's Avro
    # partition record: they carry forward in their own manifests, one
    # per key set, with the schema reconstructed from the spec catalog.
    carried_rows = []
    if meta is not None and mode == "append":
        new_keys = frozenset([pfield]) if pfield else frozenset()
        groups: dict[frozenset, list] = {}
        for fentry in snapshot_files(path, snapshot_id=base_sid):
            ks = frozenset((fentry.get("partition") or {}).keys())
            e = {
                "status": 0,
                "snapshot_id": None,
                "sequence_number": fentry.pop("_seq", 0),
                "data_file": fentry,
            }
            if ks == new_keys:
                entries.append(e)
            else:
                groups.setdefault(ks, []).append(e)
        for ks, es in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
            pfm, sid = _pf_meta_for_keys(meta, ks)
            rel = f"metadata/manifest-{new_v:05d}-{uuid.uuid4().hex}.avro"
            write_avro_file(
                os.path.join(path, rel), _manifest_schema(pfm), es
            )
            carried_rows.append(
                {
                    "manifest_path": rel,
                    "manifest_length": os.path.getsize(
                        os.path.join(path, rel)
                    ),
                    "partition_spec_id": sid,
                    "added_snapshot_id": snap_id,
                    "content": 0,
                    "sequence_number": new_v,
                }
            )

    if spec_evolved and prior_specs:
        new_spec_id = max(sp["spec-id"] for sp in prior_specs) + 1
    elif meta is not None and prior_specs:
        # unchanged spec: new manifests are written under the table's
        # current DEFAULT spec id, not 0
        new_spec_id = (
            meta.get("default-spec-id")
            if meta.get("default-spec-id") is not None
            else prior_specs[-1]["spec-id"]
        )
    else:
        new_spec_id = 0
    man_rel = f"metadata/manifest-{new_v:05d}-{uuid.uuid4().hex}.avro"
    write_avro_file(
        os.path.join(path, man_rel), _manifest_schema(pf_meta), entries
    )
    mlist_rows = [
        {
            "manifest_path": man_rel,
            "manifest_length": os.path.getsize(os.path.join(path, man_rel)),
            "partition_spec_id": new_spec_id,
            "added_snapshot_id": snap_id,
            "content": 0,
            "sequence_number": new_v,
        }
    ] + carried_rows
    # append must keep prior DELETE manifests alive (with their original
    # sequence numbers) — dropping them would resurrect deleted rows;
    # overwrite starts the file set fresh, so deletes are retired with it
    if meta is not None and mode == "append":
        snap_prev = _select_snapshot(meta, base_sid, None)
        _, prior = read_avro_records(
            os.path.join(path, snap_prev["manifest-list"])
        )
        for m in prior:
            if m.get("content"):
                mlist_rows.append(
                    {
                        "manifest_path": m["manifest_path"],
                        "manifest_length": m["manifest_length"],
                        "partition_spec_id": m.get("partition_spec_id", 0),
                        "added_snapshot_id": m.get("added_snapshot_id"),
                        "content": m.get("content") or 0,
                        "sequence_number": m.get("sequence_number") or 0,
                    }
                )
    del_file_rows = [
        (del_rel, record_count, 1, None)
        for del_rel, record_count in (position_delete_entries or [])
    ]
    if equality_delete_entries:
        eq_entries, eq_ids = equality_delete_entries
        del_file_rows += [
            (del_rel, record_count, 2, list(eq_ids))
            for del_rel, record_count in eq_entries
        ]
    if del_file_rows:
        # same-snapshot row-level deletes: one content=1 (deletes)
        # manifest beside the data manifest — one atomic commit
        del_man_rel = (
            f"metadata/manifest-del-{new_v:05d}-{uuid.uuid4().hex}.avro"
        )
        write_avro_file(
            os.path.join(path, del_man_rel),
            _DELETE_MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "content": content,
                        "file_path": del_rel,
                        "file_format": "PARQUET",
                        "record_count": record_count,
                        "file_size_in_bytes": os.path.getsize(
                            os.path.join(path, del_rel)
                        ),
                        "equality_ids": eq,
                    },
                }
                for del_rel, record_count, content, eq in del_file_rows
            ],
        )
        mlist_rows.append(
            {
                "manifest_path": del_man_rel,
                "manifest_length": os.path.getsize(
                    os.path.join(path, del_man_rel)
                ),
                "partition_spec_id": 0,
                "added_snapshot_id": snap_id,
                "content": 1,
                "sequence_number": new_v,
            }
        )
    mlist_rel = f"metadata/snap-{snap_id}-{uuid.uuid4().hex}.avro"
    write_avro_file(
        os.path.join(path, mlist_rel), _MANIFEST_LIST_SCHEMA, mlist_rows
    )

    operation = summary_operation or (
        "overwrite" if del_file_rows else mode
    )
    snapshot = {
        "snapshot-id": snap_id,
        "timestamp-ms": commit_ts,
        "sequence-number": new_v,
        "manifest-list": mlist_rel,
        "summary": {"operation": operation, **(summary_extra or {})},
    }
    if base_sid is not None:
        # spec parent pointer — what fast_forward's ancestry walk needs
        snapshot["parent-snapshot-id"] = base_sid
    new_meta = {
        "format-version": (
            2 if del_file_rows
            else (meta or {}).get("format-version", 1)
        ),
        "table-uuid": (meta or {}).get("table-uuid", uuid.uuid4().hex),
        "location": path,
        "last-updated-ms": commit_ts,
        "last-column-id": last_id,
        "schema": {"type": "struct", "fields": ice_fields},
        "partition-specs": prior_specs + [
            {
                "spec-id": new_spec_id,
                "fields": (
                    [{
                        "name": pfield,
                        "transform": (
                            f"{t_kind}[{t_param}]" if t_param is not None
                            else t_kind
                        ),
                        "source-id": [f["id"] for f in ice_fields
                                      if f["name"] == partition_col][0],
                        # spec rule: partition field ids are unique
                        # across the table's spec history
                        "field-id": _pf_field_id,
                    }]
                    if partition_col else []
                ),
            }
        ] if (spec_evolved or not prior_specs) else prior_specs,
        "default-spec-id": new_spec_id if (
            spec_evolved or not prior_specs
        ) else (meta or {}).get(
            "default-spec-id",
            prior_specs[-1]["spec-id"] if prior_specs else 0,
        ),
        "current-snapshot-id": (
            # a branch write stages: main's pointer stays put
            meta["current-snapshot-id"] if branch is not None else snap_id
        ),
        "snapshots": ((meta or {}).get("snapshots") or []) + [snapshot],
    }
    # named refs survive data commits (tags stay pinned to their
    # snapshots); a branch write additionally advances its own head
    refs = dict((meta or {}).get("refs") or {})
    if branch is not None:
        refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
    if refs:
        new_meta["refs"] = refs
    _publish_metadata(path, new_v, new_meta)
    return snap_id


def delete_partitions(
    spark: SparkSession,
    path: str,
    partition_values: list,
    commit_ts: int = 0,
) -> int:
    """Metadata-only partition delete: a new snapshot whose manifest
    marks matching files DELETED and carries the rest as EXISTING."""
    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    specs = meta.get("partition-specs") or [{}]
    did = (meta.get("default-spec-id")
           if meta.get("default-spec-id") is not None
           else specs[-1].get("spec-id", 0))
    cur_spec = next(
        (sp for sp in specs if sp.get("spec-id", 0) == did), specs[0]
    )
    pcols = [f["name"] for f in cur_spec.get("fields", [])]
    if len(pcols) != 1:
        raise ValueError("delete_partitions needs one partition field")
    drop = set(partition_values)
    new_v = cur_v + 1
    snap_id = new_v
    entries = []          # entries shaped like the DEFAULT spec
    other_groups: dict[frozenset, list] = {}  # spec-evolved carryovers
    new_keys = frozenset(pcols)
    for fentry in snapshot_files(path):
        part = fentry.get("partition") or {}
        ks = frozenset(part.keys())
        # files of an OLDER spec lack the field: they cannot match a
        # value-level delete on the current spec and carry forward live
        dead = ks == new_keys and part.get(pcols[0]) in drop
        e = {
            "status": 2 if dead else 0,
            "snapshot_id": snap_id if dead else None,
            "sequence_number": fentry.pop("_seq", 0),
            "data_file": fentry,
        }
        if ks == new_keys:
            entries.append(e)
        else:
            other_groups.setdefault(ks, []).append(e)
    # Derive the partition's Avro type from the TABLE SCHEMA (spec
    # field source-id -> schema field id -> Iceberg type), never from a
    # sampled manifest entry — a null first entry or mixed entries would
    # mistype non-string partition values and crash the Avro encoder.
    pf_meta, _sid = _pf_meta_for_keys(meta, new_keys)
    man_rel = f"metadata/manifest-{new_v:05d}-{uuid.uuid4().hex}.avro"
    write_avro_file(
        os.path.join(path, man_rel), _manifest_schema(pf_meta), entries
    )
    mlist_rows = [
        {
            "manifest_path": man_rel,
            "manifest_length": os.path.getsize(os.path.join(path, man_rel)),
            "partition_spec_id": did,
            "added_snapshot_id": snap_id,
            "content": 0,
            "sequence_number": new_v,
        }
    ]
    # spec-evolved carryovers: older-shape entries live on, one
    # manifest per key set, under their own reconstructed schema
    for ks, es in sorted(other_groups.items(), key=lambda kv: sorted(kv[0])):
        pfm, sid = _pf_meta_for_keys(meta, ks)
        rel = f"metadata/manifest-{new_v:05d}-{uuid.uuid4().hex}.avro"
        write_avro_file(os.path.join(path, rel), _manifest_schema(pfm), es)
        mlist_rows.append(
            {
                "manifest_path": rel,
                "manifest_length": os.path.getsize(os.path.join(path, rel)),
                "partition_spec_id": sid,
                "added_snapshot_id": snap_id,
                "content": 0,
                "sequence_number": new_v,
            }
        )
    # keep row-delete manifests alive (original sequence numbers)
    snap_prev = _select_snapshot(meta, None, None)
    _, prior = read_avro_records(os.path.join(path, snap_prev["manifest-list"]))
    for m in prior:
        if m.get("content"):
            mlist_rows.append(
                {
                    "manifest_path": m["manifest_path"],
                    "manifest_length": m["manifest_length"],
                    "partition_spec_id": m.get("partition_spec_id", 0),
                    "added_snapshot_id": m.get("added_snapshot_id"),
                    "content": m.get("content") or 0,
                    "sequence_number": m.get("sequence_number") or 0,
                }
            )
    mlist_rel = f"metadata/snap-{snap_id}-{uuid.uuid4().hex}.avro"
    write_avro_file(
        os.path.join(path, mlist_rel), _MANIFEST_LIST_SCHEMA, mlist_rows
    )
    meta = dict(meta)
    snap_row = {
        "snapshot-id": snap_id,
        "timestamp-ms": commit_ts,
        "sequence-number": new_v,
        "manifest-list": mlist_rel,
        "summary": {"operation": "delete"},
    }
    if meta.get("current-snapshot-id") is not None:
        snap_row["parent-snapshot-id"] = meta["current-snapshot-id"]
    meta["snapshots"] = (meta.get("snapshots") or []) + [snap_row]
    meta["current-snapshot-id"] = snap_id
    meta["last-updated-ms"] = commit_ts
    _publish_metadata(path, new_v, meta)
    return snap_id


def delete_rows_iceberg(
    spark: SparkSession,
    path: str,
    deletes: dict[str, list[int]],
    commit_ts: int = 0,
) -> int:
    """v2 merge-on-read row delete: commit a POSITION-DELETE file (spec
    ``content=1``) marking 0-based row positions of live data files as
    deleted — no data file is rewritten.

    The delete file is parquet rows ``(file_path: string, pos: int64)``
    sorted by (path, position) per the spec. The pairs are already a
    driver-side dict, so the file is written on the driver with
    pyarrow — no Spark job, no Python worker — like the Delta twin
    :func:`.deltalog.add_deletion_vectors` writes its DV file
    (:func:`.dvbitmap.write_dv_file`); ``spark`` is unused. Positions
    computed on the executors go through
    :func:`delete_rows_where_iceberg` instead. The file's manifest
    entry goes into a ``content=1`` delete manifest, and the new
    snapshot's manifest list carries every prior manifest forward plus
    the new one — so earlier delete files keep applying (Iceberg
    deletes ACCUMULATE across snapshots; nothing to merge, unlike
    Delta's replace-the-DV rule). Upgrades the table to format-version
    2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    live = {f["file_path"] for f in snapshot_files(path)}
    for rel in deletes:
        if rel not in live:
            raise ValueError(f"{rel!r} is not a live data file of {path}")

    new_v = cur_v + 1
    snap_id = new_v
    pairs = sorted(
        (rel, int(p))
        for rel, poss in deletes.items()
        for p in poss
    )
    del_rel = f"data/delete-{new_v:05d}-{uuid.uuid4().hex}.parquet"
    dest = os.path.join(path, del_rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(
        pa.table(
            [pa.array([r for r, _ in pairs], pa.string()),
             pa.array([p for _, p in pairs], pa.int64())],
            names=["file_path", "pos"],
        ),
        dest,
    )

    _commit_delete_manifest(
        path, meta, new_v, [(del_rel, len(pairs))],
        content=1, equality_ids=None,
        commit_ts=commit_ts,
    )
    return snap_id


def delete_rows_where_iceberg(
    spark: SparkSession,
    path: str,
    predicate: str,
    commit_ts: int = 0,
    branch: str | None = None,
) -> int:
    """Predicate row DELETE on the v2 merge-on-read path — the Iceberg
    twin of :mod:`.deltalog`'s ``delete_rows_where``: one scan finds
    matched LIVE rows (prior position AND equality deletes applied, so
    already-dead rows are never re-emitted), and their
    ``(file_path, pos)`` pairs write DIRECTLY into a sorted
    position-delete parquet — the pairs never touch the driver, which
    makes this strictly more scalable than a bitmap-bounded DV path.
    Deletes accumulate across snapshots per the spec; the changelog
    scan emits these rows as row-exact 'delete' changes.

    ``branch``: run the DELETE against a WAP branch head (fork from
    main if the branch is new) and advance only ``refs[branch]`` — the
    audit-fix verb of the write-audit-publish flow: bad rows found
    during audit are removed from the STAGED state before
    :func:`fast_forward` publishes it, while main readers never see
    either the staged data or the fix."""
    from pyspark.sql import functions as F

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    base_sid = _branch_base(meta, branch)
    df = _scan_live_with_pos(spark, path, meta, snapshot_id=base_sid)
    if df is None:
        return _select_snapshot(meta, base_sid, None)["snapshot-id"]
    matched = df.filter(predicate).select("_if", "_ip")
    return _commit_position_deletes(
        spark, path, meta, cur_v, matched, commit_ts=commit_ts,
        branch=branch,
    )


def _branch_base(meta: dict, branch: str | None) -> int | None:
    """Base snapshot id a branch-targeted verb reads and parents from:
    the branch head when the ref exists, else the main head (the branch
    forks there). None when no branch requested (= main head for reads
    that default to current)."""
    if branch is None:
        return None
    r = (meta.get("refs") or {}).get(branch)
    if r is not None and r.get("type") != "branch":
        raise ValueError(f"ref {branch!r} is a tag, not a branch")
    return (
        int(r["snapshot-id"]) if r is not None
        else meta.get("current-snapshot-id")
    )


def _scan_live_with_pos(
    spark: SparkSession, path: str, meta: dict,
    snapshot_id: int | None = None,
):
    """LIVE logical rows with ``(_if, _ip)`` identity attached — the
    file basename and 0-based row position — prior position AND
    equality deletes applied (already-dead rows never re-emitted).
    Returns None for an empty table. The row-DML scan every
    merge-on-read write verb starts from. ``snapshot_id`` pins the
    scan to a non-current base (branch DML)."""
    from pyspark.sql import functions as F

    schema = _spark_schema(meta)
    files = snapshot_files(path, snapshot_id=snapshot_id)
    if not files:
        return None
    delete_files = snapshot_delete_files(path, snapshot_id=snapshot_id)
    pos_deletes = [f for f in delete_files if f.get("content") == 1]
    eq_deletes = [f for f in delete_files if f.get("content") == 2]

    df = spark.read.schema(schema).parquet(
        *[os.path.join(path, f["file_path"]) for f in files]
    ).select(
        "*",
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("_if"),
        F.col("_metadata.row_index").alias("_ip"),
    )
    if pos_deletes:
        dels = (
            spark.read.schema("file_path string, pos long")
            .parquet(*[os.path.join(path, f["file_path"])
                       for f in pos_deletes])
            .select(
                F.element_at(F.split("file_path", "/"), -1).alias("_if"),
                F.col("pos").alias("_ip"),
            )
        )
        df = df.join(dels, ["_if", "_ip"], "left_anti")
    if eq_deletes:
        df = _apply_equality_deletes(spark, path, df, files, eq_deletes,
                                     meta)
    return df


def _commit_position_deletes(
    spark: SparkSession,
    path: str,
    meta: dict,
    cur_v: int,
    matched,  # DataFrame[_if, _ip]
    *,
    commit_ts: int,
    rows_per_file: int | None = None,
    branch: str | None = None,
) -> int:
    """Write the matched ``(_if, _ip)`` identities straight into
    sorted position-delete parquet files (pairs never touch the
    driver; one range-partitioned sort task per file above
    ``_DELETE_ROWS_PER_FILE`` matches) and commit the content=1 delete
    manifest. No-op (current snapshot id) when nothing matched."""
    from pyspark.sql import functions as F

    base_sid = _branch_base(meta, branch)
    files = snapshot_files(path, snapshot_id=base_sid)
    # basename -> table-relative path (metadata-sized broadcast)
    rel_map = spark.createDataFrame(
        [(os.path.basename(f["file_path"]), f["file_path"])
         for f in files],
        "_if string, file_path string",
    )
    pairs = (
        matched.join(F.broadcast(rel_map), "_if")
        .select("file_path", F.col("_ip").alias("pos"))
    )
    n = pairs.count()
    if n == 0:
        return _select_snapshot(meta, base_sid, None)["snapshot-id"]
    new_v = cur_v + 1
    entries = _write_position_delete_files(
        spark, path, pairs, new_v, n, rows_per_file=rows_per_file
    )
    _commit_delete_manifest(
        path, meta, new_v, entries,
        content=1, equality_ids=None,
        commit_ts=commit_ts, branch=branch,
    )
    return new_v


# Target rows per position-delete file. A (file_path, pos) pair is tens
# of bytes on disk, so ~2M rows keeps each delete file in the tens of
# MB — and, more importantly, bounds the SORT: one task per delete file
# instead of one task sorting every matched position of the commit.
_DELETE_ROWS_PER_FILE = 2_000_000


def _write_position_delete_files(
    spark: SparkSession,
    path: str,
    pairs,  # DataFrame[file_path, pos]
    new_v: int,
    n: int,
    *,
    rows_per_file: int | None = None,
) -> list[tuple[str, int]]:
    """Write (file_path, pos) pairs as one or more spec-sorted
    position-delete parquet files; returns [(rel, record_count)].

    The spec requires each delete FILE sorted by (file_path, pos) but
    allows many files per commit, so large matches write through
    ``repartitionByRange(N, file_path, pos)`` +
    ``sortWithinPartitions`` — N parallel sort tasks, one spec-sorted
    file per range partition — instead of one task sorting every
    matched position (VERDICT r8 item 2: q394's 4.15x 10x-scale tail).
    Small matches keep the single-file fast path,
    ``repartition(1).sortWithinPartitions``: the same one sorting task
    and spec order as a global ``orderBy().coalesce(1)``, without the
    range-sample job that sort would run first."""
    import glob as _glob
    import shutil

    import pyarrow.parquet as _pqt

    per_file = rows_per_file or _DELETE_ROWS_PER_FILE
    n_files = max(1, -(-n // per_file))
    if n_files == 1:
        del_rel = f"data/delete-{new_v:05d}-{uuid.uuid4().hex}.parquet"
        _write_single_parquet(
            pairs.repartition(1).sortWithinPartitions("file_path", "pos"),
            os.path.join(path, del_rel),
        )
        return [(del_rel, n)]
    stage = os.path.join(path, f".del-stage-{uuid.uuid4().hex}")
    (
        pairs.repartitionByRange(n_files, "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite").parquet(stage)
    )
    entries: list[tuple[str, int]] = []
    for sp in sorted(_glob.glob(os.path.join(stage, "part-*.parquet"))):
        cnt = _pqt.ParquetFile(sp).metadata.num_rows
        if cnt == 0:
            continue  # range sampling can leave empty partitions
        del_rel = f"data/delete-{new_v:05d}-{uuid.uuid4().hex}.parquet"
        dest = os.path.join(path, del_rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(sp, dest)
        entries.append((del_rel, cnt))
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def delete_rows_equality(
    spark: SparkSession,
    path: str,
    values,
    cols: list[str],
    commit_ts: int = 0,
) -> int:
    """v2 merge-on-read EQUALITY delete: commit a delete file (spec
    ``content=2``) whose rows are (cols) tuples — any data row matching
    one of them (null-safe) is deleted, but ONLY in files committed
    strictly before this snapshot (data-sequence-number scoping). A row
    with the same key appended afterwards is reborn — the spec's
    upsert/CDC building block, and the shape engines like Flink use for
    streaming upserts into Iceberg.

    ``values``: list of dicts or a DataFrame holding exactly the
    equality columns. ``cols``: table columns forming the row identity
    (resolved to schema field ids for ``equality_ids``)."""
    from pyspark.sql import functions as F

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    schema_fields = _current_schema(meta).get("fields", [])
    name_to_id = {f["name"]: f["id"] for f in schema_fields}
    missing = [c for c in cols if c not in name_to_id]
    if missing:
        raise ValueError(f"not table columns: {missing}")
    eq_ids = [name_to_id[c] for c in cols]

    new_v = cur_v + 1
    snap_id = new_v
    if isinstance(values, DataFrame):
        del_df = values.select(*cols)
    else:
        spark_schema = _spark_schema(meta)
        from pyspark.sql.types import StructType

        sub = StructType([spark_schema[c] for c in cols])
        del_df = spark.createDataFrame(
            [tuple(v.get(c) for c in cols) for v in values], sub
        )
    del_rel = f"data/eq-delete-{new_v:05d}-{uuid.uuid4().hex}.parquet"
    n_rows = _write_single_parquet(
        del_df.coalesce(1), os.path.join(path, del_rel),
        F.count(F.lit(1)).alias("n"),
    )["n"]

    _commit_delete_manifest(
        path, meta, new_v, [(del_rel, n_rows)],
        content=2, equality_ids=eq_ids,
        commit_ts=commit_ts,
    )
    return snap_id


def upsert_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    commit_ts: int = 0,
) -> int:
    """Merge-on-read UPSERT in ONE snapshot: an equality-delete file on
    the key columns AND the full source rows commit atomically — the
    Flink/CDC streaming-upsert commit shape (no data file is ever
    rewritten; sequence-number scoping is STRICTLY-BEFORE, so the
    same-commit appended rows survive their own delete file and the
    re-appended keys are the live ones). Returns the snapshot id.
    Contrast with the copy-on-write MERGE in :mod:`.deltalog` — this is
    the write-cheap/read-deferred half of the same trade."""
    from pyspark.sql import functions as F

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    cols = [f.name for f in _spark_schema(meta).fields]
    missing = [c for c in cols if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing columns: {missing}")
    schema_fields = _current_schema(meta).get("fields", [])
    name_to_id = {f["name"]: f["id"] for f in schema_fields}
    bad = [c for c in on if c not in name_to_id]
    if bad:
        raise ValueError(f"not table columns: {bad}")

    plan = _plan_write_iceberg(
        path, source.select(*cols).schema, mode="append",
        partition_col=None, partition_transform="identity",
        merge_schema=False, allow_spec_evolution=False,
    )
    new_v = plan["new_v"]
    partition_col = plan["partition_col"]
    pexpr = (
        transform_expr(partition_col, plan["t_kind"], plan["t_param"],
                       plan["src_ice_type"])
        if partition_col else None
    )
    # the key file and the appended rows read ONE materialized copy of
    # the source, so they agree on its keys
    with _materialized(source.select(*cols)) as (src, _):
        del_rel = f"data/eq-delete-{new_v:05d}-{uuid.uuid4().hex}.parquet"
        n_keys = _write_single_parquet(
            src.select(*on).dropDuplicates(on).coalesce(1),
            os.path.join(path, del_rel),
            F.count(F.lit(1)).alias("n"),
        )["n"]
        staged = _stage_iceberg_files(
            spark, path, src.select(*plan["ordered"]), partition_col,
            pexpr=pexpr, pfield=plan["pfield"],
            pv_caster=(
                _pv_caster_ice(plan["res_ice_type"]) if partition_col
                else None
            ),
        )
    return _commit_planned_iceberg(
        path, plan, staged, mode="append", commit_ts=commit_ts,
        equality_delete_entries=(
            [(del_rel, n_keys)], [name_to_id[c] for c in on]
        ),
        summary_operation="overwrite",
    )


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    *,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    matched_condition: str | None = None,
    not_matched_condition: str | None = None,
    when_not_matched_by_source: str | None = None,
    by_source_condition: str | None = None,
    commit_ts: int = 0,
    branch: str | None = None,
) -> int:
    """MERGE INTO with clause semantics, merge-on-read — the Iceberg
    twin of :func:`..sources.deltalog.merge_delta` (same parameter
    surface, same logical change set), composed from the v2
    position-delete + append machinery: matched/by-source rows die as
    ``(file_path, pos)`` entries in a sorted position-delete parquet
    (positions flow executor-side, never through the driver), updated
    values and inserts append as new data files. No data file is ever
    rewritten — the write-cheap half of the trade
    :func:`..sources.deltalog.merge_delta`'s copy-on-write is the
    read-cheap half of.

    Clauses:
    - ``when_matched``: ``'update'`` (matched target rows are replaced
      by the full source row), ``'delete'``, or ``None``;
      ``matched_condition`` (SQL over ``t.<col>`` / ``s.<col>``) gates
      which matched rows the clause takes — rows failing it stay
      untouched.
    - ``when_not_matched``: ``'insert'`` or ``None``;
      ``not_matched_condition`` (SQL over source columns) gates which
      unmatched source rows insert.
    - ``when_not_matched_by_source``: ``'delete'`` or ``None`` —
      target rows with NO source key match die; ``by_source_condition``
      (SQL over target columns) gates them. This is the clause form
      engines use to expire rows absent from a refreshed source.

    Raises if any target row matches more than one source row while a
    matched clause exists (the nondeterministic-update error). Returns
    the final snapshot id (append snapshot when rows append, else the
    delete snapshot, else the current one).

    ``branch``: run the whole MERGE against a WAP branch head and
    advance only ``refs[branch]`` — with branch DELETE and UPDATE this
    makes every row-level verb available on staged state."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete", None):
        raise ValueError(f"unknown when_matched {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"unknown when_not_matched {when_not_matched!r}")
    if when_not_matched_by_source not in ("delete", None):
        raise ValueError(
            f"unknown when_not_matched_by_source "
            f"{when_not_matched_by_source!r}"
        )
    if when_matched is None and when_not_matched is None \
            and when_not_matched_by_source is None:
        raise ValueError("MERGE with no clauses is a no-op by definition")

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    schema = _spark_schema(meta)
    cols = [f.name for f in schema.fields]
    missing = [k for k in on if k not in cols]
    if missing:
        raise ValueError(f"key columns not in table schema: {missing}")
    need_full = when_matched == "update" or when_not_matched == "insert"
    src_missing = [c for c in (cols if need_full else on)
                   if c not in source.columns]
    if src_missing:
        raise ValueError(f"source is missing columns: {src_missing}")
    base_sid = _branch_base(meta, branch)
    cur_sid = _select_snapshot(meta, base_sid, None)["snapshot-id"]

    # every pass below reads ONE materialized copy of the source, freed
    # when the MERGE returns or raises
    src_cols = cols if need_full else on
    with _materialized(source.select(*src_cols)) as (src, _):
        live = _scan_live_with_pos(spark, path, meta, snapshot_id=base_sid)
        if live is None:
            # empty table: only the not-matched clause can fire
            if when_not_matched != "insert":
                return cur_sid
            ins = src.select(*cols)
            if not_matched_condition:
                ins = ins.filter(not_matched_condition)
            if ins.limit(1).count() == 0:
                return cur_sid
            return write_iceberg(spark, path, ins, commit_ts=commit_ts,
                                 branch=branch)

        # nondeterministic-update guard: a target row matching >1 source row
        if when_matched is not None:
            src_keys = src.groupBy(*on).agg(F.count("*").alias("_cnt"))
            mc = (
                live.join(src_keys, on, "inner")
                .agg(F.max("_cnt")).first()[0]
            )
            if mc is not None and mc > 1:
                raise ValueError(
                    "MERGE: a target row matches multiple source rows "
                    "(nondeterministic update/delete)"
                )

        joined = live.alias("t").join(src.alias("s"), on, "inner")
        if matched_condition:
            joined = joined.filter(F.expr(matched_condition))

        del_parts = []
        append_parts = []
        if when_matched in ("update", "delete"):
            del_parts.append(joined.select("_if", "_ip"))
        if when_matched == "update":
            append_parts.append(
                joined.select(
                    *[
                        F.col(c) if c in on else F.col(f"s.{c}")
                        for c in cols
                    ]
                )
            )
        if when_not_matched_by_source == "delete":
            bysrc = live.join(src.select(*on), on, "left_anti")
            if by_source_condition:
                bysrc = bysrc.filter(by_source_condition)
            del_parts.append(bysrc.select("_if", "_ip"))
        if when_not_matched == "insert":
            ins = src.join(live.select(*on), on, "left_anti")
            if not_matched_condition:
                ins = ins.filter(not_matched_condition)
            append_parts.append(ins.select(*cols))

        appended = None
        if append_parts:
            appended = append_parts[0]
            for p in append_parts[1:]:
                appended = appended.unionByName(p)
        dels = None
        if del_parts:
            dels = del_parts[0]
            for p in del_parts[1:]:
                dels = dels.unionByName(p)
        # ONE atomic commit for the whole MERGE (real Iceberg behavior —
        # no intermediate deleted-only snapshot; VERDICT r9 item 4's
        # update_rows_where fix, shared)
        return _single_commit_delete_append(
            spark, path, meta, cur_v, dels, appended, commit_ts=commit_ts,
            branch=branch,
        )


def _single_commit_delete_append(
    spark: SparkSession,
    path: str,
    meta: dict,
    cur_v: int,
    dels,      # DataFrame[_if, _ip] | None
    appended,  # DataFrame[table columns] | None
    *,
    commit_ts: int,
    branch: str | None = None,
) -> int:
    """Publish position deletes for ``dels`` and the ``appended`` rows
    as ONE snapshot — the commit tail shared by
    :func:`update_rows_where_iceberg` and :func:`merge_iceberg`.
    Nothing commits until every byte is durably staged (delete parquet
    + data parquet inside the table, unreferenced until the metadata
    publishes), so evaluation always reads the still-current snapshot
    and a crash leaves only orphans. Falls back to a delete-only or
    append-only snapshot when one half is empty; returns the current
    snapshot id when both are."""
    from pyspark.sql import functions as F

    base_sid = _branch_base(meta, branch)
    if appended is not None and appended.limit(1).count() == 0:
        appended = None
    if appended is None:
        if dels is None:
            return _select_snapshot(meta, base_sid, None)["snapshot-id"]
        return _commit_position_deletes(
            spark, path, meta, cur_v, dels, commit_ts=commit_ts,
            branch=branch,
        )
    plan = _plan_write_iceberg(
        path, appended.schema, mode="append", partition_col=None,
        partition_transform="identity", merge_schema=False,
        allow_spec_evolution=False,
    )
    new_v = plan["new_v"]
    del_entries: list[tuple[str, int]] = []
    if dels is not None:
        files = snapshot_files(path, snapshot_id=base_sid)
        rel_map = spark.createDataFrame(
            [(os.path.basename(f["file_path"]), f["file_path"])
             for f in files],
            "_if string, file_path string",
        )
        pairs = (
            dels.join(F.broadcast(rel_map), "_if")
            .select("file_path", F.col("_ip").alias("pos"))
        )
        n = pairs.count()
        if n:
            del_entries = _write_position_delete_files(
                spark, path, pairs, new_v, n
            )
    staged_df = appended.select(*plan["ordered"])
    partition_col = plan["partition_col"]
    pexpr = (
        transform_expr(partition_col, plan["t_kind"], plan["t_param"],
                       plan["src_ice_type"])
        if partition_col else None
    )
    staged = _stage_iceberg_files(
        spark, path, staged_df, partition_col,
        pexpr=pexpr, pfield=plan["pfield"],
        pv_caster=(
            _pv_caster_ice(plan["res_ice_type"]) if partition_col else None
        ),
    )
    return _commit_planned_iceberg(
        path, plan, staged, mode="append", commit_ts=commit_ts,
        position_delete_entries=del_entries or None,
        summary_operation="overwrite" if del_entries else None,
        branch=branch,
    )


def update_rows_where_iceberg(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
    commit_ts: int = 0,
    branch: str | None = None,
) -> int:
    """Predicate row UPDATE, merge-on-read, committed as ONE snapshot:
    position-delete files over the matched rows AND the data files
    holding their UPDATED values publish in a single atomic commit
    (operation ``overwrite``), like real Iceberg — changelog consumers
    never observe an intermediate deleted-only state (VERDICT r9
    item 4; previously this was a delete snapshot followed by an append
    snapshot). Position deletes name exact files, so the same-snapshot
    appended rows are untouched by them.

    Staging is DURABLE: updated rows write to parquet inside the table
    before the commit (unreferenced until the metadata publishes —
    a crash leaves only orphans for ``remove_orphan_files``), not a
    ``localCheckpoint`` whose executor-memory blocks an executor loss
    would forfeit mid-commit.

    ``assignments``: column -> SQL expression. Returns the snapshot id;
    a no-match update is a no-op. The changelog surfaces this as
    row-exact delete + insert at ONE snapshot — Iceberg's changelog
    has no pre/post pairing concept (that is Delta CDF's extra; the
    logical change set is identical).

    ``branch``: run the UPDATE against a WAP branch head and advance
    only ``refs[branch]`` — with branch DELETE, the complete audit-fix
    surface of the write-audit-publish flow."""
    from pyspark.sql import functions as F

    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    schema = _spark_schema(meta)
    cols = [f.name for f in schema.fields]
    bad = [c for c in assignments if c not in cols]
    if bad:
        raise ValueError(f"assignments target unknown columns: {bad}")

    base_sid = _branch_base(meta, branch)
    df = _scan_live_with_pos(spark, path, meta, snapshot_id=base_sid)
    matched = df.filter(predicate) if df is not None else None
    if matched is None or matched.limit(1).count() == 0:
        return _select_snapshot(meta, base_sid, None)["snapshot-id"]

    updated = matched
    for c, expr in assignments.items():
        updated = updated.withColumn(c, F.expr(expr))
    return _single_commit_delete_append(
        spark, path, meta, cur_v,
        matched.select("_if", "_ip"), updated.select(*cols),
        commit_ts=commit_ts, branch=branch,
    )


def _commit_delete_manifest(
    path: str,
    meta: dict,
    new_v: int,
    entries: list[tuple[str, int]],  # [(del_rel, record_count)]
    *,
    content: int,
    equality_ids: list[int] | None,
    commit_ts: int,
    branch: str | None = None,
) -> None:
    """Shared commit tail for row-delete snapshots (position and
    equality): write the content=1 delete manifest (one entry per
    delete file — the spec allows many per commit), carry every prior
    manifest forward WITH its original sequence number, stamp the new
    snapshot's sequence number, upgrade to format-version 2."""
    snap_id = new_v
    man_rel = f"metadata/manifest-del-{new_v:05d}-{uuid.uuid4().hex}.avro"
    write_avro_file(
        os.path.join(path, man_rel),
        _DELETE_MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": snap_id,
                "data_file": {
                    "content": content,
                    "file_path": del_rel,
                    "file_format": "PARQUET",
                    "record_count": record_count,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(path, del_rel)
                    ),
                    "equality_ids": equality_ids,
                },
            }
            for del_rel, record_count in entries
        ],
    )

    # carry every prior manifest forward + append the delete manifest
    base_sid = _branch_base(meta, branch)
    snap = _select_snapshot(meta, base_sid, None)
    _, prior_manifests = read_avro_records(
        os.path.join(path, snap["manifest-list"])
    )
    mlist_rel = f"metadata/snap-{snap_id}-{uuid.uuid4().hex}.avro"
    rows = [
        {
            "manifest_path": m["manifest_path"],
            "manifest_length": m["manifest_length"],
            "partition_spec_id": m.get("partition_spec_id", 0),
            "added_snapshot_id": m.get("added_snapshot_id"),
            "content": m.get("content") or 0,
            "sequence_number": m.get("sequence_number") or 0,
        }
        for m in prior_manifests
    ] + [
        {
            "manifest_path": man_rel,
            "manifest_length": os.path.getsize(os.path.join(path, man_rel)),
            "partition_spec_id": 0,
            "added_snapshot_id": snap_id,
            "content": 1,
            "sequence_number": new_v,
        }
    ]
    write_avro_file(os.path.join(path, mlist_rel), _MANIFEST_LIST_SCHEMA, rows)

    meta = dict(meta)
    meta["format-version"] = 2
    snap_row = {
        "snapshot-id": snap_id,
        "timestamp-ms": commit_ts,
        "sequence-number": new_v,
        "manifest-list": mlist_rel,
        "summary": {"operation": "delete"},
    }
    parent = base_sid if branch is not None else meta.get(
        "current-snapshot-id"
    )
    if parent is not None:
        snap_row["parent-snapshot-id"] = parent
    meta["snapshots"] = (meta.get("snapshots") or []) + [snap_row]
    if branch is not None:
        refs = dict(meta.get("refs") or {})
        refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
        meta["refs"] = refs
    else:
        meta["current-snapshot-id"] = snap_id
    meta["last-updated-ms"] = commit_ts
    _publish_metadata(path, new_v, meta)


def _manifest_curve_bounds(
    files: list[dict], cols: list[str], schema
) -> dict | None:
    """Exact ``{col: (mn, mx)}`` from the manifests' per-file
    ``bounds_json`` — zero jobs, replacing ``with_curve_key``'s min/max
    aggregate (the write that staged each file already computed these).
    None (fall back to the scan) unless provably identical: integral
    columns only (monotone cast to double), every non-empty file
    carrying integer bounds for the column (a ``[null, null]`` entry
    means the file is all-null there and contributes nothing, exactly
    like F.min/F.max); callers must ALSO verify no row-level deletes
    exist (bounds cover physical rows)."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    itypes = (ByteType, ShortType, IntegerType, LongType)
    fmap = {f.name: f for f in schema.fields}
    for c in cols:
        f = fmap.get(c)
        if f is None or not isinstance(f.dataType, itypes):
            return None
    lo: dict = {c: None for c in cols}
    hi: dict = {c: None for c in cols}
    for fe in files:
        if not fe.get("record_count"):
            continue
        b = fe.get("bounds_json")
        if not b:
            return None
        try:
            bd = json.loads(b)
        except ValueError:
            return None
        for c in cols:
            if c not in bd:
                return None  # renamed column / external writer
            mn, mx = bd[c]
            if mn is None and mx is None:
                continue  # all-null in this file
            if type(mn) is not int or type(mx) is not int:
                return None
            lo[c] = mn if lo[c] is None else min(lo[c], mn)
            hi[c] = mx if hi[c] is None else max(hi[c], mx)
    if any(lo[c] is None or hi[c] is None for c in cols):
        return None
    return {c: (lo[c], hi[c]) for c in cols}


def rewrite_data_files(
    spark: SparkSession,
    path: str,
    *,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
    commit_ts: int = 0,
    order: int = 16,
) -> int:
    """Iceberg's ``rewrite_data_files`` (compaction): rewrite the LIVE
    logical rows — position and equality deletes MATERIALIZED into the
    new files — as one overwrite snapshot, retiring every delete
    manifest with the old file set (merge-on-read debt paid down, the
    maintenance job every MOR table needs). Logical content is
    unchanged; prior snapshots still time-travel (old files are not
    deleted — that is :func:`expire_snapshots`'s job).

    ``sort_by``: optional clustering columns — rows are range-
    partitioned and sorted on them before staging (Iceberg sort-order
    style), so per-file min/max bounds turn tight and
    ``stats_filter`` pruning starts working on those columns.
    ``n_files`` sizes that range split (defaults to the shuffle
    parallelism). Partitioned tables keep their spec (the writer
    restages per partition value).

    ``zorder_by``: cluster along a space-filling curve over 1-4
    columns instead (Delta ``OPTIMIZE ZORDER``'s twin — the same
    shared curve key: Hilbert for two columns, bit-interleaved
    Z-curve for three/four), so every rewritten file covers a compact
    k-D box and ``stats_filter`` prunes on ANY subset of the curve
    columns, where ``sort_by`` only prunes its leading column.
    Unpartitioned tables only (a hidden-partition restage would
    re-shuffle away the curve split); mutually exclusive with
    ``sort_by``. Same scale shape: one min/max aggregate, one range
    shuffle on the curve index, one staged write."""
    from pyspark.sql import functions as F

    if sort_by and zorder_by:
        raise ValueError("pass sort_by OR zorder_by, not both")
    meta = _load_metadata(path)
    live = read_iceberg(spark, path)  # all row-level deletes applied
    n = n_files or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if zorder_by:
        from ..operators.zorder import with_curve_key

        missing = [c for c in zorder_by if c not in live.columns]
        if missing:
            raise ValueError(f"zorder_by columns not in table: {missing}")
        default_spec = next(
            (sp for sp in (meta.get("partition-specs") or [])
             if sp.get("spec-id") == (meta.get("default-spec-id") or 0)),
            {},
        )
        if default_spec.get("fields"):
            raise ValueError(
                "zorder_by supports unpartitioned tables only (the "
                "partition restage would re-shuffle away the curve split)"
            )
        # curve-scaling bounds from the manifests' per-file stats when
        # provably identical to the scan aggregate (no row-level
        # deletes: bounds cover physical rows) — one full-input job
        # removed. One manifest-list read, reusing the already-loaded
        # metadata; any planning surprise falls back to the aggregate.
        bounds = None
        try:
            snap0 = _select_snapshot(meta, None, None)
            _, mans = read_avro_records(
                os.path.join(path, snap0["manifest-list"])
            )
            if not any(m.get("content") for m in mans):  # no delete manifests
                entries: list[dict] = []
                for m in mans:
                    _, es = read_avro_records(
                        os.path.join(path, m["manifest_path"])
                    )
                    entries += [
                        e["data_file"] for e in es if e["status"] != 2
                    ]
                bounds = _manifest_curve_bounds(
                    entries, zorder_by, live.schema
                )
        except Exception:
            bounds = None
        live = (
            with_curve_key(
                live, zorder_by, order=order, out_col="_zd", bounds=bounds
            )
            .repartitionByRange(n, "_zd")
            .sortWithinPartitions("_zd")
            .drop("_zd")
        )
    elif sort_by:
        missing = [c for c in sort_by if c not in live.columns]
        if missing:
            raise ValueError(f"sort_by columns not in table: {missing}")
        live = live.repartitionByRange(
            n, *[F.col(c) for c in sort_by]
        ).sortWithinPartitions(*sort_by)
    return write_iceberg(
        spark, path, live, mode="overwrite", commit_ts=commit_ts,
        preserve_layout=bool(sort_by or zorder_by),
    )


def rollback_iceberg(path: str, snapshot_id: int, commit_ts: int = 0) -> int:
    """``rollback_to_snapshot``: make an EXISTING snapshot current again
    by writing new table metadata that points at it — Iceberg's rollback
    is purely a metadata swing (the snapshot log keeps every snapshot;
    no file is touched, and rolling forward again is equally cheap)."""
    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots") or []
    ):
        raise ValueError(f"no snapshot {snapshot_id} in {path}")
    new_v = cur_v + 1
    meta = dict(meta)
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = commit_ts
    _publish_metadata(path, new_v, meta)
    return new_v


def set_ref(
    path: str,
    name: str,
    snapshot_id: int | None = None,
    *,
    kind: str = "tag",
    commit_ts: int = 0,
) -> int:
    """Named REF (spec v2 ``refs`` map): pin ``name`` to a snapshot as
    a ``tag`` (immutable bookmark — 'the snapshot we trained v3 on') or
    ``branch`` head. Defaults to the current snapshot. Refs survive
    :func:`expire_snapshots` (their snapshots are always retained) and
    resolve in :func:`read_iceberg` via ``ref=``."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"unknown ref kind {kind!r}")
    cur_v = _current_version(path)
    meta = dict(_load_metadata(path, cur_v))
    sid = (
        snapshot_id if snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    if not any(
        sn["snapshot-id"] == sid for sn in meta.get("snapshots") or []
    ):
        raise ValueError(f"no snapshot {sid} in {path}")
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": sid, "type": kind}
    meta["refs"] = refs
    meta["last-updated-ms"] = commit_ts
    new_v = cur_v + 1
    _publish_metadata(path, new_v, meta)
    return sid


def drop_ref(path: str, name: str, commit_ts: int = 0) -> None:
    cur_v = _current_version(path)
    meta = dict(_load_metadata(path, cur_v))
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"no ref {name!r} in {path}")
    del refs[name]
    meta["refs"] = refs
    meta["last-updated-ms"] = commit_ts
    _publish_metadata(path, cur_v + 1, meta)


def resolve_ref(path: str, name: str) -> int:
    meta = _load_metadata(path)
    r = (meta.get("refs") or {}).get(name)
    if not r:
        raise ValueError(f"no ref {name!r} in {path}")
    return int(r["snapshot-id"])


def fast_forward(
    path: str, branch: str, *, drop: bool = False, commit_ts: int = 0
) -> int:
    """Publish a WAP branch: fast-forward the main table pointer
    (``current-snapshot-id``) to the branch head. Refuses unless main's
    current head is an ANCESTOR of the branch head (walked via the
    ``parent-snapshot-id`` chain branch commits record) — if main moved
    since the branch forked, the staged work must be redone on a fresh
    branch, exactly like Iceberg's ``fast_forward`` procedure. Already
    published (head == branch head) is a no-op. ``drop`` removes the
    branch ref after publishing. Returns the published snapshot id."""
    cur_v = _current_version(path)
    meta = dict(_load_metadata(path, cur_v))
    refs = dict(meta.get("refs") or {})
    r = refs.get(branch)
    if not r:
        raise ValueError(f"no ref {branch!r} in {path}")
    if r.get("type") != "branch":
        raise ValueError(f"ref {branch!r} is a tag, not a branch")
    head = int(r["snapshot-id"])
    main = meta.get("current-snapshot-id")
    if main != head:
        by_id = {
            sn["snapshot-id"]: sn for sn in meta.get("snapshots") or []
        }
        anc = by_id.get(head, {}).get("parent-snapshot-id")
        while anc is not None and anc != main:
            anc = by_id.get(anc, {}).get("parent-snapshot-id")
        if anc != main:
            raise ValueError(
                f"main head {main} is not an ancestor of branch "
                f"{branch!r} head {head}: not a fast-forward"
            )
        meta["current-snapshot-id"] = head
    if drop:
        del refs[branch]
        meta["refs"] = refs
    meta["last-updated-ms"] = commit_ts
    _publish_metadata(path, cur_v + 1, meta)
    return head


def expire_snapshots(
    spark: SparkSession,
    path: str,
    *,
    keep: int = 1,
    dry_run: bool = False,
) -> list[str]:
    """Iceberg's ``expireSnapshots``: drop all but the newest ``keep``
    snapshots from table metadata and physically delete data files only
    THEY referenced (files shared with surviving snapshots are kept).
    Manifests of expired snapshots are deleted too; the metadata JSON
    history shrinks accordingly. Returns deleted relative paths."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    cur_v = _current_version(path)
    meta = _load_metadata(path, cur_v)
    snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["timestamp-ms"])
    if len(snaps) <= keep:
        return []
    keep_snaps = snaps[-keep:]
    drop_snaps = snaps[:-keep]
    # The snapshot current-snapshot-id references must ALWAYS survive —
    # after rollback_iceberg (or non-monotonic commit_ts) the current
    # snapshot need not be the newest by timestamp, and expiring it would
    # delete data files the table still points at (dangling pointer +
    # data loss on the very next read).
    cur_sid = meta.get("current-snapshot-id")
    pinned = {cur_sid} if cur_sid is not None else set()
    # named refs pin their snapshots too — expiring a tagged snapshot
    # would dangle the ref exactly like the current-pointer case
    pinned |= {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    rescued_ids = pinned - {s["snapshot-id"] for s in keep_snaps}
    if rescued_ids:
        rescued = [s for s in drop_snaps if s["snapshot-id"] in rescued_ids]
        keep_snaps = sorted(
            keep_snaps + rescued, key=lambda s: s["timestamp-ms"]
        )
        drop_snaps = [
            s for s in drop_snaps if s["snapshot-id"] not in rescued_ids
        ]
        if not drop_snaps:
            return []

    def files_of(s):
        out = set()
        _, manifests = read_avro_records(os.path.join(path, s["manifest-list"]))
        for m in manifests:
            _, entries = read_avro_records(
                os.path.join(path, m["manifest_path"])
            )
            for e in entries:
                if e["status"] != 2:
                    out.add(e["data_file"]["file_path"])
        return out

    kept_files = set()
    for s in keep_snaps:
        kept_files |= files_of(s)
    doomed_data = set()
    doomed_meta = []
    for s in drop_snaps:
        doomed_data |= files_of(s) - kept_files
        doomed_meta.append(s["manifest-list"])
        _, manifests = read_avro_records(os.path.join(path, s["manifest-list"]))
        doomed_meta.extend(m["manifest_path"] for m in manifests)
    # manifests shared with kept snapshots must survive
    kept_meta = set()
    for s in keep_snaps:
        kept_meta.add(s["manifest-list"])
        _, manifests = read_avro_records(os.path.join(path, s["manifest-list"]))
        kept_meta.update(m["manifest_path"] for m in manifests)
    doomed_meta = [m for m in doomed_meta if m not in kept_meta]

    doomed = sorted(doomed_data) + sorted(set(doomed_meta))
    if not dry_run:
        for rel in doomed:
            fp = os.path.join(path, rel)
            if os.path.exists(fp):
                os.remove(fp)
        new_v = cur_v + 1
        meta = dict(meta)
        meta["snapshots"] = keep_snaps
        _publish_metadata(path, new_v, meta)
    return doomed


def remove_orphan_files(
    path: str,
    *,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    force: bool = False,
) -> list[str]:
    """Iceberg's ``remove_orphan_files`` maintenance action: physically
    delete files under the table location that NO snapshot references —
    the debris of crashed or aborted writes (staged parquet whose
    commit never published, manifests of a lost metadata race).

    Referenced = every data/delete file and manifest of EVERY snapshot
    in current metadata, every manifest list, every
    ``v*.metadata.json`` plus the version hint. ``older_than_ms``
    guards in-flight writers the way the real action's
    ``older_than`` does: files with mtime >= the cutoff are kept even
    when unreferenced (a concurrent writer may be about to commit
    them). When omitted it defaults to now - 3 days, matching real
    Iceberg's default grace for exactly that race — the
    ``iceberg_lite`` batch writer and stream sink both stage parquet
    under ``data/`` BEFORE the metadata publish, so an uncutoffed sweep
    would eat a concurrent writer's staged files and corrupt its
    commit. ``force=True`` disables the age guard entirely (delete
    every unreferenced file regardless of mtime) — only safe when no
    writer can be in flight. Returns deleted relative paths
    (``dry_run`` lists only). Pure metadata + directory walk — no
    SparkSession."""
    if force:
        older_than_ms = None
    elif older_than_ms is None:
        older_than_ms = int((time.time() - 3 * 24 * 3600) * 1000)
    meta = _load_metadata(path)
    referenced: set[str] = {"metadata/version-hint.text"}
    md = _meta_dir(path)
    for f in os.listdir(md):
        if f.endswith(".metadata.json"):
            referenced.add(f"metadata/{f}")
    for s in meta.get("snapshots") or []:
        referenced.add(s["manifest-list"])
        _, manifests = read_avro_records(
            os.path.join(path, s["manifest-list"])
        )
        for m in manifests:
            referenced.add(m["manifest_path"])
            _, entries = read_avro_records(
                os.path.join(path, m["manifest_path"])
            )
            for e in entries:
                referenced.add(e["data_file"]["file_path"])

    doomed = []
    for sub in ("data", "metadata"):
        root = os.path.join(path, sub)
        if not os.path.isdir(root):
            continue
        for dirpath, _, files in os.walk(root):
            for f in files:
                fp = os.path.join(dirpath, f)
                rel = os.path.relpath(fp, path)
                if rel in referenced:
                    continue
                if older_than_ms is not None and \
                        os.path.getmtime(fp) * 1000 >= older_than_ms:
                    continue  # possibly in-flight: too young to judge
                doomed.append(rel)
    doomed.sort()
    if not dry_run:
        for rel in doomed:
            try:
                os.remove(os.path.join(path, rel))
            except OSError:
                pass
    return doomed


def expire_metadata_versions(path: str, keep: int = 5) -> list[str]:
    """Metadata-log retention (the spec's
    ``write.metadata.delete-after-commit`` behavior): delete
    ``v*.metadata.json`` files older than the newest ``keep`` versions.
    Snapshots/manifests/data are untouched — only superseded TABLE
    metadata documents go; time travel (snapshot-addressed) is
    unaffected, and every surviving metadata file still lists the full
    snapshot log."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    md = _meta_dir(path)
    versions = sorted(
        int(f[1:-len(".metadata.json")])
        for f in os.listdir(md)
        if f.startswith("v") and f.endswith(".metadata.json")
        and f[1:-len(".metadata.json")].isdigit()
    )
    cur = _current_version(path)
    doomed = [v for v in versions[:-keep] if v != cur]
    out = []
    for v in doomed:
        fp = os.path.join(md, f"v{v}.metadata.json")
        os.remove(fp)
        out.append(fp)
    return out


def _pv_caster(dtype):
    s = dtype.simpleString()
    if s in ("bigint", "int", "long", "integer"):
        return int
    if s in ("double", "float"):
        return float
    if s == "boolean":
        return lambda raw: raw == "true"
    return str


def _pv_caster_ice(ice_type: str | None):
    if ice_type in ("int", "long"):
        return int
    if ice_type in ("double", "float"):
        return float
    if ice_type == "boolean":
        return lambda raw: raw == "true"
    return str


def _stage_iceberg_files(spark, path, df, pcol, *, pexpr=None, pfield=None,
                         pv_caster=None, preserve_layout=False):
    """One-job staged write for all partitions; returns
    [(rel, partition_value, bounds_json, record_count)].

    ``pexpr``: the partition-key Column (the spec TRANSFORM of
    ``pcol``; identity when absent). Data files keep the SOURCE column
    physically (hidden partitioning — ``partitionBy`` strips only the
    duplicated ``_pk`` key); directory layout and manifest partition
    tuples carry the transformed value under ``pfield``."""
    import glob as _glob
    import shutil
    from urllib.parse import quote, unquote

    from pyspark.sql import functions as F

    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    observed = None
    if pcol:
        key = pexpr if pexpr is not None else F.col(pcol)
        (
            df.withColumn("_pk", key)
            .repartition(F.col("_pk"))
            .write.partitionBy("_pk")
            .mode("overwrite")
            .parquet(stage)
        )
        pattern = os.path.join(stage, "_pk=*", "part-*.parquet")
    elif preserve_layout:
        # keep the caller's partitioning (e.g. a compaction's range
        # split on the sort columns): one staged file per partition
        df.write.mode("overwrite").parquet(stage)
        pattern = os.path.join(stage, "part-*.parquet")
    else:
        # single staged file: global observe aggregates ARE the file's
        # bounds — fold the _batch_bounds re-read job into the write
        # itself (one job per commit instead of two; same Spark min/max
        # semantics over the same rows)
        from pyspark.sql import Observation

        num_str = [
            f.name for f in df.schema.fields
            if f.dataType.simpleString() in
            ("int", "bigint", "double", "float", "string")
        ]
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in num_str:
            aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
        obs = Observation()
        df.observe(obs, *aggs).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        row = obs.get
        observed = (
            json.dumps(
                {c: [row[f"mn_{c}"], row[f"mx_{c}"]] for c in num_str},
                default=str,
            ),
            int(row["_n"]),
        )
        pattern = os.path.join(stage, "part-*.parquet")
    staged_files = sorted(_glob.glob(pattern))
    bounds_by_file = (
        {staged_files[0]: observed}
        if observed is not None and len(staged_files) == 1
        else _batch_bounds(spark, staged_files, df.schema)
    )
    if pcol:
        caster = pv_caster or _pv_caster(df.schema[pcol].dataType)
        dirname = pfield or pcol
    else:
        caster = dirname = None
    out = []
    for sp in staged_files:
        if pcol:
            raw = os.path.basename(os.path.dirname(sp)).split("=", 1)[1]
            pv = (
                None if raw == "__HIVE_DEFAULT_PARTITION__"
                else caster(unquote(raw))
            )
            # URL-quote the value in the on-disk layout (ADVICE r8:
            # a string value with '/', '..' or '=' must not escape the
            # partition directory); manifests carry pv separately, so
            # reads never parse it back out of the path.
            pdir = (
                "__HIVE_DEFAULT_PARTITION__" if pv is None
                else quote(str(pv), safe="")
            )
            rel = f"data/{dirname}={pdir}/{uuid.uuid4().hex}.parquet"
        else:
            pv, rel = None, f"data/{uuid.uuid4().hex}.parquet"
        dest = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(sp, dest)
        bounds, n = bounds_by_file[sp]
        out.append((rel, pv, bounds, n))
    shutil.rmtree(stage, ignore_errors=True)
    return out


def _batch_bounds(spark, files: list[str], schema) -> dict:
    """Per-file (bounds_json, record_count) for many files in ONE
    grouped aggregate, keyed by input_file_name."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    if not files:
        return {}
    df = (
        spark.read.schema(schema)
        .parquet(*files)
        .withColumn("_f", F.input_file_name())
    )
    num_str = [
        f.name for f in schema.fields
        if f.dataType.simpleString() in
        ("int", "bigint", "double", "float", "string")
    ]
    aggs = [F.count("*").alias("_n")]
    for c in num_str:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    out = {}
    for r in df.groupBy("_f").agg(*aggs).collect():
        d = r.asDict()
        local = unquote(urlparse(d["_f"]).path)
        bounds = {c: [d[f"mn_{c}"], d[f"mx_{c}"]] for c in num_str}
        out[local] = (json.dumps(bounds, default=str), int(d["_n"]))
    return out


# ---------------------------------------------------------------------------
# metadata-only COUNT (beyond reference — manifests carry exact
# record_count per data file, so COUNT(*) needs no data IO)
# ---------------------------------------------------------------------------


def count_rows_iceberg(
    spark: SparkSession,
    path: str,
    *,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
) -> int:
    """Exact row count at a snapshot, from metadata wherever possible.

    - no live row-level deletes: pure manifest arithmetic — the sum of
      live data entries' ``record_count`` (zero data or delete IO).
    - position deletes live: manifest sum minus the distinct live
      (file, pos) pairs — read from the DELETE files only (the
      merge-on-read debt, orders of magnitude smaller than data; live
      data basenames broadcast, mirroring the read path's anti-join
      identity exactly, so dangling deletes never over-subtract).
    - equality deletes live: honest fallback to scanning — which rows
      an equality delete kills depends on data content and sequence
      scoping, not metadata.
    """
    from pyspark.sql import functions as F

    if ref is not None:
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError("pass ref OR snapshot_id/as_of_ms, not both")
        snapshot_id = resolve_ref(path, ref)
    files = snapshot_files(path, snapshot_id, as_of_ms)
    dels = snapshot_delete_files(path, snapshot_id, as_of_ms)
    total = sum(int(f.get("record_count") or 0) for f in files)
    if not dels:
        return total
    if any(d.get("content") == 2 for d in dels):
        return read_iceberg(
            spark, path, snapshot_id=snapshot_id, as_of_ms=as_of_ms
        ).count()
    live = {os.path.basename(f["file_path"]) for f in files}
    live_df = spark.createDataFrame(
        [(b,) for b in sorted(live)], "_if string"
    )
    n_deleted = (
        spark.read.schema("file_path string, pos long")
        .parquet(*[os.path.join(path, d["file_path"]) for d in dels])
        .select(
            F.element_at(F.split("file_path", "/"), -1).alias("_if"),
            F.col("pos").alias("_ip"),
        )
        .join(F.broadcast(live_df), "_if")
        .distinct()
        .count()
    )
    return total - n_deleted


def metadata_table(
    spark: SparkSession,
    path: str,
    kind: str,
    *,
    snapshot_id: int | None = None,
) -> "DataFrame":
    """Iceberg's inspection surface (``table$files`` / ``$snapshots`` /
    ``$refs`` / ``$manifests`` / ``$delete_files`` / ``$history``) as
    DataFrames — the metadata a maintenance job or a debugger queries
    without touching data files.

    All kinds assemble driver-side from the same metadata-sized
    structures read planning already walks (manifest lists + manifests;
    "SURVIVORS only reach the driver" does not apply — metadata tables
    ARE the manifest content); for many-manifest tables the executor-
    decoded :func:`snapshot_files_df_iceberg` remains the scan-planning
    path. ``history`` reports the MAIN lineage with an
    ``is_current_ancestor`` flag mirroring the spec table; ``snapshots``
    reports everything, staged WAP branches included.
    """
    import json as _json

    from pyspark.sql import functions as F  # noqa: F401

    meta = _load_metadata(path)
    if kind == "files" or kind == "delete_files":
        fetch = snapshot_files if kind == "files" else snapshot_delete_files
        rows = [
            (
                f["file_path"],
                _json.dumps(f.get("partition") or {}, sort_keys=True),
                int(f.get("record_count") or 0),
                int(f.get("file_size_in_bytes") or 0),
                int(f.get("_seq") or 0),
                int(f.get("content") or 0),
            )
            for f in fetch(path, snapshot_id)
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, partition_json string, record_count long, "
            "file_size_in_bytes long, sequence_number long, content int",
        )
    if kind == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                (
                    int(s["parent-snapshot-id"])
                    if s.get("parent-snapshot-id") is not None else None
                ),
                int(s["timestamp-ms"]),
                int(s.get("sequence-number") or 0),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
            )
            for s in meta.get("snapshots") or []
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, committed_at_ms long, "
            "sequence_number long, operation string, manifest_list string",
        )
    if kind == "history":
        main_ids = {s["snapshot-id"] for s in _main_lineage(meta)}
        rows = [
            (
                int(s["timestamp-ms"]),
                int(s["snapshot-id"]),
                (
                    int(s["parent-snapshot-id"])
                    if s.get("parent-snapshot-id") is not None else None
                ),
                s["snapshot-id"] in main_ids,
            )
            for s in meta.get("snapshots") or []
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )
    if kind == "refs":
        rows = [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    if kind == "manifests":
        snap = _select_snapshot(meta, snapshot_id, None)
        _, manifests = read_avro_records(
            os.path.join(path, snap["manifest-list"])
        )
        rows = [
            (
                m["manifest_path"],
                int(m.get("manifest_length") or 0),
                int(m.get("partition_spec_id") or 0),
                int(m.get("content") or 0),
                (
                    int(m["added_snapshot_id"])
                    if m.get("added_snapshot_id") is not None else None
                ),
                int(m.get("sequence_number") or 0),
            )
            for m in manifests
        ]
        return spark.createDataFrame(
            rows,
            "path string, length long, partition_spec_id int, content int, "
            "added_snapshot_id long, sequence_number long",
        )
    raise ValueError(
        f"unknown metadata table {kind!r}: pick files / delete_files / "
        "snapshots / history / refs / manifests"
    )
