"""Delta -> Iceberg metadata mirror (the UniForm shape, beyond
reference): ONE physical copy of the data, readable through BOTH
formats.

``mirror_to_iceberg`` translates the Delta table's current state into
an Iceberg snapshot IN THE SAME DIRECTORY — Delta's log lives in
``_delta_log/``, the mirrored Iceberg metadata in ``metadata/``; the
parquet data files are shared byte-for-byte, never copied or
rewritten. After a mirror call, ``read_iceberg(path)`` and
``read_delta(path)`` return the same logical table, and every Iceberg
surface (time travel across mirror points, ``snapshot_files``,
``count_rows_iceberg``, the ``iceberg_lite`` stream source) works
against data written by Delta.

Beyond real UniForm: live DELETION VECTORS are converted — each DV's
roaring bitmap expands (distributed, ``mapInPandas``; a DV is KB-scale
and its expansion is bounded by that file's deleted-row count) into
spec-sorted Iceberg position-delete files committed in the SAME
snapshot, so merge-on-read Delta state mirrors exactly. Databricks'
UniForm simply refuses DV tables.

Scale shape: the mirror is metadata work plus one grouped bounds
aggregate over the live files (``_batch_bounds`` — one job, one
collect of file-count-sized rows) and one distributed DV expansion;
no data file is read row-by-row, none is rewritten.

Guards (honest v1 limits):
- partitioned Delta tables are refused — Delta stores partition values
  in directory paths, not file content, and the ``iceberg_lite``
  reader resolves columns from file content;
- ``delta.columnMapping.mode != 'none'`` is refused — mirrored readers
  resolve by physical parquet names;
- don't run :func:`..iceberg.remove_orphan_files` against a mirrored
  path: the Iceberg view cannot see files only Delta's history
  references.

Each call writes one Iceberg snapshot describing Delta's CURRENT
state (summary carries ``delta-mirror-version``); repeated calls after
Delta commits produce an Iceberg history whose time travel follows the
mirror points.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .deltalog import _dv_positions_df, load_snapshot
from .iceberg import (
    _batch_bounds,
    _commit_planned_iceberg,
    _plan_write_iceberg,
    _write_position_delete_files,
)


def mirror_to_iceberg(
    spark: SparkSession,
    path: str,
    *,
    commit_ts: int = 0,
    incremental: bool = True,
) -> int:
    """Publish the Delta table's current state as an Iceberg snapshot
    over the SAME data files; returns the new snapshot id.

    ``incremental`` (default): when a prior mirror exists, Delta only
    GAINED files since (no removes), and the deletion-vector state is
    UNCHANGED (fingerprint recorded in each mirror snapshot's summary —
    prior converted deletes stay live, appends never carry DVs), the
    mirror commits an APPEND snapshot staging only the new files —
    prior manifests carry forward untouched, the Iceberg
    history stays clean, and the ``iceberg_lite`` STREAM source can
    tail the mirror points (plain-mode streaming accepts appends but
    refuses overwrites). Anything else — removals, DV changes, the
    first mirror — falls back to the full-state overwrite snapshot.
    A mirror with nothing new is a NO-OP (returns the current snapshot
    id, writes nothing)."""
    snap = load_snapshot(path)
    if snap.partition_columns:
        raise NotImplementedError(
            "mirror of partitioned Delta tables: partition values live "
            "in directory paths, not file content"
        )
    if snap.column_mapping_mode != "none":
        raise NotImplementedError(
            "mirror of columnMapping tables: mirrored readers resolve "
            "physical parquet names"
        )

    schema = snap.schema()
    adds = list(snap.adds.values())
    dv_adds = [a for a in adds if a.get("deletionVector")]

    # fingerprint of the CURRENT deletion-vector state — recorded in
    # every mirror snapshot's summary so a later mirror can tell
    # "appends only, deletes untouched" (incremental-safe) apart from
    # "DV state moved" (full re-mirror required)
    import hashlib as _hashlib

    dv_fp = _hashlib.sha256(
        repr(sorted(
            (
                a["path"],
                a["deletionVector"].get("pathOrInlineDv"),
                a["deletionVector"].get("offset"),
                a["deletionVector"].get("sizeInBytes"),
            )
            for a in dv_adds
        )).encode()
    ).hexdigest()[:16]

    mode = "overwrite"
    if incremental:
        from .iceberg import _load_metadata, snapshot_files

        try:
            prior_meta = _load_metadata(path)
            prior_live = {
                f["file_path"] for f in snapshot_files(path)
            }
            cur_id = prior_meta.get("current-snapshot-id")
            prior_summary = next(
                (
                    s.get("summary") or {}
                    for s in prior_meta.get("snapshots") or []
                    if s["snapshot-id"] == cur_id
                ),
                {},
            )
        except FileNotFoundError:
            prior_live, prior_summary = None, {}
        if (
            prior_live is not None
            and prior_summary.get("delta-mirror-dv-state") == dv_fp
            and prior_live <= {a["path"] for a in adds}
        ):
            new_rels = {a["path"] for a in adds} - prior_live
            if not new_rels:
                return int(prior_meta["current-snapshot-id"])
            mode = "append"
            adds = [a for a in adds if a["path"] in new_rels]
            # their deletes are already live on the Iceberg side —
            # appended files never carry DVs (a delete would have
            # moved the fingerprint)
            dv_adds = []

    plan = _plan_write_iceberg(
        path, schema, mode=mode, partition_col=None,
        partition_transform="identity", merge_schema=True,
        allow_spec_evolution=False,
    )
    new_v = plan["new_v"]

    # bounds from Delta's OWN per-file stats wherever present — the
    # mirror is then PURE metadata (zero data IO; the 100 TB shape).
    # Both sides render stats through the same json.dumps(default=str)
    # path, so the bounds_json the Iceberg stats_filter parses is
    # byte-compatible. Files without stats (foreign writers) fall back
    # to one grouped aggregate.
    num_str = {
        f.name for f in schema.fields
        if f.dataType.simpleString() in
        ("int", "bigint", "double", "float", "string")
    }
    import json as _json

    by_rel: dict[str, tuple[str, int]] = {}
    need_scan: list[str] = []
    for a in adds:
        st = _json.loads(a["stats"]) if a.get("stats") else {}
        n = st.get("numRecords")
        mn, mx = st.get("minValues") or {}, st.get("maxValues") or {}
        if n is None or not num_str <= (set(mn) & set(mx)):
            need_scan.append(a["path"])
            continue
        bounds = {c: [mn[c], mx[c]] for c in sorted(num_str)}
        by_rel[a["path"]] = (
            _json.dumps(bounds, default=str), int(n)
        )
    if need_scan:
        scanned = _batch_bounds(
            spark, [os.path.join(path, r) for r in need_scan], schema
        )
        for r in need_scan:
            by_rel[r] = scanned[os.path.join(path, r)]
    staged = [
        (rel, None, *by_rel[rel]) for rel in sorted(by_rel)
    ]

    # live deletion vectors -> same-snapshot position-delete files
    # (dv_adds is empty on the incremental append path by construction)
    del_entries = None
    if dv_adds:
        n_del = sum(
            int(a["deletionVector"].get("cardinality") or 0)
            for a in dv_adds
        )
        name_to_rel = spark.createDataFrame(
            [(os.path.basename(a["path"]), a["path"]) for a in dv_adds],
            "_dv_name string, file_path string",
        )
        pairs = (
            _dv_positions_df(spark, path, dv_adds)
            .join(F.broadcast(name_to_rel), "_dv_name")
            .select("file_path", F.col("_dv_pos").alias("pos"))
        )
        del_entries = _write_position_delete_files(
            spark, path, pairs, new_v, n_del
        )

    return _commit_planned_iceberg(
        path, plan, staged, mode=mode, commit_ts=commit_ts,
        position_delete_entries=del_entries,
        summary_extra={
            "delta-mirror-version": str(snap.version),
            "delta-mirror-dv-state": dv_fp,
        },
    )


def mirror_to_delta(
    spark: SparkSession,
    path: str,
    *,
    commit_ts: int = 0,
) -> int:
    """The reverse direction: publish the ICEBERG table's current state
    as a Delta commit over the SAME data files; returns the new Delta
    version. ``read_delta(path)`` then equals ``read_iceberg(path)``.

    Pure metadata from manifests (record_count + bounds_json become the
    add actions' stats — numRecords feeds :func:`..deltalog.
    count_rows_delta`, min/maxValues feed stats pruning); live POSITION
    DELETES convert into Delta deletion vectors (roaring-serialized per
    target file, one DV sidecar per mirror — the exact reverse of
    :func:`mirror_to_iceberg`'s DV expansion). The delete files read
    here are the merge-on-read debt: orders of magnitude smaller than
    data, and the only IO this function does.

    Guards: equality deletes are refused (which rows they kill depends
    on data content + sequence scoping — materialize first via
    :func:`..iceberg.rewrite_data_files`). Partitioned Iceberg tables
    mirror as UNPARTITIONED Delta (this engine's identity/transform
    partitioning keeps source columns in file content, so reads are
    exact; only Delta-side partition pruning is absent)."""
    import json as _json
    import uuid as _uuid

    from .deltalog import _list_commit_versions, _write_commit
    from .dvbitmap import (
        dv_file_name,
        encode_dv_path,
        serialize_rbm64,
        write_dv_file,
    )
    from .iceberg import (
        _load_metadata,
        _spark_schema,
        snapshot_delete_files,
        snapshot_files,
    )

    meta = _load_metadata(path)
    files = snapshot_files(path)
    dels = snapshot_delete_files(path)
    if any(d.get("content") == 2 for d in dels):
        raise NotImplementedError(
            "equality deletes cannot mirror without materializing; "
            "run rewrite_data_files first"
        )
    schema = _spark_schema(meta)

    # positions per target file (basename-keyed, like the read path);
    # delete files are small — this is the only IO
    dv_by_base: dict[str, list[int]] = {}
    if dels:
        pairs = (
            spark.read.schema("file_path string, pos long")
            .parquet(*[os.path.join(path, d["file_path"]) for d in dels])
            .select(
                F.element_at(F.split("file_path", "/"), -1).alias("b"),
                "pos",
            )
            .distinct()
            .collect()
        )
        for r in pairs:
            dv_by_base.setdefault(r["b"], []).append(int(r["pos"]))

    try:
        versions = _list_commit_versions(path)
        new_version = versions[-1] + 1
        from .deltalog import load_snapshot

        prior = load_snapshot(path, version=versions[-1])
        table_id = prior.metadata.get("id") or _uuid.uuid4().hex
        prior_adds = list(prior.adds)
    except FileNotFoundError:
        new_version, table_id, prior_adds = 0, _uuid.uuid4().hex, []

    feats = sorted({"deletionVectors"}) if dv_by_base else None
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": commit_ts,
                "operation": "WRITE",
                "operationParameters": {
                    "mode": "Overwrite",
                    "iceberg-mirror-snapshot": str(
                        meta.get("current-snapshot-id")
                    ),
                },
            }
        },
        {
            "protocol": (
                {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": feats,
                    "writerFeatures": feats,
                }
                if feats
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            )
        },
        {
            "metaData": {
                "id": table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": commit_ts,
            }
        },
    ]
    for rel in prior_adds:
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": commit_ts,
                    "dataChange": True,
                }
            }
        )

    dv_uuid = _uuid.uuid4()
    ordered = sorted(files, key=lambda f: f["file_path"])
    dv_rels = [
        f["file_path"] for f in ordered
        if os.path.basename(f["file_path"]) in dv_by_base
    ]
    frames = {}
    if dv_rels:
        blobs = [
            serialize_rbm64(
                sorted(set(dv_by_base[os.path.basename(r)]))
            )
            for r in dv_rels
        ]
        framing = write_dv_file(
            os.path.join(path, dv_file_name(dv_uuid)), blobs
        )
        frames = dict(zip(dv_rels, framing))

    for f in ordered:
        rel = f["file_path"]
        bounds = _json.loads(f.get("bounds_json") or "{}")
        stats = {
            "numRecords": int(f.get("record_count") or 0),
            "minValues": {c: v[0] for c, v in bounds.items()},
            "maxValues": {c: v[1] for c, v in bounds.items()},
        }
        add = {
            "path": rel,
            "partitionValues": {},
            "size": int(f.get("file_size_in_bytes") or 0),
            "modificationTime": commit_ts,
            "dataChange": True,
            "stats": _json.dumps(stats, default=str),
        }
        if rel in frames:
            poss = sorted(set(dv_by_base[os.path.basename(rel)]))
            add["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": encode_dv_path(dv_uuid),
                "offset": frames[rel]["offset"],
                "sizeInBytes": frames[rel]["sizeInBytes"],
                "cardinality": len(poss),
            }
        actions.append({"add": add})

    os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
    _write_commit(path, new_version, actions)
    return new_version
