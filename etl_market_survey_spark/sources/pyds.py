"""``delta_lite`` — a registerable Spark Python Data Source (the
Spark 4 ``pyspark.sql.datasource`` API) over the :mod:`.deltalog`
wire format, batch AND streaming:

    spark.dataSource.register(DeltaLiteDataSource)
    spark.read.format("delta_lite").load(path)                  # batch
    spark.readStream.format("delta_lite").load(path)            # stream

This is the most Spark-native integration of the Delta machinery: the
format string participates in normal reader resolution, partitions()
gives Spark one input partition per live data file (scheduling and
parallelism come from the engine, not from us), and the streaming
source exposes the commit log as exactly-once micro-batches keyed by
version offsets — Spark owns offset tracking in its checkpoint; the
stream reader plans ONE InputPartition per commit-range data file
(DataSourceStreamReader), so streaming scan work distributes across
executors exactly like the batch path — micro-batch rows never
materialize on the driver.

Everything here runs WITHOUT a SparkSession (DataSource objects are
pickled into Python workers): the log fold is :mod:`.deltalog`'s
SparkSession-free core (checkpoint via pyarrow + the JSON tail, so
tables whose old commits log cleanup deleted read like in
``read_delta``), parquet IO is pyarrow, deletion vectors decode with
the pure-Python roaring codec, and column mapping is an Arrow rename.

Semantics:
- batch: live adds at the current version; DVs applied; partition
  values attached as typed constants; column mapping translated;
  comparison filters PUSHED for file-level pruning (partition values
  exactly, data columns via the log's min/max stats — rows keep the
  Spark-side residual, the "partially pushed" contract).
- streaming: micro-batch (v_start, v_end] = the rows of dataChange
  ``add`` files of those commits — the append-stream contract of the
  real Delta source. A commit carrying dataChange removes (MERGE,
  DV delete, RESTORE) raises unless ``ignoreChanges=true``
  (re-emitting rewritten files, the documented real-source fallback).

Reference behavior source: SengerM/ETL_market_survey has no streaming
or lakehouse component; this is beyond-reference surface (SURVEY.md
§6) built on the public Delta PROTOCOL.md and the public PySpark
DataSource API.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .deltalog import (
    DeltaConcurrentWriteError,
    _commit_timestamp,
    _dv_location,
    _list_commit_versions,
    _log_dir,
    _read_actions,
    _version_at_timestamp,
    _write_commit,
    last_txn_version,
    load_snapshot,
)


def _columns(snap):
    """``(fields, phys, pcols, ids)`` of a snapshot: ``[(name, spark
    type json)]`` in schema order, logical -> physical names, the
    partition columns, and the field ids columns resolve by (None
    unless ``columnMapping.mode='id'``)."""
    fields = [
        (f.name, json.loads(f.dataType.json())) for f in snap.schema().fields
    ]
    return fields, snap.physical_names(), snap.partition_columns, \
        snap.read_ids()


def _current_snapshot(path: str):
    """The table's latest snapshot, or None when there is no table yet:
    no ``_delta_log``, or one without commits. Every other fold error
    propagates: taking a log that cannot be folded for "no table" would
    commit a fresh version 0 over the existing data."""
    if not os.path.isdir(_log_dir(path)) or not _list_commit_versions(path):
        return None
    return load_snapshot(path)


def _pa_type(spark_type_json):
    import pyarrow as pa

    m = {
        "long": pa.int64(), "integer": pa.int32(), "short": pa.int16(),
        "byte": pa.int8(), "string": pa.string(), "double": pa.float64(),
        "float": pa.float32(), "boolean": pa.bool_(), "date": pa.date32(),
        "timestamp": pa.timestamp("us"), "binary": pa.binary(),
    }
    if spark_type_json not in m:
        raise ValueError(f"unsupported type {spark_type_json!r}")
    return m[spark_type_json]


def _typed_partition_value(raw, spark_type_json):
    if raw is None:
        return None
    if spark_type_json in ("long", "integer", "short", "byte"):
        return int(raw)
    if spark_type_json in ("double", "float"):
        return float(raw)
    if spark_type_json == "boolean":
        return raw == "true"
    if spark_type_json == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    return raw


def _file_resolver(fpath: str, ids: dict | None, phys: dict):
    """Per-file physical-column resolver: ``columnMapping.mode='id'``
    matches by the ``PARQUET:field_id`` the file carries (physical name
    only as fallback for pre-id files); other modes use the physical
    name directly."""
    if not ids:
        return lambda n: phys[n]
    import pyarrow.parquet as pq

    id2name = {}
    for fld in pq.ParquetFile(fpath).schema_arrow:
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            id2name[int(fid)] = fld.name
    return lambda n: id2name.get(ids.get(n), phys[n])


class _FilePartition(InputPartition):
    def __init__(self, table_path, rel, partition_values, dv, fields, phys,
                 pcols, ids=None, split=None):
        self.table_path = table_path
        self.rel = rel
        self.partition_values = partition_values  # physical-keyed strings
        self.dv = dv  # deletionVector descriptor or None
        self.fields = fields  # [(name, spark_type_json)] in schema order
        self.phys = phys
        self.pcols = pcols
        self.ids = ids  # logical -> field id (mode 'id' only)
        # (i, n): this partition reads the i-th of n contiguous
        # ROW-GROUP chunks of the file — how a single huge file fans
        # out across tasks instead of bottlenecking one (planned from
        # the add action's numRecords stats; the task resolves chunk
        # boundaries from the footer it opens anyway)
        self.split = split


def _n_splits(add: dict, max_rows: int) -> int:
    """How many partitions a file should fan out to, from its add
    action's numRecords stats (1 when stats are absent)."""
    s = add.get("stats")
    if not s or max_rows <= 0:
        return 1
    try:
        n = int(json.loads(s).get("numRecords") or 0)
    except (TypeError, ValueError):
        return 1
    return max(1, -(-n // max_rows))


def _split_partitions(make, add, max_rows):
    """[make(split)] — one per row-group chunk of the file."""
    n = _n_splits(add, max_rows)
    if n == 1:
        return [make(None)]
    return [make((i, n)) for i in range(n)]


def _read_file_partition(p: _FilePartition):
    """One live data file -> one pyarrow RecordBatch stream in the
    LOGICAL schema (DV rows dropped, partition constants attached)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    fpath = os.path.join(p.table_path, p.rel)
    # schema evolution: files written before a merge_schema commit lack
    # the new physical columns — request only what the file has and
    # null-fill the rest (pq.read_table raises on missing columns)
    resolve = _file_resolver(fpath, getattr(p, "ids", None), p.phys)
    pf = pq.ParquetFile(fpath)
    have = set(pf.schema_arrow.names)
    want = [resolve(n) for n, _ in p.fields if n not in p.pcols]
    cols = [c for c in want if c in have]
    split = getattr(p, "split", None)
    row_offset = 0
    if split is None:
        tbl = pq.read_table(fpath, columns=cols)
    else:
        # contiguous row-group chunk i of n; boundaries from the footer
        # (already open), DV positions stay file-global via row_offset
        i, n = split
        n_rg = pf.metadata.num_row_groups
        lo = (n_rg * i) // n
        hi = (n_rg * (i + 1)) // n
        row_offset = sum(
            pf.metadata.row_group(g).num_rows for g in range(lo)
        )
        if lo >= hi:
            tbl = pf.schema_arrow.empty_table().select(cols)
        else:
            tbl = pf.read_row_groups(list(range(lo, hi)), columns=cols)
    if p.dv:
        from .dvbitmap import deserialize_rbm64, read_dv_blob

        dv_path, off, size = _dv_location(p.table_path, p.dv)
        dead = deserialize_rbm64(read_dv_blob(dv_path, off, size))
        mask = np.ones(tbl.num_rows, dtype=bool)
        dead_arr = np.asarray(dead, dtype=np.int64) - row_offset
        dead_arr = dead_arr[(dead_arr >= 0) & (dead_arr < tbl.num_rows)]
        mask[dead_arr] = False
        tbl = tbl.filter(pa.array(mask))
    arrays, names = [], []
    for name, tjson in p.fields:
        if name in p.pcols:
            raw = (p.partition_values or {}).get(p.phys[name])
            val = _typed_partition_value(raw, tjson)
            arrays.append(pa.array([val] * tbl.num_rows, type=_pa_type(tjson)))
        elif resolve(name) in tbl.column_names:
            arrays.append(
                tbl.column(resolve(name)).cast(_pa_type(tjson))
                .combine_chunks()
            )
        else:  # pre-evolution file: the column null-fills
            arrays.append(
                pa.array([None] * tbl.num_rows, type=_pa_type(tjson))
            )
        names.append(name)
    out = pa.table(dict(zip(names, arrays))).select(names)
    yield from out.to_batches(max_chunksize=1 << 16)


def _interval_disjoint(lo, hi, flt) -> bool:
    """True when a file's [lo, hi] column interval PROVABLY cannot
    satisfy the filter — the only case that prunes. None bounds or
    cross-type comparisons keep the file (conservative)."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
        LessThanOrEqual,
    )

    def cmp_ok(a, b):
        try:
            a < b  # noqa: B015 — probe comparability only
            return True
        except TypeError:
            return False

    v = getattr(flt, "value", None)
    if isinstance(flt, In):
        vals = [x for x in flt.value if x is not None]
        if not vals or lo is None or hi is None:
            return False
        if not all(cmp_ok(lo, x) for x in vals):
            return False
        return all(x < lo or x > hi for x in vals)
    if v is None or lo is None or hi is None or not cmp_ok(lo, v):
        return False
    if isinstance(flt, EqualTo):
        return v < lo or v > hi
    if isinstance(flt, GreaterThan):
        return hi <= v
    if isinstance(flt, GreaterThanOrEqual):
        return hi < v
    if isinstance(flt, LessThan):
        return lo >= v
    if isinstance(flt, LessThanOrEqual):
        return lo > v
    return False


class _DeltaLitePlainReader(DataSourceReader):
    """Pushdown-free batch reader — selected via
    ``.option("pushdown", "false")`` for sessions where Spark's
    ``spark.sql.python.filterPushdown.enabled`` is off (Spark rejects
    any reader that IMPLEMENTS pushFilters under that conf).
    :class:`_DeltaLiteReader` adds pushFilters and file pruning through
    ``_may_match``; both plan one partition per live file chunk."""

    def __init__(self, path: str, version: int | None,
                 max_rows: int = 2_000_000):
        self.path = path
        self.version = version
        self.max_rows = max_rows

    def _may_match(self, add, types, phys, pcols) -> bool:
        return True

    def partitions(self):
        snap = load_snapshot(self.path, self.version)
        snap.check_reader_support()
        fields, phys, pcols, ids = _columns(snap)
        types = dict(fields)
        return [
            p
            for rel, a in sorted(snap.adds.items())
            if self._may_match(a, types, phys, pcols)
            for p in _split_partitions(
                lambda s, rel=rel, a=a: _FilePartition(
                    self.path, rel, a.get("partitionValues"),
                    a.get("deletionVector"), fields, phys, pcols,
                    ids=ids, split=s,
                ),
                a, self.max_rows,
            )
        ]

    def read(self, partition):
        yield from _read_file_partition(partition)


class _DeltaLiteReader(_DeltaLitePlainReader):
    def __init__(self, path: str, version: int | None,
                 max_rows: int = 2_000_000):
        super().__init__(path, version, max_rows)
        self.pushed = []  # single-column comparison filters

    def pushFilters(self, filters):
        """FILE-level pruning (Spark 4.1 Python-source pushdown):
        comparison filters on a single column prune files by partition
        value (exact) or by the add entry's min/max stats (interval
        test) in partitions(). Every filter is also RETURNED, i.e. kept
        Spark-side — file pruning is coarse, rows still need the
        residual evaluation, which is exactly the "partially pushed"
        contract."""
        from pyspark.sql.datasource import (
            EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if isinstance(
                f, (EqualTo, In, GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual)
            ) and len(f.attribute) == 1:
                self.pushed.append(f)
            yield f

    def _may_match(self, add, types, phys, pcols) -> bool:
        from pyspark.sql.datasource import EqualTo, In

        stats = None
        if add.get("stats"):
            try:
                stats = json.loads(add["stats"])
            except (TypeError, ValueError):
                stats = None
        for flt in self.pushed:
            col = flt.attribute[0]
            if col not in types:
                continue
            pname = phys.get(col, col)
            if col in pcols:
                raw = (add.get("partitionValues") or {}).get(pname)
                val = _typed_partition_value(raw, types[col])
                if val is None:
                    # null partition satisfies no comparison filter
                    return False
                if isinstance(flt, EqualTo):
                    if val != flt.value:
                        return False
                elif isinstance(flt, In):
                    if val not in flt.value:
                        return False
                elif _interval_disjoint(val, val, flt):
                    return False
            elif stats:
                lo = (stats.get("minValues") or {}).get(pname)
                hi = (stats.get("maxValues") or {}).get(pname)
                if _interval_disjoint(lo, hi, flt):
                    return False
        return True


class _CdfPartition(InputPartition):
    """One change-feed unit: a data file read as insert/delete rows, a
    POSITION-subset of a file (deletion-vector delta), or a cdc sidecar
    file carrying its own ``_change_type`` column."""

    def __init__(self, kind, table_path, rel, partition_values, dv,
                 fields, phys, pcols, version, ts, positions=None,
                 ids=None):
        self.kind = kind  # 'insert' | 'delete' | 'cdc' | 'pos'
        self.table_path = table_path
        self.rel = rel
        self.partition_values = partition_values
        self.dv = dv
        self.fields = fields
        self.phys = phys
        self.pcols = pcols
        self.version = version
        self.ts = ts
        # for kind='pos': (change_type, [row indexes in the raw file])
        self.positions = positions
        self.ids = ids


def _read_cdf_partition(p: _CdfPartition):
    """Change rows of one partition in the LOGICAL schema + the three
    CDF meta columns (_change_type, _commit_version,
    _commit_timestamp)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def with_meta(tbl, change_types):
        n = tbl.num_rows
        cols = {name: tbl.column(name) for name in tbl.column_names}
        cols["_change_type"] = (
            change_types if not isinstance(change_types, str)
            else pa.array([change_types] * n, type=pa.string())
        )
        cols["_commit_version"] = pa.array([p.version] * n, type=pa.int64())
        cols["_commit_timestamp"] = pa.array([p.ts] * n, type=pa.int64())
        return pa.table(cols)

    if p.kind == "cdc":
        fpath = os.path.join(p.table_path, p.rel)
        resolve = _file_resolver(fpath, getattr(p, "ids", None), p.phys)
        raw = pq.read_table(fpath)
        arrays, names = [], []
        for name, tjson in p.fields:
            if name in p.pcols and resolve(name) not in raw.column_names:
                val = _typed_partition_value(
                    (p.partition_values or {}).get(p.phys[name]), tjson
                )
                arrays.append(
                    pa.array([val] * raw.num_rows, type=_pa_type(tjson))
                )
            else:
                arrays.append(
                    raw.column(resolve(name)).cast(_pa_type(tjson))
                    .combine_chunks()
                )
            names.append(name)
        tbl = pa.table(dict(zip(names, arrays))).select(names)
        ct = raw.column("_change_type").cast(pa.string()).combine_chunks()
        yield from with_meta(tbl, ct).to_batches(max_chunksize=1 << 16)
        return

    if p.kind == "pos":
        change_type, idx = p.positions
        fpath = os.path.join(p.table_path, p.rel)
        resolve = _file_resolver(fpath, getattr(p, "ids", None), p.phys)
        have = set(pq.ParquetFile(fpath).schema_arrow.names)
        want = [resolve(n) for n, _ in p.fields if n not in p.pcols]
        raw = pq.read_table(fpath, columns=[c for c in want if c in have])
        mask = np.zeros(raw.num_rows, dtype=bool)
        ia = np.asarray(sorted(idx), dtype=np.int64)
        mask[ia[ia < raw.num_rows]] = True
        raw = raw.filter(pa.array(mask))
        arrays, names = [], []
        for name, tjson in p.fields:
            if name in p.pcols:
                val = _typed_partition_value(
                    (p.partition_values or {}).get(p.phys[name]), tjson
                )
                arrays.append(
                    pa.array([val] * raw.num_rows, type=_pa_type(tjson))
                )
            elif resolve(name) in raw.column_names:
                arrays.append(
                    raw.column(resolve(name)).cast(_pa_type(tjson))
                    .combine_chunks()
                )
            else:
                arrays.append(
                    pa.array([None] * raw.num_rows, type=_pa_type(tjson))
                )
            names.append(name)
        tbl = pa.table(dict(zip(names, arrays))).select(names)
        yield from with_meta(tbl, change_type).to_batches(
            max_chunksize=1 << 16
        )
        return

    # 'insert' / 'delete': whole-file logical rows (DV applied)
    fp = _FilePartition(p.table_path, p.rel, p.partition_values, p.dv,
                        p.fields, p.phys, p.pcols,
                        ids=getattr(p, "ids", None))
    for batch in _read_file_partition(fp):
        yield from with_meta(
            pa.Table.from_batches([batch]), p.kind
        ).to_batches(max_chunksize=1 << 16)


class _DeltaLiteStreamReader(DataSourceStreamReader):
    """PARTITION-PLANNING stream reader (the scale path — VERDICT r6
    item 4): offsets are ``{"version": v}`` = 'everything up to and
    including v has been emitted'. Spark persists them in its streaming
    checkpoint; ``partitions(start, end)`` plans ONE InputPartition per
    dataChange add file of the commit range on the DRIVER (metadata
    only — no row ever touches the driver, unlike
    SimpleDataSourceStreamReader whose micro-batches materialize
    driver-side), and ``read`` opens each file in an EXECUTOR, exactly
    like the batch reader. Replays call partitions() with the same
    checkpointed bounds over the immutable log and plan identical
    partitions — the exactly-once contract."""

    def __init__(self, path: str, ignore_changes: bool,
                 starting_version: int | None, schema=None,
                 read_change_feed: bool = False,
                 max_rows: int = 2_000_000,
                 max_versions_per_trigger: int = 0):
        self.path = path
        self.ignore_changes = ignore_changes
        self.starting_version = starting_version
        self.read_change_feed = read_change_feed
        self.max_rows = max_rows
        # admission control (maxVersionsPerTrigger, 0 = unbounded):
        # each micro-batch advances at most N commit versions. The
        # Python DataSource API has no admission-control callback
        # carrying the checkpointed start (and latestOffset is called
        # BEFORE initialOffset even on a cold start), so the cap is
        # driven by two pieces of in-process state:
        #   _anchor  — highest offset handed out by latestOffset
        #              (pacing: the next offset advances <= N versions
        #              past it);
        #   _emitted — highest version actually PLANNED by partitions()
        #              (safety: a later batch never re-plans versions
        #              <= _emitted, so even when a post-restart capped
        #              offset lands BEHIND the checkpointed end — Spark
        #              compares offsets only for equality — the healing
        #              batches plan empty instead of double-emitting).
        # A restart's pending-batch replay runs with both unset, so
        # replays stay bit-identical (exactly-once), and the replayed
        # end seeds _emitted before the next trigger's latestOffset.
        self.max_versions = int(max_versions_per_trigger)
        self._anchor: int | None = None
        self._emitted: int | None = None
        # the query's schema is FIXED at stream start; pin the emitted
        # columns to it so a mid-stream merge_schema evolution widens
        # future streams, not this one (new columns are simply not
        # selected from evolved files)
        self.pinned_fields = (
            [(f.name, json.loads(f.dataType.json())) for f in schema.fields]
            if schema is not None
            else None
        )

    def _configured_start(self) -> int:
        return (
            self.starting_version - 1
            if self.starting_version is not None
            else -1
        )

    def initialOffset(self):
        return {"version": self._configured_start()}

    def latestOffset(self):
        versions = _list_commit_versions(self.path)
        latest = versions[-1]
        if self.max_versions > 0:
            base = (
                self._anchor
                if self._anchor is not None
                else self._configured_start()
            )
            if self._emitted is not None:
                base = max(base, self._emitted)
            pending = [
                v for v in versions if base < v <= latest
            ]
            if len(pending) > self.max_versions:
                latest = pending[self.max_versions - 1]
            latest = max(latest, base)
        self._anchor = (
            latest if self._anchor is None else max(self._anchor, latest)
        )
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if self._emitted is not None:
            lo = max(lo, self._emitted)  # never re-plan emitted versions
        self._emitted = max(
            self._emitted if self._emitted is not None else hi, lo, hi,
            int(start["version"]),
        )
        self._anchor = max(self._anchor if self._anchor is not None
                           else hi, lo, hi)
        snap = load_snapshot(self.path)  # mapping/partition metadata now
        snap.check_reader_support()
        fields, phys, pcols, ids = _columns(snap)
        fields = self.pinned_fields or fields
        deleted = set(range(lo + 1, hi + 1)) - set(
            _list_commit_versions(self.path)
        )
        if deleted:
            raise ValueError(
                f"commits {sorted(deleted)} of {self.path} are gone (log "
                "cleanup); the stream cannot replay them — restart it "
                f"with startingVersion > {max(deleted)}"
            )
        if self.read_change_feed:
            return self._cdf_partitions(lo, hi, fields, phys, pcols,
                                        ids=ids)
        parts = []
        for v in range(lo + 1, hi + 1):
            acts = _read_actions(self.path, v)
            removes = [
                a["remove"] for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if removes and not self.ignore_changes:
                raise ValueError(
                    f"version {v} contains dataChange removes (MERGE/"
                    "DELETE/RESTORE); set ignoreChanges=true to re-emit "
                    "rewritten files"
                )
            for a in acts:
                if "add" not in a or not a["add"].get("dataChange", True):
                    continue
                parts.extend(_split_partitions(
                    lambda s, a=a: _FilePartition(
                        self.path, a["add"]["path"],
                        a["add"].get("partitionValues"),
                        a["add"].get("deletionVector"), fields, phys,
                        pcols, ids=ids, split=s,
                    ),
                    a["add"], self.max_rows,
                ))
        return parts

    def _cdf_partitions(self, lo: int, hi: int, fields, phys, pcols,
                        ids=None):
        """Streaming CHANGE DATA FEED planning — the batch
        read_delta_changes algebra, partition-planned: commits with cdc
        actions contribute their sidecar files EXCLUSIVELY; otherwise
        dataChange adds are inserts, dataChange removes of previously-
        live files are deletes (rows as of the PREVIOUS state, old DV
        applied), and a changed deletion vector on a live file yields
        ROW-exact position-delta partitions. Driver work is log
        metadata + KB-scale DV bitmaps; row scans happen in
        executors."""
        # CDF meta columns are pinned by the stream's schema; the
        # fields list carries only TABLE columns
        tfields = [f for f in fields
                   if f[0] not in ("_change_type", "_commit_version",
                                   "_commit_timestamp")]

        def dv_positions(entry) -> set:
            dvd = (entry or {}).get("deletionVector")
            if not dvd:
                return set()
            from .dvbitmap import deserialize_rbm64, read_dv_blob

            dv_path, off, size = _dv_location(self.path, dvd)
            return set(deserialize_rbm64(read_dv_blob(dv_path, off, size)))

        state = dict(load_snapshot(self.path, lo).adds) if lo >= 0 else {}
        parts = []
        for v in range(lo + 1, hi + 1):
            acts = _read_actions(self.path, v)
            ts = _commit_timestamp(self.path, v, acts)
            prev = dict(state)
            for a in acts:
                if "add" in a:
                    state[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    state.pop(a["remove"]["path"], None)
            cdc_entries = [a["cdc"] for a in acts if "cdc" in a]
            if cdc_entries:
                for e in cdc_entries:
                    parts.append(_CdfPartition(
                        "cdc", self.path, e["path"],
                        e.get("partitionValues"), None, tfields, phys,
                        pcols, v, ts, ids=ids,
                    ))
                continue
            dc_removed = {
                a["remove"]["path"] for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            }
            for rel in sorted(dc_removed):
                old = prev.get(rel)
                if old is None or rel in state:
                    continue  # re-added same-commit or never live
                parts.append(_CdfPartition(
                    "delete", self.path, rel, old.get("partitionValues"),
                    old.get("deletionVector"), tfields, phys, pcols,
                    v, ts, ids=ids,
                ))
            for a in acts:
                add = a.get("add")
                if not add or not add.get("dataChange", True):
                    continue
                rel = add["path"]
                old = prev.get(rel)
                if old is None:
                    parts.append(_CdfPartition(
                        "insert", self.path, rel,
                        add.get("partitionValues"),
                        add.get("deletionVector"), tfields, phys, pcols,
                        v, ts, ids=ids,
                    ))
                elif old != add:
                    old_pos, new_pos = dv_positions(old), dv_positions(add)
                    for delta, ct in (
                        (sorted(new_pos - old_pos), "delete"),
                        (sorted(old_pos - new_pos), "insert"),
                    ):
                        if delta:
                            parts.append(_CdfPartition(
                                "pos", self.path, rel,
                                add.get("partitionValues"), None,
                                tfields, phys, pcols, v, ts,
                                positions=(ct, delta), ids=ids,
                            ))
        return parts

    def read(self, partition):
        if isinstance(partition, _CdfPartition):
            yield from _read_cdf_partition(partition)
        else:
            yield from _read_file_partition(partition)

    def commit(self, end: dict):
        # the log is immutable; nothing to clean up — seed the pacing
        # anchor if this process has none yet
        v = int(end["version"])
        if self._anchor is None:
            self._anchor = v


# ---------------------------------------------------------------------------
# Writer — df.write.format("delta_lite").mode(...).save(path)
# ---------------------------------------------------------------------------

# Spark lowercases writer option keys; map the known camelCase Delta
# configuration keys back so the log carries the protocol spelling the
# readers match on. Unknown keys pass through lowercased.
_CANON_PROPS = {
    "delta.enablechangedatafeed": "delta.enableChangeDataFeed",
    "delta.checkpointinterval": "delta.checkpointInterval",
    "delta.enabledeletionvectors": "delta.enableDeletionVectors",
    "delta.appendonly": "delta.appendOnly",
}


def _serialize_partition_value(v):
    """Inverse of :func:`_typed_partition_value` — the string that lands
    in the add action's partitionValues map."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(
            v, datetime.datetime
        ) else v.isoformat()
    return str(v)


class _DeltaWriteCommit(WriterCommitMessage):
    """Per-task commit message: the staged add actions' raw material."""

    def __init__(self, adds):
        self.adds = adds  # [(rel, partitionValues, stats_json, size)]


class _DeltaLiteWriter(DataSourceArrowWriter):
    """Arrow-batched executor write + driver-side log commit.

    Tasks stream their RecordBatches straight into one open
    ``pyarrow.parquet.ParquetWriter`` per (task, partition value) —
    rows never buffer beyond parquet's own row-group accumulation —
    while min/max/nullCount/numRecords fold incrementally per batch, so
    the add actions carry the same stats JSON as :func:`deltalog
    ._write_single_parquet_with_stats`, without a second read of the
    staged files. ``commit`` assembles the Delta actions and publishes through
    the put-if-absent commit (:func:`deltalog._write_commit`): plain
    appends rebase onto the winner after a lost race exactly like
    :func:`deltalog.write_delta`; creation and overwrite conflicts
    raise, per the protocol's conflict table.

    CHECK constraints (``delta.constraints.*`` table properties) are
    enforced EXECUTOR-SIDE, per Arrow batch, by evaluating the
    constraint expression with DuckDB over the batch — the write fails
    before any commit if a row violates, and no driver round-trip of
    row data ever happens. Constraint expressions must therefore stay
    in the ANSI subset both engines parse (comparisons, boolean
    algebra, arithmetic — which is what CHECK expressions are).
    """

    def __init__(self, path: str, write_schema, overwrite: bool, options):
        self.path = path
        self.overwrite = overwrite
        self.commit_ts = int(options.get("committs", 0))
        # scale guard: one ParquetWriter stays open per (task,
        # partition value); a task fed unclustered high-cardinality
        # partition data would exhaust file handles/memory silently.
        # Fail actionably instead — repartition(pcol) upstream, or
        # raise the cap deliberately.
        self.max_open_files = int(options.get("maxopenfiles", 200))
        snap = _current_snapshot(path)
        self.creating = snap is None
        self.protocol_action = None
        self.metadata_action = None
        if snap is None:
            pcol = options.get("partitioncol")
            if pcol is not None and pcol not in write_schema.names:
                raise ValueError(
                    f"partitionCol {pcol!r} is not a written column"
                )
            table_schema = write_schema
            self.partition_col = pcol
            self.phys = {f.name: f.name for f in table_schema.fields}
            self.field_ids = None
            config = {}
            for k, v in options.items():
                if k.startswith("property."):
                    key = k[len("property."):]
                    config[_CANON_PROPS.get(key, key)] = str(v)
            proto = {"minReaderVersion": 1, "minWriterVersion": 2}
            if config.get("delta.enableChangeDataFeed") == "true":
                proto["minWriterVersion"] = 4
            self.protocol_action = {"protocol": proto}
            self.metadata_action = {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": table_schema.json(),
                    "partitionColumns": [pcol] if pcol else [],
                    "configuration": config,
                    "createdTime": self.commit_ts,
                }
            }
            self.prior_version = None
            self.prior_schema_string = table_schema.json()
        else:
            snap.check_reader_support()
            meta = snap.metadata
            table_schema = snap.schema()
            self.phys = snap.physical_names()
            pcols = snap.partition_columns
            self.field_ids = snap.read_ids()
            ptypes = {f.name: f.dataType for f in table_schema.fields}
            lost = [
                f.name for f in table_schema.fields
                if f.name not in write_schema.names
            ]
            if lost:
                raise ValueError(f"write is missing table columns: {lost}")
            clash = [
                f.name for f in write_schema.fields
                if f.name in ptypes and f.dataType != ptypes[f.name]
            ]
            if clash:
                raise ValueError(f"column type change not allowed: {clash}")
            extra = [
                f.name for f in write_schema.fields if f.name not in ptypes
            ]
            if extra:
                raise ValueError(
                    f"write adds columns {extra}; schema evolution goes "
                    "through deltalog.write_delta(merge_schema=True)"
                )
            self.partition_col = pcols[0] if pcols else None
            config = meta.get("configuration") or {}
            if overwrite and config.get("delta.appendOnly") == "true":
                raise ValueError(
                    "table is delta.appendOnly=true: overwrite would "
                    "commit dataChange removes"
                )
            self.prior_version = snap.version
            self.prior_schema_string = meta.get("schemaString")
        self.table_fields = [
            (f.name, json.loads(f.dataType.json()))
            for f in table_schema.fields
        ]
        self.constraints = {
            k[len("delta.constraints."):]: v
            for k, v in (config or {}).items()
            if k.startswith("delta.constraints.")
        }
        os.makedirs(_log_dir(path), exist_ok=True)

    # -- executor side ------------------------------------------------

    def _check_batch_constraints(self, con, batch):
        for name, expr in sorted(self.constraints.items()):
            n = con.execute(
                f"SELECT count(*) FROM _writebatch "
                f"WHERE NOT ({expr}) OR ({expr}) IS NULL"
            ).fetchone()[0]
            if n:
                raise ValueError(
                    f"CHECK constraint {name!r} violated: ({expr}) is "
                    "not true for all written rows"
                )

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from urllib.parse import quote

        pcol = self.partition_col
        data_fields = [
            (n, t) for n, t in self.table_fields if n != pcol
        ]
        con = None
        if self.constraints:
            import duckdb

            con = duckdb.connect()
        # pv_key -> [ParquetWriter, rel, pv_raw, n, {name: [lo, hi, nc]}]
        open_files: dict = {}

        def sink_for(pv):
            key = _serialize_partition_value(pv)
            st = open_files.get(key)
            if st is None:
                if len(open_files) >= self.max_open_files:
                    raise ValueError(
                        f"write task exceeded {self.max_open_files} open "
                        f"partition files; repartition the input by "
                        f"{pcol!r} before writing (or raise the "
                        "maxOpenFiles option)"
                    )
                if pcol is None:
                    rel = f"part-w-{uuid.uuid4().hex}.parquet"
                else:
                    dirname = (
                        "__HIVE_DEFAULT_PARTITION__" if key is None
                        else quote(key, safe="")
                    )
                    rel = (
                        f"{self.phys[pcol]}={dirname}/"
                        f"part-w-{uuid.uuid4().hex}.parquet"
                    )
                dest = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                st = [None, rel, key, 0,
                      {n: [None, None, 0] for n, _ in data_fields}]
                open_files[key] = st
            return st

        def fold_stats(st, tbl):
            st[3] += tbl.num_rows
            for n, _ in data_fields:
                col = tbl.column(self.phys[n])
                acc = st[4][n]
                acc[2] += col.null_count
                if col.null_count < len(col):
                    mm = pc.min_max(col)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if acc[0] is None or lo < acc[0]:
                        acc[0] = lo
                    if acc[1] is None or hi > acc[1]:
                        acc[1] = hi

        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if con is not None:
                con.register("_writebatch", tbl)
                self._check_batch_constraints(con, tbl)
            groups = (
                [(None, tbl)] if pcol is None else [
                    (
                        pv,
                        tbl.filter(
                            pc.is_null(tbl.column(pcol)) if pv is None
                            else pc.equal(tbl.column(pcol), pv)
                        ),
                    )
                    for pv in pc.unique(tbl.column(pcol)).to_pylist()
                ]
            )
            for pv, part in groups:
                if part.num_rows == 0:
                    continue
                data = pa.table(
                    {self.phys[n]: part.column(n) for n, _ in data_fields}
                )
                if self.field_ids:
                    # stamp PARQUET field ids so columnMapping.mode='id'
                    # readers resolve the staged files
                    data = data.cast(pa.schema([
                        pa.field(
                            self.phys[n], data.schema.field(
                                self.phys[n]).type,
                            metadata={
                                b"PARQUET:field_id":
                                    str(self.field_ids[n]).encode()
                            } if n in self.field_ids else None,
                        )
                        for n, _ in data_fields
                    ]))
                st = sink_for(pv)
                if st[0] is None:
                    st[0] = pq.ParquetWriter(
                        os.path.join(self.path, st[1]), data.schema
                    )
                st[0].write_table(data)
                fold_stats(st, data)

        adds = []
        for st in open_files.values():
            writer, rel, key, n, acc = st
            writer.close()
            stats = json.dumps(
                {
                    "numRecords": n,
                    "minValues": {
                        self.phys[c]: acc[c][0] for c, _ in data_fields
                    },
                    "maxValues": {
                        self.phys[c]: acc[c][1] for c, _ in data_fields
                    },
                    "nullCount": {
                        self.phys[c]: acc[c][2] for c, _ in data_fields
                    },
                },
                default=str,
            )
            pv_map = {} if pcol is None else {self.phys[pcol]: key}
            adds.append(
                (rel, pv_map, stats,
                 os.path.getsize(os.path.join(self.path, rel)))
            )
        return _DeltaWriteCommit(adds)

    # -- driver side ---------------------------------------------------

    def commit(self, messages):
        staged = [
            a for m in messages if m is not None for a in m.adds
        ]
        actions = [
            {
                "commitInfo": {
                    "timestamp": self.commit_ts,
                    "operation": "WRITE",
                    "operationParameters": {
                        "mode": "overwrite" if self.overwrite else "append"
                    },
                }
            }
        ]
        cur = _current_snapshot(self.path)
        if self.creating:
            if cur is not None:
                raise DeltaConcurrentWriteError(
                    f"table {self.path} was created concurrently"
                )
            actions.append(self.protocol_action)
            actions.append(self.metadata_action)
            version = 0
        elif self.overwrite:
            if cur is None or cur.version != self.prior_version:
                raise DeltaConcurrentWriteError(
                    f"concurrent commit in {self.path}: overwrite planned "
                    f"at version {self.prior_version}"
                )
            for p in sorted(cur.adds):
                actions.append(
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": self.commit_ts,
                            "dataChange": True,
                        }
                    }
                )
            version = cur.version + 1
        else:
            if cur is None:
                # Table existed at plan time (creating is False) but
                # the log is gone at commit time: committing version 0
                # with only add actions would publish a log with no
                # metaData/protocol — a corrupt table every subsequent
                # read rejects (ADVICE r8). Mirror the stream writer's
                # "table disappeared under the stream" guard.
                raise DeltaConcurrentWriteError(
                    f"table {self.path} disappeared between append "
                    "planning and commit"
                )
            version = cur.version + 1
        for rel, pv, stats, size in staged:
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": size,
                        "modificationTime": self.commit_ts,
                        "dataChange": True,
                        "stats": stats,
                    }
                }
            )
        blind_append = not self.creating and not self.overwrite
        for _ in range(16):
            try:
                _write_commit(self.path, version, actions)
                return
            except DeltaConcurrentWriteError:
                if not blind_append:
                    raise
                winner = load_snapshot(self.path)
                if winner.metadata.get("schemaString") != (
                    self.prior_schema_string
                ):
                    raise  # concurrent schema change: our files are stale
                version = winner.version + 1
        raise DeltaConcurrentWriteError(
            f"append could not commit after 16 rebases in {self.path}"
        )

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for rel, _, _, _ in m.adds:
                try:
                    os.remove(os.path.join(self.path, rel))
                except OSError:
                    pass


class _DeltaLiteStreamWriter(_DeltaLiteWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("delta_lite")`` — the exactly-once
    streaming sink through the public Spark API.

    Executor staging is the batch writer's (per-partition-value
    ParquetWriters, incremental stats, DuckDB CHECK constraints). Each
    micro-batch commits with the protocol's ``txn`` action
    (appId = the ``txnAppId`` option, version = the micro-batch id):
    a replayed batch whose (appId, batchId) the log already records is
    DROPPED — staged duplicates deleted, nothing committed — which is
    Delta's own idempotent-writer mechanism, the same one
    :func:`deltalog.foreach_batch_sink` uses, now behind
    ``writeStream`` instead of ``foreachBatch``. Commit timestamps are
    the batch id (deterministic, replayable oracles). Append-only:
    ``outputMode("complete")`` is rejected at plan time. Set
    ``txnAppId`` per logical job — two queries sharing an appId would
    skip each other's batch ids."""

    def __init__(self, path, write_schema, overwrite, options):
        if overwrite:
            raise ValueError(
                "delta_lite streaming sink is append-only "
                "(outputMode('append'))"
            )
        _DeltaLiteWriter.__init__(self, path, write_schema, False, options)
        self.txn_app = options.get("txnappid", "delta_lite_stream")

    def commit(self, messages, batchId):
        last = last_txn_version(self.path, self.txn_app)
        if last is not None and batchId <= last:
            # replay after recovery: the log already has this batch —
            # drop the freshly staged duplicates, commit nothing
            self.abort(messages, batchId)
            return
        staged = [a for m in messages if m is not None for a in m.adds]
        ts = int(batchId)
        actions = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "STREAMING UPDATE",
                    "operationParameters": {
                        "outputMode": "Append",
                        "epochId": int(batchId),
                    },
                }
            },
            {
                "txn": {
                    "appId": self.txn_app,
                    "version": int(batchId),
                    "lastUpdated": ts,
                }
            },
        ]
        cur = _current_snapshot(self.path)
        creating = cur is None
        if creating:
            if self.protocol_action is None:
                raise DeltaConcurrentWriteError(
                    f"table {self.path} disappeared under the stream"
                )
            actions.append(self.protocol_action)
            actions.append(self.metadata_action)
            version = 0
        else:
            version = cur.version + 1
        for rel, pv, stats, size in staged:
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": size,
                        "modificationTime": ts,
                        "dataChange": True,
                        "stats": stats,
                    }
                }
            )
        for _ in range(16):
            try:
                _write_commit(self.path, version, actions)
                return
            except DeltaConcurrentWriteError:
                if creating:
                    raise
                winner = load_snapshot(self.path)
                if winner.metadata.get("schemaString") != (
                    self.prior_schema_string
                ):
                    raise
                last = last_txn_version(self.path, self.txn_app)
                if last is not None and batchId <= last:
                    self.abort(messages, batchId)
                    return  # the winner recorded our txn
                version = winner.version + 1
        raise DeltaConcurrentWriteError(
            f"stream batch {batchId} could not commit after 16 rebases "
            f"in {self.path}"
        )

    def abort(self, messages, batchId):
        _DeltaLiteWriter.abort(self, messages)


class DeltaLiteDataSource(DataSource):
    """Options: ``path`` (from .load(path)), ``versionAsOf`` /
    ``timestampAsOf`` (batch time travel), ``startingVersion``
    (streaming: first version to emit, inclusive), ``ignoreChanges``
    (streaming: re-emit rewritten files instead of failing on
    dataChange removes), ``readChangeFeed`` (streaming: emit the
    change feed — cdc sidecars, insert/delete scans, DV position
    deltas), ``pushdown=false`` (disable the pushFilters reader for
    sessions without spark.sql.python.filterPushdown.enabled)."""

    @classmethod
    def name(cls):
        return "delta_lite"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_lite requires .load(<table path>)")
        return path

    def _version(self) -> int | None:
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValueError("pass versionAsOf OR timestampAsOf, not both")
        if ts is not None:
            return _version_at_timestamp(self._path(), int(ts))
        return int(v) if v is not None else None

    def schema(self):
        v = self._version()
        st = load_snapshot(self._path(), v).schema()
        if str(self.options.get("readchangefeed", "false")).lower() \
                == "true":
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )

            return StructType(
                list(st.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                    StructField("_commit_timestamp", LongType(), False),
                ]
            )
        return st

    def _max_rows(self) -> int:
        # one task per maxRowsPerTask rows of a file (planned from
        # numRecords stats, resolved to row-group chunks in the task):
        # a snapshot of few huge files fans out instead of riding one
        # task per file. 0 disables splitting.
        return int(self.options.get("maxrowspertask", 2_000_000))

    def reader(self, schema):
        v = self._version()
        if str(self.options.get("pushdown", "true")).lower() == "false":
            # escape hatch for sessions without
            # spark.sql.python.filterPushdown.enabled (Spark refuses a
            # reader that implements pushFilters when the conf is off)
            return _DeltaLitePlainReader(self._path(), v,
                                         max_rows=self._max_rows())
        return _DeltaLiteReader(self._path(), v, max_rows=self._max_rows())

    def writer(self, schema, overwrite):
        """``df.write.format("delta_lite").mode("append"|"overwrite")
        .save(path)``. Options: ``partitionCol`` (new tables only —
        existing tables inherit their partitioning), ``commitTs``
        (deterministic commit timestamp, same contract as
        :func:`deltalog.write_delta`), ``property.<key>`` (table
        configuration on CREATION, e.g.
        ``property.delta.enableChangeDataFeed=true`` or
        ``property.delta.constraints.<name>=<expr>``)."""
        return _DeltaLiteWriter(self._path(), schema, overwrite,
                                self.options)

    def streamWriter(self, schema, overwrite):
        """``df.writeStream.format("delta_lite").option("checkpoint
        Location", ...).start(path)``. Options: ``txnAppId`` (the
        exactly-once transaction id — set one per logical job),
        ``partitionCol`` / ``property.*`` (table creation, as in the
        batch writer)."""
        return _DeltaLiteStreamWriter(self._path(), schema, overwrite,
                                      self.options)

    def streamReader(self, schema):
        sv = self.options.get("startingversion")
        return _DeltaLiteStreamReader(
            self._path(),
            str(self.options.get("ignorechanges", "false")).lower()
            == "true",
            int(sv) if sv is not None else None,
            schema=schema,
            read_change_feed=str(
                self.options.get("readchangefeed", "false")
            ).lower() == "true",
            max_rows=self._max_rows(),
            max_versions_per_trigger=int(
                self.options.get("maxversionspertrigger", 0)
            ),
        )
