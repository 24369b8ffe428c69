"""Sources & sinks (SURVEY §2.1).

Beyond the reference's formats (parquet/CSV/SQLite/xlsx/XML/text
sidecars), these lakehouse/interchange formats are spoken on their REAL
wire formats with zero external jars:

- deltalog  — Delta Lake ``_delta_log`` (JSON actions, checkpoints,
              timestampAsOf, partition/stats pruning, OPTIMIZE
              compaction, change data feed, VACUUM).
- iceberg   — Iceberg v1 (JSON metadata + genuine Avro manifests).
- avro      — pure-Python Avro container codec + jar-less DISTRIBUTED
              scan (binaryFile + mapInPandas).
- warc      — WARC web-archive scan, one task per file.
- skipindex — file-level data-skipping index for plain parquet lakes
              (zone maps + bloom bitmaps, incremental refresh).
- uniform   — Delta <-> Iceberg metadata mirrors over ONE data copy
              (UniForm shape), DV <-> position-delete conversion.
"""
