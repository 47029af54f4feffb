"""Snapshot-manifest lakehouse table format.

Iceberg-like table semantics over plain Parquet, implemented fresh
for this engine (the container has no Iceberg runtime jar; the
reference relies on Iceberg for these semantics — SURVEY.md §1.1).

Semantics reproduced (reference call sites in parentheses):
- namespaced tables in a warehouse directory (scripts/raw-bronze.py:142)
- append / create-or-replace writes (scripts/raw-bronze.py:180-185)
- snapshot history + metadata tables  (scripts/bronze-silver.py:119)
- snapshot-range incremental ("changelog") reads
  (scripts/bronze-silver.py:149-152)
- MERGE INTO upsert with partition-scoped copy-on-write
  (scripts/bronze-silver.py:254-269)
- partitioned layout + table properties (scripts/bronze-silver.py:171-207)

Design: data files are immutable Parquet written by Spark executors;
a snapshot is a JSON manifest listing the file set (driver-side
metadata, exactly as Iceberg's manifests are). Commits are atomic via
rename of a CURRENT pointer. All data-plane work is DataFrame ops —
the driver never touches row data. Frames built from driver-side rows
(metadata tables, SHOW/DESCRIBE/CALL results, ingest side inputs) go
through ``local.local_frame``, which hands them to the JVM as an Arrow
LocalRelation, so acting on them never starts a Python-worker job.
"""

from .table import Table, Snapshot  # noqa: F401
from .catalog import Catalog  # noqa: F401
from .merge import merge_into  # noqa: F401
from .sql import SqlSession  # noqa: F401
