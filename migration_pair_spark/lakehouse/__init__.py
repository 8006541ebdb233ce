"""Snapshot-committed lake table layer: :class:`LakeTable`, the one table
format the engine writes, and :class:`UpsertTarget`, the protocol the CDC
loop reaches it through.

- **atomic snapshot commits**: a table version becomes visible only via an
  exclusive ``os.link`` publish of its manifest file; readers always see a
  complete snapshot, never a partial write,
- **snapshot properties**: arbitrary key/value properties committed
  atomically WITH the data (this is what makes the LSN watermark
  exactly-once),
- **optimistic concurrency**: a publish onto an existing version number
  fails with :class:`CommitConflictError`; recomputable operations refresh
  and retry,
- **bucket-level MERGE**: data files are hash-bucketed by the merge key; an
  upsert batch rewrites (copy-on-write) or appends deltas to (merge-on-read)
  only the buckets its keys touch,
- **schema evolution**: add / rename / widen / drop are manifest-only
  commits. Add, rename and widen reach the fields of struct and
  ``array<struct>`` columns by the same rules as top-level columns (drop
  is top-level only); old data files are reconciled on read, each field
  at any depth finding its write-time name through one backward walk of
  its container's rename history, and widened types cast up.
"""

from migration_pair_spark.lakehouse.interface import UpsertTarget
from migration_pair_spark.lakehouse.table import (
    AddColumn,
    CommitConflictError,
    AddStructField,
    DropColumn,
    LakeTable,
    RenameColumn,
    RenameStructField,
    WidenColumn,
    WidenStructField,
)

__all__ = [
    "LakeTable",
    "CommitConflictError",
    "UpsertTarget",
    "AddColumn",
    "RenameColumn",
    "WidenColumn",
    "DropColumn",
    "AddStructField",
    "RenameStructField",
    "WidenStructField",
]
