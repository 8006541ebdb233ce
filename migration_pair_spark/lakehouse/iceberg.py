"""IcebergTable: the UpsertTarget adapter for Apache Iceberg catalogs.

This is the config-switch target the seam was cut for
(lakehouse/interface.py documents the member-by-member mapping this file
implements). It requires ``iceberg-spark-runtime`` on the session classpath
and a configured Iceberg catalog — NOT available in this sandbox (jars are
unfetchable, SURVEY.md §7 S0 fallback), so:

- the adapter is import-safe and constructible without the jars (nothing
  Iceberg-specific happens until a method runs a query), which lets
  tests/test_interface.py pin PROTOCOL CONFORMANCE (the full UpsertTarget
  surface) in this environment;
- every method body is the real Iceberg call per the documented mapping —
  ``availability()`` reports whether the session can actually execute them,
  and the execution test skips without the runtime.

Engine-level conventions carried in table/snapshot properties:

- ``engine.key-col`` / ``engine.n-buckets`` / ``engine.lww-order``: set at
  create time; the partition spec is ``bucket(n_buckets, key_col)`` so
  :meth:`bucket_expr` (``system.bucket``) routes exactly like pruning.
- The exactly-once watermark (``engine.applied_lsn_ranges`` etc.) rides
  each write as ``snapshot-property.<k>`` options — data + watermark in ONE
  Iceberg snapshot, the same atomicity LakeTable gets from its manifest.
- ``engine.mor-buckets``: the engine's merge-on-read bucket set (the
  auto-compaction policy input), maintained as a snapshot property the same
  way LakeTable keeps it in the manifest.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SYS_COLS = ("_lsn", "_deleted")


class IcebergTable:
    """UpsertTarget over an Iceberg catalog table (``catalog.db.name``)."""

    def __init__(self, spark: SparkSession, name: str, location: str | None = None):
        self.spark = spark
        self.name = name
        self._location = location
        self._props_cache: dict[str, str] | None = None

    # ---------------------------------------------------------- availability

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True when the session can execute Iceberg DDL (runtime jars +
        a configured catalog). The adapter constructs without this; only
        method execution needs it."""
        try:
            # py4j resolves missing packages lazily (a bare attribute access
            # returns a JavaPackage without error) — forName actually loads
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
            return True
        except Exception:
            return False

    # -------------------------------------------------------------- metadata

    @property
    def path(self) -> str:
        if self._location is None:
            row = self.spark.sql(f"DESCRIBE TABLE EXTENDED {self.name}").filter(
                F.col("col_name") == "Location"
            ).collect()
            self._location = row[0]["data_type"] if row else self.name
        return self._location

    def refresh(self) -> None:
        self.spark.catalog.refreshTable(self.name)
        self._props_cache = None

    def _latest_snapshot(self):
        """The CURRENT snapshot — resolved through the ``main`` branch ref,
        not by sorting ``committed_at`` (millisecond granularity: two rapid
        commits can tie and make 'latest' ambiguous, which would feed a stale
        applied-LSN watermark to the gate — advisor-caught, round 3)."""
        refs = (
            self.spark.table(f"{self.name}.refs")
            .filter((F.col("name") == "main") & (F.col("type") == "BRANCH"))
            .collect()
        )
        if not refs:
            return None
        rows = (
            self.spark.table(f"{self.name}.snapshots")
            .filter(F.col("snapshot_id") == int(refs[0]["snapshot_id"]))
            .collect()
        )
        return rows[0] if rows else None

    @property
    def version(self) -> int:
        """MONOTONIC commit ordinal (length of the current ancestor chain
        from the ``history`` metadata table), NOT the raw snapshot id: the
        UpsertTarget contract consumes version ordinally (lineage
        table_version_before, changelog spans v_from >= v_to), and Iceberg
        snapshot ids are random longs (advisor-caught, round 3). The
        snapshot id itself rides lineage via :meth:`_latest_snapshot`."""
        return int(
            self.spark.table(f"{self.name}.history")
            .filter(F.col("is_current_ancestor"))
            .count()
        )

    def _table_props(self) -> dict[str, str]:
        return {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.name}").collect()
        }

    @property
    def key_col(self) -> str:
        return self._table_props()["engine.key-col"]

    @property
    def n_buckets(self) -> int:
        return int(self._table_props()["engine.n-buckets"])

    @property
    def schema(self) -> T.StructType:
        full = self.spark.table(self.name).schema
        return T.StructType([f for f in full.fields if f.name not in _SYS_COLS])

    @property
    def properties(self) -> dict[str, str]:
        """Engine properties from the CURRENT snapshot's summary (the
        watermark's atomicity home), falling back to table properties.
        Cached until :meth:`refresh` — apply reads this for the gate and
        _writer re-posts it on every commit; without the cache each commit
        pays two extra driver queries (review-caught, round 3)."""
        if self._props_cache is None:
            snap = self._latest_snapshot()
            out = {
                k: v
                for k, v in self._table_props().items()
                if k.startswith("engine.")
            }
            if snap is not None:
                # filter to engine.* keys, matching the table-properties
                # filter above: Iceberg operational summary keys
                # (added-data-files, spark.app.id, ...) must not leak into
                # what the seam exposes as engine properties
                # (advisor-caught, round 3)
                out.update(
                    {
                        k: v
                        for k, v in dict(snap["summary"]).items()
                        if k.startswith("engine.")
                    }
                )
            self._props_cache = out
        return dict(self._props_cache)

    @property
    def lww_order(self) -> tuple[str, ...]:
        raw = self._table_props().get("engine.lww-order", "warc_ts,_lsn")
        return tuple(c.strip() for c in raw.split(","))

    # ------------------------------------------------------- routing / reads

    def bucket_expr(self, col: str | None = None) -> Column:
        # the SAME hash family the partition spec uses, so routing == pruning
        return F.expr(f"system.bucket({self.n_buckets}, {col or self.key_col})")

    def read_buckets(self, bucket_ids: list[int], resolve: bool = False) -> DataFrame:
        df = self.spark.table(self.name).where(
            self.bucket_expr().isin([int(b) for b in bucket_ids])
        )
        if resolve and self.is_merge_on_read:
            df = self._lww_resolve(df)
        return df

    def read(self, include_tombstones: bool = False) -> DataFrame:
        df = self.spark.table(self.name)
        if self.is_merge_on_read:
            df = self._lww_resolve(df)
        if not include_tombstones:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
                *_SYS_COLS
            )
        return df

    def _lww_resolve(self, df: DataFrame) -> DataFrame:
        key, order = self.key_col, self.lww_order
        payload = [c for c in df.columns if c != key]
        out = df.groupBy(key).agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]),
                F.struct(*[F.col(c) for c in order]),
            ).alias("_w")
        )
        return out.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload])

    # --------------------------------------------------------------- writes

    def _writer(self, df: DataFrame, properties: dict | None, lineage: dict | None):
        # Snapshot summaries are NOT inherited in Iceberg (each snapshot's
        # summary is its own map), so every commit must re-post the FULL
        # engine.* state or a maintenance commit (compact) would silently
        # erase the exactly-once watermark and the next apply would re-apply
        # the entire retained tail (review-caught, round 3). LakeTable gets
        # this for free from the manifest deep-copy.
        merged = {
            k: v
            for k, v in self.properties.items()
            if k.startswith("engine.") and k != "engine.lineage"
        }
        merged.update(properties or {})
        w = df.drop("_bucket").writeTo(self.name)
        for k, v in merged.items():
            w = w.option(f"snapshot-property.{k}", str(v))
        if lineage is not None:
            w = w.option("snapshot-property.engine.lineage", json.dumps(lineage))
        return w

    def replace_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
        max_rows_per_file: int | None = None,
    ) -> int:
        """Copy-on-write: dynamic overwrite of exactly the touched bucket
        partitions (rows route by the spec's own bucket transform, matching
        ``_bucket``). Iceberg's CommitFailedException is the optimistic-
        concurrency conflict — same contract as LakeTable's EEXIST.
        ``max_rows_per_file`` maps to the table's
        ``write.target-file-size-bytes`` / the writer's fanout sizing
        (Iceberg sizes by bytes, not rows; the spark write option
        ``maxRecordsPerFile`` applies here too and is what we set)."""
        w = self._writer(df_with_bucket, properties, lineage)
        if max_rows_per_file:
            w = w.option("maxRecordsPerFile", str(max_rows_per_file))
        w.overwritePartitions()
        self.refresh()
        return self.version

    def append_delta_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> tuple[int, list[str]]:
        """Merge-on-read: plain append of delta rows; reads LWW-resolve until
        compaction. The engine-level MOR bucket set rides the snapshot."""
        props = dict(properties or {})
        prior = self.mor_buckets
        props["engine.mor-buckets"] = json.dumps(
            sorted(prior | {int(b) for b in touched_buckets})
        )
        self._writer(df_with_bucket, props, lineage).append()
        self.refresh()
        return self.version, []

    @property
    def last_write_phases(self) -> dict | None:
        """Iceberg commits in one writer call: no split is recorded."""
        return None

    # ------------------------------------------------------------- evolution

    # Types Iceberg's ALTER COLUMN can widen TO (spec: int->long,
    # float->double, decimal scale-up). Validated before issuing DDL so an
    # unsupported request fails with the engine's error, not Iceberg's.
    _WIDEN_SQL = {"bigint": "bigint", "int": "int", "double": "double"}

    def evolve_schema(self, ops: list) -> int:
        """ALTER TABLE schema-update commits; idempotent per op (skip when
        the effect is already present — the crash-replay contract)."""
        from migration_pair_spark.lakehouse.table import (
            AddColumn,
            RenameColumn,
            WidenColumn,
        )

        names = {f.name: f.dataType.simpleString() for f in self.schema.fields}
        for op in ops:
            if isinstance(op, AddColumn):
                if op.name in names:
                    continue
                self.spark.sql(
                    f"ALTER TABLE {self.name} ADD COLUMN {op.name} {op.type}"
                )
            elif isinstance(op, RenameColumn):
                if op.new in names and op.old not in names:
                    continue
                self.spark.sql(
                    f"ALTER TABLE {self.name} RENAME COLUMN {op.old} TO {op.new}"
                )
            elif isinstance(op, WidenColumn):
                if names.get(op.name) == op.new_type:
                    continue
                # decimal(p,s) precision-up is also spec-legal and passes
                # through unmapped (Iceberg validates scale itself)
                if op.new_type not in self._WIDEN_SQL and not op.new_type.startswith(
                    "decimal"
                ):
                    raise ValueError(
                        f"incompatible widen {op.name}: Iceberg cannot widen "
                        f"to {op.new_type} (supported targets: "
                        f"{sorted(self._WIDEN_SQL)} and decimal precision-up)"
                    )
                target = self._WIDEN_SQL.get(op.new_type, op.new_type)
                self.spark.sql(
                    f"ALTER TABLE {self.name} ALTER COLUMN {op.name} "
                    f"TYPE {target}"
                )
            else:  # pragma: no cover
                raise TypeError(f"unknown evolution op {op!r}")
            names = {f.name: f.dataType.simpleString() for f in self.schema.fields}
        self.refresh()
        return self.version

    # ----------------------------------------------------------- maintenance

    @property
    def is_merge_on_read(self) -> bool:
        return bool(self.mor_buckets)

    @property
    def mor_buckets(self) -> set[int]:
        raw = self.properties.get("engine.mor-buckets")
        return {int(b) for b in json.loads(raw)} if raw else set()

    def files_per_bucket(self) -> dict[int, int]:
        """Manifest entry counts per bucket partition from the ``.files``
        metadata table — no data IO."""
        rows = (
            self.spark.table(f"{self.name}.files")
            .groupBy(F.col("partition").getField(f"{self.key_col}_bucket").alias("b"))
            .count()
            .collect()
        )
        return {int(r["b"]): int(r["count"]) for r in rows}

    def compact(
        self,
        bucket_ids: "list[int] | None" = None,
        sort_by: "list[str] | None" = None,
        max_rows_per_file: "int | None" = None,
        conflict_retries: int = 3,
    ) -> int:
        """Engine-level compaction: LWW-resolve the chosen buckets and
        overwrite their partitions (clears their MOR state). A pure layout
        rewrite without resolution would instead be the
        ``rewrite_data_files`` procedure — which is also where CLUSTERED
        compaction maps on real Iceberg: ``sort_by`` here is
        ``rewrite_data_files(strategy => 'sort', sort_order => ...)`` and
        ``max_rows_per_file`` its target-file-size option; this adapter
        expresses both through the writer (sortWithinPartitions +
        maxRecordsPerFile), same semantics.

        ``conflict_retries`` is a DRIVER-SIDE re-read-and-re-plan loop,
        NOT Iceberg's ``commit.retry.num-retries``: Iceberg's native retry
        re-commits the SAME pending snapshot against refreshed metadata —
        it does not re-read the source, so a retried unvalidated dynamic
        overwrite could silently drop rows a rival writer committed into
        the compacted partitions between our read and our commit
        (advisor-caught; an earlier revision claimed the native loop was
        equivalent and ALTERed the table property per call as a side
        effect — both wrong). This loop mirrors LakeTable.compact's
        rebase: on CommitFailedException/ValidationException, refresh and
        redo the whole read-resolve-overwrite from current state."""
        buckets = (
            bucket_ids if bucket_ids is not None else sorted(self.files_per_bucket())
        )
        if not buckets:
            return self.version

        def _once() -> None:
            resolved = self.read_buckets(buckets, resolve=True)
            remaining = sorted(self.mor_buckets - {int(b) for b in buckets})
            out = resolved.withColumn("_bucket", self.bucket_expr())
            lineage = {"compaction": True, "buckets": list(map(int, buckets))}
            if sort_by:
                out = out.sortWithinPartitions("_bucket", *sort_by)
                lineage["sort_by"] = sort_by
            w = self._writer(
                out, {"engine.mor-buckets": json.dumps(remaining)}, lineage
            )
            if max_rows_per_file:
                w = w.option("maxRecordsPerFile", str(max_rows_per_file))
            w.overwritePartitions()

        attempts = 0
        while True:
            try:
                _once()
                break
            except Exception as e:  # py4j-wrapped Iceberg commit conflicts
                name = type(e).__name__ + " " + str(e)
                conflict = (
                    "CommitFailedException" in name
                    or "ValidationException" in name
                )
                attempts += 1
                if not conflict or attempts > conflict_retries:
                    raise
                self.refresh()
        self.refresh()
        return self.version
