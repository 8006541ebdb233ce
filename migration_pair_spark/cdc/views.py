"""Maintained materialized views: a downstream aggregate table the CDC loop
keeps in sync incrementally — the composition of the snapshot-diff changelog
(cdc/changelog.py) and the IVM fold (cdc/ivm.py) into a persistent,
exactly-once-refreshed LakeTable.

Reference analog: none — the reference copies tables verbatim
(/root/reference/Tasks/EndToEnd.cs) and has no aggregate surface; this is
the "dashboard that keeps up with the stream" half of the north rule's
lineage/metrics story, e.g. a per-domain page/byte rollup over 10^10 change
events that refreshes in O(changed groups) instead of rescanning 100 TB.

Design:

- The view is a real LakeTable: dims + measure columns, keyed by ``_gk``
  (``to_json(struct(dims))`` — injective for a fixed dim set, null-safe),
  hash-bucketed like any table. Refreshes commit atomically WITH the
  ``view.base_version`` property naming the base-table version the state
  reflects — crash-before-commit changes nothing, re-run is a no-op, so
  refresh is exactly-once by the same argument as the CDC watermark gate.
- ``refresh()`` diffs the base table from the reflected version to its
  current version (one span, any number of base commits), folds the signed
  deltas (ivm.aggregate_delta / apply_delta), and rewrites ONLY the view
  buckets containing NET-changed groups (zero-delta churn is filtered out)
  — O(changed groups) work and write, never O(view), never O(base table).
- Dims are stored base columns, or SQL expressions over them
  (``derived_dims``, e.g. ``{"domain": "parse_url(url, 'HOST')"}``) —
  derived dims evaluate on the change feed, so the base table never stores
  them. A row-count measure ``n`` is always maintained: it drives
  vanished-group removal (all contributing rows deleted → the group row
  disappears) and makes averages derivable. Measures must be
  sum-invertible (count/sum) — the ivm module's contract; min/max/distinct
  are out of scope there and here.
- The definition (dims + measures) is pinned in table properties at create;
  reopening with a drifted definition fails loudly — folding deltas of a
  different definition would silently corrupt the state.
- PURGED keys (LakeTable.purge_keys) retract on the next refresh: the purge
  commit's diff emits deletes for the erased rows, so their contributions
  leave the aggregates — erasure propagates to derived tables with no extra
  machinery.
- Retention contract: the base table must retain manifests back to the
  view's reflected version (same rule as changelog subscriptions); an
  expired span fails the refresh loudly (manifest_at raises) rather than
  silently rescanning.

Schema evolution: snapshot_diff reconciles old rows onto the NEWEST schema,
so measures/derived dims are spelled in current column names and a refresh
spanning an evolution commit folds correctly. STORED dims additionally chase
the base's rename history — a dim renamed after the view was defined keeps
its view column name while reading from the renamed base column. Measure or
derived-dim SQL over a renamed column is a definition change: the drift pin
fails loudly and the view is recreated (pinned in tests/test_views.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.cdc.changelog import snapshot_diff
from migration_pair_spark.cdc.ivm import aggregate_delta, apply_delta
from migration_pair_spark.lakehouse.table import LakeTable

#: view-table property: the base-table version the committed state reflects
BASE_VERSION_PROP = "view.base_version"
#: view-table property: the refresh definition pinned at create
DEFINITION_PROP = "view.definition"
#: "false" between view creation and the one-time backfill of a non-empty
#: base seed snapshot — a crash in that window re-seeds on reopen
SEEDED_PROP = "view.seeded"


class MaterializedView:
    """One maintained aggregate over one base LakeTable.

    ``dims``: stored base columns to group by. ``derived_dims``: extra
    group columns as SQL expressions over the base's (newest-schema)
    columns. ``measures`` maps output column name -> SQL expression summed
    per group; declare fractional measures in ``measure_types`` (default
    long — ivm.empty_state's rationale). ``n`` is reserved."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: LakeTable,
        dims: tuple[str, ...] = (),
        derived_dims: "dict[str, str] | None" = None,
        measures: "dict[str, str] | None" = None,
        measure_types: "dict[str, str] | None" = None,
        n_buckets: int = 16,
    ):
        derived_dims = dict(derived_dims or {})
        measures = dict(measures or {})
        if not dims and not derived_dims:
            raise ValueError("a materialized view needs at least one dim")
        if "n" in measures:
            raise ValueError("'n' is reserved (auto-maintained row count)")
        overlap = set(dims) & set(derived_dims)
        if overlap:
            raise ValueError(f"dims appear as both stored and derived: {overlap}")
        self.spark = spark
        self.base = base
        self.stored_dims = tuple(dims)
        self.dims = (*dims, *derived_dims)
        self.derived_dims = derived_dims
        self.measures = measures
        self.measure_types = dict(measure_types or {})
        self.measure_names = ("n", *measures)
        definition = json.dumps(
            {
                "dims": list(dims),
                "derived_dims": derived_dims,
                "measures": measures,
                "measure_types": self.measure_types,
            },
            sort_keys=True,
        )
        if LakeTable.exists(path):
            self.view = LakeTable.load(spark, path)
            pinned = self.view.properties.get(DEFINITION_PROP)
            if pinned is not None and pinned != definition:
                raise ValueError(
                    f"view definition drift at {path}: stored {pinned} != "
                    f"requested {definition} — folding deltas of a different "
                    f"definition would corrupt the state"
                )
        else:
            # dim/measure types come from schema ANALYSIS of an empty frame
            # in the base's newest schema — no Spark job, and unknown
            # columns / bad SQL fail here, at create, not mid-refresh
            probe = spark.createDataFrame([], base.schema).select(
                *[F.col(d).alias(d) for d in dims],
                *[F.expr(sql).alias(nm) for nm, sql in derived_dims.items()],
                # measures validate here too: a typo'd measure would
                # otherwise pin bad SQL into the immutable definition,
                # which the drift check then prevents correcting
                # (review-caught)
                *[F.expr(sql).alias(f"_m_{nm}") for nm, sql in measures.items()],
            )
            dim_types = {f.name: f.dataType for f in probe.schema.fields}
            fields = [T.StructField("_gk", T.StringType(), False)]
            fields += [
                T.StructField(d, dim_types[d], True) for d in self.dims
            ]
            fields += [
                T.StructField(
                    name,
                    T._parse_datatype_string(
                        self.measure_types.get(name, "long")
                    ),
                    True,
                )
                for name in self.measure_names
            ]
            # seed point: the base's OLDEST retained version. An empty
            # creation snapshot seeds for free (empty view == empty base);
            # a base that already holds data (or whose empty version was
            # expired) needs a one-time O(snapshot) backfill before the
            # incremental contract holds — marked pending so a crash
            # between create and seed heals on reopen.
            v0 = base.snapshot_versions()[0]
            needs_seed = any(
                fs for fs in base.manifest_at(v0)["buckets"].values()
            )
            self.view = LakeTable.create(
                spark,
                path,
                T.StructType(fields),
                key_col="_gk",
                n_buckets=n_buckets,
                properties={
                    BASE_VERSION_PROP: str(v0),
                    DEFINITION_PROP: definition,
                    SEEDED_PROP: "false" if needs_seed else "true",
                },
            )
        if self.view.properties.get(SEEDED_PROP) == "false":
            self._seed()

    # ------------------------------------------------------------------ read

    def read(self) -> DataFrame:
        """The view state (dims + measures; the _gk key is internal)."""
        return self.view.read().drop("_gk")

    @property
    def reflected_version(self) -> int:
        return int(self.view.properties[BASE_VERSION_PROP])

    def _gk_expr(self) -> F.Column:
        return F.to_json(F.struct(*[F.col(d) for d in self.dims]))

    def _with_dims(self, df: DataFrame) -> DataFrame:
        """Derived dims evaluated; stored dims chased through the base's
        rename history (the view keeps its pinned column names — measure /
        derived-dim SQL over a renamed column is a definition change the
        drift pin surfaces; recreate the view)."""
        for d in self.stored_dims:
            cur_name = self.base._current_name(d)
            if cur_name != d:
                df = df.withColumn(d, F.col(cur_name))
        for name, sql in self.derived_dims.items():
            df = df.withColumn(name, F.expr(sql))
        return df

    def _seed(self) -> None:
        """One-time backfill: the DIRECT aggregate of the base's oldest
        retained snapshot (reconciled onto the newest schema) becomes the
        initial state — O(that snapshot) once, incremental ever after.
        Idempotent: the seeded flag commits atomically with the state, so
        a crash before the commit re-seeds from the same immutable
        snapshot."""
        v0 = self.reflected_version
        self.base.refresh()
        snap = self.base.at_version(v0, schema_from=self.base.manifest)
        rows = self._with_dims(snap.read())
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs += [
            F.sum(F.expr(sql)).alias(name)
            for name, sql in self.measures.items()
        ]
        state = rows.groupBy(*[F.col(d) for d in self.dims]).agg(*aggs)
        for name in self.measure_names:
            want = self.view.schema[name].dataType
            state = state.withColumn(name, F.col(name).cast(want))
        out = state.select(
            self._gk_expr().alias("_gk"),
            *[F.col(c) for c in (*self.dims, *self.measure_names)],
        )
        self.view.append_bucketed(
            out,
            properties={SEEDED_PROP: "true"},
            lineage={"view_seed": True, "base_version": v0},
        )

    # --------------------------------------------------------------- refresh

    def refresh(self) -> dict:
        """Advance the view to the base table's current version. One diff
        span covers any number of base commits. Returns a lineage-style
        record; no-op (and no commit) when already current. A rival
        refresher winning the optimistic commit is absorbed: refresh
        re-reads the reflected version — if the rival covered our span
        this becomes a no-op, otherwise it folds the remainder."""
        from migration_pair_spark.lakehouse.table import retry_conflicts

        # _refresh_once refreshes base+view itself, so rebase needs no hook
        return retry_conflicts(self._refresh_once, lambda _e: None)

    def _refresh_once(self) -> dict:
        self.base.refresh()
        self.view.refresh()
        reflected = self.reflected_version
        cur = self.base.version
        if cur <= reflected:
            return {
                "refreshed": False,
                "base_version": reflected,
                "view_version": self.view.version,
            }

        feed = self._with_dims(snapshot_diff(self.base, reflected, cur))
        mexprs = {"n": F.lit(1)}
        mexprs.update({name: F.expr(sql) for name, sql in self.measures.items()})
        delta = aggregate_delta(feed, self.dims, mexprs)
        # pure churn (an update whose dims and measures net to zero) must
        # not touch the view — filter all-zero delta rows before planning
        nonzero = F.lit(False)
        for name in self.measure_names:
            nonzero = nonzero | (F.col(f"{name}_delta") != 0)
        delta = delta.filter(nonzero)

        # persist across the two actions (touched-bucket collect + the
        # write): without it each would recompute the cross-snapshot diff
        # join — the expensive part of a refresh (review-caught; the same
        # fix as apply_batch's chunk loop)
        delta = delta.withColumn("_gk", self._gk_expr()).persist()
        # touched view buckets: bounded driver collect (<= n_buckets ints)
        touched = sorted(
            int(r["_b"])
            for r in delta.select(self.view.bucket_expr("_gk").alias("_b"))
            .distinct()
            .collect()
        )
        lineage = {
            "view_refresh": True,
            "base_from": reflected,
            "base_to": cur,
            "buckets": touched,
        }
        props = {BASE_VERSION_PROP: str(cur)}
        try:
            if not touched:
                # a span with no net group changes still advances the
                # reflected version (metadata-only commit keeps refresh
                # exactly-once)
                version = self.view.commit_properties(props, lineage)
                return {**lineage, "refreshed": True, "view_version": version}

            # fold deltas into ONLY the touched buckets' current groups —
            # the untouched ones carry over by manifest reference, so
            # refresh work and write are O(changed groups). The tombstone
            # filter pins an otherwise-unstated invariant: view tables are
            # written exclusively by _seed/replace_buckets (never MOR
            # deltas or tombstones), so it drops nothing today — but any
            # future writer appending tombstones to a view bucket would
            # otherwise silently double-count groups here (advisor-caught)
            state = (
                self.view.read_buckets(touched)
                .filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
                .drop("_lsn", "_deleted", "_gk")
            )
            merged = apply_delta(state, delta, self.dims, self.measure_names)
            # cast measures to the PINNED view types, exactly like the seed
            # path: apply_delta's sums may widen (ivm deliberately skips
            # pre-sum casts), and an uncast double written into a
            # long-schema bucket file corrupts the view permanently
            # (review-caught)
            for name in self.measure_names:
                merged = merged.withColumn(
                    name, F.col(name).cast(self.view.schema[name].dataType)
                )
            out = merged.select(
                self._gk_expr().alias("_gk"),
                *[F.col(c) for c in (*self.dims, *self.measure_names)],
                F.lit(0).cast("long").alias("_lsn"),
                F.lit(False).alias("_deleted"),
            ).withColumn("_bucket", self.view.bucket_expr("_gk"))
            version = self.view.replace_buckets(
                out, touched, properties=props, lineage=lineage
            )
            return {**lineage, "refreshed": True, "view_version": version}
        finally:
            delta.unpersist()
