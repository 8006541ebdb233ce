"""Debezium-envelope JSON change source: a binlog/WAL tail as JSONL files.

Reference analog: the reference consumes Cassandra rows directly over the
driver (/root/reference/Tasks/Extraction.cs); real CDC deployments more
often consume the *log* as Debezium-shaped JSON change envelopes (the
unwrapped Kafka-Connect payload). This module is that connector: it turns a
directory of JSONL envelope files into the engine's canonical change-stream
shape, batch and streaming, so the whole apply pipeline (interval gate, LWW
merge, schema evolution, lineage) runs unchanged on either wire format.

Envelope — one JSON object per line == one change event:

    {"op": "c"|"u"|"d"|"r",
     "ts_ms": <event wall-clock, epoch millis, may be null>,
     "source": {"lsn": <long>, "schema_epoch": <int>},
     "before": {<payload>} | null,     # deletes: the last-known row
     "after":  {<payload>} | null}     # null for deletes

following Debezium's conventions: binary payload columns travel base64
(``binary.handling.mode=base64``), timestamps travel epoch millis
(``io.debezium.time.Timestamp``), ``op`` is c(reate)/u(pdate)/d(elete)/
r(ead, snapshot) — c and r both canonicalize to "insert".

Scale notes (100-TB design):
- Parsing is ``from_json`` + ``unbase64`` + ``timestamp_millis`` — all
  Catalyst built-ins inside whole-stage codegen; one narrow projection per
  row, no shuffle, no Python stage (plan-pinned in tests/test_plans.py).
- ``input_file_name()`` survives the projection (narrow ops over the text
  scan), so the apply gate's per-delivery-unit LSN intervals work
  unchanged: one JSONL file == one LSN-contiguous chunk, exactly the
  parquet stream's delivery contract (cdc/apply.py module docstring).
- Malformed lines are detected columnar-ly (PERMISSIVE ``from_json``
  yields a null struct) and routed by policy: fail loudly, drop, or append
  to a dead-letter directory. The DLQ write is at-least-once (a replayed
  micro-batch may re-append its bad lines) — standard DLQ semantics; the
  *table* stays exactly-once because bad rows never reach a commit: a
  micro-batch under "error" fails in the apply gate, before any commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: wire op -> canonical engine op (synth.make_change_events vocabulary)
CANONICAL_OPS = {"c": "insert", "r": "insert", "u": "update", "d": "delete"}
#: canonical engine op -> wire op (serialization; "r" is never emitted)
WIRE_OPS = {"insert": "c", "update": "u", "delete": "d"}

#: marker columns carried by keep_corrupt=True parses
CORRUPT_COL = "_corrupt"
RAW_COL = "_raw"

_MALFORMED_POLICIES = ("error", "skip", "dead_letter")


def wire_payload_schema(payload_schema: T.StructType) -> T.StructType:
    """The payload struct as it travels on the wire: binary -> base64
    string, timestamp -> epoch-millis long, everything else unchanged.
    Every wire field is nullable (evolution: older envelopes simply lack
    later-added keys; PERMISSIVE from_json yields null for them)."""
    fields = []
    for f in payload_schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            dt: T.DataType = T.StringType()
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            dt = T.LongType()
        else:
            dt = f.dataType
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def envelope_schema(payload_schema: T.StructType) -> T.StructType:
    """The full from_json schema for one envelope line."""
    wire = wire_payload_schema(payload_schema)
    return T.StructType(
        [
            T.StructField("before", wire, True),
            T.StructField("after", wire, True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType(), True),
                        T.StructField("schema_epoch", T.IntegerType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


def parse_debezium(
    df: DataFrame,
    payload_schema: T.StructType,
    json_col: str = "value",
    keep_corrupt: bool = False,
) -> DataFrame:
    """Parse envelope JSON lines into canonical change rows.

    Output columns: ``change_lsn`` (long), ``op`` (canonical word),
    ``*payload_schema`` columns (typed: base64 decoded, millis -> timestamp),
    ``schema_epoch`` (int). With ``keep_corrupt=True`` two marker columns
    are appended — ``_corrupt`` (boolean) and ``_raw`` (the original line)
    — and corrupt rows are RETAINED for the caller's policy; otherwise
    corrupt rows are silently dropped (callers wanting loud failure use
    :func:`read_debezium_jsonl` with ``on_malformed="error"``).

    A row is corrupt when the line is not valid JSON for the envelope
    schema, ``op`` is not c/u/d/r, ``source.lsn`` is null, or neither
    ``before`` nor ``after`` is present.

    Delete semantics note: a delete's payload (including any event-time
    column the table's LWW order uses, e.g. ``warc_ts``) is read from
    ``before``. A producer whose deletes carry only the OLD row image
    should stamp the deletion time into ``before``'s event-time field (as
    :func:`migration_pair_spark.synth.write_debezium_stream` does) — with
    the unmodified old image, the tombstone still wins its LWW tie against
    the row it deletes on the LSN tiebreak, but a later-arriving
    out-of-order update with a newer event time would beat it, which is
    LWW-by-event-time working as specified.
    """
    env = F.from_json(F.col(json_col), envelope_schema(payload_schema))
    out = df.select(F.col(json_col).alias(RAW_COL), env.alias("_env"))

    wire_op = F.col("_env.op")
    op = None
    for wire, canon in CANONICAL_OPS.items():
        cond = wire_op == wire
        op = F.when(cond, canon) if op is None else op.when(cond, canon)

    # deletes carry the last-known row in `before`; everything else in
    # `after`. coalesce on same-typed structs picks whichever is present.
    p = F.coalesce(F.col("_env.after"), F.col("_env.before"))

    corrupt = (
        F.col("_env").isNull()
        | op.isNull()
        | F.col("_env.source.lsn").isNull()
        | p.isNull()
    )

    cols = [
        F.col("_env.source.lsn").alias("change_lsn"),
        op.alias("op"),
    ]
    for f in payload_schema.fields:
        x = p[f.name]
        if isinstance(f.dataType, T.BinaryType):
            x = F.unbase64(x)
        elif isinstance(f.dataType, T.TimestampType):
            x = F.timestamp_millis(x)
        elif isinstance(f.dataType, T.TimestampNTZType):
            # millis are UTC on the wire; session TZ is pinned UTC
            # (session.py), so this cast chain is the identity.
            x = F.timestamp_millis(x).cast("timestamp_ntz")
        else:
            x = x.cast(f.dataType)
        cols.append(x.alias(f.name))
    cols.append(F.col("_env.source.schema_epoch").alias("schema_epoch"))

    if keep_corrupt:
        return out.select(*cols, corrupt.alias(CORRUPT_COL), F.col(RAW_COL))
    return out.select(*cols, corrupt.alias(CORRUPT_COL)).filter(
        ~F.col(CORRUPT_COL)
    ).drop(CORRUPT_COL)


def to_debezium_json(
    df: DataFrame,
    payload_schema: T.StructType,
    lsn_col: str = "change_lsn",
    op_col: str = "op",
    epoch_col: str | None = "schema_epoch",
    ts_ms_col: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Serialize canonical change rows to envelope JSON lines (the inverse
    of :func:`parse_debezium`; round-trip pinned in tests/test_debezium.py).
    ``ts_ms_col`` names a timestamp column to stamp as the envelope's
    ``ts_ms`` (defaults to null). to_json drops null fields — parse reads
    absent keys back as null, so the round trip is exact."""
    wire_cols = []
    for f in payload_schema.fields:
        x = F.col(f.name)
        if isinstance(f.dataType, T.BinaryType):
            x = F.base64(x)
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            x = F.unix_millis(x.cast("timestamp"))
        wire_cols.append(x.alias(f.name))
    payload = F.struct(*wire_cols)

    wire_op = None
    for canon, wire in WIRE_OPS.items():
        cond = F.col(op_col) == canon
        wire_op = F.when(cond, wire) if wire_op is None else wire_op.when(cond, wire)

    is_delete = F.col(op_col) == "delete"
    env = F.struct(
        F.when(is_delete, payload).alias("before"),
        F.when(~is_delete, payload).alias("after"),
        F.struct(
            F.col(lsn_col).cast("long").alias("lsn"),
            (
                F.col(epoch_col).cast("int")
                if epoch_col is not None
                else F.lit(None).cast("int")
            ).alias("schema_epoch"),
        ).alias("source"),
        wire_op.alias("op"),
        (
            F.unix_millis(F.col(ts_ms_col).cast("timestamp"))
            if ts_ms_col is not None
            else F.lit(None).cast("long")
        ).alias("ts_ms"),
    )
    return df.select(F.to_json(env).alias(value_col))


def read_debezium_jsonl(
    spark: SparkSession,
    path: str,
    payload_schema: T.StructType,
    on_malformed: str = "error",
    dead_letter_dir: str | None = None,
) -> DataFrame:
    """Batch read a directory (or file) of envelope JSONL into canonical
    change rows. ``on_malformed``: ``"error"`` raises with a count and a
    few sample lines; ``"skip"`` drops bad lines; ``"dead_letter"`` appends
    their raw text to ``dead_letter_dir`` (required) then drops them."""
    parsed = parse_debezium(
        spark.read.text(path), payload_schema, keep_corrupt=True
    )
    return route_malformed(parsed, on_malformed, dead_letter_dir, f"under {path}")[0]


def route_malformed(
    parsed: DataFrame,
    on_malformed: str,
    dead_letter_dir: str | None,
    where: str | None = None,
) -> tuple[DataFrame, int]:
    """Apply a malformed-line policy to a keep_corrupt parse; returns (the
    clean rows without the marker columns, n_dead_lettered). ``"error"``
    raises (:func:`fail_on_malformed`, naming ``where``) when marked rows
    exist; without ``where`` it returns ``parsed`` unchanged, still marked,
    so a stream counts the marks in an aggregate it runs anyway instead of
    paying a job here. ``"skip"`` drops the marked rows; ``"dead_letter"``
    first appends their raw lines to ``dead_letter_dir`` (required)."""
    if on_malformed not in _MALFORMED_POLICIES:
        raise ValueError(
            f"on_malformed must be one of {_MALFORMED_POLICIES}, got {on_malformed!r}"
        )
    n_bad = 0
    if on_malformed == "error":
        if where is None:
            return parsed, 0
        fail_on_malformed(parsed, where)
    elif on_malformed == "dead_letter":
        if not dead_letter_dir:
            raise ValueError("on_malformed='dead_letter' requires dead_letter_dir")
        n_bad = dead_letter(parsed, dead_letter_dir)
    return parsed.filter(~F.col(CORRUPT_COL)).drop(CORRUPT_COL, RAW_COL), n_bad


def fail_on_malformed(parsed: DataFrame, where: str) -> None:
    """The ``"error"`` policy: raise with up to five raw sample lines when a
    keep_corrupt parse holds marked rows. One bad-rows-only job (the filter
    pushes to the scan); callers that already counted the marks run it
    only on failure."""
    bad = parsed.filter(F.col(CORRUPT_COL)).select(RAW_COL).limit(5).collect()
    if bad:
        samples = "; ".join(repr(r[RAW_COL][:120]) for r in bad)
        raise ValueError(
            f"malformed debezium envelope lines {where} "
            f"(first samples: {samples})"
        )


def dead_letter(parsed: DataFrame, dead_letter_dir: str) -> int:
    """Append a keep_corrupt parse's bad raw lines to the DLQ directory;
    returns how many landed. One count job + one write job, bad rows only
    (the filter pushes to the scan); at-least-once under stream replay
    (module docstring)."""
    bad = parsed.filter(F.col(CORRUPT_COL)).select(F.col(RAW_COL).alias("value"))
    n = bad.count()
    if n:
        bad.write.mode("append").text(dead_letter_dir)
    return int(n)


def stream_debezium_jsonl(
    spark: SparkSession,
    path: str,
    payload_schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming read: envelope JSONL directory -> canonical change rows
    WITH the ``_corrupt``/``_raw`` marker columns retained — the runner's
    foreachBatch applies :func:`route_malformed` per micro-batch (under
    ``"error"`` the apply gate's own aggregate counts the marks)."""
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return parse_debezium(raw, payload_schema, keep_corrupt=True)


# ---------------------------------------------------------------- export side

def changelog_to_debezium(
    feed: DataFrame,
    key: str,
    payload_schema: T.StructType,
    lsn_base: int,
    epoch: "int | None" = None,
) -> DataFrame:
    """A snapshot-diff change feed (cdc/changelog.snapshot_diff rows:
    ``change_type`` + key + v_to-schema user columns) as Debezium envelope
    JSON lines — ONE envelope per changed key: the update_before /
    update_after pair collapses into a single ``u`` envelope carrying BOTH
    images (Debezium's native update shape); inserts become ``c`` with the
    after image, deletes ``d`` with the before image.

    Per-envelope LSNs are synthesized deterministically as
    ``lsn_base + rank(key)`` so a SECOND engine instance can ingest the
    export through the standard apply gate (unique within the span,
    monotone across spans when the exporter hands out increasing bases —
    export_changelog_debezium derives them from v_to). Scale note: the
    rank is one global sort of the span's CHANGED KEYS, not the table;
    the cluster-scale form shards by bucket with per-shard bases, same
    contract."""
    from pyspark.sql import Window as W

    feed_cols = set(feed.columns)
    wire = wire_payload_schema(payload_schema)
    parts = []
    for f, wf in zip(payload_schema.fields, wire.fields):
        if f.name in feed_cols:
            x = F.col(f.name)
            if isinstance(f.dataType, T.BinaryType):
                x = F.base64(x)
            elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
                x = F.unix_millis(x.cast("timestamp"))
        else:
            x = F.lit(None).cast(wf.dataType)
        parts.append(x.alias(f.name))
    pay = F.struct(*parts)

    ct = F.col("change_type")
    g = feed.groupBy(key).agg(
        # any_value(ignoreNulls): at most ONE non-null per kind per key
        # (snapshot_diff emits one change per key per span), so this is
        # deterministic — and unlike max(struct) it stays hash-aggregable
        F.any_value(F.when(ct == "insert", pay), True).alias("_ins"),
        F.any_value(F.when(ct == "delete", pay), True).alias("_del"),
        F.any_value(F.when(ct == "update_before", pay), True).alias("_ub"),
        F.any_value(F.when(ct == "update_after", pay), True).alias("_ua"),
    )
    env = F.struct(
        F.coalesce(F.col("_del"), F.col("_ub")).alias("before"),
        F.coalesce(F.col("_ins"), F.col("_ua")).alias("after"),
        F.struct(
            (F.lit(lsn_base) + F.row_number().over(W.orderBy(key)))
            .cast("long")
            .alias("lsn"),
            F.lit(epoch).cast("int").alias("schema_epoch"),
        ).alias("source"),
        F.when(F.col("_ins").isNotNull(), "c")
        .when(F.col("_del").isNotNull(), "d")
        .otherwise("u")
        .alias("op"),
        F.lit(None).cast("long").alias("ts_ms"),
    )
    return g.select(F.to_json(env).alias("value"))


def export_changelog_debezium(
    table,
    out_dir: str,
    v_from: int,
    v_to: "int | None" = None,
    payload_schema: "T.StructType | None" = None,
    mask_suppressed: bool = True,
) -> "str | None":
    """Materialize the v_from -> v_to snapshot diff as ONE Debezium JSONL
    envelope file ``out_dir/span-<vfrom>-<vto>.jsonl`` — the engine as a
    change PRODUCER. One file == one LSN-contiguous chunk, exactly the
    delivery contract both change sources consume, so a downstream engine
    instance pointed at ``out_dir`` (``source_format="debezium-json"``)
    REPLICATES the table: state(B) converges to state(A at v_to), pinned
    in tests/test_changelog_export.py.

    Idempotent per span (immutable snapshots: the file is a pure function
    of (v_from, v_to, payload schema)); an existing span file
    short-circuits to None. Each span gets lsn_base = v_to << 24 — bases
    grow with v_to, keeping synthesized LSNs monotone across spans; a
    span with >= 2^24 changed keys would collide with the next base, so
    it refuses (split the span by exporting intermediate versions).

    ``payload_schema`` defaults to the table's CURRENT schema; pass the
    receiver's wire payload schema (e.g. runner.pages_wire_payload_schema)
    when mirroring into a standard pages pipeline.

    ``mask_suppressed`` (default on): when the table carries a purge
    ledger (LakeTable.purge_keys — right-to-be-forgotten erasure), every
    envelope for a purged key ships with its payload images NULLED in
    ANY exported span, past or future — erasure must propagate, and the
    export is the engine's external surface. The KEY itself stays (a
    replica needs it to delete its copy — the standard suppression-list
    trade-off); the envelope structure and synthesized LSNs are
    unchanged, so span delivery contracts hold and a replica ingesting
    the spans converges to a state with the purged keys ABSENT (the purge
    commit's own span carries their deletes). Internal snapshot-diff
    feeds (changelog_dir, IVM) stay unmasked: IVM must retract true
    before-images, and those feeds are part of the engine's retained
    state — erase them with retention on the feed directory."""
    import glob as _glob
    import os
    import shutil

    from migration_pair_spark.cdc.apply import EPOCH_PROP
    from migration_pair_spark.cdc.changelog import snapshot_diff

    v_to = table.version if v_to is None else v_to
    if v_from >= v_to:
        raise ValueError(f"export span must advance ({v_from} >= {v_to})")
    final = os.path.join(out_dir, f"span-{v_from:08d}-{v_to:08d}.jsonl")
    if os.path.exists(final):
        return None
    payload_schema = payload_schema or table.schema
    epoch_raw = table.manifest_at(v_to)["properties"].get(EPOCH_PROP)
    epoch = int(epoch_raw) if epoch_raw is not None else None
    feed = snapshot_diff(table, v_from, v_to)
    if mask_suppressed:
        ledger = table.suppressed_keys()
        if ledger is not None:
            key = table.key_col
            marked = F.broadcast(
                ledger.select(key).withColumn("_masked", F.lit(True))
            )
            feed = feed.join(marked, on=key, how="left")
            for c in feed.columns:
                if c in (key, "change_type", "_masked"):
                    continue
                feed = feed.withColumn(
                    c,
                    F.when(F.col("_masked"), F.lit(None)).otherwise(F.col(c)),
                )
            feed = feed.drop("_masked")
    df = changelog_to_debezium(
        feed, table.key_col, payload_schema, lsn_base=v_to << 24, epoch=epoch
    )
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f".tmp-span-{v_from:08d}-{v_to:08d}")
    df.coalesce(1).write.mode("overwrite").text(tmp)
    part = sorted(_glob.glob(os.path.join(tmp, "part-*")))
    try:
        if not part:  # empty span: no changed keys
            return None
        with open(part[0], "rb") as f:
            n = sum(1 for _ in f)
        if n >= 1 << 24:
            raise ValueError(
                f"span {v_from}->{v_to} has {n} changes (>= 2^24): LSN "
                f"bases would collide — export intermediate versions"
            )
        if n == 0:
            return None
        os.replace(part[0], final)  # atomic publish
        return final
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
