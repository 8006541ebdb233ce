"""Mid-stream schema evolution (SURVEY.md §5.2 #4, FIXTURES.md F3): epoch 2
adds fetch_status:int, epoch 3 renames lang->language and widens
fetch_status to long. Final schema AND final state must match the oracle,
with pre-rename events mapped onto the new names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark import synth
from migration_pair_spark.cdc.apply import EPOCH_PROP
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable


@pytest.fixture(scope="module")
def evo_stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evo") / "events")
    full = synth.write_change_stream(d, 600, 80, 6, seed=42, evolution=True)
    return d, full


def test_evolution_final_schema_and_state(spark, evo_stream, tmp_path):
    d, full = evo_stream
    pipe = CdcPipeline(table_path=str(tmp_path / "pages"), n_buckets=8, salt_buckets=4)
    lineages = pipe.run_stream(spark, d, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert len(lineages) == 6
    t = LakeTable.load(spark, pipe.table_path)

    # final schema is the epoch-3 schema
    got = {f.name: f.dataType for f in t.schema.fields}
    assert "lang" not in got
    assert got["language"] == T.StringType()
    assert got["fetch_status"] == T.LongType()
    assert t.properties[EPOCH_PROP] == "3"

    # final state matches the oracle, old `lang` values visible as `language`
    res = t.read().toPandas().sort_values("url").reset_index(drop=True)
    oracle = synth.oracle_final_state(full).sort_values("url").reset_index(drop=True)
    assert list(res["url"]) == list(oracle["url"])
    assert list(res["language"]) == list(oracle["lang"])
    assert list(res["warc_ts"]) == list(oracle["warc_ts"])


def test_evolve_schema_op_replay_is_idempotent(spark, tmp_path):
    """Crash window (ADVICE r1): evolve_schema commits BEFORE the data commit
    advances EPOCH_PROP; dying in between replays the same epoch ops. Each op
    must no-op when its effect is already present instead of wedging the
    stream with 'column already exists'."""
    from migration_pair_spark.cdc.runner import PAGES_EPOCH_REGISTRY, PAGES_SCHEMA

    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    t.evolve_schema(PAGES_EPOCH_REGISTRY[2])
    v = t.evolve_schema(PAGES_EPOCH_REGISTRY[3])
    # replay of both epochs' ops: all no-ops, no new snapshot, schema stable
    assert t.evolve_schema(PAGES_EPOCH_REGISTRY[2]) == v
    assert t.evolve_schema(PAGES_EPOCH_REGISTRY[3]) == v
    got = {f.name: f.dataType for f in t.schema.fields}
    assert got["language"] == T.StringType()
    assert got["fetch_status"] == T.LongType()
    # genuinely incompatible drift still hard-fails
    from migration_pair_spark.lakehouse.table import AddColumn, WidenColumn

    with pytest.raises(ValueError):
        t.evolve_schema([AddColumn("fetch_status", "string")])
    with pytest.raises(ValueError):
        t.evolve_schema([WidenColumn("fetch_status", "string")])
    # genuine NARROWING hard-fails again: the widen HISTORY distinguishes
    # a replay (recorded step) from a misconfigured narrowing request
    # (epoch 3 widened int->long; no epoch ever targeted 'int' from here)
    with pytest.raises(ValueError, match="incompatible widen"):
        t.evolve_schema([WidenColumn("fetch_status", "int")])
    assert t.schema["fetch_status"].dataType == T.LongType()


def test_evolution_is_idempotent_on_replay(spark, evo_stream, tmp_path):
    d, full = evo_stream
    pipe = CdcPipeline(table_path=str(tmp_path / "pages"), n_buckets=8, salt_buckets=4)
    pipe.run_stream(spark, d, str(tmp_path / "c1"), max_files_per_trigger=2)
    v_before = LakeTable.load(spark, pipe.table_path).version
    lin2 = pipe.run_stream(spark, d, str(tmp_path / "c2"), max_files_per_trigger=1)
    assert all(l["skipped"] for l in lin2)
    t = LakeTable.load(spark, pipe.table_path)
    assert t.version == v_before  # no new snapshots, no re-evolution
    assert t.properties[EPOCH_PROP] == "3"


def test_replay_widen_after_later_widen_is_noop(spark, tmp_path):
    """Review-caught (round 2): replaying epoch k's widen after epoch k+n
    widened the column FURTHER must no-op, not raise 'incompatible widen'
    (the crash window between evolve commit and data commit replays ops)."""
    from migration_pair_spark.lakehouse.table import AddColumn, LakeTable, WidenColumn
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("url", T.StringType()), T.StructField("c", T.IntegerType())]),
        key_col="url", n_buckets=4,
    )
    t.evolve_schema([WidenColumn("c", "bigint")])
    t.evolve_schema([WidenColumn("c", "double")])
    v = t.version
    t.evolve_schema([WidenColumn("c", "bigint")])  # replay of the first op
    assert t.version == v  # no-op commit
    assert t.schema["c"].dataType.simpleString() == "double"


def test_replay_rename_after_old_name_readded(spark, tmp_path):
    """Review-caught (round 2): replaying a rename when a LATER epoch
    re-added a fresh column under the old name must no-op — re-renaming it
    would commit two identically-named fields."""
    from migration_pair_spark.lakehouse.table import AddColumn, LakeTable, RenameColumn
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("url", T.StringType()), T.StructField("lang", T.StringType())]),
        key_col="url", n_buckets=4,
    )
    t.evolve_schema([RenameColumn("lang", "language")])
    t.evolve_schema([AddColumn("lang", "string")])  # later epoch re-adds 'lang'
    t.evolve_schema([RenameColumn("lang", "language")])  # replay of the rename
    names = [f.name for f in t.schema.fields]
    assert names.count("language") == 1 and "lang" in names


def test_genuine_rename_collision_still_raises(spark, tmp_path):
    """Review-caught (round 2, second pass): a rename whose TARGET collides
    with a distinct existing column (and was never applied before — not in
    the manifest's rename history) must hard-fail, not silently no-op."""
    from migration_pair_spark.lakehouse.table import LakeTable, RenameColumn
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([
            T.StructField("url", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("language", T.StringType()),  # distinct column
        ]),
        key_col="url", n_buckets=4,
    )
    with pytest.raises(ValueError, match="target column already exists"):
        t.evolve_schema([RenameColumn("lang", "language")])


def test_replay_straddling_rename_epoch_is_idempotent(spark, tmp_path):
    """Review-caught (round 2, fourth pass): a replay window spanning a
    widen epoch AND a later rename epoch must no-op both ops — the widen
    chases the rename history to the current name; the add consults the add
    history instead of re-adding a spurious column."""
    from migration_pair_spark.lakehouse.table import (
        AddColumn, LakeTable, RenameColumn, WidenColumn,
    )
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("url", T.StringType())]),
        key_col="url", n_buckets=4,
    )
    t.evolve_schema([AddColumn("x", "int")])       # epoch k-1
    t.evolve_schema([WidenColumn("x", "bigint")])  # epoch k
    t.evolve_schema([RenameColumn("x", "y")])      # epoch k+1
    v = t.version
    # crash-replay of all three epochs' ops, post-rename
    t.evolve_schema([AddColumn("x", "int")])
    t.evolve_schema([WidenColumn("x", "bigint")])
    t.evolve_schema([RenameColumn("x", "y")])
    assert t.version == v  # all no-ops
    names = [f.name for f in t.schema.fields]
    assert names == ["url", "y"]  # no spurious 'x' re-added
    assert t.schema["y"].dataType.simpleString() == "bigint"


# ---------------------------------------------------------------- nested


def _nested_table(spark, path):
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("width", T.IntegerType(), True),
                        T.StructField("codec", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    return LakeTable.create(spark, path, schema, key_col="url", n_buckets=4)


def _nested_rows(spark, urls, width=10, codec="h264"):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(url=u, meta=Row(width=width, codec=codec)) for u in urls],
        "url string, meta struct<width:int, codec:string>",
    )


def test_nested_add_and_rename_reconcile_old_files(spark, tmp_path):
    """Struct-field add + rename are metadata-only commits: rows written
    BEFORE the evolution read back with the renamed field populated and the
    added field null; rows written AFTER carry both. Null structs stay null
    (the F.struct rebuild must not invent a struct of nulls)."""
    from pyspark.sql import Row

    from migration_pair_spark.lakehouse.table import AddStructField, RenameStructField

    t = _nested_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_nested_rows(spark, ["a", "b"], width=7, codec="vp9"))
    null_row = spark.createDataFrame(
        [Row(url="n", meta=None)], "url string, meta struct<width:int, codec:string>"
    )
    null_row = null_row.withColumn("_lsn", F.lit(1).cast("long")).withColumn(
        "_deleted", F.lit(False)
    ).withColumn("_bucket", t.bucket_expr())
    t.append_buckets(null_row)

    t.evolve_schema(
        [
            AddStructField("meta", "height", "int"),
            RenameStructField("meta", "codec", "video_codec"),
        ]
    )
    got = {f.name: f.dataType for f in t.schema.fields}
    assert [f.name for f in got["meta"].fields] == ["width", "video_codec", "height"]

    post = spark.createDataFrame(
        [Row(url="c", meta=Row(width=9, video_codec="av1", height=5))],
        "url string, meta struct<width:int, video_codec:string, height:int>",
    )
    post = (
        post.withColumn("_lsn", F.lit(2).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )
    t.append_buckets(post)
    rows = {r["url"]: r["meta"] for r in t.read().collect()}
    assert rows["a"]["video_codec"] == "vp9" and rows["a"]["width"] == 7
    assert rows["a"]["height"] is None
    assert rows["c"] == Row(width=9, video_codec="av1", height=5)
    assert rows["n"] is None  # null struct preserved through the rebuild
    # re-adding the renamed-away name is a new field: files written before
    # the rename keep their 'codec' under video_codec and read the new one
    # as NULL
    t.evolve_schema([AddStructField("meta", "codec", "string")])
    rows = {r["url"]: r["meta"] for r in t.read().collect()}
    assert rows["a"]["codec"] is None and rows["a"]["video_codec"] == "vp9"
    assert rows["c"]["codec"] is None and rows["c"]["video_codec"] == "av1"
    assert rows["n"] is None


def test_nested_evolution_replay_straddling_restart(spark, tmp_path):
    """The crash-replay contract extends to nested ops: re-applying the same
    epoch's struct ops (including a replay that straddles the rename) must
    no-op; genuine conflicts still hard-fail."""
    from migration_pair_spark.lakehouse.table import (
        AddStructField,
        RenameColumn,
        RenameStructField,
        WidenStructField,
    )

    t = _nested_table(spark, str(tmp_path / "t"))
    ops = [
        AddStructField("meta", "height", "int"),
        RenameStructField("meta", "codec", "video_codec"),
    ]
    v = t.evolve_schema(ops)
    # replay after 'crash': both ops already applied -> no new snapshot
    assert t.evolve_schema(ops) == v
    # replay of the ADD alone, now that the rename moved other fields: no-op
    assert t.evolve_schema([AddStructField("meta", "height", "int")]) == v
    # a rename recorded in history replays as a no-op even though 'codec'
    # no longer exists
    assert t.evolve_schema([RenameStructField("meta", "codec", "video_codec")]) == v
    # genuine conflicts
    with pytest.raises(ValueError, match="already exists"):
        t.evolve_schema([AddStructField("meta", "height", "string")])
    with pytest.raises(ValueError, match="target"):
        t.evolve_schema([RenameStructField("meta", "width", "height")])
    with pytest.raises(ValueError, match="missing field"):
        t.evolve_schema([RenameStructField("meta", "nope", "x")])
    with pytest.raises(ValueError, match="non-struct"):
        t.evolve_schema([AddStructField("url", "x", "int")])
    # a replay straddling a later COLUMN rename and field widen no-ops: the
    # add history's column chases to the current name, as top-level adds do
    t.evolve_schema([RenameColumn("meta", "media_meta")])
    v = t.evolve_schema([WidenStructField("media_meta", "height", "bigint")])
    assert t.evolve_schema([AddStructField("meta", "height", "int")]) == v
    # the top-level add rule holds for fields: an existing field whose type
    # is a valid widening of the wanted one is an applied add
    assert t.evolve_schema([AddStructField("media_meta", "width", "smallint")]) == v


def test_nested_rename_chases_toplevel_rename(spark, tmp_path):
    """A struct rename recorded before the COLUMN itself was renamed must
    still reconcile old files onto the final name chain."""
    from migration_pair_spark.lakehouse.table import RenameColumn, RenameStructField

    t = _nested_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_nested_rows(spark, ["a"], width=3, codec="vp8"))
    t.evolve_schema([RenameStructField("meta", "codec", "video_codec")])
    t.evolve_schema([RenameColumn("meta", "media_meta")])
    rows = {r["url"]: r["media_meta"] for r in t.read().collect()}
    assert rows["a"]["video_codec"] == "vp8"
    # and a replayed struct op addressed by the OLD column name no-ops
    v = t.version
    assert t.evolve_schema([RenameStructField("meta", "codec", "video_codec")]) == v


# ----------------------------------------------------- array-of-struct


def _regions_table(spark, path):
    """array<struct> column: per-region multimodal metadata (the shape
    VERDICT r4 item #5 names — detected regions/frames per document)."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField(
                "regions",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("x", T.IntegerType(), True),
                            T.StructField("label", T.StringType(), True),
                        ]
                    )
                ),
                True,
            ),
        ]
    )
    return LakeTable.create(spark, path, schema, key_col="url", n_buckets=4)


def _region_rows(spark, urls, x=1, label="cat"):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(url=u, regions=[Row(x=x, label=label), Row(x=x + 1, label=label)]) for u in urls],
        "url string, regions array<struct<x:int, label:string>>",
    )


def test_array_of_struct_add_and_rename_reconcile_old_files(spark, tmp_path):
    """Element-struct add + rename inside an array<struct> column are
    metadata-only: old rows read back with every ELEMENT carrying the
    renamed field and a null added field; null arrays stay null; rows
    written after the evolution carry both."""
    from pyspark.sql import Row

    from migration_pair_spark.lakehouse.table import AddStructField, RenameStructField

    t = _regions_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_region_rows(spark, ["a", "b"], x=5, label="dog"))
    null_row = spark.createDataFrame(
        [Row(url="n", regions=None)],
        "url string, regions array<struct<x:int, label:string>>",
    )
    null_row = (
        null_row.withColumn("_lsn", F.lit(1).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )
    t.append_buckets(null_row)

    t.evolve_schema(
        [
            AddStructField("regions", "score", "double"),
            RenameStructField("regions", "label", "category"),
        ]
    )
    elem = t.schema["regions"].dataType.elementType
    assert [f.name for f in elem.fields] == ["x", "category", "score"]

    post = spark.createDataFrame(
        [Row(url="c", regions=[Row(x=9, category="bird", score=0.5)])],
        "url string, regions array<struct<x:int, category:string, score:double>>",
    )
    post = (
        post.withColumn("_lsn", F.lit(2).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )
    t.append_buckets(post)
    rows = {r["url"]: r["regions"] for r in t.read().collect()}
    assert [e["category"] for e in rows["a"]] == ["dog", "dog"]
    assert [e["x"] for e in rows["a"]] == [5, 6]
    assert all(e["score"] is None for e in rows["a"])
    assert rows["c"] == [Row(x=9, category="bird", score=0.5)]
    assert rows["n"] is None  # null array preserved through the transform
    # re-adding the renamed-away name is a new element field: elements
    # written before the rename keep their 'label' under category and read
    # the new one as NULL
    t.evolve_schema([AddStructField("regions", "label", "string")])
    rows = {r["url"]: r["regions"] for r in t.read().collect()}
    assert [(e["label"], e["category"]) for e in rows["a"]] == [(None, "dog")] * 2
    assert [(e["label"], e["category"]) for e in rows["c"]] == [(None, "bird")]
    assert rows["n"] is None


def test_array_of_struct_evolution_replay_straddling_restart(spark, tmp_path):
    """Crash-replay idempotence for array-nested ops, mirroring the struct
    case: replays (including straddling the rename) no-op; genuine
    conflicts hard-fail; and the history replays cleanly on a RELOADED
    table (restart)."""
    from migration_pair_spark.lakehouse.table import (
        AddStructField,
        RenameColumn,
        RenameStructField,
        WidenStructField,
    )

    path = str(tmp_path / "t")
    t = _regions_table(spark, path)
    t.append_bucketed(_region_rows(spark, ["a"], x=3, label="cat"))
    ops = [
        AddStructField("regions", "score", "double"),
        RenameStructField("regions", "label", "category"),
    ]
    v = t.evolve_schema(ops)
    assert t.evolve_schema(ops) == v
    # restart: reload from disk, replay the same epoch's ops
    t2 = LakeTable.load(spark, path)
    assert t2.evolve_schema(ops) == v
    assert t2.evolve_schema([AddStructField("regions", "score", "double")]) == v
    assert (
        t2.evolve_schema([RenameStructField("regions", "label", "category")]) == v
    )
    with pytest.raises(ValueError, match="already exists"):
        t2.evolve_schema([AddStructField("regions", "score", "string")])
    with pytest.raises(ValueError, match="target"):
        t2.evolve_schema([RenameStructField("regions", "x", "score")])
    with pytest.raises(ValueError, match="missing field"):
        t2.evolve_schema([RenameStructField("regions", "nope", "y")])
    # a non-struct array (array<int>) still rejects nested ops
    sch = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("vals", T.ArrayType(T.IntegerType()), True),
        ]
    )
    t3 = LakeTable.create(spark, str(tmp_path / "t3"), sch, key_col="url", n_buckets=2)
    with pytest.raises(ValueError, match="non-struct"):
        t3.evolve_schema([AddStructField("vals", "x", "int")])
    # old rows reconcile after the restart-replayed evolution
    rows = {r["url"]: r["regions"] for r in t2.read().collect()}
    assert [e["category"] for e in rows["a"]] == ["cat", "cat"]
    assert all(e["score"] is None for e in rows["a"])
    # a replay straddling a later column rename and element-field widen
    # no-ops, as in a plain struct
    t2.evolve_schema([AddStructField("regions", "rank", "int")])
    t2.evolve_schema([RenameColumn("regions", "boxes")])
    v = t2.evolve_schema([WidenStructField("boxes", "rank", "bigint")])
    assert t2.evolve_schema([AddStructField("regions", "rank", "int")]) == v


# ------------------------------------------------------- drop / struct widen


def _flat_table(spark, path, stats_cols=()):
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("a", T.IntegerType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    return LakeTable.create(
        spark, path, schema, key_col="url", n_buckets=4, stats_cols=stats_cols
    )


def _flat_rows(spark, urls, a=1, b="x"):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(url=u, a=a, b=b) for u in urls], "url string, a int, b string"
    )


def _append(t, df, lsn=1):
    """Incremental append at the CURRENT schema (append_bucketed is the
    pristine bulk load — it replaces every bucket)."""
    t.append_buckets(
        df.withColumn("_lsn", F.lit(lsn).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )


def test_drop_column_is_metadata_only(spark, tmp_path):
    """DropColumn removes the column from the current schema without
    touching data files; old files' bytes stay but every read projects the
    column away. Replays no-op via the drop history; structural columns
    (merge key, LWW order) refuse."""
    from migration_pair_spark.lakehouse.table import DropColumn

    t = _flat_table(spark, str(tmp_path / "t"), stats_cols=("a", "b"))
    t.append_bucketed(_flat_rows(spark, ["u1", "u2"], a=7, b="keep"))
    v = t.evolve_schema([DropColumn("b")])
    assert [f.name for f in t.schema.fields] == ["url", "a"]
    # zone-map declaration for the dropped column is scrubbed
    assert t.manifest.get("stats_cols") == ["a"]
    # old rows read back without the column, values intact
    rows = {r["url"]: r["a"] for r in t.read().collect()}
    assert rows == {"u1": 7, "u2": 7}
    assert "b" not in t.read().columns
    # crash-replay of the same drop: no-op, no new snapshot
    assert t.evolve_schema([DropColumn("b")]) == v
    # reloaded table replays the drop as a no-op too (restart window)
    t2 = LakeTable.load(spark, t.path)
    assert t2.evolve_schema([DropColumn("b")]) == v
    # a drop of a never-existing column is a genuine error
    with pytest.raises(ValueError, match="missing column"):
        t.evolve_schema([DropColumn("nope")])
    # structural columns refuse
    with pytest.raises(ValueError, match="structural"):
        t.evolve_schema([DropColumn("url")])
    # post-drop writes at the narrowed schema work and read back merged
    _append(t, spark.createDataFrame([("u3", 9)], "url string, a int"))
    rows = {r["url"]: r["a"] for r in t.read().collect()}
    assert rows == {"u1": 7, "u2": 7, "u3": 9}


def test_drop_then_readd_reads_null_from_old_files(spark, tmp_path):
    """The incarnation fence: re-adding a dropped name must NOT resurrect
    the old incarnation's bytes from pre-drop files (Iceberg's field-id
    guarantee). Old rows read the re-added column as NULL; new rows carry
    values."""
    from migration_pair_spark.lakehouse.table import AddColumn, DropColumn

    t = _flat_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_flat_rows(spark, ["old"], a=5, b="ghost"))
    t.evolve_schema([DropColumn("b")])
    # the re-add must APPLY (not be swallowed by the add history as a
    # replay) even though a same-named same-typed column existed before
    t.evolve_schema([AddColumn("b", "string")])
    assert [f.name for f in t.schema.fields] == ["url", "a", "b"]
    _append(
        t,
        spark.createDataFrame([("new", 6, "real")], "url string, a int, b string"),
    )
    rows = {r["url"]: (r["a"], r["b"]) for r in t.read().collect()}
    assert rows["old"] == (5, None)  # ghost bytes fenced off
    assert rows["new"] == (6, "real")


def test_drop_chases_rename_and_frees_name(spark, tmp_path):
    """A drop addressed by a PRE-rename name chases the rename history;
    after the drop the name is free for a genuine rename target."""
    from migration_pair_spark.lakehouse.table import DropColumn, RenameColumn

    t = _flat_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_flat_rows(spark, ["u"], a=1, b="v"))
    t.evolve_schema([RenameColumn("b", "b2")])
    v = t.evolve_schema([DropColumn("b")])  # chases b -> b2, drops b2
    assert [f.name for f in t.schema.fields] == ["url", "a"]
    assert t.evolve_schema([DropColumn("b")]) == v  # replay no-ops
    # freed name usable as a rename target now
    t.evolve_schema([RenameColumn("a", "b2")])
    rows = {r["url"]: r["b2"] for r in t.read().collect()}
    assert rows == {"u": 1}


def test_widen_struct_field_reconciles_old_files(spark, tmp_path):
    """WidenStructField is metadata-only: old files' narrow struct fields
    cast up on read (the recursive struct conform); replays no-op; genuine
    narrowing / non-struct targets hard-fail."""
    from migration_pair_spark.lakehouse.table import (
        RenameStructField,
        WidenStructField,
    )
    from pyspark.sql import Row

    t = _nested_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_nested_rows(spark, ["a"], width=7, codec="vp9"))
    v = t.evolve_schema([WidenStructField("meta", "width", "bigint")])
    assert t.schema["meta"].dataType["width"].dataType == T.LongType()
    rows = {r["url"]: r["meta"] for r in t.read().collect()}
    assert rows["a"]["width"] == 7 and rows["a"]["codec"] == "vp9"
    # replay no-ops, including when addressed through a later field rename
    assert t.evolve_schema([WidenStructField("meta", "width", "bigint")]) == v
    t.evolve_schema([RenameStructField("meta", "width", "w")])
    v2 = t.version
    assert t.evolve_schema([WidenStructField("meta", "width", "bigint")]) == v2
    # genuine narrowing hard-fails; missing field / non-struct refuse
    with pytest.raises(ValueError, match="incompatible widen"):
        t.evolve_schema([WidenStructField("meta", "w", "int")])
    with pytest.raises(ValueError, match="missing field"):
        t.evolve_schema([WidenStructField("meta", "nope", "bigint")])
    with pytest.raises(ValueError, match="non-struct"):
        t.evolve_schema([WidenStructField("url", "x", "bigint")])
    # post-evolution writes at the wide schema merge with reconciled rows
    _append(
        t,
        spark.createDataFrame(
            [Row(url="b", meta=Row(w=2**40, codec="av1"))],
            "url string, meta struct<w:bigint, codec:string>",
        ),
    )
    rows = {r["url"]: r["meta"]["w"] for r in t.read().collect()}
    assert rows == {"a": 7, "b": 2**40}


def test_widen_struct_field_in_array_of_struct(spark, tmp_path):
    """The widen reaches element structs of array<struct<...>> columns,
    like nested add/rename (per-region/per-frame metadata)."""
    from migration_pair_spark.lakehouse.table import WidenStructField

    t = _regions_table(spark, str(tmp_path / "t"))
    t.append_bucketed(_region_rows(spark, ["a"], x=3, label="cat"))
    t.evolve_schema([WidenStructField("regions", "x", "bigint")])
    el = t.schema["regions"].dataType.elementType
    assert el["x"].dataType == T.LongType()
    rows = {r["url"]: r["regions"] for r in t.read().collect()}
    assert [e["x"] for e in rows["a"]] == [3, 4]
