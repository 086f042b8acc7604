"""Round-7 regression tests for the ADVICE-r6 defects: merge_mor's
empty-table fast path honors identity columns and strict enforcement,
vacuum on a branch root never deletes files the parent log references,
when_not_matched_by_source_delete=False means "branch off", and the
connector's empty-snapshot schema fallback stays inside the branch log.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.sources.pyds import (
    register_snapshot_source,
)
from s3_glue_redshift_guide_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest,
)


def _tmp(pfx):
    return tempfile.mkdtemp(prefix=f"r7_{pfx}_")


def _kv(spark, n=100, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


# ------------------------------------------------------------------ #
# 1. merge_mor onto an EMPTY identity table (first write via MERGE)
# ------------------------------------------------------------------ #

def test_merge_mor_empty_table_assigns_identity(spark):
    t = SnapshotTable(spark, _tmp("mergident"))
    t.add_identity_column("rid", start=100, step=10)
    src = spark.range(5).select((F.col("id") * 3).alias("k"))
    t.merge_mor(src, on=["k"])
    rows = {r["rid"] for r in t.read().select("rid").collect()}
    assert None not in rows, "empty-path MERGE inserted NULL identity"
    assert len(rows) == 5
    # START WITH 100: the first id may be 100 itself (Delta semantics)
    assert all((r - 100) % 10 == 0 and r >= 100 for r in rows)
    # the watermark advanced: a follow-up append draws HIGHER ids
    t.commit_append(
        spark.range(1).select(F.lit(999).cast("bigint").alias("k"))
    )
    newest = (
        t.read().filter(F.col("k") == 999).select("rid").collect()[0][0]
    )
    assert newest > max(rows)


def test_merge_mor_empty_table_identity_starts_at_start(spark):
    t = SnapshotTable(spark, _tmp("mergidexact"))
    t.add_identity_column("rid", start=100, step=10)
    src = spark.range(5).coalesce(1).select(F.col("id").alias("k"))
    t.merge_mor(src, on=["k"])
    rows = {r["rid"] for r in t.read().select("rid").collect()}
    assert rows == {100, 110, 120, 130, 140}


def test_merge_mor_empty_table_rejects_supplied_identity(spark):
    t = SnapshotTable(spark, _tmp("mergidrej"))
    t.add_identity_column("rid")
    src = spark.range(3).select(
        F.col("id").alias("k"), F.col("id").alias("rid")
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.merge_mor(src, on=["k"])


# ------------------------------------------------------------------ #
# 2. strict enforcement covers merge_mor's insert branch
# ------------------------------------------------------------------ #

def test_merge_mor_strict_rejects_extra_source_column(spark):
    t = SnapshotTable(spark, _tmp("mergstrict"))
    t.commit_append(_kv(spark, 20))
    t.set_schema_enforcement("strict")
    src = spark.range(30, 35).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("drift").alias("extra"),
    )
    with pytest.raises(ValueError, match="strict"):
        t.merge_mor(src, on=["k"])
    # the same merge with insert disabled only updates — no widening
    # path, so the extra column is legal (it feeds conditions only)
    t.merge_mor(
        spark.range(5).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("bigint").alias("v"),
            F.lit("x").alias("extra"),
        ),
        on=["k"],
        when_matched_update={"v": F.col("__src_v")},
        insert_not_matched=False,
    )
    assert t.read().columns == ["k", "v"]
    assert t.read().filter(F.col("v") == -1).count() == 5


def test_merge_mor_additive_still_widens(spark):
    t = SnapshotTable(spark, _tmp("mergadd"))
    t.commit_append(_kv(spark, 10))
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("new").alias("extra"),
    )
    t.merge_mor(src, on=["k"])
    df = t.read()
    assert "extra" in df.columns
    assert df.filter(F.col("extra") == "new").count() == 3


# ------------------------------------------------------------------ #
# 3. when_not_matched_by_source_delete=False == branch disabled
# ------------------------------------------------------------------ #

def test_merge_mor_nmbs_false_is_off(spark):
    t = SnapshotTable(spark, _tmp("mergnmbs"))
    t.commit_append(_kv(spark, 10))
    src = spark.range(3).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    # False must behave exactly like None: no AttributeError, and the
    # 7 unmatched target rows survive
    t.merge_mor(
        src,
        on=["k"],
        when_matched_update={"v": F.col("__src_v")},
        insert_not_matched=False,
        when_not_matched_by_source_delete=False,
    )
    assert t.read().count() == 10
    assert t.read().filter(F.col("v") == 0).count() == 3


# ------------------------------------------------------------------ #
# 4. vacuum on a branch root keeps parent-referenced files alive
# ------------------------------------------------------------------ #

def test_branch_vacuum_preserves_parent_referenced_files(spark):
    main = SnapshotTable(spark, _tmp("bvac"))
    main.commit_append(_kv(spark, 50))
    br = main.create_branch("wip")
    br.commit_append(_kv(spark, 10, start=100))  # branch-local files
    main_head_before = main.read().count()
    # PUBLISH the branch onto main: main's manifests now reference
    # files under <main>/_branches/wip/data by absolute path
    main.fast_forward("wip")
    assert main.read().count() == 60
    # the branch now rewrites its whole layout and vacuums aggressively
    br.commit_rewrite(br.read().coalesce(1))
    deleted = br.vacuum(retain_versions=1)
    # main must still read every row it published — the branch's vacuum
    # sees the parent's reachability and keeps the fast-forwarded files
    assert main.read().count() == 60
    assert main.read().filter(F.col("k") >= 100).count() == 10
    # and the branch itself still reads
    assert br.read().count() == 60
    assert main_head_before == 50


def test_branch_vacuum_still_reclaims_unreferenced(spark):
    main = SnapshotTable(spark, _tmp("bvac2"))
    main.commit_append(_kv(spark, 20))
    br = main.create_branch("tmp")
    br.commit_append(_kv(spark, 5, start=100).coalesce(1))   # v2: one file
    br.commit_rewrite(br.read().coalesce(1))                  # v3 rewrite
    # never fast-forwarded: the v2 branch-local file is reachable only
    # from the branch's own v2 manifest — vacuum to head drops it
    deleted = br.vacuum(retain_versions=1)
    assert any(os.sep + "_branches" + os.sep in p for p in deleted)
    assert br.read().count() == 25
    assert main.read().count() == 20


# ------------------------------------------------------------------ #
# 5. connector empty-snapshot schema fallback walks the BRANCH log
# ------------------------------------------------------------------ #

def test_connector_empty_branch_snapshot_schema_from_branch_log(spark):
    register_snapshot_source(spark)
    main = SnapshotTable(spark, _tmp("bempty"))
    main.commit_append(_kv(spark, 10))           # main schema: k, v
    br = main.create_branch("dev")
    # the branch diverges: new column, then a rewrite down to ZERO rows
    br.commit_append(
        spark.range(100, 105).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.lit("b").alias("branch_only"),
        )
    )
    br.commit_rewrite(br.read().filter(F.lit(False)))
    # branch head has no files; schema inference must walk the BRANCH
    # log (k, v, branch_only), not main's (k, v)
    df = (
        spark.read.format("pysnapshot")
        .option("root", main.root)
        .option("branch", "dev")
        .load()
    )
    assert df.count() == 0
    assert "branch_only" in df.columns


# ------------------------------------------------------------------ #
# 6. identity registration seeds from banked stats — no data scan
# ------------------------------------------------------------------ #

def test_identity_seed_from_metadata_no_scan(spark, monkeypatch):
    """Registering identity on a populated column must answer the seed
    watermark from zone maps / footers (metadata), never a data scan:
    DataFrame.agg is poisoned, so any full-column read raises."""
    from pyspark.sql import DataFrame

    t = SnapshotTable(spark, _tmp("identseed"))
    t.commit_append(
        spark.range(1, 51).select(
            F.col("id").alias("rid"), (F.col("id") * 7).alias("k")
        ),
        stats_cols=["rid"],
    )

    def poisoned(self, *a, **kw):
        raise AssertionError(
            "identity seeding scanned the column (DataFrame.agg)"
        )

    monkeypatch.setattr(DataFrame, "agg", poisoned)
    t.add_identity_column("rid", start=1, step=1)
    monkeypatch.undo()
    m = load_manifest(t.root, t.current_version())
    assert m["identity"]["rid"]["high"] == 50
    # fresh appends draw ABOVE the seeded watermark
    t.commit_append(
        spark.range(1).select(F.lit(1000).cast("bigint").alias("k"))
    )
    new_id = (
        t.read().filter(F.col("k") == 1000).select("rid").collect()[0][0]
    )
    assert new_id > 50


def test_identity_seed_tolerates_deletion_vectors(spark):
    """A DV-tombstoned max row may OVERSTATE the watermark — the
    conservative-safe direction (gaps allowed; duplicates impossible)."""
    t = SnapshotTable(spark, _tmp("identdv"))
    t.commit_append(
        spark.range(1, 21).select(
            F.col("id").alias("rid"), (F.col("id") * 3).alias("k")
        ),
        stats_cols=["rid"],
    )
    t.delete_where(F.col("rid") == 20)  # the max row is tombstoned
    t.add_identity_column("rid", start=1, step=1)
    m = load_manifest(t.root, t.current_version())
    # seeded from the FILE max (20), not the visible max (19): an id
    # above every value ever committed can never collide
    assert m["identity"]["rid"]["high"] >= 19
    t.commit_append(
        spark.range(1).select(F.lit(500).cast("bigint").alias("k"))
    )
    ids = [r[0] for r in t.read().select("rid").collect()]
    assert len(ids) == len(set(ids)), "duplicate identity values"


# ------------------------------------------------------------------ #
# 7. connector writes onto partition-spec'd tables
# ------------------------------------------------------------------ #

def test_connector_spec_write_multi_column_and_nulls(spark):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        partition_values_from_path,
    )

    register_snapshot_source(spark)
    t = SnapshotTable(spark, _tmp("specmc"))
    t.set_partition_spec(["a", "b"])
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("a"),
        F.when(F.col("id") % 3 == 0, "x=1/y").otherwise(None).alias("b"),
    )
    df.repartition(2).write.format("pysnapshot").option(
        "root", t.root
    ).mode("append").save()
    m = load_manifest(t.root, t.current_version())
    tuples = {
        (pv.get("a"), pv.get("b"))
        for pv in map(partition_values_from_path, m["files"])
    }
    # 2 a-values x {the special string, NULL} = 4 live tuples
    assert tuples == {
        ("0", "x=1/y"), ("0", None), ("1", "x=1/y"), ("1", None)
    }
    assert t.read().count() == 60
    # the URL-quoted special value round-trips through path pruning
    pruned = t.partition_pruned_files({"a": 1, "b": "x=1/y"})
    assert 0 < len(pruned) < len(m["files"])
    got = t.read_partition({"a": 1, "b": "x=1/y"}).filter(
        (F.col("a") == 1) & (F.col("b") == "x=1/y")
    )
    assert got.count() == 10


def test_connector_spec_write_composes_with_splitby(spark):
    from s3_glue_redshift_guide_spark.sources.snapshots import (
        partition_values_from_path,
    )

    register_snapshot_source(spark)
    t = SnapshotTable(spark, _tmp("specsplit"))
    t.set_partition_spec(["p"])
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("p"),
        (F.col("id") % 4).alias("s"),
    )
    df.coalesce(1).write.format("pysnapshot").option(
        "root", t.root
    ).option("splitBy", "s").option("statsCols", "s").mode(
        "append"
    ).save()
    m = load_manifest(t.root, t.current_version())
    # one task x 2 partitions x 2 s-values within each = 4 files
    assert len(m["files"]) == 4
    assert all(
        "p" in partition_values_from_path(f) for f in m["files"]
    )
    # splitBy still collapses each file's zone map to a point
    assert all(
        st.get("s") and st["s"][0] == st["s"][1]
        for st in m["stats"].values()
    )
    assert t.read().count() == 40


def test_connector_spec_write_missing_column_rejected(spark):
    register_snapshot_source(spark)
    t = SnapshotTable(spark, _tmp("specmiss"))
    t.set_partition_spec(["p"])
    with pytest.raises(Exception, match="partition spec"):
        spark.range(5).select(F.col("id").alias("k")).write.format(
            "pysnapshot"
        ).option("root", t.root).mode("append").save()


def test_streamed_cdf_pairs_update_images(spark):
    """Real 2-epoch CDF stream over a row-tracked table: each
    micro-batch pairs its MOR-update halves on _row_id inside
    foreachBatch (pair_update_images) — the union over epochs must
    equal the batch read_changes_images feed value-exactly."""
    import uuid as _uuid

    from s3_glue_redshift_guide_spark.sources.pyds import (
        pair_update_images,
    )

    register_snapshot_source(spark)
    t = SnapshotTable(spark, _tmp("cdfstream"))
    t.enable_row_tracking()
    t.commit_append(_kv(spark, 16).repartition(2))
    v0 = t.current_version()
    t.update_where(F.col("k") % 4 == 1, {"v": F.col("v") + 100})
    t.delete_where(F.col("k") % 4 == 2)

    acc: list = []
    stream = (
        spark.readStream.format("pysnapshot")
        .schema(
            "k bigint, v bigint, _row_id bigint, "
            "_change_type string, _commit_version bigint"
        )
        .option("root", t.root)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v0))
        .option("maxVersionsPerTrigger", "1")  # one commit per epoch
        .load()
        .select("k", "v", "_row_id", "_change_type", "_commit_version")
    )

    def on_batch(df, epoch_id):
        paired = pair_update_images(
            df.withColumn(
                "_commit_timestamp",
                F.lit(None).cast("timestamp"),
            )
        )
        acc.extend(
            (r["k"], r["v"], r["_change_type"])
            for r in paired.collect()
        )

    # with the admission cap ACTUALLY engaging on fresh starts
    # (round-9 fix), each availableNow run under the single-batch
    # fallback processes one capped batch — drain once per backlog
    # version on the SAME checkpoint, exactly how a capped catch-up
    # runs in production
    ck = _tmp(f"ck_{_uuid.uuid4().hex[:6]}")
    for _ in range(t.current_version() - v0):
        q = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    want = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.read_changes_images(v0, t.current_version())
        .select("k", "v", "_change_type")
        .collect()
    )
    assert sorted(acc) == want


def test_connector_identity_table_still_refused(spark):
    register_snapshot_source(spark)
    t = SnapshotTable(spark, _tmp("specident"))
    t.add_identity_column("rid")
    with pytest.raises(Exception, match="[Ii]dentity"):
        spark.range(5).select(F.col("id").alias("k")).write.format(
            "pysnapshot"
        ).option("root", t.root).mode("append").save()


# ------------------- conditional WHEN MATCHED ... THEN UPDATE (r7 s2) ----
def test_merge_conditional_update_leaves_unmatched_rows_untouched(spark):
    import tempfile

    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="condupd_"))
    t.commit_append(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    src = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("bump")
    )
    v = t.merge_mor(
        src,
        on=["k"],
        when_matched_update={"v": F.col("v") + F.col("__src_bump")},
        when_matched_update_condition=F.col("k") % 3 == 0,
        insert_not_matched=False,
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {k: k * 10 + (1 if k % 3 == 0 else 0) for k in range(10)}
    # rows failing the condition produced NO change-feed pair
    ch = t.read_changes(v - 1, v)
    changed_keys = {r["k"] for r in ch.collect()}
    assert changed_keys == {0, 3, 6, 9}


def test_merge_conditional_update_requires_assignments(spark):
    import tempfile

    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="condupd2_"))
    t.commit_append(spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="requires"):
        t.merge_mor(
            spark.range(3).select(F.col("id").alias("k")),
            on=["k"],
            when_matched_update_condition=F.col("k") > 0,
            insert_not_matched=False,
        )


def test_sql_merge_conditional_update(spark):
    import tempfile

    from s3_glue_redshift_guide_spark.sql_dml import snapshot_sql
    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="condupd3_"))
    t.commit_append(
        spark.range(6).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    spark.range(6).select(
        F.col("id").alias("k"), F.lit(100).cast("long").alias("nv")
    ).createOrReplaceTempView("cond_src")
    snapshot_sql(
        spark,
        f"MERGE INTO pysnapshot.`{t.root}` t USING cond_src s "
        "ON t.k = s.k "
        "WHEN MATCHED AND t.v >= 30 THEN UPDATE SET v = s.nv",
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 100, 4: 100, 5: 100}


# -------- tz-aware literal vs naive footer stats: silent lost rows -------
def test_json_scalar_value_normalizes_tz_aware_to_naive_utc():
    import datetime as dt

    from s3_glue_redshift_guide_spark.sources.snapshots import (
        _json_scalar_value,
    )

    naive = dt.datetime(2022, 6, 2)
    aware = dt.datetime(2022, 6, 2, tzinfo=dt.timezone.utc)
    shifted = dt.datetime(
        2022, 6, 2, 2, tzinfo=dt.timezone(dt.timedelta(hours=2))
    )
    assert _json_scalar_value(naive) == "2022-06-02T00:00:00"
    assert _json_scalar_value(aware) == "2022-06-02T00:00:00"
    assert _json_scalar_value(shifted) == "2022-06-02T00:00:00"


def test_connector_timestamp_boundary_filter_loses_no_rows(spark):
    """Regression: a pushed timestamp equality whose literal arrived
    TZ-AWARE rendered as '...+00:00' in the bounds domain while naive
    footer stats rendered without the suffix — string-wise
    'T00:00:00' < 'T00:00:00+00:00', so every row group whose MAX
    equaled the literal read as max < lo and was silently pruned
    (lost rows, worse with more/smaller files)."""
    import datetime as dt
    import tempfile

    from s3_glue_redshift_guide_spark.sources.pyds import (
        register_snapshot_source,
    )
    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    register_snapshot_source(spark)
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="tzbound_"))
    df = spark.range(30).select(
        F.col("id").alias("k"),
        (
            F.lit("2022-06-01").cast("timestamp_ntz")
            + F.make_interval(
                F.lit(0), F.lit(0), F.lit(0),
                F.floor(F.col("id") / 10).cast("int"),
            )
        ).alias("ts"),
    )
    t.commit_append(df.repartition(10))  # many small files: max == lit
    back = (
        spark.read.format("pysnapshot").option("root", t.root).load()
    )
    eq = back.filter(F.col("ts") == F.lit(dt.datetime(2022, 6, 2)))
    assert sorted(r["k"] for r in eq.collect()) == list(range(10, 20))
    rng = back.filter(
        (F.col("ts") >= F.lit(dt.datetime(2022, 6, 2)))
        & (F.col("ts") < F.lit(dt.datetime(2022, 6, 3)))
    )
    assert rng.count() == 10


def test_identity_timestamp_partition_tz_aware_literal(spark):
    """The path-domain twin of the zone-map tz fix: an identity
    timestamp partition probed with a tz-aware literal must hit the
    naive path segment, both engine-side and through the connector."""
    import datetime as dt
    import tempfile

    from s3_glue_redshift_guide_spark.sources.pyds import (
        register_snapshot_source,
    )
    from s3_glue_redshift_guide_spark.sources.snapshots import SnapshotTable

    register_snapshot_source(spark)
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="tzpart_"))
    t.set_partition_spec(["ts"])
    df = spark.range(30).select(
        F.col("id").alias("k"),
        (
            F.lit("2022-06-01").cast("timestamp_ntz")
            + F.make_interval(
                F.lit(0), F.lit(0), F.lit(0),
                F.floor(F.col("id") / 10).cast("int"),
            )
        ).alias("ts"),
    )
    t.commit_append(df)
    aware = dt.datetime(2022, 6, 2, tzinfo=dt.timezone.utc)
    pruned = t.partition_pruned_files({"ts": aware})
    assert len(pruned) == 1  # one partition file per distinct day
    back = (
        spark.read.format("pysnapshot").option("root", t.root).load()
    )
    assert back.filter(F.col("ts") == F.lit(aware)).count() == 10
