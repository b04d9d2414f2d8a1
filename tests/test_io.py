from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from hackatonbigdata_spark.sources.io import SchemaError, load_typed, write_submission
from tests.conftest import jobs_launched

SF_DIR = "/root/testdata/sf0.001"


def test_load_typed_checks_columns(spark):
    df = load_typed(spark, f"{SF_DIR}/lineitem.parquet", ["l_orderkey", "l_quantity"])
    assert df.count() > 0
    with pytest.raises(SchemaError, match="missing required columns"):
        load_typed(spark, f"{SF_DIR}/lineitem.parquet", ["nonexistent_col"])


def test_write_submission_roundtrip(spark, tmp_path):
    sub = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy(
            F.weekofyear("l_shipdate").alias("semana"),
            F.col("l_suppkey").alias("pdv"),
            F.col("l_partkey").alias("produto"),
        )
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("quantidade"))
    )
    out = str(tmp_path / "submission")
    n = write_submission(sub, out)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1, "submission must be a single CSV file"
    back = spark.read.option("sep", ";").option("header", "true").csv(out)
    assert back.columns == ["semana", "pdv", "produto", "quantidade"]
    assert back.count() == n
    with pytest.raises(SchemaError):
        write_submission(sub.drop("quantidade"), str(tmp_path / "bad"))


def test_export_feature_store_roundtrip(spark, tmp_path):
    from hackatonbigdata_spark.registry import all_queries
    from hackatonbigdata_spark.sources.io import export_feature_store
    import json

    df = all_queries()["feature_matrix_daily_store"](spark, SF_DIR)
    out = str(tmp_path / "fs")
    meta = export_feature_store(df, out, key_cols=["l_suppkey", "l_shipdate"])
    back = spark.read.parquet(f"{out}/features")
    assert back.count() == meta["n_rows"] > 0
    with open(f"{out}/metadata.json", encoding="utf-8") as fh:
        disk = json.load(fh)
    assert disk == meta
    assert "qty_pctile" in disk["feature_columns"]
    assert "l_suppkey" not in disk["feature_columns"]


def test_partitioned_export_prunes_partitions(spark, tmp_path):
    """A feature-store export partitioned by a column must let a reader skip
    partitions: the filtered read-back plan shows a partition filter and
    reads only the matching directory."""
    from pyspark.sql import functions as F

    from hackatonbigdata_spark.sources.io import write_parquet

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumn(
        "ship_month", F.month("l_shipdate")
    )
    out = str(tmp_path / "bymonth")
    write_parquet(df, out, partition_by=["ship_month"])
    back = spark.read.parquet(out).filter(F.col("ship_month") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_month" in plan.split("PartitionFilters", 1)[1][:200]
    got = back.count()
    expect = df.filter(F.col("ship_month") == 3).count()
    assert got == expect > 0


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Small-files compaction: 40 shards in -> size-targeted file count out,
    same rows."""
    from hackatonbigdata_spark.sources.io import compact_parquet

    src = str(tmp_path / "shards")
    dst = str(tmp_path / "compacted")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.repartition(40).write.mode("overwrite").parquet(src)
    stats = compact_parquet(spark, src, dst, target_file_mb=128)
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(dst).count() == li.count()


def test_upsert_parquet_updates_and_inserts(spark, tmp_path):
    """Keyed MERGE onto plain parquet: updated keys take the new values,
    unknown keys append, untouched rows survive byte-for-byte."""
    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "features")
    base = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    base.write.parquet(target)
    n0 = base.count()
    updates = (
        base.filter(F.col("p_partkey") <= 10)
        .withColumn("p_retailprice", F.lit(1.0))
        .union(
            spark.createDataFrame(
                [(10_000_001, "Brand#99", 9.99)], ["p_partkey", "p_brand", "p_retailprice"]
            )
        )
    )
    stats = upsert_parquet(spark, target, updates, ["p_partkey"])
    back = spark.read.parquet(target)
    assert stats["rows_after"] == back.count() == n0 + 1
    assert stats["rows_updated"] == base.filter("p_partkey <= 10").count()
    assert back.filter("p_partkey <= 10").select(F.min("p_retailprice"), F.max("p_retailprice")).first() == (1.0, 1.0)
    assert back.filter("p_partkey = 10000001").count() == 1


# --- upsert_parquet: stats against explicit semi/anti-join counts ----------

KV = "k long, v string"


def _expected_upsert_stats(tgt, updates, key_cols):
    """The MERGE's stats the slow way: one count per join side."""
    keys = updates.select(*key_cols).distinct()
    before = tgt.count()
    updated = tgt.join(keys, key_cols, "left_semi").count()
    kept = tgt.join(keys, key_cols, "left_anti").count()
    assert updated + kept == before
    after = kept + updates.count()
    return {
        "rows_before": before,
        "rows_updated": updated,
        "rows_inserted": after - before,
        "rows_after": after,
    }


@pytest.mark.parametrize(
    "target_rows, update_rows",
    [
        pytest.param(
            [(1, "a"), (1, "b"), (2, "c"), (3, "d")],
            [(1, "x"), (4, "y")],
            id="duplicate-keys-in-target",
        ),
        pytest.param(
            [(None, "n"), (1, "a"), (2, "b")],
            [(1, "x"), (5, "y")],
            id="null-key-in-target-is-kept",
        ),
        pytest.param(
            [(1, "a"), (2, "b")],
            [(1, "x"), (1, "y"), (5, "z")],
            id="duplicate-keys-in-updates",
        ),
        pytest.param(
            [(1, "a"), (2, "b")],
            [(3, "x"), (4, "y")],
            id="pure-insert",
        ),
        pytest.param(
            [(1, "a"), (2, "b"), (3, "c")],
            [(1, "x"), (3, "y")],
            id="pure-update",
        ),
        pytest.param([], [(1, "x")], id="empty-target"),
        pytest.param([(1, "a"), (2, "b")], [], id="empty-updates"),
    ],
)
def test_upsert_parquet_stats_match_join_counts(spark, tmp_path, target_rows, update_rows):
    """The returned stats equal explicit semi-/anti-join counts, and the
    table holds exactly the kept target rows plus every update row."""
    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "t")
    spark.createDataFrame(target_rows, KV).write.parquet(target)
    updates = spark.createDataFrame(update_rows, KV)
    expect = _expected_upsert_stats(spark.read.parquet(target), updates, ["k"])
    upd_keys = {k for k, _ in update_rows}
    expect_rows = sorted(
        [r for r in target_rows if r[0] not in upd_keys or r[0] is None] + update_rows,
        key=repr,
    )

    stats = upsert_parquet(spark, target, updates, ["k"])

    assert stats == expect
    got = sorted((tuple(r) for r in spark.read.parquet(target).collect()), key=repr)
    assert got == expect_rows
    assert len(got) == stats["rows_after"]


def test_upsert_parquet_accepts_updates_from_another_session(spark, tmp_path):
    """A ``foreachBatch`` micro-batch belongs to a cloned session.  Stats
    observed on that session's plan would never be reported by a write run
    in ``spark``'s session and the call would wait forever; run it in a
    daemon thread so such a regression fails here instead of hanging."""
    import threading

    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], KV).write.parquet(target)
    updates = spark.newSession().createDataFrame([(2, "x"), (3, "y")], KV)
    out = {}

    def run():
        try:
            out["stats"] = upsert_parquet(spark, target, updates, ["k"])
        except Exception as exc:  # re-raised in the test thread
            out["error"] = exc

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive(), "upsert_parquet hung on updates from another session"
    if "error" in out:
        raise out["error"]
    assert out["stats"] == {
        "rows_before": 2, "rows_updated": 1, "rows_inserted": 1, "rows_after": 3,
    }
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) == [
        (1, "a"), (2, "x"), (3, "y"),
    ]


def test_upsert_parquet_is_one_pass(spark, tmp_path):
    """Regression guard on the MERGE's cost: the stats ride on the staging
    write, so an upsert onto a small table is the target's schema read plus
    the write's jobs — no count() actions and no staging read-back (those
    were 8 more jobs)."""
    from hackatonbigdata_spark.sources.io import upsert_parquet

    target = str(tmp_path / "t")
    spark.range(200).selectExpr("CAST(id AS STRING) AS v", "id AS k").write.parquet(target)
    updates = spark.range(150, 250).selectExpr("id AS k", "'new' AS v")
    n_jobs, stats = jobs_launched(spark, lambda: upsert_parquet(spark, target, updates, ["k"]))
    assert stats == {
        "rows_before": 200, "rows_updated": 50, "rows_inserted": 50, "rows_after": 250,
    }
    assert n_jobs <= 5, f"upsert launched {n_jobs} Spark jobs"
    assert spark.read.parquet(target).columns == ["v", "k"], "table column order changed"
