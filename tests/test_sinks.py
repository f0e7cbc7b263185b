"""Sink / table-management / bucketing tests (SURVEY.md §2.1 S5-S9) and the
model registry round-trip (S4/S6)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_percentages_overwrite_roundtrip(spark, tmpdir):
    """S5: overwrite-as-upsert — writing twice yields the same table; the
    partitioned layout prunes by branch."""
    from move_forecast_ind_spark.plans.percentages import (
        compute_percentages,
        write_percentages,
    )
    from move_forecast_ind_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    pct = compute_percentages(li, "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity")
    path = os.path.join(tmpdir, "pct")
    write_percentages(pct, path)
    write_percentages(pct, path)  # idempotent
    back = spark.read.parquet(path)
    assert back.count() == pct.count()
    # partition pruning: filtering one branch reads one partition directory
    plan = (
        back.filter(F.col("branch") == 7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(branch" in plan


def test_upsert_overwrite_merge_semantics(spark, tmpdir):
    """S5 incremental: anti-join + union matches ON CONFLICT DO UPDATE."""
    from move_forecast_ind_spark.sources.sinks import upsert_overwrite

    path = os.path.join(tmpdir, "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, v double"
    )
    upsert_overwrite(spark, path, base, ["k"])
    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    upsert_overwrite(spark, path, updates, ["k"])
    got = {(r.k, r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", 10.0), (2, "b2", 25.0), (3, "c", 30.0)}


def test_ddl_and_catalog(spark, tmpdir):
    """S8: create / exists / drop through the catalog."""
    from move_forecast_ind_spark.sources.sinks import (
        drop_table,
        ensure_table,
        table_exists,
    )

    path = os.path.join(tmpdir, "cat")
    spark.createDataFrame([(1, "x")], "id long, s string").write.parquet(path)
    name = "mfis_test_table"
    drop_table(spark, name)
    assert not table_exists(spark, name)
    ensure_table(spark, name, path, "id BIGINT, s STRING")
    assert table_exists(spark, name)
    assert spark.table(name).count() == 1
    drop_table(spark, name)
    assert not table_exists(spark, name)


def test_load_table_cache_is_per_session(spark):
    """load_table caches one lazy frame per session: a child session
    (``spark.newSession()``) gets a frame bound to itself, not the
    caller's, and the caller still gets its own cached object back."""
    from move_forecast_ind_spark.sources import load_table

    mine = load_table(spark, SF_SMALL, "events")
    child = spark.newSession()
    theirs = load_table(child, SF_SMALL, "events")
    assert theirs.sparkSession is child
    assert mine.sparkSession is spark
    assert load_table(spark, SF_SMALL, "events") is mine


def test_bucketed_join_has_no_exchange(spark, tmpdir):
    """S9: joins on the bucket key of two bucketed tables plan without a
    shuffle Exchange on either side — the 'index' of the lake."""
    from move_forecast_ind_spark.sources import load_table
    from move_forecast_ind_spark.sources.sinks import drop_table, write_bucketed

    warehouse_ok = True
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    try:
        write_bucketed(orders, "mfis_orders_b", 8, "o_orderkey")
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "mfis_lineitem_b", 8,
            "o_orderkey",
        )
    except Exception:
        warehouse_ok = False
    if not warehouse_ok:
        pytest.skip("no writable warehouse dir for managed tables")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast, bypassing buckets — force the
        # shuffle-join path to show buckets remove the Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("mfis_orders_b")
        b = spark.table("mfis_lineitem_b")
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_table(spark, "mfis_orders_b")
        drop_table(spark, "mfis_lineitem_b")


def test_model_registry_roundtrip(spark, tmpdir):
    """S4/S6: train → save registry parquet → reload → score produces
    identical forecasts to scoring the in-memory registry."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.plans.training import score, train_models
    from move_forecast_ind_spark.queries.ml import _daily_series
    from move_forecast_ind_spark.sources.models import load_registry, save_registry

    daily = _daily_series(spark, SF_SMALL)
    models = train_models(daily, cutoff="1998-12-31")
    path = os.path.join(tmpdir, "registry")
    save_registry(models, path)
    reloaded = load_registry(spark, path)
    days = F.lit("1999-06-01").cast("date"), F.lit("1999-06-03").cast("date")
    direct = sorted(map(tuple, score(models, *days).collect()))
    via_disk = sorted(map(tuple, score(reloaded, *days).collect()))
    assert direct == via_disk
    assert len(direct) > 0


def test_branch_from_path_parse(spark):
    from move_forecast_ind_spark.sources.models import branch_from_path

    df = spark.createDataFrame(
        [("s3://bucket/models/prophet_model_Mumbai.pkl",),
         ("/x/prophet_model_New Delhi.pkl",)],
        "p string",
    )
    got = [r[0] for r in df.select(branch_from_path(F.col("p"))).collect()]
    assert got == ["Mumbai", "New Delhi"]


def test_partition_upsert_equals_full_recompute(spark, tmpdir):
    """S5 incremental: overwriting only the touched branch partitions
    (dynamic partition overwrite) must converge to the same table as a
    full recompute — and must NOT touch other partitions' files."""
    import os

    from move_forecast_ind_spark.plans.percentages import compute_percentages
    from move_forecast_ind_spark.sources import load_table
    from move_forecast_ind_spark.sources.sinks import (
        upsert_partition_overwrite,
        write_partitioned,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    pct = compute_percentages(li, "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity")
    target = os.path.join(tmpdir, "pct_inc")

    # initial state: branches <= 3 hold STALE values, the rest are current
    stale = pct.filter(F.col("branch") <= 3).withColumn(
        "avg_percentage", F.lit(-1.0)
    )
    write_partitioned(
        stale.unionByName(pct.filter(F.col("branch") > 3)), target, "branch"
    )
    untouched_files = set()
    for d in os.listdir(target):
        if d.startswith("branch=") and int(d.split("=")[1]) > 3:
            untouched_files |= {
                os.path.join(d, f) for f in os.listdir(os.path.join(target, d))
            }

    # incremental refresh of just the stale branches
    upsert_partition_overwrite(
        spark, target, pct.filter(F.col("branch") <= 3), ["branch"]
    )

    merged = spark.read.parquet(target)
    key = ["branch", "move_type", "month", "day"]
    full = {tuple(r[k] for k in key): r.avg_percentage for r in pct.collect()}
    got = {tuple(r[k] for k in key): r.avg_percentage for r in merged.collect()}
    assert got == full
    # other partitions' files were not rewritten
    still = set()
    for d in os.listdir(target):
        if d.startswith("branch=") and int(d.split("=")[1]) > 3:
            still |= {
                os.path.join(d, f) for f in os.listdir(os.path.join(target, d))
            }
    assert untouched_files <= still


def test_versioned_sink_time_travel_and_merge(spark, tmpdir):
    """S5 extension (sources/versioned.py): MERGE produces a NEW snapshot,
    historical versions stay readable (time travel), vacuum bounds
    retention, and reading a vacuumed version fails loudly."""
    import os

    import pytest as _pytest

    from move_forecast_ind_spark.sources import versioned as V

    path = os.path.join(tmpdir, "vt")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, x double"
    )
    v0 = V.write_version(base, path)
    assert v0 == 0 and V.latest_version(path) == 0

    updates = spark.createDataFrame(
        [(2, "b", 99.0), (4, "d", 40.0)], "k int, s string, x double"
    )
    v1 = V.merge_version(spark, path, updates, key_cols=["k"])
    assert v1 == 1

    now = {r.k: r.x for r in V.read_version(spark, path).collect()}
    assert now == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # time travel: v0 is untouched by the merge
    then = {r.k: r.x for r in V.read_version(spark, path, version=0).collect()}
    assert then == {1: 10.0, 2: 20.0, 3: 30.0}
    assert [e["op"] for e in V.history(path)] == ["overwrite", "merge"]

    v2 = V.merge_version(
        spark, path, spark.createDataFrame([(1, "a", -1.0)], "k int, s string, x double"),
        key_cols=["k"],
    )
    assert v2 == 2
    dropped = V.vacuum(path, keep_last=2)
    assert dropped == [0]
    with _pytest.raises(FileNotFoundError):
        V.read_version(spark, path, version=0)
    # retained versions still read
    assert {r.k for r in V.read_version(spark, path, version=1).collect()} == {1, 2, 3, 4}


def test_percentages_jdbc_sink_roundtrip(spark):
    """The percentage table written over JDBC (the reference's Postgres
    topology, executed against embedded Derby) reads back value-exact,
    and a second overwrite leaves exactly one copy (overwrite ≡ upsert
    for a derived table)."""
    import tempfile

    from move_forecast_ind_spark.plans.percentages import (
        compute_percentages,
        write_percentages_jdbc,
    )
    from move_forecast_ind_spark.sources.formats import derby_url, jdbc_table

    from move_forecast_ind_spark.sources import load_table

    url = derby_url(tempfile.mkdtemp(prefix="derby_p_") + "/db")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    pct = compute_percentages(
        li, "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity"
    ).limit(200)
    write_percentages_jdbc(pct, url)
    write_percentages_jdbc(pct, url)  # idempotent overwrite
    back = jdbc_table(spark, url, "percentages")
    assert back.count() == pct.count()
    cols = sorted(back.columns)
    a = sorted(tuple(r[c] for c in cols) for r in back.collect())
    b = sorted(tuple(r[c] for c in cols) for r in pct.collect())
    assert a == b
