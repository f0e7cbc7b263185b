"""Plan-shape regression tests: the physical plans that make this engine
scale must not silently regress (SCALE.md's evidence, executable)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL


def _plan(df) -> str:
    spark = df.sparkSession
    # default 100-char metadata truncation cuts off PushedFilters
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_parquet(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["p3_filter_compound"].fn(spark, SF_SMALL))
    assert "PushedFilters: [" in plan and "EqualTo(l_returnflag,R)" in plan
    # projection pruning: untouched wide columns absent from ReadSchema
    assert "l_comment" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_tax" not in read_schema


def test_dim_join_broadcasts(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["j1_broadcast_dim_join"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_total_sort(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["o_global_topk"].fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_shuffle_window(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["j_asof_join"].fn(spark, SF_SMALL))
    assert "Window" in plan
    assert "Join" not in plan, "as-of must not plan an actual join"


def test_q1_partial_final_aggregate(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, SF_SMALL))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_no_cartesian_in_range_join(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["j_range_join"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_tail_all_joins_broadcast(spark):
    """The tail's four lookup joins (input-date scale pair + per-day hist
    pair) must all broadcast — no shuffle join of a ≤7-row frame."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["forecast_tail_daily"].fn(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_pct_etl_zero_fill_broadcasts_types(spark):
    """The move-type dimension cross join must be a broadcast (BNLJ over a
    handful of rows), and the 4-key left join must not shuffle-sort."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["pct_etl"].fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_pairs_no_join_at_all(spark):
    """The inverted-index rewrite generates pairs in-row: the standalone
    dedup plan must contain NO join operator (the old self-join shape) —
    aggregation + explode only."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_SMALL))
    # joins remain only for attaching per-doc sizes; the pair GENERATION
    # must be explode-of-combinations, not a shingle self-join
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_tiny_shuffles_coalesce_to_one_partition(spark):
    """AQE with parallelismFirst=false must coalesce a tiny aggregate's
    shuffle to a single partition (the scheduling-floor fix)."""
    from move_forecast_ind_spark.queries import REGISTRY

    df = REGISTRY["a4_groupby_sum_orderby"].fn(spark, SF_SMALL)
    # collect() (not count()) — count() plans a NEW aggregate on top, and
    # this df's own execution is what finalizes its adaptive plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "AQEShuffleRead coalesced" in final


def test_q5_q10_broadcast_dims_no_cartesian(spark):
    """The TPC-H-shape joins must broadcast every dimension side and never
    plan a cartesian product; Q10's top-20 must be a TakeOrderedAndProject
    (per-task heap), not a global sort."""
    from move_forecast_ind_spark.queries import REGISTRY

    q5 = _plan(REGISTRY["q5_local_supplier_volume"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in q5
    assert q5.count("BroadcastHashJoin") >= 3

    q10 = _plan(REGISTRY["q10_returned_items"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in q10
    assert "TakeOrderedAndProject" in q10
    assert "BroadcastHashJoin" in q10


def test_corpus_chunk_dedup_single_content_shuffle(spark):
    """C4-style chunk dedup: exactly one exchange keyed on chunk content
    feeds the window (plus the final per-doc aggregate's exchange) — no
    joins anywhere."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["corpus_chunk_dedup"].fn(spark, SF_SMALL))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_unigram_lm_broadcasts_vocab(spark):
    """The LM scorer's vocabulary and total must broadcast — the token
    stream is never shuffled for the probability join."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["corpus_unigram_lm_score"].fn(spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_zorder_layout_tightens_file_stats(spark, tmp_path):
    """Range-partitioning a write by the Morton key must shrink each
    file's (suppkey-span × partkey-span) bounding box vs a round-robin
    layout — the min/max-statistics file-pruning win the Z-order layout
    exists for (a filter on EITHER key then skips most files)."""
    import os

    import pyarrow.parquet as pq

    from move_forecast_ind_spark.functions.zorder import z_value
    from move_forecast_ind_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_suppkey", "l_partkey")

    def mean_file_area(path: str) -> float:
        areas = []
        for p in os.listdir(path):
            if not p.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, p)).metadata
            smin = pmin = 1 << 62
            smax = pmax = -1
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                cols = {
                    rg.column(j).path_in_schema: rg.column(j).statistics
                    for j in range(rg.num_columns)
                }
                smin = min(smin, cols["l_suppkey"].min)
                smax = max(smax, cols["l_suppkey"].max)
                pmin = min(pmin, cols["l_partkey"].min)
                pmax = max(pmax, cols["l_partkey"].max)
            areas.append((smax - smin + 1) * (pmax - pmin + 1))
        return sum(areas) / len(areas)

    natural = str(tmp_path / "natural")
    zsorted = str(tmp_path / "zsorted")
    li.repartition(8).write.parquet(natural)  # round-robin: full spans
    (
        li.withColumn("z", z_value(F.col("l_suppkey"), F.col("l_partkey")))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.parquet(zsorted)
    )
    a_nat, a_z = mean_file_area(natural), mean_file_area(zsorted)
    # the z-layout must shrink the average per-file 2-D bounding box
    assert a_z < a_nat * 0.5, (a_nat, a_z)


def test_column_profile_single_scan_expand(spark):
    """The whole-table profile must read orders ONCE (multi-distinct via
    Expand), not once per column like the naive per-column union."""
    from move_forecast_ind_spark.queries.registry import REGISTRY

    plan = _plan(REGISTRY["dq_column_profile"].fn(spark, SF_SMALL))
    assert plan.lower().count("scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_materialize_default_mode_is_topology_aware(spark, monkeypatch):
    """r12: with no SPARK_GRAFT_MATERIALIZE set, materialize() picks
    localCheckpoint only on a single-JVM local[N] master and durable
    parquet on anything multi-executor — fault tolerance by default on
    real clusters (tools/fault_check.py demonstrates localCheckpoint
    failing an executor SIGKILL), fast path preserved for the bench.
    The env var still overrides."""
    import os

    from move_forecast_ind_spark.operators.materialize import (
        _default_mode,
        materialize,
    )

    df = spark.range(3)
    # the test session master is local[N] -> 'local'
    assert spark.sparkContext.master.startswith("local[")
    assert _default_mode(df) == "local"

    class _FakeSC:
        master = "local-cluster[2,16,24576]"

    class _FakeSession:
        sparkContext = _FakeSC()

    class _FakeDF:
        sparkSession = _FakeSession()

    assert _default_mode(_FakeDF()) == "parquet"
    _FakeSC.master = "spark://host:7077"
    assert _default_mode(_FakeDF()) == "parquet"
    _FakeSC.master = "local[*]"
    assert _default_mode(_FakeDF()) == "local"

    # env override beats topology; explicit mode beats both
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "none")
    out = materialize(df, "modecheck")
    assert out is df  # 'none' returns the frame untouched
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE")
    assert materialize(df, "modecheck", mode="none") is df

    # r13 (ADVICE): bare bracket-less 'local' is single-JVM too
    _FakeSC.master = "local"
    assert _default_mode(_FakeDF()) == "local"


def test_materialize_guards_node_local_ckpt_on_multinode_file_fs(spark, monkeypatch):
    """r13 (ADVICE medium): when topology picks parquet but the base
    would be node-local /tmp (no SPARK_GRAFT_CKPT_DIR) on a genuinely
    multi-node master with a file:// default filesystem, executor task
    outputs land on OTHER hosts' /tmp and the driver read-back silently
    returns partial/empty frames. materialize() must detect that
    combination, warn, and fall back to localCheckpoint. local-cluster
    (multi-executor, single host) and any set SPARK_GRAFT_CKPT_DIR stay
    on the durable path; an EXPLICIT parquet request is honored as
    given."""
    import warnings

    from move_forecast_ind_spark.operators.materialize import (
        _parquet_ckpt_unsafe,
        materialize,
    )

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR", raising=False)

    class _FakeHadoopConf:
        def get(self, key, default=None):
            return "file:///"

    class _FakeJSC:
        def hadoopConfiguration(self):
            return _FakeHadoopConf()

    class _FakeSC:
        master = "spark://host:7077"
        _jsc = _FakeJSC()

    class _FakeSession:
        sparkContext = _FakeSC()

    class _FakeDF:
        sparkSession = _FakeSession()

    # multi-node + file:// + no ckpt dir -> unsafe
    assert _parquet_ckpt_unsafe(_FakeDF()) is True
    # shared filesystem -> safe
    _FakeHadoopConf.get = lambda self, key, default=None: "hdfs://nn:8020"
    assert _parquet_ckpt_unsafe(_FakeDF()) is False
    _FakeHadoopConf.get = lambda self, key, default=None: "file:///"
    # single-host multi-executor -> safe (its /tmp IS shared)
    _FakeSC.master = "local-cluster[2,16,24576]"
    assert _parquet_ckpt_unsafe(_FakeDF()) is False
    _FakeSC.master = "spark://host:7077"
    # an explicit ckpt dir -> safe
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", "/shared/ckpt")
    assert _parquet_ckpt_unsafe(_FakeDF()) is False
    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR")

    # end-to-end: the silent default falls back to localCheckpoint with
    # a warning on a REAL frame (the fake only drives the predicate;
    # run materialize on the live session but force the unsafe answer)
    import move_forecast_ind_spark.operators.materialize as M

    df = spark.range(5)
    monkeypatch.setattr(M, "_default_mode", lambda _df: "parquet")
    monkeypatch.setattr(M, "_parquet_ckpt_unsafe", lambda _df: True)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = M.materialize(df, "guardcheck")
    assert any("SPARK_GRAFT_CKPT_DIR" in str(w.message) for w in caught)
    assert out.count() == 5  # localCheckpoint path, values intact
    # explicit request is honored (no warning, parquet path taken)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out2 = M.materialize(df, "guardcheck", mode="parquet")
    assert not any("SPARK_GRAFT_CKPT_DIR" in str(w.message) for w in caught)
    assert out2.count() == 5


def test_sketch_aggregates_never_ride_the_distinct_expand(spark):
    """r14 (BASELINE addendum 3): countDistinct plans an Expand that turns
    every distinct VALUE into an aggregation key; a sketch aggregate
    (HLL++/DataSketches) co-resident in the same .agg() then allocates its
    register buffer per expanded key — a measured ~4 GB OOM for a 3-row
    answer, scaling with distinct-key count. Pin the split shape: the
    sketch aggregate must live in its own Aggregate subtree (no Expand in
    the same grouping), joined back to the exact-distinct aggregate."""
    from move_forecast_ind_spark.queries import REGISTRY

    for name, sketch_fn, expands, distinct_cols in [
        # two distinct columns -> Expand; a single distinct column plans
        # as a two-level aggregate without one (same hazard class: its
        # first-level keys are still every distinct value)
        ("a_approx_count_distinct", "approx_count_distinct", True,
         ("l_partkey", "l_orderkey")),
        ("a_hll_sketch_distinct", "hll_sketch_agg", False, ("o_custkey",)),
    ]:
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert ("Expand" in plan) == expands, f"{name}: distinct plan shape moved"
        assert sketch_fn in plan, f"{name}: sketch aggregate missing"
        # the split plan joins the two aggregations back on the group key
        assert "Join" in plan, f"{name}: expected an aggregate-join split plan"
        # and no aggregate node computes the sketch with a distinct column
        # (or the Expand gid) among its KEYS — the mixed-plan signature
        # that buys one sketch buffer per distinct value
        for node in plan.split("\n"):
            if sketch_fn in node and "Aggregate" in node:
                keys = node.split("functions=")[0]
                bad = [c for c in distinct_cols + ("gid",) if c in keys]
                assert not bad, (
                    f"{name}: sketch aggregate keyed by {bad} — the r14 "
                    f"per-distinct-value buffer pathology:\n{node}"
                )
