"""Property and plan-shape tests for the round-4 curation/classic operators
(queries/curation.py, queries/classic.py) beyond the parametrized oracle
gate in test_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMALL


def _plan(df) -> str:
    spark = df.sparkSession
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_has_no_false_negatives(spark):
    """Every exact duplicate must be bloom-positive: rows with is_dup=1
    and bloom_candidate=0 would mean the bitmap dropped a set bit —
    impossible for a correct Bloom filter, fatal for the dedup."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["dedup_bloom_prefilter"].fn(spark, SF_SMALL)
    bad = rows.filter((F.col("is_dup") == 1) & (F.col("bloom_candidate") == 0))
    assert bad.isEmpty()


def test_bloom_false_positive_rate_bounded(spark):
    """The 16384-bit / k=3 bitmap over the base split must stay sparse at
    fixture scale: false-positive rate (candidates that fail the exact
    verify) under 20% of incoming — far looser than the theoretical rate
    (<2% for n≈400 keys), so only a broken hash/bit packing trips it."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["dedup_bloom_prefilter"].fn(spark, SF_SMALL).collect()
    n = len(rows)
    fp = sum(1 for r in rows if r.bloom_candidate == 1 and r.is_dup == 0)
    assert n > 0
    assert fp / n < 0.20, f"bloom false-positive rate {fp}/{n}"


def test_bloom_bitmap_is_broadcast(spark):
    """The words table (512 rows) must broadcast to the probe side — a
    shuffle join there would defeat the prefilter's purpose at scale."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["dedup_bloom_prefilter"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_eval_side_broadcasts(spark):
    """The eval-split gram set is the build side and must broadcast; the
    train corpus must never be shuffled on gram content."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["corpus_decontaminate"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_counts_by_regime(spark):
    """The synthesized PII regimes must be visible in the counts:
    doc_id%3==0 docs carry none, doc_id%5==0 (and %3!=0) carry two
    emails, everyone else exactly one of each category."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["text_pii_redact"].fn(spark, SF_SMALL).collect()
    for r in rows:
        if r.doc_id % 3 == 0:
            assert (r.n_emails, r.n_ips, r.n_phones) == (0, 0, 0)
        else:
            assert r.n_ips == 1 and r.n_phones == 1
            assert r.n_emails == (2 if r.doc_id % 5 == 0 else 1)


def test_classifier_is_pure_map_plus_aggregate(spark):
    """Hashed features mean NO vocabulary join: the plan must contain no
    join at all — one Generate (explode) + hash aggregate."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["text_hashed_classifier"].fn(spark, SF_SMALL))
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_quantize_stats_broadcast_back(spark):
    """The 64-row per-dimension stats table joins back by broadcast."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["emb_scalar_quantize"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quantize_codes_in_range(spark):
    """Reconstruction error must be small relative to the per-dim span:
    max MSE for uniform int8 quantization is (span/255)^2/4 per dim; the
    fixture embeddings span ~[-1,1] so mse << 1e-4."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["emb_scalar_quantize"].fn(spark, SF_SMALL).collect()
    assert rows and all(0.0 <= r.mse < 1e-4 for r in rows)


def test_scd2_intervals_partition_chain(spark):
    """Intervals must tile each user's timeline: ordered by valid_from,
    every non-final interval's valid_to equals the next valid_from, the
    final interval is open (NULL) and flagged is_current."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["w_scd2_intervals"].fn(spark, SF_SMALL).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
            assert not a.is_current
        assert ivs[-1].valid_to is None and ivs[-1].is_current
        # adjacent intervals must represent an actual change
        for a, b in zip(ivs, ivs[1:]):
            assert a.event_type != b.event_type


def test_scd2_single_exchange_on_user(spark):
    """All windows + the run aggregate share the user_id partitioning —
    Catalyst should plan exactly one shuffle over the event scan."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["w_scd2_intervals"].fn(spark, SF_SMALL))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 user_id exchange, saw {n_exchanges}"


def test_classic_queries_broadcast_dims(spark):
    """Q7/Q8/Q9/Q20: dimension sides broadcast; no cartesian products."""
    from move_forecast_ind_spark.queries import REGISTRY

    for name in (
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q20_semi_join_chain",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q15_max_is_broadcast_not_window(spark):
    """The scalar max must come back as a one-row broadcast join, not an
    unpartitioned window (single-task funnel)."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["q15_top_supplier"].fn(spark, SF_SMALL))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_wav_round_trip_and_junk_tolerance(spark):
    """make_wav → parse_wav inverts the parameters; junk payloads decode
    to null feature rows instead of failing the batch."""
    import numpy as np

    from move_forecast_ind_spark.multimodal import make_wav, parse_wav

    for seed in (0, 7, 123):
        rate, frames, ch = 8000 * (1 + seed % 3), 200 + seed % 100, 1 + seed % 2
        parsed = parse_wav(make_wav(rate, frames, ch, seed=seed))
        assert parsed is not None
        r, c, n, x = parsed
        assert (r, c, n) == (rate, ch, frames)
        assert x.dtype == np.dtype("<i2") and len(x) == frames * ch
    assert parse_wav(b"not a wav at all") is None
    assert parse_wav(b"RIFF\x00\x00\x00\x00WAVE") is None  # no fmt/data


def test_audio_features_no_shuffle(spark):
    """Two chained mapInPandas stages over the binary column. Since the
    r14 fanout the synthesis stage sits above ONE deliberate round-robin
    Exchange (parallelizes the single-row-group scan); the property that
    matters stays pinned: no shuffle BETWEEN the two Python stages (the
    decode rides the synthesis partitioning) and no hash exchange at all."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["mm_audio_features"].fn(spark, SF_SMALL))
    assert plan.count("Exchange") == 1
    assert "roundrobin" in plan.lower()
    assert "hashpartitioning" not in plan
    assert plan.count("MapInPandas") == 2
    # the fanout exchange is BELOW the first Python stage: nothing between
    # the two MapInPandas nodes
    first = plan.find("MapInPandas")
    second = plan.find("MapInPandas", first + 1)
    assert "Exchange" not in plan[first:second]


def test_cms_never_undercounts(spark):
    """Count-min's one-sided guarantee: estimate >= true count, per token."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["a_count_min_freq"].fn(spark, SF_SMALL).collect()
    assert rows and all(r.overcount >= 0 for r in rows)


# --- round-4 session-5 additions: KMV / NB / DSIR / pixel stats -------------


def test_kmv_small_groups_are_exact(spark):
    """At sf0.001 every event_type has < 64 distinct users, so the sketch
    holds the whole set and must report the exact count."""
    from move_forecast_ind_spark.queries.curation import a_kmv_distinct

    rows = a_kmv_distinct(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.k_used < 64
        assert r.kmv_estimate == r.exact_distinct


def test_kmv_estimate_error_bounded(spark):
    """At sf0.01 (150 distinct per type > k) the estimator branch runs;
    KMV with k=64 has se ≈ 1/√(k−1) ≈ 12.6%, so 50% is a ≳3σ fence."""
    from move_forecast_ind_spark.queries.curation import a_kmv_distinct

    for r in a_kmv_distinct(spark, "/root/testdata/sf0.01").collect():
        assert r.k_used == 64
        assert abs(r.kmv_estimate / r.exact_distinct - 1.0) <= 0.5


def test_naive_bayes_beats_chance(spark):
    """5 balanced-ish classes → uniform chance = 0.2; the fixture's lang
    signal is a few marker stopwords in shared word salad, so demand
    clearly-above-chance, not high accuracy (measured 0.40 at sf0.01)."""
    from move_forecast_ind_spark.queries.ml import ml_naive_bayes_langid

    rows = ml_naive_bayes_langid(spark, "/root/testdata/sf0.01").collect()
    acc = sum(r.is_correct for r in rows) / len(rows)
    assert len(rows) == 100  # exactly the 20% held-out docs
    assert acc >= 0.30


def test_dsir_separates_target_domain(spark):
    """Mean log-importance of target-domain ('en') docs must exceed the
    source mean — the property importance resampling relies on
    (measured gap ≈ 0.37 at sf0.01)."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.queries.corpus import corpus_dsir_importance
    from move_forecast_ind_spark.sources import load_table

    w = corpus_dsir_importance(spark, "/root/testdata/sf0.01")
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    means = dict(
        w.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("log_importance").alias("m"))
        .collect()
    )
    assert means[True] > means[False]


def test_pixel_stats_no_shuffle(spark):
    """The rasterize path is two chained mapInPandas stages — synthesize
    then decode — with no exchange between them. Since the r14 fanout the
    synthesis sits above ONE deliberate round-robin Exchange (parallelizes
    the single-row-group scan); the pinned property is unchanged: no
    exchange BETWEEN the chained Python stages, no hash exchange at all."""
    from move_forecast_ind_spark.queries.curation import mm_pixel_stats

    plan = mm_pixel_stats(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "roundrobin" in plan.lower()
    assert "hashpartitioning" not in plan
    first = plan.find("MapInPandas")
    second = plan.find("MapInPandas", first + 1)
    assert first != -1 and second != -1
    assert "Exchange" not in plan[first:second]


def test_kmv_merge_is_lossless(spark):
    """Bottom-k of merged per-day sketches must equal the direct sketch
    for every group — the property that makes KMV map-side mergeable."""
    from move_forecast_ind_spark.queries.curation import a_kmv_merge

    rows = a_kmv_merge(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(r.sketches_identical for r in rows)


def test_weighted_sample_prefers_heavy_docs(spark):
    """A-ES with weight = doc length must overrepresent long docs: the
    sampled mean weight exceeds the corpus mean (deterministic draw, so
    this is a fixed fact of the fixture, not a flaky statistic)."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.queries.corpus import corpus_weighted_sample
    from move_forecast_ind_spark.sources import load_table

    sample = corpus_weighted_sample(spark, "/root/testdata/sf0.01")
    mean_s = sample.agg(F.avg("weight")).collect()[0][0]
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    mean_all = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert mean_s > mean_all


def test_good_turing_bounds(spark):
    """Unseen mass and hapax ratio are proper fractions; hapax count
    agrees with a direct recount."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.functions.text import tokens
    from move_forecast_ind_spark.queries.corpus import text_good_turing_unseen
    from move_forecast_ind_spark.sources import load_table

    r = text_good_turing_unseen(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 < r.unseen_mass < 1 or r.hapax_count == 0
    assert 0 <= r.hapax_ratio <= 1
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    direct = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .count()
        .filter(F.col("count") == 1)
        .count()
    )
    assert r.hapax_count == direct


def test_heaps_beta_in_natural_range(spark):
    """The fitted Heaps exponent is a proper growth rate (0 < beta < 1)
    and the reported vocab equals the true distinct-type count."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.functions.text import tokens
    from move_forecast_ind_spark.queries.corpus import corpus_heaps_law
    from move_forecast_ind_spark.sources import load_table

    r = corpus_heaps_law(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 < r.heaps_beta < 1
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert r.vocab_size == vocab


def test_chunk_windows_cover_and_overlap(spark):
    """Chunk windows must exactly tile each document with the configured
    stride/overlap: contiguous chunk ids from 0, starts on the stride
    grid, every token covered, full windows except possibly the last,
    and the plan must be shuffle-free."""
    from collections import defaultdict

    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.corpus import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
    )
    from move_forecast_ind_spark.sources import load_table

    df = REGISTRY["corpus_chunk_windows"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the ONLY exchange is the deliberate parallelism repartition — no
    # aggregation/join/sort shuffle anywhere
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM") + plan.count(
        "REPARTITION_BY_COL"
    )
    assert "HashAggregate" not in plan and "SortMergeJoin" not in plan
    rows = df.collect()
    n_tokens = {
        r.doc_id: len(r.text.strip().split())
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
    assert set(per_doc) == set(n_tokens)
    for doc, rs in per_doc.items():
        n = n_tokens[doc]
        rs.sort(key=lambda r: r.chunk_id)
        expect_chunks = -(-max(n - _CHUNK_TOKENS, 0) // _CHUNK_STRIDE) + 1
        assert [r.chunk_id for r in rs] == list(range(expect_chunks))
        for r in rs:
            assert r.start_tok == r.chunk_id * _CHUNK_STRIDE + 1
            assert r.n_tok == min(
                _CHUNK_TOKENS, n - (r.start_tok - 1)
            ) or (n == 0 and r.n_tok == 1)
        # coverage: last chunk reaches the final token
        last = rs[-1]
        assert last.start_tok - 1 + last.n_tok >= n


def test_cluster_term_profile_lift_replica(spark):
    """Lift recomputed from scratch for every emitted (label, term) must
    match; terms respect the stopword and min-count fences; <=3 rows
    per label."""
    import math
    from collections import defaultdict

    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents").collect()
    emb = {
        r.vec_id: r.label
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    stops = {"the", "and", "of", "is", "a"}
    lt = defaultdict(int)
    for d in docs:
        lab = emb[d.doc_id]
        for w in d.text.strip().split():
            w = w.lower()
            if w not in stops:
                lt[(lab, w)] += 1
    tlab = defaultdict(int)
    ct = defaultdict(int)
    for (lab, w), c in lt.items():
        tlab[lab] += c
        ct[w] += c
    tot = sum(lt.values())
    rows = REGISTRY["corpus_cluster_term_profile"].fn(spark, SF_SMALL).collect()
    per_label = defaultdict(int)
    for r in rows:
        per_label[r.label] += 1
        assert r.term not in stops
        c = lt[(r.label, r.term)]
        assert c == r.n_in_cluster and c >= 3
        lift = math.floor(c * tot / (tlab[r.label] * ct[r.term]) * 1e6 + 0.5) / 1e6
        assert abs(r.lift - lift) < 1e-9
        assert 1 <= r.rk <= 3
    assert all(v <= 3 for v in per_label.values())


def test_modal_agreement_scopes(spark):
    """One inter row plus one intra row per label with >=2 members;
    mean Jaccards in [0,1]; intra pair counts = label size - 1."""
    from collections import Counter

    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.sources import load_table

    sizes = Counter(
        r.label
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    )
    rows = REGISTRY["corpus_modal_agreement"].fn(spark, SF_SMALL).collect()
    inter = [r for r in rows if r.scope == "inter"]
    intra = [r for r in rows if r.scope == "intra"]
    assert len(inter) == 1 and inter[0].label is None
    for r in intra:
        assert r.n_pairs == sizes[r.label] - 1
        assert 0.0 <= r.mean_jaccard <= 1.0
    assert 0.0 <= inter[0].mean_jaccard <= 1.0


def test_bigram_lm_derived_unigram_margin_identity(spark):
    """The r12 bigram-LM rewrite derives the unigram margin from the
    bigram model table — c1(w1) = Σ_w2 c12(w1,w2) — instead of a second
    full-stream aggregate. The identity holds because every bigram
    occurrence contributes exactly one w1 occurrence; this pins it
    directly (not just transitively via the oracle diff): the derived
    margin must equal the direct per-first-token count of the bigram
    stream, and the margin total must equal the bigram total."""
    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "a a a"),
            (3, "solo"),
            (4, "x y z x y"),
            (5, "b c"),
        ],
        ["doc_id", "text"],
    )
    from move_forecast_ind_spark.functions.text import tokens

    n_t = F.size("w")
    bg = (
        docs.select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(n_t >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n_t - 1),
                    lambda i: F.struct(
                        F.element_at("w", i).alias("w1"),
                        F.element_at("w", i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    direct = {
        r.w1: r.c for r in bg.groupBy("w1").agg(F.count("*").alias("c")).collect()
    }
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    derived = {
        r.w1: r.c
        for r in c12.groupBy("w1").agg(F.sum("c12").alias("c")).collect()
    }
    assert derived == direct
    assert sum(derived.values()) == bg.count()


def test_session_root_window_twin_matches_recursion(spark):
    """r12 depth routing: past _RECURSION_DEPTH_SWITCH the sessionization
    runs as a one-pass window instead of WITH RECURSIVE. The two shapes
    must be value-identical — pinned on a fixture with multi-step
    chains, gap boundaries (exactly 10 min = chained; 10 min 1 s =
    new session), same-timestamp ties, and interleaved users."""
    import datetime as dt

    from move_forecast_ind_spark.queries.curation import (
        _RECURSIVE_SESSION_SQL,
        _WINDOW_SESSION_SQL,
    )

    t0 = dt.datetime(1999, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2):
        ts = t0
        for step in range(8):  # one long chain per user
            rows.append((eid, u, ts)); eid += 1
            ts += dt.timedelta(minutes=9)
        ts += dt.timedelta(minutes=11)  # break -> new session
        for step in range(3):
            rows.append((eid, u, ts)); eid += 1
            ts += dt.timedelta(minutes=10)  # exactly 10 min: chained
    rows.append((eid, 3, t0)); eid += 1
    rows.append((eid, 3, t0), )  # same-ts tie, event_id breaks it
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    df.createOrReplaceTempView("events")
    try:
        prior = spark.conf.get("spark.sql.cteRecursionLevelLimit", None)
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        rec = {tuple(r) for r in spark.sql(_RECURSIVE_SESSION_SQL).collect()}
        win = {tuple(r) for r in spark.sql(_WINDOW_SESSION_SQL).collect()}
        assert rec == win and len(rec) == len(rows)
    finally:
        spark.catalog.dropTempView("events")
        if prior is None:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionLevelLimit", prior)


def test_session_roots_leave_caller_recursion_limits_alone(spark):
    """The query raises the recursion limits it needs on its own child
    session; the caller's limits (the runaway guard of every other
    recursive query in the session) are the same after the collect."""
    from move_forecast_ind_spark.queries import REGISTRY

    keys = ("spark.sql.cteRecursionRowLimit", "spark.sql.cteRecursionLevelLimit")
    before = {k: spark.conf.get(k, None) for k in keys}
    rows = REGISTRY["sql_recursive_session_roots"].fn(spark, SF_SMALL).collect()
    assert rows
    assert {k: spark.conf.get(k, None) for k in keys} == before
