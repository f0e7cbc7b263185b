"""North-star operator tests: LSH recall against exact baselines, multimodal
plumbing, quality-score bounds (SURVEY.md M4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMALL


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_recall_vs_exact(spark):
    """LSH candidates + verify must recover (almost) all exact Jaccard≥0.5
    pairs. With 8 bands of 4, P(catch | j=0.9) ≥ 0.9998 while j≈0.5 pairs
    are chancier — fixture near-dups sit well above 0.9, so require ≥80%
    recall and no false positives (the verify step kills those)."""
    from move_forecast_ind_spark.operators.dedup import (
        jaccard_pairs,
        minhash_dedup_pairs,
    )
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    exact = _pairs(jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5))
    lsh = _pairs(minhash_dedup_pairs(docs, "doc_id", "text", k=3, threshold=0.5))
    assert lsh <= exact, "verify step must kill false positives"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(exact)} pairs"


def test_simhash_pairs_are_near(spark):
    from move_forecast_ind_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    sig = simhash_signatures(docs, "doc_id", "text")
    rows = simhash_near_pairs(sig, max_hamming=6).collect()
    assert all(0 <= r["hamming"] <= 6 for r in rows)


def test_jaccard_stop_shingle_cap(spark):
    """The max_df fence must drop hot shingles BEFORE the self-join: 30
    docs that only share one ubiquitous 3-gram must produce zero pairs
    under the cap (uncapped they explode into 435), while a genuine
    near-dup pair that shares rare shingles survives."""
    from move_forecast_ind_spark.operators.dedup import jaccard_pairs

    rows = [(i, f"common shingle here unique{i} tail{i} word{i}") for i in range(30)]
    rows += [
        (100, "alpha beta gamma delta epsilon"),
        (101, "alpha beta gamma delta zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1, max_df=10).collect()
    }
    assert (100, 101) in capped
    assert all(a >= 100 for a, _ in capped), "hot-shingle-only pairs must be fenced"

    uncapped = jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_df=None
    ).count()
    assert uncapped == 30 * 29 // 2 + 1  # the quadratic blowup the cap prevents


def test_jaccard_candidates_restriction(spark):
    """The candidates pre-filter must keep results identical to post-hoc
    restriction (it's applied earlier purely to bound join cost)."""
    from move_forecast_ind_spark.operators.dedup import jaccard_pairs
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    full = jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    pairs = [(r.doc_a, r.doc_b) for r in full.collect()][:5]
    if not pairs:
        return
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    restricted = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5, candidates=cand
        ).collect()
    }
    assert restricted == set(pairs)


def test_ann_recall_vs_brute_force(spark):
    from move_forecast_ind_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
    )
    from move_forecast_ind_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(q, emb, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in ann_lsh_topk(q, emb, dim=64, k=5).collect()}
    # ANN trades recall for candidate count; require a sane floor.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall {recall:.2f}"


def test_multimodal_stub_plumbing(spark):
    from move_forecast_ind_spark.multimodal import (
        decode_media_stub,
        to_media_table,
    )
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    media = to_media_table(docs, "doc_id", "text")
    decoded = decode_media_stub(media)
    rows = decoded.collect()
    assert len(rows) == docs.count()
    assert all(r.width >= 16 and r.height >= 16 for r in rows)
    assert all(r["format"] in ("png", "jpeg") for r in rows)
    # deterministic across runs
    again = {(r.doc_id, r.width, r.height) for r in decode_media_stub(media).collect()}
    assert again == {(r.doc_id, r.width, r.height) for r in rows}


def test_metadata_scan_prunes_binary_column(spark):
    """Metadata-only queries must not read the payload column: the parquet
    ReadSchema after writing the media table should exclude `payload`."""
    import tempfile

    from move_forecast_ind_spark.multimodal import to_media_table
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    with tempfile.TemporaryDirectory() as d:
        to_media_table(docs, "doc_id", "text").write.mode("overwrite").parquet(d)
        meta = spark.read.parquet(d).select("doc_id", "n_bytes", "digest")
        plan = meta._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan, "binary column must be pruned from the scan"


def test_quality_score_bounds(spark):
    from move_forecast_ind_spark.functions.text import quality_score
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    rows = docs.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_ivf_recall_vs_brute_force(spark):
    from move_forecast_ind_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from move_forecast_ind_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(q, emb, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(q, emb, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # k-means cells + nprobe=4/16 probing: match the registered oracle bar
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_ivf_kmeans_recall_on_clustered_corpus(spark):
    """k-means centroids must adapt to CLUSTERED data (the weakness of the
    old deterministic-subset stand-in): build 8 tight synthetic clusters,
    fit centroids, and require high recall — on clustered corpora the
    nearest neighbors live in the query's own cell, so IVF should be
    near-exact."""
    import numpy as np

    from move_forecast_ind_spark.operators.similarity import (
        brute_force_topk,
        fit_centroids,
        ivf_topk,
        load_centroids,
        save_centroids,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 5.0
    rows = []
    vid = 0
    for ci in range(8):
        for _ in range(40):
            v = centers[ci] + rng.standard_normal(16) * 0.1
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 40 == 0)  # one query per cluster
    cents = fit_centroids(emb, n_centroids=8, seed=42)

    # persist/load round-trip (S6 model-artifact path for the quantizer)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        save_centroids(cents, d + "/cents")
        cents = load_centroids(spark, d + "/cents")
        exact = {
            (r.query_id, r.neighbor_id) for r in brute_force_topk(q, emb, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(q, emb, k=5, centroids=cents, nprobe=1).collect()
        }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered IVF recall {recall:.2f}"


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing's defining property: two docs sharing a contiguous run of
    at least w+k-1 grams (w=4, k=3 → 6 grams ⇒ 8 shared words) must share
    at least one fingerprint; fully disjoint docs share none."""
    from move_forecast_ind_spark.queries import REGISTRY

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared + " lambda mu nu xi"),
        (2, "one two three " + shared),
        (3, "red orange yellow green blue indigo violet pink brown black"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import move_forecast_ind_spark.queries.northstar as ns
    import move_forecast_ind_spark.sources as src

    orig = src.load_table
    try:
        src.load_table = lambda spark, sf_dir, name: df  # noqa: ARG005
        ns.load_table = src.load_table
        out = REGISTRY["text_winnow_fingerprints"].fn(spark, "unused")
        fps = {}
        for r in out.collect():
            fps.setdefault(r.doc_id, set()).add(r.fp)
    finally:
        src.load_table = orig
        ns.load_table = orig
    assert fps[1] & fps[2], "docs sharing a long run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_jaccard_size_prefilter_is_lossless(spark):
    """The AllPairs size-compatibility prefilter (round 4: min >= t*max
    before the pair aggregate) must never drop a true >=threshold pair.
    Brute-force every pair in pandas at several thresholds and compare
    exact output sets."""
    import itertools

    from move_forecast_ind_spark.operators.dedup import jaccard_pairs
    from move_forecast_ind_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    pdf = docs.select("doc_id", "text").toPandas()

    def shingle_set(text, k=3):
        w = text.strip().split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    sets = {r.doc_id: shingle_set(r.text) for r in pdf.itertuples()}
    for t in (0.25, 0.5, 0.75):
        expected = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= t:
                expected.add((a, b))
        got = {
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=t, max_df=None
            ).collect()
        }
        assert got == expected, f"threshold {t}: {got ^ expected}"


def test_substring_spans_invariants(spark):
    """Spans are maximal, disjoint, >= the min length, and every k-gram
    inside a reported span is genuinely duplicated corpus-wide."""
    from move_forecast_ind_spark.queries.northstar import (
        _SPAN_K,
        _SPAN_MIN_TOKENS,
        dedup_substring_spans,
    )
    from move_forecast_ind_spark.functions.text import tokens as tok_fn
    from move_forecast_ind_spark.sources import load_table

    spans = dedup_substring_spans(spark, SF_SMALL).collect()
    assert spans, "fixture corpus should contain duplicated spans"
    by_doc: dict = {}
    for r in spans:
        assert r.span_tokens == r.end_tok - r.start_tok + 1
        assert r.span_tokens >= _SPAN_MIN_TOKENS
        by_doc.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    for doc, ivs in by_doc.items():
        ivs.sort()
        for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
            # disjoint AND non-adjacent (adjacent would mean non-maximal
            # islands — gap of >= 1 position between islands by construction)
            assert s2 > e1 - (_SPAN_K - 1), (doc, ivs)

    # every gram inside a span is duplicated corpus-wide
    docs = load_table(spark, SF_SMALL, "documents")
    gram_counts = {
        r.g: r.c
        for r in docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tok_fn(F.col("text"))) - (_SPAN_K - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tok_fn(F.col("text")), i, _SPAN_K)),
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    doc_tokens = {
        r.doc_id: r.t
        for r in docs.select("doc_id", tok_fn(F.col("text")).alias("t")).collect()
    }
    checked = 0
    for r in spans[:10]:
        toks = doc_tokens[r.doc_id]
        for p in range(r.start_tok, r.end_tok - (_SPAN_K - 1) + 1):
            g = " ".join(toks[p - 1 : p - 1 + _SPAN_K])
            assert gram_counts[g] >= 2, (r.doc_id, p, g)
            checked += 1
    assert checked


def test_substring_spans_hot_gram_shape_switch(spark):
    """Round-7 verdict item 6: the hot-gram fallback is automated, not
    prose. On a boilerplate-degenerate corpus (one gram dominates) the
    pre-probe flips the plan to the skew-immune agg+semi-join shape; on
    a mixed corpus it keeps the single-pass window shape. Both pinned
    shapes produce identical spans on BOTH corpora (the oracle-parity
    guarantee is shape-independent)."""
    from move_forecast_ind_spark.queries.northstar import (
        _SPAN_K,
        _substring_spans_from_docs,
    )

    # Degenerate: every 4-gram of every doc is 'x x x x' — the hottest
    # gram IS the corpus. 40 docs x 12 tokens, all duplicated.
    deg = spark.createDataFrame(
        [(i, "x " * 12) for i in range(40)], "doc_id long, text string"
    )
    # Mixed: unique filler per doc (no cross-doc gram repeats beyond the
    # shared boilerplate sentence in half the docs).
    mix = spark.createDataFrame(
        [
            (
                i,
                (
                    "common boilerplate header sentence tokens here now more pad words "
                    if i % 2 == 0
                    else ""
                )
                + " ".join(f"u{i}w{j}" for j in range(30)),
            )
            for i in range(40)
        ],
        "doc_id long, text string",
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    auto_deg = _substring_spans_from_docs(spark, deg, _SPAN_K, shape=None)
    assert "LeftSemi" in plan(auto_deg), "degenerate corpus must pick agg+join"
    auto_mix = _substring_spans_from_docs(spark, mix, _SPAN_K, shape=None)
    assert "LeftSemi" not in plan(auto_mix), "mixed corpus must keep the window"
    assert "Window" in plan(auto_mix)

    for docs in (deg, mix):
        a = sorted(
            map(
                tuple,
                _substring_spans_from_docs(
                    spark, docs, _SPAN_K, shape="window"
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                _substring_spans_from_docs(
                    spark, docs, _SPAN_K, shape="aggjoin"
                ).collect(),
            )
        )
        assert a == b and a, "shapes must agree and find spans"


def test_tokens_sql_twin_matches_tokens_column(spark):
    """TOKENS_SQL (the expr-string tokenizer expr-string query paths
    compose, e.g. corpus_semdedup's BoW fold) must tokenize identically
    to functions.text.tokens() — the lockstep guard ADVICE r8 asked for:
    if tokens() ever changes, this fails before any oracle can silently
    agree with a drifted literal."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.functions.text import TOKENS_SQL, tokens

    df = spark.createDataFrame(
        [
            ("a",),
            ("  leading and   multi  space ",),
            ("one",),
            ("tabs\tand\nnewlines mixed",),
            ("punct, attached. tokens!",),
        ],
        ["text"],
    )
    out = df.select(
        tokens(F.col("text")).alias("a"),
        F.expr(TOKENS_SQL.format(col="text")).alias("b"),
    ).collect()
    for r in out:
        assert r.a == r.b


def test_hashed_windows_identity_matches_string_shingles(spark):
    """sql_hashed_windows (the r11 hash-identity shingle twin backing six
    call sites) must produce exactly one distinct LONG per distinct
    k-gram STRING that sql_shingles_from_tokens produces — the identity
    contract every consumer (jaccard/minhash verify, source-overlap,
    decontaminate, ngram-novelty, rrf lexical leg) relies on. Checked as
    size-equality per doc across k in {2, 3, 8}, including the short-doc
    (size < k) empty-array branch (ADVICE r11: the contract was only
    covered transitively via oracle diffs before this pin)."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.functions.text import (
        sql_hashed_windows,
        sql_shingles_from_tokens,
        tokens,
    )

    df = spark.createDataFrame(
        [
            ("a",),
            ("one two",),
            ("the quick brown fox jumps over the lazy dog",),
            ("rep rep rep rep rep",),
            ("  leading and   multi  space  tokens here now ok",),
            ("x y x y x y x y x y x y",),
        ],
        ["text"],
    ).select(tokens(F.col("text")).alias("toks"))
    for k in (2, 3, 8):
        out = df.select(
            F.size(F.expr(sql_hashed_windows("toks", k))).alias("nh"),
            F.size(F.expr(sql_shingles_from_tokens("toks", k))).alias("ns"),
        ).collect()
        for r in out:
            assert r.nh == r.ns, (k, r)


def test_text_sql_twins_match_columns(spark):
    """The r10 expr-string twins (sql_marker_hits / sql_langid /
    sql_token_count / sql_punct_ratio / sql_quality_score) must agree
    bit-exactly with their Column builders on a mixed corpus — same
    lockstep doctrine as the TOKENS_SQL guard: a drift in either side
    fails here before any oracle can silently agree with it."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.functions.text import (
        LANG_MARKERS,
        langid,
        marker_hits,
        punct_ratio,
        quality_score,
        sql_langid,
        sql_marker_hits,
        sql_punct_ratio,
        sql_quality_score,
        sql_token_count,
        token_count,
    )

    df = spark.createDataFrame(
        [
            ("the and of is a plain english run",),
            ("der und die ist das",),
            ("le et la est les el y los",),  # fr/es tie -> dict order
            ("zz qq xx",),  # no markers -> und
            ("punct, heavy!! text;; here::",),
            ("one",),
            ("  padded   whitespace   the  a  ",),
            # adversarial content: the twins interpolate a column NAME,
            # so data containing SQL metacharacters must flow through
            # identically on both sides
            ("it's the o'clock \"quoted\" and of",),
            ("back\\slash the; DROP -- and",),
            ("tab\tthe\nnewline and\r\nof",),
            ("unicodé wörds 中文 the and",),
            ("",),
            ("the " * 200,),  # long doc, len_score saturates
        ],
        ["text"],
    )
    cols = [
        langid(F.col("text")).alias("a_lang"),
        F.expr(sql_langid("text")).alias("b_lang"),
        token_count(F.col("text")).alias("a_cnt"),
        F.expr(sql_token_count("text")).alias("b_cnt"),
        punct_ratio(F.col("text")).alias("a_pr"),
        F.expr(sql_punct_ratio("text")).alias("b_pr"),
        quality_score(F.col("text")).alias("a_q"),
        F.expr(sql_quality_score("text")).alias("b_q"),
    ]
    for lang in LANG_MARKERS:
        cols.append(marker_hits(F.col("text"), lang).alias(f"a_h_{lang}"))
        cols.append(F.expr(sql_marker_hits("text", lang)).alias(f"b_h_{lang}"))
    for r in df.select(*cols).collect():
        d = r.asDict()
        for k in d:
            if k.startswith("a_"):
                assert d[k] == d["b_" + k[2:]], (k, d[k], d["b_" + k[2:]])


def test_minhash_fence_matches_exact_tier_on_hot_template_corpus(spark):
    """r12 adversarial-skew finding: the minhash cascade must apply the
    SAME max_df stop-shingle fence as the exact tier in BOTH stages —
    uncapped signatures estimate uncapped jaccard while the oracle
    thresholds capped jaccard (misses at capped-j ~0.96 that banding
    could never produce), and uncapped verify sets shift every reported
    value on template-heavy corpora. Pin: on a corpus where EVERY doc
    shares a hot preamble (df = n_docs >> max_df) and true near-dup
    pairs are far from the threshold (banding recall 1.0 regime), the
    cascade's output must equal jaccard_pairs' exact output row for
    row."""
    from move_forecast_ind_spark.operators.dedup import (
        jaccard_pairs,
        minhash_dedup_pairs,
    )

    preamble = " ".join(f"hot{i}" for i in range(6))
    rows = []
    for p in range(12):
        base = [f"w{p}_{j}" for j in range(30)]
        near = base[:27] + [f"x{p}_{j}" for j in range(3)]
        rows.append((2 * p, preamble + " " + " ".join(base)))
        rows.append((2 * p + 1, preamble + " " + " ".join(near)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = {
        tuple(r)
        for r in jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5, max_df=10
        ).collect()
    }
    cascade = {
        tuple(r)
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5, max_df=10
        ).collect()
    }
    assert len(exact) == 12  # every constructed near-dup pair survives
    assert cascade == exact


def test_minhash_verify_cap_explode_branch_matches_broadcast(spark, monkeypatch):
    """r13 (from the r12 advice): past HOT_VERIFY_BROADCAST_CAP hot
    windows the verify cap switches from the single-row broadcast
    array_except to explode → left_anti → re-collect. Pin bit-identical
    output across the two branches on a fenced corpus (cap forced to 0
    so ANY hot set takes the explode path), including a doc whose
    windows are ALL hot (empty capped set — the left-join-back case)."""
    from move_forecast_ind_spark.operators import dedup as D

    preamble = " ".join(f"hot{i}" for i in range(6))
    rows = []
    for p in range(8):
        base = [f"w{p}_{j}" for j in range(30)]
        near = base[:27] + [f"x{p}_{j}" for j in range(3)]
        rows.append((2 * p, preamble + " " + " ".join(base)))
        rows.append((2 * p + 1, preamble + " " + " ".join(near)))
    # two docs that are ONLY the hot preamble: every window hot, capped
    # set empty — must behave identically in both branches
    rows.append((100, preamble))
    rows.append((101, preamble))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    kw = dict(k=3, threshold=0.5, max_df=10)
    broadcast_out = {
        tuple(r) for r in D.minhash_dedup_pairs(docs, "doc_id", "text", **kw).collect()
    }
    monkeypatch.setattr(D, "HOT_VERIFY_BROADCAST_CAP", 0)
    explode_out = {
        tuple(r) for r in D.minhash_dedup_pairs(docs, "doc_id", "text", **kw).collect()
    }
    assert explode_out == broadcast_out
    assert len(broadcast_out) >= 8


def test_expand_pairs_matches_python_combinations(spark):
    """expand_pairs yields exactly the (a < b) position pairs of each
    row's array, as a multiset — including width-1 arrays (no pairs),
    width-2, ties in values, and a wide bucket."""
    from itertools import combinations

    from move_forecast_ind_spark.operators.dedup import expand_pairs

    rows = [
        (1, [10]),                      # width 1: no pairs
        (2, [1, 2]),                    # width 2: one pair
        (3, [5, 5, 7]),                 # duplicate values stay paired
        (4, list(range(100, 140))),     # wide bucket: 780 pairs
        (5, []),                        # empty: no pairs
    ]
    got = expand_pairs(spark.createDataFrame(rows, ["bid", "ds"])).collect()
    expected = [p for _, ds in rows for p in combinations(ds, 2)]
    # multiset equality: same rows AND same multiplicities
    assert sorted(map(tuple, got)) == sorted(expected)
    assert len(got) == 1 + 3 + 780
