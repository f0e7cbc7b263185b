"""Plan-shape and semantic tests for the retrieval module (readability,
quality calibration, RRF hybrid fusion, MMR selection).

Correctness vs DuckDB is covered by the parametrized oracle suite
(test_oracle.py); these pin the scale-relevant plan shapes and the
operator-specific invariants an oracle diff can't see."""

from __future__ import annotations

import math
import re
from collections import defaultdict

from conftest import SF_SMALL


def _plan(df) -> str:
    spark = df.sparkSession
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_readability_is_maponly_and_matches_python(spark):
    """Flesch must be a shuffle-free map stage, and every reported score
    must equal an independent Python recomputation (exact after the r4
    grid — integer inputs, fixed op order)."""
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.sources import load_table

    df = REGISTRY["text_readability"].fn(spark, SF_SMALL)
    assert "Exchange" not in _plan(df)

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    for r in df.collect():
        t = texts[r.doc_id]
        words = len(t.strip().split())
        term = len(re.findall(r"[.!?]+", t))
        sents = term if term > 0 else (words + 14) // 15
        syll = len(re.findall(r"[aeiouy]+", t.lower()))
        assert r.n_words == words
        assert r.n_sents == sents
        assert r.n_syllables == syll
        flesch = 206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
        assert r.flesch == math.floor(flesch * 1e4 + 0.5) / 1e4
        expected_band = (
            "very_easy" if r.flesch >= 90 else
            "easy" if r.flesch >= 60 else
            "hard" if r.flesch >= 30 else "very_hard"
        )
        assert r.band == expected_band


def test_quality_calibration_is_per_source_ecdf(spark):
    """Within every source the src_pct column must be exactly the
    normalized-rank grid {0, 1/(n-1), ..., 1} (after r6), monotone in
    (quality, doc_id), and deciles must stay in [1, 10]."""
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["corpus_quality_calibration"].fn(spark, SF_SMALL).collect()
    by_src = defaultdict(list)
    for r in rows:
        assert 1 <= r.decile <= 10
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (r.quality, r.doc_id))
        n = len(rs)
        for i, r in enumerate(rs):
            pct = 1.0 if n == 1 else i / (n - 1)
            assert r.src_pct == math.floor(pct * 1e6 + 0.5) / 1e6, src
            assert r.decile == min(1 + math.floor(r.src_pct * 10.0), 10)


def test_rrf_fusion_invariants(spark):
    """Every query returns exactly TOPN rows with contiguous fused ranks;
    the rrf score must equal the closed form from its own rank columns;
    and the lexical leg must enter via a broadcast of the tiny query-side
    postings (never a corpus self-join)."""
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.retrieval import (
        _RRF_K,
        _RRF_QUERIES,
        _RRF_TOPN,
    )

    df = REGISTRY["text_rrf_hybrid_topk"].fn(spark, SF_SMALL)
    assert "BroadcastHashJoin" in _plan(df)
    rows = df.collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append(r)
    assert len(per_q) == _RRF_QUERIES
    for q, rs in per_q.items():
        assert sorted(r.fused_rank for r in rs) == list(range(1, _RRF_TOPN + 1))
        for r in rs:
            assert r.doc_id != q
            lex_term = 0.0 if r.lex_rank is None else 1.0 / (_RRF_K + r.lex_rank)
            sem_term = 1.0 / (_RRF_K + r.sem_rank)
            expect = lex_term + sem_term
            assert r.rrf == math.floor(expect * 1e6 + 0.5) / 1e6
        # fused ordering must follow rrf desc with doc_id tie-break
        rs.sort(key=lambda r: r.fused_rank)
        for a, b in zip(rs, rs[1:]):
            assert (a.rrf, -a.doc_id) >= (b.rrf, -b.doc_id)


def test_kcore_peel_matches_python_and_converges(spark):
    """The k-core peel must equal an independent Python synchronous-peel
    replica on the same graph (exact layers), reach its fixpoint before
    the final unrolled round, and satisfy the core invariants
    (in_core <=> core_deg >= k; deg0 < k => peeled in round 1)."""
    from collections import defaultdict

    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.operators.graph import TIGHT_BUCKET_S
    from move_forecast_ind_spark.queries.analytics import _KCORE_ROUNDS
    from move_forecast_ind_spark.sources import load_table

    rows = REGISTRY["events_kcore_peel"].fn(spark, SF_SMALL).collect()

    ev = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr(
            "user_id",
            "event_type",
            f"CAST(FLOOR(unix_timestamp(ts) / {TIGHT_BUCKET_S}) AS BIGINT) AS h",
        )
        .distinct()
        .collect()
    )
    buckets = defaultdict(set)
    for r in ev:
        buckets[(r.event_type, r.h)].add(r.user_id)
    adj = defaultdict(set)
    users = {r.user_id for r in ev}
    for us in buckets.values():
        for a in us:
            for b in us:
                if a != b:
                    adj[a].add(b)
    deg = {u: len(adj[u]) for u in users}
    sd = sorted(deg.values())
    k = max(sd[(len(sd) + 1) // 2 - 1], 1)
    alive = set(users)
    layers = {}
    last_change = 0
    for t in range(1, _KCORE_ROUNDS + 1):
        na = {u for u in alive if len(adj[u] & alive) >= k}
        for u in alive - na:
            layers[u] = t
            last_change = t
        alive = na
    assert last_change < _KCORE_ROUNDS  # fixpoint before the last round

    assert len(rows) == len(users)
    for r in rows:
        assert r.k == k
        assert r.deg0 == deg[r.user_id]
        assert r.in_core == (r.user_id in alive)
        assert r.peel_round == layers.get(r.user_id)
        assert r.core_deg == len(adj[r.user_id] & alive)
        if r.in_core:
            assert r.core_deg >= k
        if r.deg0 < k:
            assert r.peel_round == 1


def test_mmr_select_matches_python_greedy(spark):
    """The in-plan greedy MMR must equal an independent Python replica
    (same pool, same λ, same smallest-id tie-break), with distinct picks
    and step 1 = pure top relevance."""
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.retrieval import (
        _MMR_LAMBDA,
        _MMR_POOL,
        _MMR_SEED,
        _MMR_SELECT,
    )
    from move_forecast_ind_spark.sources import load_table

    rows = REGISTRY["emb_mmr_select"].fn(spark, SF_SMALL).collect()
    assert len(rows) == _MMR_SELECT
    assert len({r.vec_id for r in rows}) == _MMR_SELECT

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    seed = emb[_MMR_SEED]
    rel = {i: cos(seed, v) for i, v in emb.items() if i != _MMR_SEED}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_POOL]
    sel, scores = [], []
    for _step in range(_MMR_SELECT):
        best, best_sc = None, None
        for c in pool:
            if c in sel:
                continue
            maxsim = max(
                (cos(emb[c], emb[s]) for s in sel), default=0.0
            )
            sc = _MMR_LAMBDA * rel[c] - (1.0 - _MMR_LAMBDA) * maxsim
            if best is None or sc > best_sc:
                best, best_sc = c, sc
        sel.append(best)
        scores.append(best_sc)

    got = sorted(rows, key=lambda r: r.step)
    assert [r.vec_id for r in got] == sel
    assert got[0].rel == max(
        math.floor(v * 1e6 + 0.5) / 1e6 for v in rel.values()
    )
    for r, sc in zip(got, scores):
        assert r.mmr == math.floor(sc * 1e6 + 0.5) / 1e6
        assert r.rel == math.floor(rel[r.vec_id] * 1e6 + 0.5) / 1e6


def test_mmr_pool_is_take_ordered_not_global_window(spark):
    """The relevance pool must compile to TakeOrderedAndProject (per-
    partition heaps), never a global single-partition row_number window."""
    from move_forecast_ind_spark.queries import REGISTRY

    plan = _plan(REGISTRY["emb_mmr_select"].fn(spark, SF_SMALL))
    assert "TakeOrdered" in plan
    assert "Window" not in plan
