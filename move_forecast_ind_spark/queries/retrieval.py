"""Retrieval, ranking-fusion, and selection operators (round-7 widening).

Capability families a corpus-serving analytics engine needs on top of the
reference's surface (the reference — satya-dataengineer/move-forecast-IND —
has none of these; engine-completeness mandate) and on top of the existing
dedup/similarity/curation tiers:

- readability scoring: Flesch reading-ease per document (syllable-group
  regex + pseudo-sentence fallback for unpunctuated corpora) — the
  classic document-difficulty feature of a quality-filter stack;
- cross-source score calibration: per-source ECDF (normalized rank) of the
  composite quality score, so scores from sources with different scoring
  distributions become comparable before a global quality cut — the
  quantile-normalization step a multi-source training mix runs before
  thresholding;
- hybrid retrieval fusion: Reciprocal Rank Fusion (Cormack, Clarke &
  Buettcher 2009) of a LEXICAL ranking (distinct-bigram overlap) and a
  SEMANTIC ranking (embedding cosine) for more-like-this queries — the
  standard way modern search fuses BM25-style and vector legs without
  score calibration;
- MMR diversity selection: Maximal Marginal Relevance (Carbonell &
  Goldstein 1998) greedy re-rank over a bounded candidate window —
  the diversity-aware selection step of retrieval and of training-data
  subset curation.

All hot paths are built-in column expressions inside whole-stage codegen;
every double that reaches the output is rounded through
``functions.rounding`` on BOTH engines so aggregation-order ulp noise can't
flip the oracle's value hash. Ranks and greedy argmaxes are computed over
per-row-identical doubles (pure per-row arithmetic / the left-fold dot
product both engines share), so ordering decisions are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r4, r6, sql_r4, sql_r6
from ..functions.text import sql_hashed_windows, tokens
from ..functions.vectors import as_double, cosine
from ..sources import load_table
from .registry import fmt_doc, register
from ..operators.dedup import fanout

# --- readability: Flesch reading ease ----------------------------------------

# Flesch needs a sentence count; the fixture corpus (and plenty of real web
# text) has no terminal punctuation, so sentence count falls back to
# ceil(words / _PSEUDO_SENT_WORDS) fixed-width pseudo-sentences when no
# [.!?] terminator exists. Mirrored exactly in the oracle.
_PSEUDO_SENT_WORDS = 15


@register(
    "text_readability",
    tags=("text", "northstar", "quality"),
    oracle=f"""
    WITH m AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_term,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, n_words, n_syllables,
             CASE WHEN n_term > 0 THEN n_term
                  ELSE (n_words + {_PSEUDO_SENT_WORDS - 1}) // {_PSEUDO_SENT_WORDS}
             END AS n_sents
      FROM m
    ),
    f AS (
      SELECT doc_id, source, n_words, n_sents, n_syllables,
             {sql_r4(
                 "206.835e0"
                 " - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sents)"
                 " - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words)"
             )} AS flesch
      FROM s
    )
    SELECT doc_id, source, n_words, n_sents, n_syllables, flesch,
           CASE WHEN flesch >= 90e0 THEN 'very_easy'
                WHEN flesch >= 60e0 THEN 'easy'
                WHEN flesch >= 30e0 THEN 'hard'
                ELSE 'very_hard' END AS band
    FROM f
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words), with syllables approximated as vowel-group
    runs ([aeiouy]+ — the standard regex surrogate; groups cannot span
    whitespace so one whole-text regexp_count equals the per-word sum)
    and sentences from terminal punctuation with a fixed-width
    pseudo-sentence fallback for unpunctuated text (documented constant,
    mirrored in the oracle). The classic readability feature of a
    quality-filter stack (complements text_quality's length/stopword
    heuristic with a difficulty axis). Engine shape: pure per-row column
    arithmetic — a map-only scan stage, no shuffle at any scale; the
    flesch double is identical per row on both engines (integer inputs,
    fixed op order) before the r4 grid."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_term = F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long")
    n_syll = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "long"
    )
    m = docs.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_term.alias("n_term"),
        n_syll.alias("n_syllables"),
    )
    s = m.select(
        "doc_id",
        "source",
        "n_words",
        "n_syllables",
        F.when(F.col("n_term") > 0, F.col("n_term"))
        .otherwise(
            F.expr(
                f"(n_words + {_PSEUDO_SENT_WORDS - 1}) div {_PSEUDO_SENT_WORDS}"
            )
        )
        .alias("n_sents"),
    )
    f = s.withColumn(
        "flesch",
        r4(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words"))
        ),
    )
    band = (
        F.when(F.col("flesch") >= 90.0, "very_easy")
        .when(F.col("flesch") >= 60.0, "easy")
        .when(F.col("flesch") >= 30.0, "hard")
        .otherwise("very_hard")
    )
    return f.select(
        "doc_id", "source", "n_words", "n_sents", "n_syllables", "flesch",
        band.alias("band"),
    )


# --- cross-source quality calibration: per-source ECDF ------------------------

# SQL twin of functions.text.quality_score (same term order as the
# text_quality oracle in northstar.py — kept textually aligned with it).
_QUALITY_SQL = """
      LEAST(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 64e0,
            1e0) * 0.5e0
      + LEAST(CAST(len(list_intersect(
            list_distinct(string_split_regex(trim(text), '\\s+')),
            ['the', 'and', 'of', 'is', 'a'])) AS DOUBLE) / 3e0, 1e0) * 0.3e0
      + (1e0 - LEAST((CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                      AS DOUBLE)
                      / GREATEST(CAST(length(text) AS DOUBLE), 1e0)) * 1e1,
                     1e0)) * 0.2e0
"""


@register(
    "corpus_quality_calibration",
    bench=True,  # round-7 representative: per-source window calibration
    tags=("corpus", "curation", "window"),
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, ({_QUALITY_SQL}) AS quality
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM q
    )
    SELECT doc_id, source, {sql_r4("quality")} AS quality,
           {sql_r6("CASE WHEN n_src > 1 THEN CAST(rn - 1 AS DOUBLE) / (n_src - 1)"
                   " ELSE 1e0 END")} AS src_pct,
           CAST(LEAST(1 + FLOOR(
             (CASE WHEN n_src > 1 THEN CAST(rn - 1 AS DOUBLE) / (n_src - 1)
                   ELSE 1e0 END) * 10e0), 10) AS BIGINT) AS decile
    FROM r
    """,
)
def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration: each document's composite
    quality score is mapped to its SOURCE's ECDF position (normalized
    dense rank (rn-1)/(n-1) with doc_id tie-break → deterministic), then
    bucketed into global deciles — the quantile-normalization step that
    makes 'top 30% of every source' a well-defined global cut even when
    sources score on different distributions (scrapes vs curated text).
    Complements corpus_quality_resample (which weights draws BY score)
    with the calibration that should run FIRST at mixing time. Engine
    shape: one map pass for the score, one window shuffle per source
    partition, map-side decile arithmetic; ordering decisions compare
    per-row-identical doubles (pure per-row arithmetic, both engines) so
    ranks are bit-exact. At 100 TB: a single window over source
    partitions; a skewed mega-source is one sorted partition — swap to a
    two-pass histogram ECDF if a source outgrows a partition."""
    from ..functions.text import sql_quality_score

    docs = load_table(spark, sf_dir, "documents")
    # expr strings (construction-cost doctrine — lloyd_assign); same
    # trees: sql_quality_score is the lockstep-tested twin of
    # quality_score, the windows/arithmetic are literal-for-literal.
    q = docs.selectExpr(
        "doc_id", "source", f"{sql_quality_score('text')} AS quality"
    )
    r = q.selectExpr(
        "doc_id",
        "source",
        "quality",
        "row_number() OVER (PARTITION BY source ORDER BY quality, doc_id)"
        " AS rn",
        "count(1) OVER (PARTITION BY source) AS n_src",
    )
    src_pct = (
        "CASE WHEN n_src > 1 THEN CAST(rn - 1 AS DOUBLE) / (n_src - 1) "
        "ELSE 1.0E0 END"
    )
    return r.selectExpr(
        "doc_id",
        "source",
        f"{sql_r4('quality')} AS quality",
        f"{sql_r6(src_pct)} AS src_pct",
        f"CAST(least(1 + FLOOR(({src_pct}) * 10.0E0), 10) AS BIGINT)"
        " AS decile",
    )


# --- hybrid retrieval: reciprocal rank fusion ---------------------------------

_RRF_K = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_TOPN = 10
_RRF_QUERIES = 3  # doc_id < _RRF_QUERIES are the more-like-this query docs


@register(
    "text_rrf_hybrid_topk",
    bench=True,  # round-7 representative: the fused hybrid-retrieval pass
    tags=("text", "similarity", "northstar"),
    oracle=f"""
    WITH univ AS (
      SELECT d.doc_id, d.text, e.embedding::DOUBLE[] AS v
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    t AS (
      SELECT doc_id, v, string_split_regex(trim(text), '\\s+') AS w
      FROM univ
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS h
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
      WHERE len(w) >= 2
    ),
    lex AS (
      SELECT q.doc_id AS query_id, c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM grams q JOIN grams c ON c.h = q.h AND c.doc_id <> q.doc_id
      WHERE q.doc_id < {_RRF_QUERIES}
      GROUP BY 1, 2
    ),
    lexr AS (
      SELECT query_id, doc_id, n_common,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n_common DESC, doc_id)
                  AS BIGINT) AS lex_rank
      FROM lex
    ),
    sem AS (
      SELECT q.doc_id AS query_id, c.doc_id,
             list_inner_product(q.v, c.v)
               / (sqrt(list_inner_product(q.v, q.v))
                  * sqrt(list_inner_product(c.v, c.v))) AS cos
      FROM t q JOIN t c ON c.doc_id <> q.doc_id
      WHERE q.doc_id < {_RRF_QUERIES}
    ),
    semr AS (
      SELECT query_id, doc_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, doc_id)
                  AS BIGINT) AS sem_rank
      FROM sem
    ),
    fused AS (
      SELECT s.query_id, s.doc_id, l.lex_rank, s.sem_rank,
             COALESCE(1e0 / ({_RRF_K} + l.lex_rank), 0e0)
               + 1e0 / ({_RRF_K} + s.sem_rank) AS rrf
      FROM semr s LEFT JOIN lexr l
        ON l.query_id = s.query_id AND l.doc_id = s.doc_id
    )
    SELECT query_id, doc_id, lex_rank, sem_rank,
           {sql_r6("rrf")} AS rrf,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_TOPN}
    """,
)
def text_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this retrieval with Reciprocal Rank Fusion: for
    each query document (doc_id < {q}) rank the corpus LEXICALLY
    (distinct word-bigram overlap — the exact-match leg a BM25 engine
    serves) and SEMANTICALLY (embedding cosine — the vector leg), then
    fuse as RRF(d) = Σ_legs 1/(60 + rank_leg(d)) (Cormack, Clarke &
    Buettcher 2009) and keep the fused top-{n}. Docs absent from a leg
    contribute nothing for it (standard RRF) — the semantic leg is the
    spine since the vector index covers the whole embedded universe.
    The item universe is documents⋈embeddings (vec_id = doc_id): a
    fused index can only serve what both legs cover. Engine shape: ONE
    fused corpus pass — the {q} query rows broadcast carrying BOTH
    their distinct-bigram set and their vector, so each candidate row
    computes overlap (array_intersect, in-row — the corpus is never
    exploded to postings and never self-joined) and cosine in the same
    map stage; both ranks come from windows over the resulting
    queries×candidates frame. The lexical rank uses the
    zeros-sort-last trick: ranking the full frame by (n_common DESC,
    doc_id) makes row_number restricted to n_common>0 rows exactly the
    positive-overlap rank, so no filter+join-back is needed (A/B at
    sf0.1: postings join + leg stitch 1.43 s → fused pass 1.18 s, of
    which the data path is 0.43 s and the rest is the 3-window stage
    floor; oracle-identical). Ranks compare per-row-identical values (integer
    overlaps; the shared left-fold dot product), so fusion is
    bit-exact before the r6 grid. At 100 TB: the corpus shuffles one
    row per (query, candidate) into the rank windows and nothing else;
    both legs are query-count-bounded, not corpus-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), as_double(F.col("embedding")).alias("v")
    )
    # Bigram IDENTITY without bigram strings (r11, the
    # corpus_source_overlap finding): the lexical leg consumes only
    # size(array_intersect(...)), so hash each 2-token window directly
    # (two-arg xxhash64) and dedupe/intersect LONG arrays — no concat_ws
    # string per window (whitespace tokens keep window <-> string
    # bijective; 2^-64 collision doctrine, oracle-diffed at 2 SFs).
    univ = (
        docs.join(emb, "doc_id")
        # NOT fanout-pinned: both consumers are query-count-bounded slices;
        # pinning measured neutral-to-negative (A/B: 2.15 vs 2.02 s).
        .repartition(F.col("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("toks"), "v")
        .selectExpr("doc_id", f"{sql_hashed_windows('toks', 2)} AS shs", "v")
    )
    q = univ.filter(F.col("doc_id") < _RRF_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("shs").alias("qshs"),
        F.col("v").alias("qv"),
    )
    # Post-broadcast body as expr strings (construction-cost doctrine —
    # lloyd_assign): identical parsed trees (window CASE gating, literal
    # types and association all unchanged), ~60% fewer gateway roundtrips
    # on a query whose data path is 0.43 s of its wall.
    from ..functions.vectors import sql_cosine

    scored = (
        univ.crossJoin(F.broadcast(q))
        .filter("doc_id != query_id")
        .selectExpr(
            "query_id",
            "doc_id",
            "CAST(size(array_intersect(shs, qshs)) AS BIGINT) AS n_common",
            f"{sql_cosine('qv', 'v')} AS cos",
        )
    )
    fused = scored.selectExpr(
        "query_id",
        "doc_id",
        "CASE WHEN n_common > 0 THEN CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY n_common DESC, doc_id) AS BIGINT) "
        "END AS lex_rank",
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, "
        "doc_id) AS BIGINT) AS sem_rank",
    ).selectExpr(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        f"coalesce(1.0E0 / ({_RRF_K} + lex_rank), 0.0E0) "
        f"+ 1.0E0 / ({_RRF_K} + sem_rank) AS rrf",
    )
    return (
        fused.selectExpr(
            "query_id",
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf",
            "CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf "
            "DESC, doc_id) AS BIGINT) AS fused_rank",
        )
        .filter(f"fused_rank <= {_RRF_TOPN}")
        .selectExpr(
            "query_id", "doc_id", "lex_rank", "sem_rank",
            f"{sql_r6('rrf')} AS rrf", "fused_rank",
        )
    )


fmt_doc(text_rrf_hybrid_topk, 
    q=_RRF_QUERIES, n=_RRF_TOPN
)


# --- diversity selection: maximal marginal relevance --------------------------

_MMR_POOL = 20     # re-rank window (standard: select from a bounded pool)
_MMR_SELECT = 5    # greedy picks
_MMR_LAMBDA = 0.7  # relevance weight; (1 - lambda) penalizes redundancy
_MMR_SEED = 0      # vec_id of the relevance query ("more like doc 0")

_SQL_STRUCT = (
    "STRUCT<vec_id: BIGINT, rel: DOUBLE, v: ARRAY<DOUBLE>, "
    "nv: DOUBLE, mmr: DOUBLE>"
)


def _mmr_dot(a: str, b: str) -> str:
    """Spark-SQL left-fold dot product (bit-identical to DuckDB's
    list_inner_product — the vectors.py contract)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _mmr_score(c: str = "c", sel: str = "sel") -> str:
    """MMR(c) = λ·rel(c) − (1−λ)·max_{s∈sel} cos(c, s); max over the
    empty selection is 0 (step 1 reduces to pure relevance)."""
    maxsim = (
        f"array_max(transform({sel}, s -> {_mmr_dot(f'{c}.v', 's.v')} "
        f"/ ({c}.nv * s.nv)))"
    )
    return (
        f"{_MMR_LAMBDA}e0 * {c}.rel - {1.0 - _MMR_LAMBDA:.1f}e0 * "
        f"(CASE WHEN size({sel}) = 0 THEN 0e0 ELSE {maxsim} END)"
    )


def _mmr_pick() -> str:
    """One greedy step: left fold over the vec_id-sorted pool, strict >
    keeps the earliest (smallest vec_id) among equal scores."""
    score = _mmr_score()
    return f"""
    aggregate(
      filter(cands, c -> NOT array_contains(transform(sel, s -> s.vec_id),
                                            c.vec_id)),
      CAST(NULL AS {_SQL_STRUCT}),
      (best, c) -> CASE
        WHEN best IS NULL OR {score} > best.mmr
        THEN struct(c.vec_id AS vec_id, c.rel AS rel, c.v AS v,
                    c.nv AS nv, CAST({score} AS DOUBLE) AS mmr)
        ELSE best END)
    """


def _mmr_oracle() -> str:
    lam, mu = f"{_MMR_LAMBDA}e0", f"{1.0 - _MMR_LAMBDA:.1f}e0"
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    seed AS (SELECT v FROM e WHERE vec_id = {_MMR_SEED}),
    scored AS (
      SELECT c.vec_id,
             list_inner_product(s.v, c.v)
               / (sqrt(list_inner_product(s.v, s.v))
                  * sqrt(list_inner_product(c.v, c.v))) AS rel,
             c.v, sqrt(list_inner_product(c.v, c.v)) AS nv
      FROM e c, seed s WHERE c.vec_id <> {_MMR_SEED}
    ),
    pool AS MATERIALIZED (
      SELECT * FROM scored ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
    ),
    sel1 AS (
      SELECT vec_id, rel, v, nv, {lam} * rel AS mmr, 1 AS step
      FROM pool ORDER BY {lam} * rel DESC, vec_id LIMIT 1
    )"""
    ]
    for t in range(2, _MMR_SELECT + 1):
        parts.append(
            f""",
    ms{t} AS (
      SELECT p.vec_id,
             MAX(list_inner_product(p.v, s.v) / (p.nv * s.nv)) AS maxsim
      FROM pool p, sel{t - 1} s
      GROUP BY p.vec_id
    ),
    pick{t} AS (
      SELECT p.vec_id, p.rel, p.v, p.nv,
             {lam} * p.rel - {mu} * m.maxsim AS mmr, {t} AS step
      FROM pool p JOIN ms{t} m USING (vec_id)
      WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      ORDER BY mmr DESC, p.vec_id LIMIT 1
    ),
    sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM pick{t})"""
        )
    parts.append(
        f"""
    SELECT CAST(step AS BIGINT) AS step, vec_id,
           {sql_r6("rel")} AS rel, {sql_r6("mmr")} AS mmr
    FROM sel{_MMR_SELECT}"""
    )
    return "".join(parts)


@register(
    "emb_mmr_select",
    bench=True,  # round-7 representative: in-plan greedy selection
    tags=("similarity", "curation", "iterative"),
    oracle=_mmr_oracle(),
)
def emb_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    greedily pick {k} items from the top-{p} relevance pool for query
    vec_id={s}, each step maximizing λ·rel − (1−λ)·max-cosine-to-selected
    (λ={l}) — the diversity-aware re-rank of retrieval AND the
    redundancy-suppressing subset-selection step of training-data
    curation (complements SemDeDup, which DROPS near-duplicates; MMR
    SELECTS a diverse cover). Deterministic: cosines are the shared
    left-fold dot product (bit-identical both engines), ties break to
    the smallest vec_id.

    Engine shape: relevance + top-{p} pool is one broadcast-seed map
    pass and a window; the greedy loop then runs ENTIRELY IN-PLAN on a
    ONE-ROW frame (the pool collects in-row via collect_list; each of
    the {k} unrolled steps is an aggregate fold over ≤{p} candidates ×
    ≤{k} selected dot products inside codegen) — zero driver
    round-trips, zero joins, zero per-step shuffles. At 100 TB the
    relevance scan is the only data-sized stage; the re-rank window is
    a constant-size tail, the standard two-tier serving shape (the same
    bounded-window doctrine as the ANN re-rank tiers)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    seed = e.filter(F.col("vec_id") == _MMR_SEED).select(
        F.col("v").alias("sv")
    )
    from ..functions.vectors import norm

    scored = (
        e.filter(F.col("vec_id") != _MMR_SEED)
        .crossJoin(F.broadcast(seed))
        .select(
            "vec_id",
            cosine("sv", "v").alias("rel"),
            "v",
            norm("v").alias("nv"),
        )
    )
    # TakeOrderedAndProject (orderBy + limit), NOT a global row_number
    # window: the window form moves every row to one partition; take-k
    # keeps per-partition heaps and merges k rows on the driver side of
    # the exchange — the scale-safe top-k.
    pool = scored.orderBy(F.col("rel").desc(), F.col("vec_id")).limit(
        _MMR_POOL
    )
    one = pool.agg(
        F.sort_array(
            F.collect_list(F.struct("vec_id", "rel", "v", "nv"))
        ).alias("cands")
    )
    # ONE fold drives all greedy steps: a per-step withColumn would
    # substitute the previous step's `sel` expression inline at every
    # reference site (~4 per step), growing the tree ~4^k and stalling
    # analysis/codegen for minutes; as a single aggregate over
    # sequence(1, k) each reference is a lambda variable, the tree is
    # linear in k, and the whole greedy compiles once (measured: 137 s
    # -> ~2 s at sf0.001 for the identical output).
    one = one.withColumn(
        "sel",
        F.expr(
            f"aggregate(sequence(1, {_MMR_SELECT}), "
            f"CAST(array() AS ARRAY<{_SQL_STRUCT}>), "
            f"(sel, t) -> array_append(sel, {_mmr_pick()}))"
        ),
    )
    return (
        one.select(F.posexplode("sel").alias("pos", "s"))
        # an empty pool (empty slice) folds k placeholder picks with
        # NULL vec_id — drop them so empty-in -> empty-out like the
        # oracle (r12 empty-input sweep); at any real SF the pool
        # covers every step and this filter passes all rows
        .filter(F.col("s.vec_id").isNotNull())
        .select(
            (F.col("pos") + 1).cast("long").alias("step"),
            F.col("s.vec_id").alias("vec_id"),
            r6(F.col("s.rel")).alias("rel"),
            r6(F.col("s.mmr")).alias("mmr"),
        )
    )


fmt_doc(emb_mmr_select, 
    k=_MMR_SELECT, p=_MMR_POOL, s=_MMR_SEED, l=_MMR_LAMBDA
)
