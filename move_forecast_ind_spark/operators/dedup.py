"""Deduplication operators for LLM-scale corpora (north star, BASELINE.json).

Four tiers, cheapest first — the standard cascade for a 100 TB training-data
pipeline:

1. **Exact** — group by canonical fingerprint (md5 of normalized text);
   one shuffle on the hash, keeper = min(doc_id). Scale: shuffle carries
   (hash, doc_id) pairs only.
2. **MinHash + LSH** — shingle → 32 deterministic min-hashes → 8 bands of
   4 → candidate pairs join on (band, band-signature) → exact-Jaccard
   verify on candidates only. Scale: candidates ∝ true near-dups, not n².
3. **SimHash** — 48-bit signed-sum sketch over token hashes; near-dups are
   signatures within small Hamming distance; banding over 4×12-bit chunks
   gives the candidate join.
4. **Exact n-gram Jaccard** — the verifier (and, on modest corpora, a
   standalone all-pairs pass via an inverted shingle index join).

All hashing is ``xxhash64`` with fixed seed + fixed affine permutation
constants — fully deterministic across runs and cluster layouts (no
``rand()``), which is what makes the outputs replayable and testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import r4, sql_double
from ..functions.text import (
    TOKENS_SQL,
    fingerprint,
    sql_hashed_windows,
    tokens,
)
from .materialize import materialize

MERSENNE31 = 2147483647  # 2^31 - 1, the classic minhash modulus
# 32 permutations in 8 bands of 4: catch probability ≥ 0.9998 at j=0.9
# (near-dup corpora cluster well above the 0.5 threshold; the exact-Jaccard
# verify step kills any band-collision false positives). Wider signatures
# only buy recall in the 0.5-0.7 band at twice the codegen/compute width.
N_PERM = 32
BAND_SIZE = 4
N_BANDS = N_PERM // BAND_SIZE  # 8

# Verify-cap strategy switch (r13, from the r12 advice): below this many
# hot (over-max_df) windows the capped verify sets are built with a
# single-row broadcast array_except (zero extra shuffle, ~8 B/entry so
# 64 Ki longs is a ~512 KiB broadcast); above it, a hot set that big
# per-row array_except cost and the collected single-row array stop
# scaling, so the cap switches to explode -> left_anti -> re-collect.
HOT_VERIFY_BROADCAST_CAP = 65536

# Affine-permutation coefficients h -> (a·h + b) mod M, drawn once from a
# seeded RNG. The coefficients MUST be full-range: small sequential
# multipliers (e.g. a = 2i+1) make the map nearly ORDER-PRESERVING on
# [0, M/a) — every "permutation" then selects (a transform of) the same
# globally-minimal base hash, collapsing the 32 minhashes into correlated
# copies whose agreement no longer estimates Jaccard (observed: 14/32
# agreement on a 0.96-Jaccard pair). Products stay < 2^62: no overflow in
# a signed 64-bit long.
_PERM_RNG = __import__("numpy").random.RandomState(20240813)
PERM_A: list[int] = [int(x) for x in _PERM_RNG.randint(1, MERSENNE31, N_PERM)]
PERM_B: list[int] = [int(x) for x in _PERM_RNG.randint(0, MERSENNE31, N_PERM)]


def fanout(df: DataFrame, *cols) -> DataFrame:
    """Exchange that PINS partition count to the cluster's core count
    (``sparkContext.defaultParallelism``), bypassing AQE's byte-based
    coalescing for byte-light / compute-heavy frames.

    The shingle→hash→permutation paths below carry a few MB of tokens but
    evaluate 32 modular hashes per shingle — AQE's advisory-size coalesce
    (bytes, not compute) collapses them to 1-2 post-shuffle partitions and
    serializes the fold on one core (profiled round 8 at sf0.1: every
    minhash stage ran 1-2 tasks on a 32-core box — the fixture parquet is
    a single row group, so the scan itself is 1 task and every downstream
    exchange re-coalesced). An EXPLICIT partition count is exempt from AQE
    coalescing, and ``defaultParallelism`` tracks cluster size, so on 1000
    executors this pins full-cluster parallelism rather than a constant.
    Bytes cost: one pass over the slim (id, text/tokens) projection —
    negligible next to the hashing it parallelizes; at 100 TB the upstream
    scan already yields ≥cores partitions and this exchange is then merely
    bytes-neutral rebalancing of the same slim frame.

    Partition-count source: ``defaultParallelism`` is snapshotted at PLAN
    CONSTRUCTION time. Under dynamic allocation on a mostly-idle cluster
    that can be a small/stale value, so the pin floors at the configured
    ``spark.sql.shuffle.partitions`` — the number the user sized for the
    cluster — ensuring the pin never undershoots it (ADVICE r8).
    """
    sess = df.sparkSession
    try:
        # non-numeric on some runtimes (e.g. "auto") — fall back to the
        # parallelism floor rather than raising at plan-construction time
        # for every fanout caller (ADVICE r9)
        conf_parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        conf_parts = 0
    n = max(sess.sparkContext.defaultParallelism, conf_parts)
    return df.repartition(n, *cols) if cols else df.repartition(n)


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via canonical fingerprint: one row per distinct content,
    keeper = min id, plus the duplicate count."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,  # optional (doc_a, doc_b) restriction
    max_df: int | None = 1000,
    prefilter_hot: bool = False,
    candidate_ids: DataFrame | None = None,  # optional precomputed doc_id set
) -> DataFrame:
    """Exact k-word-shingle Jaccard similarity for pairs sharing ≥1 shingle
    (inverted-index join), optionally restricted to candidate pairs.

    Output: doc_a, doc_b (a<b), n_common, n_a, n_b, jaccard — only pairs at
    or above ``threshold``.

    Topology (round 4 — TWO shuffles on the default path, no joins, no
    materialization): each posting carries its doc's id AND pre-cap set
    size packed into one long, so the posting-list groupBy and the pair
    groupBy close the whole computation:

        shingle sets (map) → explode postings (sh, pk) → groupBy sh →
        sorted pk lists ≤ max_df → double-explode a<b pairs (codegen
        Generate, measured ~30% faster than the higher-order
        flatten/transform expansion at 1.1M pairs) → groupBy (pka, pkb) →
        unpack ids/sizes → jaccard filter.

    Work per shingle is bounded by max_df², never n².

    Scale fences:

    - ``max_df``: shingles appearing in more than ``max_df`` documents are
      STOP-SHINGLES, excluded from the index AND from the per-doc set
      sizes (jaccard stays a true set similarity over the capped
      universe). Because the packed size is computed before the cap, docs
      touching a hot shingle get a correction joined in afterwards — from
      a per-doc hot-count frame that is EMPTY unless hot shingles exist
      (fixture max_df: 25), and the join target is the near-dup pair
      frame, already tiny. ``None`` → uncapped semantics, no cap pass.
    - ``prefilter_hot``: with False (default), a hot shingle's full
      posting list still materializes in one aggregation buffer before the
      size filter drops it; fine while the hottest df is memory-bounded.
      With True, a (shingle, count) aggregate (longs, map-side combine)
      runs first and the hot set — tiny by definition — broadcasts into
      an anti-join below the list aggregation, so hot posting lists are
      never built: the 100 TB setting, one extra light shuffle.
    - ``candidates``: applied to the shingle sets before anything else
      (semi-join on the candidate doc-id set) — cost proportional to the
      candidate docs' postings, not the corpus's — plus an exact
      pair-level semi at the end (the id-level semi still admits cross
      pairs between unrelated candidates).
    - ``candidate_ids`` (only read when ``candidates`` is given): a
      single-column ``doc_id`` frame the caller already has that is a
      SUPERSET of every id appearing in ``candidates`` — supplying it
      skips the union+distinct over 2× the pair rows. CONTRACT: a
      superset is harmless (extra docs are dropped by the final
      pair-level semi); a strict SUBSET silently drops docs from the
      shingle-set build and true pairs vanish with no error. If you
      cannot prove the superset property, pass ``None`` and let the
      ids be derived from ``candidates`` itself.
    """
    _NBITS, _NMASK = 24, (1 << 24) - 1
    # Overflow guard for the pk packing below: distinct shingles ≤ token
    # count ≤ text length, so a raw-length predicate (pushed to the parquet
    # scan) bounds per-doc shingles under 2^24 WITHOUT touching the shingle
    # array. Guarding on F.size("shs") instead forces the whole
    # tokenize→shingle chain to evaluate twice (filter + generator) —
    # measured 3.2 s vs 0.6 s at sf0.1 for the postings stage alone.
    # Shingle IDENTITY without shingle strings: the whole pipeline below
    # consumes only shingle identity and per-doc distinct COUNTS, never
    # shingle text, so hash each k-token window directly with k-arg
    # xxhash64 and array_distinct the LONG array - no concat_ws string per
    # window, no string-array dedup (the map-side string materialization,
    # not the shuffle, is this tier's dominant cost). Whitespace-split
    # tokens make the window <-> "a b c" string bijective, so the
    # distinct-hash count equals the oracle's distinct-string count
    # (2^-64 collision doctrine, same as the hash-keyed index below).
    sets = (
        fanout(docs.filter(F.length(F.col(text_col)) < _NMASK), F.col(id_col))
        .selectExpr(
            f"`{id_col}` AS doc_id",
            f"{TOKENS_SQL.format(col=f'`{text_col}`')} AS toks",
        )
        .selectExpr("doc_id", f"{sql_hashed_windows('toks', k)} AS shs")
    )
    if candidates is not None:
        # candidate_ids lets the caller supply the member-id set from a
        # cheaper upstream frame (e.g. exploding its candidate BUCKETS,
        # sum|bucket| rows) instead of this union+distinct over 2x the
        # pair rows - at the 100x probe dedup_winnow_pairs' pair frame is
        # 39.6M rows and the union-distinct was a measurable slice of the
        # index build.
        cand_ids = candidate_ids
        if cand_ids is None:
            cand_ids = (
                candidates.select(F.col("doc_a").alias("doc_id"))
                .union(candidates.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
        sets = sets.join(cand_ids, on="doc_id", how="left_semi")
    # pk = doc_id << 24 | n: one long carries identity and pre-cap size
    # through both groupBys (sorting pks sorts by doc_id — the size bits
    # are constant per doc). 24 bits caps per-doc distinct shingles at
    # ~16.7M (a guard-filtered absurdity), ids at 2^39.
    #
    # pk is packed INSIDE the transform, not as a sibling column of the
    # explode: CollapseProject inlines the whole tokenize→shingle chain
    # into every projection that references `shs`, and a generator's
    # sibling columns are evaluated per OUTPUT row — measured 6.1 s vs
    # 0.65 s at sf0.1 for this one select (the same trap hits any lazy
    # hash column that many later expressions reference).
    # The index keys shingles by their 64-bit window hash (the same
    # identity `shs` now holds): the posting shuffle moves 8-byte longs
    # instead of ~20-byte k-gram strings and the groupBy hashes longs.
    # A collision would merge two
    # shingles' posting lists (overcounting n_common) or shrink a doc's
    # distinct count by 1; with ~2.6e5 distinct shingles per 0.1 SF
    # against a 2^64 space the probability is ≪ 1e-8, and the oracle
    # diff at 3 SFs guards it.
    pk_arr = (
        "transform(shs, s -> struct(s AS sh, "
        f"CAST(doc_id AS BIGINT) * {1 << _NBITS} "
        "+ CAST(size(shs) AS BIGINT) AS pk))"
    )
    postings = sets.selectExpr(f"explode({pk_arr}) AS p").selectExpr(
        "p.sh AS sh", "p.pk AS pk"
    )
    hot_cnt = None  # (hdoc, n_hot): per-doc count of dropped hot shingles
    if prefilter_hot and max_df is not None:
        hot = (
            postings.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        # postings now has THREE lazy consumers (hot, hot_cnt, the
        # anti-join) — materialize once or the shingling chain runs 3×.
        postings = materialize(postings, "jaccard-postings")
        hot_cnt = (
            postings.join(F.broadcast(hot), on="sh", how="left_semi")
            .groupBy(F.shiftright("pk", _NBITS).alias("hdoc"))
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
        postings = postings.join(F.broadcast(hot), on="sh", how="left_anti")
    # No array_sort: the a<b pair filter in _finish_pairs works on the
    # unordered list, and `sh` is dead after the groupBy — dropping both
    # shaves the checkpoint write (~0.15 s at sf0.1).
    inv = postings.groupBy("sh").agg(F.expr("collect_list(pk) AS ds")).select("ds")
    if max_df is not None:
        if not prefilter_hot:
            # inv feeds BOTH the hot-count correction and the pair
            # expansion, and hot_cnt itself is joined twice (side a/b).
            # Without a barrier every consumer lazily re-runs the whole
            # tokenize→shingle→explode→groupBy chain — measured 6.47 s vs
            # 2.6 s at sf0.1 (the round-4 snapshot shipped exactly that
            # regression). Materialize the index ONCE; the extra consumers
            # then re-scan a small per-shingle frame.
            inv = materialize(inv, "jaccard-index")
            # Scalar probe on the (already-materialized) index: when NO
            # shingle exceeds the cap — the common case on clean corpora —
            # the cap filter and the two correction joins are no-ops; skip
            # them instead of paying two extra index scans + joins
            # (~0.4 s at sf0.1). One aggregate over the small per-shingle
            # frame, same spirit as connected_components' convergence
            # probe: a scalar to the driver, never data.
            max_ds = inv.agg(F.max(F.size("ds"))).first()[0] or 0
            if max_ds <= max_df:
                return _finish_pairs(inv, None, candidates, threshold, _NBITS, _NMASK)
            hot_cnt = (
                inv.filter(F.size("ds") > max_df)
                .select(F.explode("ds").alias("pk"))
                .groupBy(F.shiftright("pk", _NBITS).alias("hdoc"))
                .agg(F.count(F.lit(1)).alias("n_hot"))
            )
        inv = inv.filter(F.size("ds") <= max_df)
    return _finish_pairs(inv, hot_cnt, candidates, threshold, _NBITS, _NMASK)


def _finish_pairs(
    inv: DataFrame,
    hot_cnt: DataFrame | None,
    candidates: DataFrame | None,
    threshold: float,
    nbits: int,
    nmask: int,
) -> DataFrame:
    """Pair expansion + Jaccard filter over a (sh, ds) inverted index of
    pk-packed postings (see :func:`jaccard_pairs` for the packing)."""
    # a<b pair expansion via two chained Generates (whole-stage codegen).
    pairs = (
        inv.selectExpr("ds", "explode(ds) AS pka")
        .selectExpr("pka", "explode(ds) AS pkb")
        .filter("pka < pkb")
    )
    if hot_cnt is None:
        # Size-compatibility prefilter (AllPairs-style length filter):
        # j ≥ t ⟹ overlap ≥ t·max(n_a,n_b) and overlap ≤ min ⟹
        # min ≥ t·max. The sizes ride in the pk low bits, so the filter
        # runs BEFORE the pair aggregation and drops size-incompatible
        # pairs from the shuffle (measured -24% pair rows, -0.3 s on the
        # aggregate at sf0.1). Tiny epsilon slack so float thresholds can
        # only ADMIT boundary pairs, never drop them. Skipped when a hot
        # correction is pending: pk sizes are then pre-cap and the capped
        # sizes (what jaccard uses) aren't known until after the join.
        pairs = pairs.filter(
            f"CAST(least(pka & {nmask}, pkb & {nmask}) AS DOUBLE) "
            f">= {sql_double(threshold)} "
            f"* greatest(pka & {nmask}, pkb & {nmask}) - 1e-09"
        )
    common = (
        pairs.groupBy("pka", "pkb")
        .agg(F.expr("count(1) AS n_common"))
        .selectExpr(
            f"shiftright(pka, {nbits}) AS doc_a",
            f"shiftright(pkb, {nbits}) AS doc_b",
            "n_common",
            f"pka & {nmask} AS n_a",
            f"pkb & {nmask} AS n_b",
        )
    )
    if hot_cnt is not None:
        # capped-universe sizes: subtract each doc's hot-shingle count.
        # hot_cnt is empty unless some shingle exceeded max_df, and the
        # left side is the (small) pair frame — broadcast-joined by AQE.
        for side in ("a", "b"):
            common = (
                common.join(
                    hot_cnt, common[f"doc_{side}"] == hot_cnt["hdoc"], "left"
                )
                .withColumn(
                    f"n_{side}",
                    F.col(f"n_{side}") - F.coalesce(F.col("n_hot"), F.lit(0)),
                )
                .drop("hdoc", "n_hot")
            )
    if candidates is not None:
        common = common.join(candidates, on=["doc_a", "doc_b"], how="left_semi")
    jac = "n_common / (n_a + n_b - n_common)"
    return common.filter(f"{jac} >= {sql_double(threshold)}").selectExpr(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        f"FLOOR(({jac}) * 1e4 + 0.5) / 1e4 AS jaccard",
    )


def expand_pairs(
    buckets: DataFrame, ds: str = "ds", a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """All (a < b) combinations of each row's sorted id array — element i
    paired with every later element of the same array — from TWO chained
    generators:

        posexplode(ds) → (i, a);  explode(slice(ds, i+2, ...)) → b

    The shared expansion for every bucketed candidate generator (LSH
    bands, simhash chunks, winnowing fingerprints). Work per row is
    |ds|², so callers bound |ds| (max_df fence / bucket width) first.
    The generators pipeline row-at-a-time through whole-stage codegen and
    never materialize the pair array; an in-row ``flatten(transform(...))``
    form builds the whole |ds|² struct array per row in the expression
    interpreter (sf0.1 ahash buckets, 3.0 M pairs, noop sink: 0.17 s
    against 0.57 s; a per-bucket self-join 0.70 s).

    Output has exactly the two pair columns; callers ``.distinct()`` or
    aggregate as before."""
    return buckets.select(
        F.posexplode(ds).alias("__i", a), F.col(ds).alias("__ds")
    ).select(
        a,
        F.explode(
            F.expr("slice(__ds, __i + 2, greatest(size(__ds) - __i - 1, 0))")
        ).alias(b),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """The full MinHash cascade: LSH candidates → exact-Jaccard verify.

    ``max_df`` (r12): the SAME stop-shingle fence :func:`jaccard_pairs`
    carries, applied to BOTH stages — window hashes appearing in more
    than ``max_df`` docs are dropped from the signature postings (so
    template boilerplate neither drags the minima nor floods band
    buckets) and excepted from the verify sets (so the reported jaccard
    is the capped set similarity, exactly what the shared exact-tier
    oracle computes). The r12 adversarial-skew sweep found the gap: on
    a corpus where half the docs share a 12-token preamble the UNcapped
    cascade disagreed with the capped oracle both ways — verify values
    shifted by the hot shingles, and recall fell to 0.91 because
    signature similarity estimated UNcapped jaccard while the oracle
    thresholds capped jaccard (misses at capped-j 0.96 that 8×4 banding
    could never produce, p≈3e-7). Benign corpora have no window past
    the fence and are unaffected; the hot-set scan is one
    tokenize+count pass whose aggregate output is tiny by construction
    (≤ total_windows/max_df rows).

    Round-4 topology — signatures AS AGGREGATES, verify on candidates only,
    ZERO full-corpus materialization:

    - The 32 per-doc minhashes are ``min()`` aggregate expressions over the
      exploded (hash, doc) postings — one shuffle whose map-side combine
      reduces each partition to one 32-column row per doc. Aggregation
      evaluates every posting ONCE, which structurally side-steps the
      CollapseProject trap (32 array folds referencing a lazy hash column
      get the whole tokenize→shingle→hash chain inlined into each fold —
      the 32× re-hash that previously forced checkpointing the set table;
      measured 2.7 s vs 3.4 s at sf0.1 against the checkpoint layout, and
      at 100 TB it additionally saves writing per-doc sets to storage).
    - The verify step re-shingles ONLY docs that appear in a candidate
      pair (broadcast semi-join on the candidate id set): candidates are
      ∝ true near-dups, so the re-shingle cost is a vanishing fraction of
      the corpus — cheaper at every scale than persisting all sets for
      the few that get verified. Candidate pairs are localCheckpointed
      (they are consumed by the id-set derivation and both verify sides;
      the frame is tiny by construction).

    Verification intersects candidate docs' exact distinct window-hash
    sets (shingle identity, not text — r11) — precision 1.0, identical
    output to :func:`jaccard_pairs` whenever the banding catches every
    true pair (see the registry docstring for the measured fixture
    recall contract)."""
    # Postings hash the k-token window DIRECTLY
    # (multi-arg xxhash64 over element_at slots) instead of building
    # shingle strings — no concat_ws, no array_distinct. Correct because
    # the signature stage only consumes minima: min over the multiset of
    # window hashes equals min over the distinct set (duplicates cannot
    # change a MIN), and the exact-Jaccard verify below still intersects
    # real distinct shingle STRINGS. Also drops the old repartition(id) —
    # the signature groupBy shuffles on doc anyway, so pre-shuffling the
    # raw docs was a pure extra exchange.
    # Expression strings throughout (construction cost, not execution,
    # dominates the cascade's wall): the parsed trees are identical to
    # Column-lambda builds, but each string is ONE gateway roundtrip
    # where the 32-permutation/8-band comprehensions cost hundreds.
    # Topology: two direct tokenize passes — the fence's df-count and the
    # signature postings — plus a candidates-only third for verify; ZERO
    # full-corpus materialization. Sharing ONE scan by checkpointing
    # per-doc window-hash arrays is a scale regression: the store is
    # corpus-sized (at 100 TB it is the corpus), so it costs a write+read
    # of the same volume plus block-manager pressure, where re-tokenizing
    # is two cheap streaming passes. The measurements are in
    # OPTIMIZATION_engine.md.
    win_slots = ", ".join(
        f"element_at(toks, CAST(i AS INT) + {j})" for j in range(k)
    )
    # raw 64-bit window hashes (multiset — min over the multiset equals
    # min over the distinct set); the pmod fold to signature space
    # happens AFTER the fence anti-join below.
    win_hashes = (
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> struct(xxhash64({win_slots}) AS hraw, d AS d))"
    )
    # fanout BEFORE tokenize: the scan's task count is the file's
    # row-group count (1 at the fixture SFs), and tokenize→window-hash→
    # explode→partial-min is the cascade's dominant compute — without
    # the pinned exchange it all runs inside that one scan task
    # (round-8 profile).
    postings = (
        fanout(
            docs.select(
                F.col(id_col).cast("long").alias("d"),
                F.col(text_col).alias("t"),
            )
        )
        .select("d", tokens(F.col("t")).alias("toks"))
        .filter(F.size("toks") >= k)
        .select(F.expr(f"explode({win_hashes})").alias("p"))
        .select("p.hraw", "p.d")
    )
    hot = None
    n_hot = 0
    if max_df is not None:
        # df per DISTINCT raw 64-bit window hash (sql_hashed_windows
        # arrays are per-doc distinct, so a plain map-side-combinable
        # count IS the document frequency — no countDistinct shuffle).
        hot = (
            fanout(docs.select(F.col(text_col).alias("t")))
            .selectExpr(f"{TOKENS_SQL.format(col='t')} AS toks")
            .selectExpr(f"explode({sql_hashed_windows('toks', k)}) AS hraw")
            .groupBy("hraw")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("hraw")
        )
        # Count BEFORE materializing (r13): on benign corpora (n_hot ==
        # 0, the common case) this count is the fence's ONLY evaluation
        # — no store/re-read job for an empty frame, no postings
        # anti-join, no verify-cap machinery. Only corpora that actually
        # have hot windows pay the materialize (hot then has two more
        # consumers). Bounded ≤ total_windows/max_df by construction.
        n_hot = hot.count()
        if n_hot:
            hot = materialize(hot, "minhash-hot")
            # Fence in the RAW 64-bit key space (r13): hot windows leave
            # BEFORE the pmod fold, so the r12 caveat (a non-hot window
            # pmod-colliding with a hot one loses its signature slot) is
            # structurally gone rather than merely rare. Recall can only
            # improve; verify semantics unchanged.
            postings = postings.join(F.broadcast(hot), on="hraw", how="left_anti")
    mins = [
        F.expr(
            f"min(pmod(h * {PERM_A[i]}L + {PERM_B[i]}L, {MERSENNE31}L)) AS m{i}"
        )
        for i in range(N_PERM)
    ]
    # pmod fold after the fence; per-window h values are identical to
    # the r12 build (pmod(xxhash64, M31)), so signatures and band hashes
    # are unchanged on fence-free corpora.
    sig = (
        postings.select("d", F.expr(f"pmod(hraw, {MERSENNE31}L)").alias("h"))
        .groupBy("d")
        .agg(*mins)
    )
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({slots}) AS bh)".format(
            b=b,
            slots=", ".join(f"m{b * BAND_SIZE + j}" for j in range(BAND_SIZE)),
        )
        for b in range(N_BANDS)
    )
    bands = sig.select(
        F.col("d").alias("doc_id"),
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cand = materialize(
        expand_pairs(buckets).distinct(),
        "minhash-cand",
    )
    # No .distinct() on the id set: left_semi against a broadcast with
    # duplicate keys is identical (existence test), and the dedup shuffle
    # was one more job on the checkpointed tiny frame.
    cand_ids = cand.select(F.col("doc_a").alias(id_col)).union(
        cand.select(F.col("doc_b").alias(id_col))
    )
    # Verify on distinct window-HASH arrays, not shingle strings (r11):
    # intersection/size counts over k-arg-xxhash64 identities equal the
    # string-set counts (whitespace tokens -> bijective windows; 2^-64
    # collision doctrine). Re-shingles ONLY candidate docs (broadcast
    # semi-join) — candidates are ∝ true near-dups, a vanishing fraction
    # of the corpus at every scale.
    vs = (
        docs.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .selectExpr(
            f"`{id_col}` AS doc_id",
            f"{TOKENS_SQL.format(col=f'`{text_col}`')} AS toks",
        )
        .selectExpr("doc_id", f"{sql_hashed_windows('toks', k)} AS shs")
    )
    if n_hot:
        if n_hot <= HOT_VERIFY_BROADCAST_CAP:
            # Cap via a single-row broadcast array_except — zero extra
            # shuffle; safe only while |hot| is broadcast-small.
            hot_arr = hot.agg(
                F.expr("coalesce(collect_list(hraw), array())").alias("hot")
            )
            vs = vs.crossJoin(F.broadcast(hot_arr)).selectExpr(
                "doc_id", "array_except(shs, hot) AS shs"
            )
        else:
            # r12-ADVICE path: past the broadcast cap (template-heavy
            # corpora can push |hot| into the millions) a single-row
            # collected array risks collect/broadcast limits and per-row
            # array_except cost grows with |hot|. Explode the candidate
            # docs' windows, drop hot ones with a plain left_anti in the
            # raw key space, and re-collect per doc — cost is one shuffle
            # over the CANDIDATE docs' postings (long keys), independent
            # of |hot|. The left join back onto the id list keeps
            # all-hot docs as empty sets, SET-equivalent to array_except
            # (collect_list after a shuffle yields nondeterministic
            # element order; array_except preserves input order — safe
            # here because shs is array_distinct and every downstream
            # consumer is order-insensitive size/array_intersect; r13
            # ADVICE reword).
            # Materialize BEFORE building `capped`: both the explode
            # subtree and the `vs.select("doc_id")` join-back below
            # consume vs, and without a lineage cut the broadcast
            # semi-join + re-shingle chain computes twice (same r10
            # rationale as the post-cap materialize; r13 ADVICE).
            vs = materialize(vs, "minhash-vsets-precap")
            capped = (
                vs.select("doc_id", F.explode("shs").alias("hraw"))
                .join(hot, on="hraw", how="left_anti")
                .groupBy("doc_id")
                .agg(F.collect_list("hraw").alias("capped_shs"))
            )
            vs = (
                vs.select("doc_id")
                .join(capped, on="doc_id", how="left")
                .selectExpr(
                    "doc_id",
                    "coalesce(capped_shs, CAST(array() AS array<bigint>)) AS shs",
                )
            )
    vsets = materialize(vs, "minhash-vsets")
    # ^ materialized because BOTH verify sides consume it and the cand
    # side of each join broadcasts — without lineage cut the semi-join +
    # re-shingle + cap chain runs twice. Bounded: only docs appearing in a
    # candidate pair.
    a = vsets.selectExpr("doc_id AS doc_a", "shs AS shs_a")
    b = vsets.selectExpr("doc_id AS doc_b", "shs AS shs_b")
    joined = cand.join(a, on="doc_a").join(b, on="doc_b")
    stats = joined.selectExpr(
        "doc_a",
        "doc_b",
        "CAST(size(array_intersect(shs_a, shs_b)) AS BIGINT) AS n_common",
        "CAST(size(shs_a) AS BIGINT) AS n_a",
        "CAST(size(shs_b) AS BIGINT) AS n_b",
    )
    jac = "n_common / (n_a + n_b - n_common)"
    return stats.filter(f"{jac} >= {sql_double(threshold)}").selectExpr(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        f"FLOOR(({jac}) * 1e4 + 0.5) / 1e4 AS jaccard",
    )


SIMHASH_BITS = 48  # keep the signature positive in a signed 64-bit long


def simhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """48-bit SimHash over token hashes: per bit, sum ±1 weighted by token
    multiplicity; bit set where the sum is positive. One explode + one
    groupBy with 48 conditional sums.

    The token hash is the first 12 hex digits of md5 (48 bits) — identical
    in Spark (``conv(substr(md5, 1, 12), 16, 10)``) and DuckDB
    (``CAST('0x' || substr(md5, 1, 12) AS BIGINT)``), so the whole
    signature — and therefore exact Hamming-pair output — is
    oracle-checkable cross-engine (xxhash64 is Spark-only).
    """
    tok = fanout(docs, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    # Expression strings for the 48 conditional sums and the 48-term
    # signature reassembly (each Column-builder call is a gateway
    # roundtrip at construction time): identical parsed trees, a handful
    # of roundtrips instead of a few hundred. h is PROJECTED once (its own
    # column) so md5 is computed once per token, not once per bit.
    hcol = tok.select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(tok), 1, 12), 16, 10) AS BIGINT)").alias("h"),
    )
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{i}"
        )
        for i in range(SIMHASH_BITS)
    ]
    sums = hcol.groupBy("doc_id").agg(*bit_sums)
    sig_terms = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({1 << i}L AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for i in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(sig_terms).alias("simhash"))


def simhash_near_pairs(
    signatures: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance ≤ ``max_hamming``.

    Candidate generation: 4 chunks of 12 bits — any pair within Hamming 3 of
    each other per-chunk-error bound shares ≥1 exact chunk (pigeonhole when
    max_hamming < 4); for larger budgets it is a recall/cost tradeoff.
    Verification: ``bit_count(xor)`` — computed IN-ROW during the bucket
    pair expansion (the signature travels inside the bucket's struct list),
    so the whole operator is one shuffle and zero joins.
    """
    chunks = signatures.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 12)
                        .bitwiseAND(F.lit(0xFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
        "doc_id",
        "simhash",
    ).select(
        F.col("cc.chunk").alias("chunk"),
        F.col("cc.cv").alias("cv"),
        "doc_id",
        "simhash",
    )
    # bucket docs by exact chunk value; sorted-by-id struct list makes the
    # in-row (a < b) expansion deterministic (struct sort keys on doc_id
    # first, which is unique)
    buckets = (
        chunks.groupBy("chunk", "cv")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.expr(
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, greatest(size(ms) - i - 1, 0)), "
        "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming))))"
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
