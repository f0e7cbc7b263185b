"""Text-analysis column expressions (north star, BASELINE.json): tokenize,
shingle, language-ID heuristic, quality scoring, fingerprinting.

Everything is built-in column expressions (codegen'd, no UDF) so the same
logic is expressible in the DuckDB oracle and runs at scan speed — at 100 TB
these are pure map stages.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and deterministic — the point is the operator
# shape (set-membership scoring over tokens), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "und", "die", "ist", "das"),
    "fr": ("le", "et", "la", "est", "les"),
    "es": ("el", "y", "la", "es", "los"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-ish placeholder
}


# The ONE tokenizer definition, as a Spark-SQL expression string. Every
# expr-string query path that tokenizes (corpus_semdedup's BoW fold, etc.)
# must compose THIS constant instead of repeating the literal, so the
# tokenizer cannot silently drift from tokens() below (ADVICE r8: a future
# tokens() change would otherwise diverge semdedup from every other
# query's tokenization without any oracle catching it).
TOKENS_SQL = "split(trim({col}), '\\\\s+')"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex variant is
    ``F.split(text, r"\\s+|(?=[.,!?;:])")`` — kept simple here because the
    fixture corpus is space-joined words). Expression-string twin:
    ``TOKENS_SQL`` above — keep the two in lockstep (pinned by
    tests/test_northstar.py::test_tokens_sql_twin_matches_tokens_column)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def sql_shingles_from_tokens(toks: str, k: int = 3) -> str:
    """Expr-string twin of :func:`shingles_from_tokens` — identical parsed
    tree, one gateway roundtrip (round-9 construction-cost pass).
    ``toks`` is a SQL snippet (usually a column name)."""
    shingled = (
        f"transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {k})))"
    )
    return (
        f"CASE WHEN size({toks}) >= {k} THEN array_distinct({shingled}) "
        "ELSE CAST(array() AS array<string>) END"
    )


def sql_hashed_windows(toks: str, k: int) -> str:
    """Distinct k-token window HASHES (k-arg xxhash64 over the token
    slots) from a MATERIALIZED token-array column — the hash-identity
    twin of :func:`sql_shingles_from_tokens` for consumers that need
    shingle identity/counts but never the text (r11 single source of
    truth; six call sites — jaccard/minhash verify, source-overlap,
    decontaminate, ngram-novelty, rrf lexical leg).

    Why it exists: building the k-gram STRINGS (concat_ws per window +
    string-array dedup) was measured as the dominant map-side cost of
    the whole shingle tier at the 100× probe — not the shuffles. Hashing
    the token slots directly and deduping LONGs is 2-6× cheaper and
    shrinks every downstream shuffle/broadcast to 8-byte keys. Equal to
    the string semantics because whitespace-split tokens make the window
    ↔ "a b c" string bijective; collisions are 2^-64-scale and the
    DuckDB oracle diff guards them (same doctrine as the hash-keyed
    inverted index). Do NOT use where the oracle checks hash VALUES
    derived from the text (simhash, winnowing fingerprints) or where the
    gram itself is output (tf-idf, textrank keywords)."""
    slots = ", ".join(
        f"element_at({toks}, CAST(i AS INT) + {j})" for j in range(k)
    )
    return (
        f"CASE WHEN size({toks}) >= {k} THEN array_distinct("
        f"transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> xxhash64({slots}))) "
        "ELSE CAST(array() AS array<bigint>) END"
    )


def shingles_from_tokens(toks: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles from a MATERIALIZED token-array column;
    empty for short docs (guarded — Spark's ``sequence`` would count *down*
    for negative spans). Pass a column NAME string for the one-roundtrip
    expr-string build (identical tree).

    Pass a projected column, not ``tokens(text)`` inline: expressions inside
    higher-order-function lambdas are not common-subexpression-eliminated,
    so an inline split would re-tokenize once per shingle (observed ~40×
    slowdown on shingling)."""
    if isinstance(toks, str):
        return F.expr(sql_shingles_from_tokens(toks, k))
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, F.array_distinct(shingled)).otherwise(
        F.array().cast("array<string>")
    )


def marker_hits(text: Column, lang: str) -> Column:
    """How many of ``lang``'s marker words appear in the token set."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    toks = tokens(text)
    return F.size(F.array_intersect(F.array_distinct(toks), markers))


def langid(text: Column) -> Column:
    """Argmax of marker hits; ties broken by fixed precedence (dict order,
    first max wins); 'und' (undetermined) when nothing matches."""
    hits = {lang: marker_hits(text, lang) for lang in LANG_MARKERS}
    max_hits = F.greatest(*hits.values())
    best = None
    for lang, h in hits.items():
        cond = (max_hits > 0) & (h == max_hits)
        best = F.when(cond, lang) if best is None else best.when(cond, lang)
    return best.otherwise("und")


def sql_marker_hits(text: str, lang: str) -> str:
    """Expr-string twin of :func:`marker_hits` (Spark SQL; the DuckDB
    replica lives with the oracles). ``text`` is a SQL snippet. Lockstep
    pinned by tests/test_northstar.py::test_text_sql_twins_match_columns."""
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"size(array_intersect(array_distinct({TOKENS_SQL.format(col=text)}), "
        f"array({markers})))"
    )


def sql_langid(text: str) -> str:
    """Expr-string twin of :func:`langid` — same hit expressions, same
    dict-order tie precedence, same 'und' fallback."""
    hits = {lang: sql_marker_hits(text, lang) for lang in LANG_MARKERS}
    mx = f"greatest({', '.join(hits.values())})"
    whens = " ".join(
        f"WHEN ({mx}) > 0 AND ({h}) = ({mx}) THEN '{lang}'"
        for lang, h in hits.items()
    )
    return f"CASE {whens} ELSE 'und' END"


def sql_token_count(text: str) -> str:
    """Expr-string twin of :func:`token_count`."""
    return f"CAST(size({TOKENS_SQL.format(col=text)}) AS BIGINT)"


def sql_punct_ratio(text: str) -> str:
    """Expr-string twin of :func:`punct_ratio`."""
    return (
        f"CAST(length(regexp_replace({text}, '[^.,!?;:]', '')) AS DOUBLE) "
        f"/ greatest(CAST(length({text}) AS DOUBLE), 1.0E0)"
    )


def sql_quality_score(text: str) -> str:
    """Expr-string twin of :func:`quality_score` — same literals (E0
    exponent form parses as DOUBLE, bit-identical to F.lit floats), same
    left-to-right association."""
    n = f"CAST({sql_token_count(text)} AS DOUBLE)"
    stop = f"CAST({sql_marker_hits(text, 'en')} AS DOUBLE)"
    return (
        f"(least({n} / 64.0E0, 1.0E0) * 0.5E0 "
        f"+ least({stop} / 3.0E0, 1.0E0) * 0.3E0 "
        f"+ (1.0E0 - least({sql_punct_ratio(text)} * 10.0E0, 1.0E0)) * 0.2E0)"
    )


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^.,!?;:]", "")
    return F.length(stripped).cast("double") / F.greatest(
        F.length(text).cast("double"), F.lit(1.0)
    )


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(toks).cast("double"), F.lit(1.0))


def quality_score(text: Column) -> Column:
    """Length/stopword/punctuation quality heuristic in [0, 1]: rewards
    mid-length docs with some stopword mass (fluent text) and low
    punctuation density. Deterministic arithmetic only."""
    n_toks = token_count(text).cast("double")
    stop_hits = marker_hits(text, "en").cast("double")
    len_score = F.least(n_toks / F.lit(64.0), F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(3.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * 10.0, F.lit(1.0))
    return len_score * 0.5 + stop_score * 0.3 + (1.0 - punct_pen) * 0.2


def fingerprint(text: Column) -> Column:
    """Canonical-form document fingerprint: md5 of the normalized text
    (lowercased, whitespace-collapsed). md5 is identical across engines."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)
