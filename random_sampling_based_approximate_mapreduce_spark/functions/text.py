"""Text transforms: the reference's map-stage string ops (SURVEY.md §2.3
P1-P5) plus the training-data text-analysis family (language ID, quality
scoring, token counting, fingerprinting).

Everything here is a pure Column expression — JVM-side, whole-stage
codegen, no Python in the hot path — and each op has an exact ANSI-SQL
mirror (the ``*_SQL`` templates) used by the DuckDB oracle.

Reference citations:
- normalize/url-decode  -> RandomizedWordCount.java:41-53 (P1)
- digit-line filter     -> RandomizedWordCount.java:43-44 (P2)
- tokenize/explode      -> RandomizedWordCount.java:31-38 (P3)
- numeric-token filter  -> RandomizedWordCount.java:34-35 (P4)
- explode characters    -> RandomizedCharacterCount.java:27-33 (P5)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quoting import ident, sql_str
from .rounding import sql_round

# Word boundary for the oracle-checked word pipeline: after lowercasing,
# anything outside [a-z0-9'] splits. (The reference's delimiter set at
# RandomizedWordCount.java:31 is a superset of this; see words_reference.)
WORD_SPLIT_RE = "[^a-z0-9']+"

# P2 / P4: a digit anywhere in the line; a token of digits only.
DIGIT_RE = r"\d"
NUMERIC_TOKEN_RE = "^[0-9]+$"

# The reference's literal delimiter set (RandomizedWordCount.java:31),
# rendered as a character-class regex for the parity-mode tokenizer.
REFERENCE_DELIMS_RE = r"""[\t\n\r\f\\"<>/%?@~`^”!#$&,.'():*+\[\]{}=;_|\-\s]+"""


def normalize_line(col: Column) -> Column:
    """P1: lowercase + percent-escape repair + URL-decode.

    The reference repairs bare '%' (not followed by 2 hex digits) to '%25'
    and '+' to '%2B' before URLDecoder.decode (RandomizedWordCount.java:
    41-53). url_decode is Spark >= 3.4.
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"%(?![0-9a-fA-F]{2})", "%25")
    c = F.regexp_replace(c, r"\+", "%2B")
    return F.url_decode(c)


def drop_digit_lines(df: DataFrame, col: str) -> DataFrame:
    """P2: drop the whole line if it contains any digit.

    The tokenizer builders here are SQL strings, parsed in the JVM in one
    call: every ``pyspark.sql.functions`` call is a py4j round trip, and
    each DataFrame op is analysed on its own."""
    return df.where(f"NOT {ident(col)} RLIKE {sql_str(DIGIT_RE)}")


def _words_sql(col: str, split_re: str) -> str:
    """P3 over column ``col`` as SQL: lowercase then split. The one
    spelling of the rule; ``words`` and ``explode_words`` build on it."""
    return f"split(lower({ident(col)}), {sql_str(split_re)})"


def words(col: str, split_re: str = WORD_SPLIT_RE) -> Column:
    """P3 as an array column over column ``col``; empties filtered later."""
    return F.expr(_words_sql(col, split_re))


def explode_words(df: DataFrame, col: str, out: str = "word") -> DataFrame:
    """P3+P4: one row per non-empty, non-numeric token.

    explode_outer everywhere in this module: plain explode triggers
    InferFiltersFromGenerate, whose size()>0 filter is predicate-pushed
    with the full split expression substituted — doubling the regex work
    per row. The length>0 predicate already drops the outer-null rows.
    """
    o = ident(out)
    return df.selectExpr(f"explode_outer({_words_sql(col, WORD_SPLIT_RE)}) AS {o}").where(
        f"length({o}) > 0 AND NOT {o} RLIKE {sql_str(NUMERIC_TOKEN_RE)}"
    )


def explode_words_reference(df: DataFrame, col: str, out: str = "word") -> DataFrame:
    """Parity-mode tokenizer: P1 normalize + P2 digit-line drop + the
    reference's full delimiter set + P4 numeric-token drop."""
    kept = drop_digit_lines(df, col)
    toks = kept.select(F.explode_outer(F.split(normalize_line(F.col(col)), REFERENCE_DELIMS_RE)).alias(out))
    return toks.where(F.length(out) > 0).where(~F.col(out).rlike(NUMERIC_TOKEN_RE))


def explode_chars(df: DataFrame, col: str, out: str = "ch") -> DataFrame:
    """P5: one row per character."""
    return df.select(F.explode_outer(F.split(F.col(col), "")).alias(out)).where(F.length(out) > 0)


# ---------------------------------------------------------------------------
# Training-data text analysis (engine extensions; BASELINE.json north star)
# ---------------------------------------------------------------------------

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic. Chosen to be discriminative between the four testdata langs.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "ist", "nicht"],
    "fr": ["le", "et", "les", "est", "une"],
    "es": ["el", "los", "que", "es", "una"],
}


def _marker_count(col: Column, markers: list[str]) -> Column:
    """How many marker words occur (word-boundary match) in the text."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    counts = [
        F.when(padded.like(f"% {m} %"), F.lit(1)).otherwise(F.lit(0))
        for m in markers
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out + c
    return out


def lang_id(col: Column) -> Column:
    """Stopword-marker language ID: argmax over LANG_MARKERS, 'und' if no
    marker hits. Deterministic tie-break by language code order."""
    scored = [( _marker_count(col, ms), lang) for lang, ms in sorted(LANG_MARKERS.items())]
    best_score = F.greatest(*[s for s, _ in scored])
    expr = F.lit("und")
    # argmax with first-in-sorted-order winning ties: walk reversed so the
    # earliest language's `when` ends up outermost.
    for score, lang in reversed(scored):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count matches of word-pieces/digits/punct.

    Regex mirrors common pre-tokenizers (contractions, letter runs, digit
    runs, punctuation runs) — a cheap token estimate for budget planning.
    """
    pattern = r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"
    return F.coalesce(F.regexp_count(col, F.lit(pattern)), F.lit(0)).cast("long")


def punct_ratio(col: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    nonspace = F.length(F.regexp_replace(col, r"\s", ""))
    punct = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(nonspace == 0, F.lit(0.0)).otherwise(punct.cast("double") / nonspace)


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are common-English stopwords."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"], "a", "in", "it", "that")))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(stop.cast("double") / F.size(toks))


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: length band + low punct + stopword presence.

    Components (equal thirds):
    - length: 1 if 50 <= n_chars <= 5000 else n/50 (short) or 5000/n (long)
    - punct : 1 - min(1, punct_ratio * 4)
    - stop  : min(1, stopword_ratio * 5)
    """
    n = F.length(col).cast("double")
    len_comp = (
        F.when(n < 50, n / F.lit(50.0))
        .when(n > 5000, F.lit(5000.0) / n)
        .otherwise(F.lit(1.0))
    )
    punct_comp = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(col) * F.lit(4.0))
    stop_comp = F.least(F.lit(1.0), stopword_ratio(col) * F.lit(5.0))
    return sql_round((len_comp + punct_comp + stop_comp) / F.lit(3.0), 6)


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: 60-bit hash of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed). Equal
    fingerprints = near-identical documents modulo casing/punct/spacing."""
    from .hashing import hash64

    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return hash64(norm)


def prefix_fingerprint(col: Column, n_chars: int = 120) -> Column:
    """Fingerprint of the first ``n_chars`` of the NORMALIZED text.

    Catches the re-crawl/appended-boilerplate near-dup family (same page,
    different trailing junk) that the full-text fingerprint misses; the
    standard prefix-keyed dedup used on web corpora."""
    from .hashing import hash64

    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return hash64(F.substring(norm, 1, n_chars))


def char_ngrams(col: Column, n: int) -> Column:
    """Distinct character n-gram array (shingles) of the lowercased text."""
    lowered = F.lower(col)
    length = F.length(lowered)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: lowered.substr(i, F.lit(n)))
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) == n))


def word_tokens(col: Column) -> Column:
    """Non-empty lowercase word tokens (the shingle tokenizer)."""
    return F.filter(F.split(F.lower(col), WORD_SPLIT_RE), lambda t: F.length(t) > 0)


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct k-word shingles from a PRE-MATERIALIZED token array column.

    ``toks`` MUST be a plain attribute (its own projection step), never the
    tokenizer expression inline: Catalyst cannot eliminate a common subtree
    referenced from inside lambda functions, so an inline tokenizer is
    re-evaluated per shingle — O(words^2) regex work, measured 7x slower on
    the documents table. CollapseProject keeps a non-cheap alias that is
    referenced more than once as its own projection, so the two-step form
    tokenizes exactly once per row.
    """
    n_sh = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), n_sh - F.lit(1))
    shingle = lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + F.lit(j + 1)).cast("int")) for j in range(k)])
    return F.when(n_sh <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(idx, shingle))
    )


def with_word_shingles(df: DataFrame, text_col: str, k: int, out: str = "shingles") -> DataFrame:
    """Two-step tokenize -> shingle projection (see shingles_from_tokens)."""
    return df.withColumn("__toks", word_tokens(F.col(text_col))).withColumn(
        out, shingles_from_tokens(F.col("__toks"), k)
    ).drop("__toks")


def word_shingles(col: Column, k: int) -> Column:
    """Distinct k-word shingle array over the simple word tokenization.

    One-shot Column form — re-tokenizes per shingle (no CSE through lambda
    bodies); fine for short strings, use ``with_word_shingles`` for the
    document-scale hot path.
    """
    return shingles_from_tokens(word_tokens(col), k)
