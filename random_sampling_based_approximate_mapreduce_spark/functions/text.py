"""Text transforms: the reference's map-stage string ops (SURVEY.md §2.3
P1-P5) plus the training-data text-analysis family (language ID,
punctuation ratio, token counting, fingerprinting).

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

# P3 for the oracle-checked word pipeline: after lowercasing, a word is a
# maximal run of [a-z0-9']. (The reference's own delimiter set at
# RandomizedWordCount.java:31 differs; see explode_words_reference.)
# Tokens are matched as runs of the class to keep, not split out on its
# negation: the runs are exactly the non-empty split pieces, and the JVM
# extracts them about 3x faster (docs/SCALE.md, "Tokenize by matching
# runs").
WORD_RE = "[a-z0-9']+"

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


def _words_sql(col: str) -> str:
    """P3 over column ``col`` as SQL: lowercase, then every maximal run of
    ``WORD_RE`` in order. The SQL spelling of the rule; ``words``,
    ``explode_words`` and the TABLESAMPLE query build on it."""
    return f"regexp_extract_all(lower({ident(col)}), {sql_str(WORD_RE)}, 0)"


def words(col: str) -> Column:
    """P3 as an array column over column ``col``: the non-empty tokens in
    order (an empty array for text with no word; null for null text)."""
    return F.expr(_words_sql(col))


def explode_words(df: DataFrame, col: str, out: str = "word") -> DataFrame:
    """P3+P4: one row per non-numeric token.

    explode_outer everywhere in this module: plain explode triggers
    InferFiltersFromGenerate, whose size()>0 filter is predicate-pushed
    with the full tokenizer expression substituted — doubling the regex
    work per row. Tokens are never empty, and the RLIKE test drops the
    outer-null rows (null text, or text with no word).
    """
    o = ident(out)
    return df.selectExpr(f"explode_outer({_words_sql(col)}) AS {o}").where(
        f"NOT {o} RLIKE {sql_str(NUMERIC_TOKEN_RE)}"
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


def _normalized(col: Column) -> Column:
    """Lowercase, keep only [a-z0-9] and whitespace, collapse whitespace
    runs to one space, trim. The kept characters are gathered as runs of
    the class and joined, the same string as deleting every character
    outside it, for the reason ``WORD_RE`` gives."""
    kept = F.array_join(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9\s]+"), F.lit(0)), "")
    return F.trim(F.regexp_replace(kept, r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: 60-bit hash of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed; see
    ``_normalized``). Equal fingerprints = near-identical documents modulo
    casing/punct/spacing. Null text gives a null fingerprint."""
    from .hashing import hash64

    return hash64(_normalized(col))


def prefix_fingerprint(col: Column, n_chars: int = 120) -> Column:
    """Fingerprint of the first ``n_chars`` of the NORMALIZED text.

    Catches the re-crawl/appended-boilerplate near-dup family (same page,
    different trailing junk) that the full-text fingerprint misses; the
    standard prefix-keyed dedup used on web corpora."""
    from .hashing import hash64

    return hash64(F.substring(_normalized(col), 1, n_chars))


def char_ngrams(col: Column, n: int) -> Column:
    """Distinct character n-gram array (shingles) of the lowercased text."""
    lowered = F.lower(col)
    length = F.length(lowered)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: lowered.substr(i, F.lit(n)))
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) == n))


def word_tokens(col: Column) -> Column:
    """P3 over a Column (the shingle tokenizer): the maximal runs of
    ``WORD_RE`` in the lowercased text, in order, never empty; the same
    array ``words`` builds from a column name."""
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_RE), F.lit(0))


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
