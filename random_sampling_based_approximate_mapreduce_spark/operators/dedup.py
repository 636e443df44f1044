"""Deduplication operator family for training-data pipelines.

Five tiers, each a pure DataFrame pipeline (no Python UDFs), each with an
exact SQL mirror so the DuckDB oracle can verify it value-for-value:

- exact           : hash-groupBy on the raw text (catalog: dedup_exact)
- fingerprint     : hash-groupBy on normalized text (catalog: dedup_fingerprint)
- MinHash + LSH   : shingle -> signature -> band -> bucket-join candidates
- SimHash         : per-token hash bit-vote -> 60-bit doc signature
- n-gram Jaccard  : shingle explode + self-join -> exact pairwise Jaccard

Scale notes (100 TB):
- MinHash/SimHash signatures are per-row column expressions (whole-stage
  codegen); the only shuffle is the band-key (LSH) or doc_id (SimHash)
  exchange. Band buckets bound the join fan-out, so the quadratic
  candidate step never materializes globally — this is the standard
  MinHashLSH blocking design (cf. Spark MLlib's MinHashLSH), re-derived
  column-side so it composes with SampledFrame and needs no ML vectors.
- n-gram Jaccard self-join is quadratic PER SHINGLE BUCKET; at scale it is
  the verification stage AFTER LSH blocking, not a standalone sweep. The
  catalog query runs it standalone only at test scale.
- embedding near-dup brute force is the oracle baseline; the LSH-bucketed
  variant in operators/similarity.py is the scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.rounding import np_sql_round, sql_round
from ..functions.hashing import (
    MERSENNE_P,
    affine_hash,
    affine_hash_sql,
    hash64,
    hash64_sql,
    minhash_coefficients,
)
from ..session import reuse_barrier

# Fixed MinHash-LSH geometry for the catalog queries: 12 hashes = 4 bands
# x 3 rows -> s-curve threshold (1/4)^(1/3) ~= 0.63 Jaccard.
NUM_HASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_K = 3

_WORD_SPLIT_SQL = "[^a-z0-9'']+"


def _shingle_body_sql() -> str:
    """The k-gram concat body for the DuckDB shingle mirrors, GENERATED
    from SHINGLE_K (review r8: the bound interpolated SHINGLE_K while the
    body hardcoded 3-gram text, so changing the constant would silently
    break Spark/SQL parity)."""
    return " || ' ' || ".join(
        "w[i]" if j == 0 else f"w[i+{j}]" for j in range(SHINGLE_K)
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<long>) — empty-shingle docs dropped (no signature).

    Plan shape matters here: explode shingles, hash each ONCE (md5 is the
    expensive part), then take the NUM_HASHES affine mins as one grouped
    aggregation. Catalyst cannot CSE a hash subtree referenced from many
    lambda expressions (measured 70x slower as a nested higher-order
    expression), while the explode+groupBy form hashes once per shingle
    and partial-aggregates map-side — one small shuffle on id.
    """
    coeffs = minhash_coefficients(NUM_HASHES)
    from ..sources.tables import ensure_parallelism

    sh = T.with_word_shingles(
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col))), text_col, SHINGLE_K
    )
    # explode_outer + IS NOT NULL, never plain explode: InferFiltersFromGenerate
    # synthesizes size(shingles)>0 from a plain explode and predicate pushdown
    # substitutes the WHOLE shingle expression into that filter below the
    # exchange — re-tokenizing every doc single-threaded at the scan
    # (measured 10x slower end-to-end). The outer variant infers nothing;
    # the null row from empty arrays is dropped by a cheap attribute filter.
    ex = sh.select(F.col(id_col), F.explode_outer("shingles").alias("s")).where(
        F.col("s").isNotNull()
    )
    h = hash64(F.col("s")) % F.lit(MERSENNE_P)
    hashed = ex.select(F.col(id_col), h.alias("h"))
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min(affine_hash(F.col("h"), a, b)).alias(f"s{j}")
            for j, (a, b) in enumerate(coeffs)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"s{j}") for j in range(NUM_HASHES)]).alias("sig")
    )


def lsh_band_keys(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode signatures into (id, band, key) — the LSH bucketing relation."""
    bands = []
    for b in range(NUM_BANDS):
        parts = [F.element_at(F.col("sig"), b * ROWS_PER_BAND + r + 1) for r in range(ROWS_PER_BAND)]
        bands.append(F.struct(F.lit(b).alias("band"), F.concat_ws(",", *[p.cast("string") for p in parts]).alias("key")))
    return sigs.select(F.col(id_col), F.explode(F.array(*bands)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_candidates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) sharing any LSH band.

    One narrow signature projection + one shuffle on (band, key) + an
    in-bucket join: the scalable blocking step of near-dup detection.

    The tokenize->shingle->hash->sign pipeline runs once per join side:
    at sf0.1 that recompute measured cheaper than materializing the band
    relation (3.5s vs 4.4s). A caller whose ``docs`` is costly to produce
    puts the reuse barrier on ``docs`` (``blocked_dup_clusters`` does).
    """
    bands = lsh_band_keys(minhash_signatures(docs, text_col, id_col), id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_candidates_sql() -> str:
    """DuckDB mirror of minhash_lsh_candidates over the documents view."""
    coeffs = minhash_coefficients(NUM_HASHES)
    sig_exprs = ",\n      ".join(
        f"list_min(list_transform(shingles, s -> {affine_hash_sql(hash64_sql('s'), a, b)})) AS s{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, ".format(b=b)
        + " || ',' || ".join(f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + " AS key FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'), t -> len(t) > 0) AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(w) - {SHINGLE_K - 1}),
                                          i -> {_shingle_body_sql()})) AS shingles
      FROM toks
    ), sig AS (
      SELECT doc_id,
      {sig_exprs}
      FROM sh WHERE len(shingles) > 0
    ), bands AS (
      {band_selects}
    )
    SELECT DISTINCT x.doc_id::BIGINT AS doc_a, y.doc_id::BIGINT AS doc_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    """


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — 60-bit majority-vote signature over token hashes.

    Explode tokens (with multiplicity), hash each JVM-side, take 60
    per-bit +1/-1 sums in one hash aggregation (map-side partial combine,
    one shuffle on id), then assemble sign bits.

    60 bits, not 32: at 32 bits the signature SATURATES at corpus
    scale — on the 200k-doc Zipf measurement corpus the pigeonhole
    8-bit-chunk buckets held n/256 docs each and near-identical
    signatures produced 170M "near-dup" pairs (n^2 growth, measured
    round 6); production simhash is 64-bit for exactly this reason
    (precision grows exponentially in bits). 60 is the full width of
    the engine's md5-prefix hash (functions/hashing.hash64 draws 15 hex
    chars, so token hashes live in [0, 2^60)): a round-6 review pass
    caught that a wider signature just appends CONSTANT-ZERO bits and
    dead per-token vote sums — bits beyond the hash width carry no
    entropy. 60 also keeps bit assembly in positive signed-long
    arithmetic in both engines, so the SQL mirror stays a line-for-line
    transliteration with no sign-bit special case.
    """
    from ..sources.tables import ensure_parallelism

    # explode_outer + IS NOT NULL: see minhash_signatures (pushdown trap).
    toks = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode_outer(T.words(text_col)).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
    )
    # The 60 vote sums and the 60-term bit assembly are built as SQL
    # strings parsed JVM-side (round 16): the previous per-bit Column-op
    # construction issued ~800 py4j round trips and cost 1.5-2.2 s of
    # DRIVER time per invocation — more than the query's whole execution
    # (measured sf0.1: build 1.48-2.24 s vs exec 1.10 s). The parsed
    # expressions are the same CaseWhen/shiftright/sum trees, so plan
    # and results are identical; hash64 is hoisted into its own
    # projection so md5 runs once per token regardless of codegen CSE.
    hashed = toks.select(F.col(id_col), hash64(F.col("tok")).alias("__h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(__h, {j}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS v{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    sim_sql = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2**j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS)
    )
    return votes.select(F.col(id_col), F.expr(sim_sql).alias("simhash"))


def simhash_sql() -> str:
    """DuckDB mirror of simhash over the documents view."""
    votes = ",\n      ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j}::BIGINT ELSE 0 END)" for j in range(SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'), t -> len(t) > 0)) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {hash64_sql('tok')} AS h FROM toks
    ), votes AS (
      SELECT doc_id,
      {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id::BIGINT AS doc_id, ({assemble})::BIGINT AS simhash FROM votes
    """


def simhash_near_pairs_sql(max_hamming: int = 3) -> str:
    """DuckDB mirror: all-pairs over the simhash CTE (the oracle checks the
    BLOCKED Spark plan against this brute-force ground truth)."""
    return f"""
    WITH sims AS ({simhash_sql()})
    SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3, blocked: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    ``blocked=True`` (default, the scale path): split the signature
    into ``max_hamming + 1`` bit-chunks; by pigeonhole, any
    pair within distance ``max_hamming`` agrees on at least one whole
    chunk, so candidates come from an equi-join on (chunk_idx,
    chunk_value) — no quadratic pairing ever materializes — and the exact
    Hamming test filters in-bucket. Complete (never misses a pair) and
    exact (verification step), proven equal to the all-pairs form in
    tests.

    ``blocked=False`` keeps the all-pairs self-join as the tiny-input /
    oracle baseline.
    """
    s = simhash(docs)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    if not blocked:
        a, b = s.alias("a"), s.alias("b")
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .where(ham <= max_hamming)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
        )
    n_chunks = max_hamming + 1
    # 60/4 = 15-bit chunks tile the signature exactly at the default; when
    # SIMHASH_BITS is not divisible, leftover high bits sit in no chunk,
    # which still preserves completeness (a pair with <= max_hamming
    # differing bits touches at most max_hamming of the n_chunks covered
    # chunks, so at least one still agrees) while the exact Hamming filter
    # runs over ALL signature bits
    chunk_bits = SIMHASH_BITS // n_chunks
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(F.col("simhash"), i * chunk_bits).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )
    keyed = s.select("doc_id", "simhash", F.explode_outer(chunks).alias("c")).where(
        F.col("c").isNotNull()
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c.ci") == F.col("b.c.ci"))
            & (F.col("a.c.cv") == F.col("b.c.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# --- exact n-gram Jaccard --------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact pairwise word-shingle Jaccard >= threshold (doc_a < doc_b).

    Shingle-explode + equi-join on shingle computes |A ∩ B| with one
    shuffle; set sizes join back in. Quadratic only within identical-
    shingle buckets — at 100 TB run AFTER LSH blocking.
    """
    from ..sources.tables import ensure_parallelism

    # No size()>0 filter (see minhash_signatures): explode drops empty-
    # shingle docs implicitly, and zero-size docs can never appear in the
    # inner join on intersections.
    sh = T.with_word_shingles(
        ensure_parallelism(docs.select("doc_id", "text")), "text", SHINGLE_K
    ).select("doc_id", "shingles")
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    # explode_outer + IS NOT NULL: see minhash_signatures for why plain
    # explode is a perf trap here (InferFiltersFromGenerate pushdown).
    ex = sh.select("doc_id", F.explode_outer("shingles").alias("s")).where(
        F.col("s").isNotNull()
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("i").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("i"))
    return (
        inter.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b", sql_round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_verify_sql(threshold: float = 0.5) -> str:
    """DuckDB mirror of LSH-candidates -> exact-Jaccard verification."""
    return f"""
    WITH cand AS ({minhash_lsh_candidates_sql()}),
    jac AS ({ngram_jaccard_sql(threshold)})
    SELECT jac.doc_a, jac.doc_b, jac.jaccard
    FROM jac JOIN cand ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
    """


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '{_WORD_SPLIT_SQL}'), t -> len(t) > 0) AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - {SHINGLE_K - 1}),
                                                  i -> {_shingle_body_sql()})) AS shingles
      FROM toks
    ), nonempty AS (SELECT * FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM nonempty),
    sz AS (SELECT doc_id, len(shingles) AS n FROM nonempty),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
           round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
    FROM inter
      JOIN sz na ON doc_a = na.doc_id
      JOIN sz nb ON doc_b = nb.doc_id
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {threshold}
    """


def ngram_jaccard_verify(
    docs: DataFrame, pairs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact word-shingle Jaccard for a CANDIDATE pair list only.

    The scale composition: LSH blocking (minhash_lsh_candidates) bounds
    the pair list, then this verifies each candidate with the exact
    measure: the candidate pair list is joined to each side's DISTINCT
    shingle ARRAY and the intersection is ``size(array_intersect())``
    per pair — work is strictly O(pairs x shingles-per-doc), linear in
    the candidate list.

    Round-6 scale finding: the previous form exploded shingles and
    self-joined them across all CANDIDATE DOCS (filtering to candidate
    pairs only after the groupBy). On a Zipf-ish corpus a hot shingle
    appears in a constant FRACTION of docs, so that equi-join's output
    is sum_s f_s^2 — QUADRATIC in corpus size despite the LSH bound on
    pairs. Measured on the planted-dup corpus (git show
    bcf1e43:tools/measure_dedup_scale.py): 50k docs 4.8 s, 200k 73 s,
    500k ~1000 s (9.7x wall for 2.5x docs — the blow-up the docstring's
    old O-claim denied); the pairwise-array form is linear (and ~10x faster
    already at 200k). Candidate counts themselves stay linear (0.20 ->
    0.24 pairs/doc across 50k->500k), so the self-join really was the
    only quadratic term.
    """
    from ..sources.tables import ensure_parallelism

    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = T.with_word_shingles(
        ensure_parallelism(docs.join(F.broadcast(cand_docs), "doc_id").select("doc_id", "text")),
        "text",
        SHINGLE_K,
    ).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("__sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("__sb"))
    joined = pairs.select("doc_a", "doc_b").join(a, "doc_a").join(b, "doc_b")
    i = F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast("double")
    jac = i / ((F.size("__sa") + F.size("__sb")).cast("double") - i)
    # NO explicit empty-shingle guard: a `size(__sa) > 0` filter would be
    # PUSHED BELOW the join onto the shingle side, where Catalyst inlines
    # the full tokenize+shingle expression into the Filter — including
    # re-evaluating the tokenizer INSIDE the transform lambda per shingle,
    # the O(words^2) trap shingles_from_tokens documents (measured: the
    # guarded form did not finish 20k docs in 10 min; without the guard
    # the same corpus verifies in seconds). Empty sides are dropped by
    # the threshold filter itself, which references BOTH join sides and
    # therefore cannot be pushed down: one side empty -> jac = 0 < t;
    # both empty -> 0/0 = NULL -> NULL >= t is false.
    return (
        joined.where(jac >= threshold)
        .select("doc_a", "doc_b", sql_round(jac, 6).alias("jaccard"))
    )


# --- duplicate clustering (pairs -> components -> canonical docs) ---------


def blocked_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """LSH -> verify -> CC clustering, made robust to EXACT-duplicate mass
    by collapsing identical texts to one representative first.

    Why: the LSH band self-join is Theta(f^2) in the multiplicity f of
    an exact-duplicate group — every member shares every band key, so
    100 copies of one page alone produce 4,950 candidate pairs PER BAND
    before verification, and web-scale corpora carry exactly that shape
    (the round-6 verify/SimHash findings were the same bug class). Real
    pipelines therefore run exact dedup before near-dedup; this operator
    builds that in while keeping the output VALUE-IDENTICAL to running
    the pipeline on the raw corpus:

    - identical texts have identical shingle sets, so any pair
      (x, member) has exactly the Jaccard of (x, representative) —
      candidate generation and verification over representatives lose
      nothing;
    - the representative is the group's min doc id, so min-label
      components computed over representatives equal the labels the
      uncollapsed run would produce;
    - members of a multi-doc group are re-attached with their
      representative's component (or the representative id itself when
      it has no rep-level edge — the in-group Jaccard-1 edges the
      uncollapsed run would have emitted), but ONLY for groups whose
      text has >= k tokens: shorter docs have empty shingle sets and
      the uncollapsed pipeline never emits them.

    Scale shape: one md5-fingerprint shuffle to find groups, then the
    LSH/verify/CC pipeline over DISTINCT texts only, then one slim join
    to expand members. Duplicate mass now costs O(f), not O(f^2).
    """
    fp = F.md5(F.col(text_col)).alias("__fp")
    with_fp = docs.select(F.col(id_col), F.col(text_col), fp)
    groups = with_fp.groupBy("__fp").agg(
        F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__gn")
    )
    # normalize to the canonical (doc_id, text) names at the boundary:
    # ngram_jaccard_verify (and the pair columns downstream) are written
    # against them, so custom text_col/id_col inputs work uniformly
    # reps and cand are each consumed twice inside the verify DAG (reps:
    # minhash side + shingle side; cand: the broadcast cand_docs side +
    # the pair list), so they sit behind reuse barriers. LAZY ones: the
    # eager barriers of round 16 serialized the pipeline into three extra
    # materialization jobs before connected_components' probe collect ran
    # a fourth; lazy makes the probe collect the ONE job that computes
    # the whole chain (measured sf0.1: plan-build 2.26 s -> ~1.2 s, query
    # total 3.3 s -> ~2.2 s).
    reps = reuse_barrier(
        with_fp.join(groups.select("__fp", "__rep"), "__fp")
        .where(F.col(id_col) == F.col("__rep"))
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        eager=False,
    )
    cand = reuse_barrier(minhash_lsh_candidates(reps), eager=False)
    # verified gets the lazy barrier too: the driver-union-find path
    # consumes it once (the probe collect), but the distributed CC
    # fallback would otherwise recompute the whole LSH+verify chain when
    # it builds its edge list after the probe.
    verified = reuse_barrier(
        ngram_jaccard_verify(reps, cand, threshold), eager=False
    )
    rep_comp = connected_components(verified).withColumnRenamed("node", "__rep")
    shingleable = F.size(T.word_tokens(F.col(text_col))) >= F.lit(SHINGLE_K)
    membership = (
        with_fp.join(groups, "__fp")
        .join(rep_comp, "__rep", "left")
        .where(
            F.col("component").isNotNull()
            | ((F.col("__gn") >= 2) & shingleable)
        )
        .select(
            F.col(id_col).alias("node"),
            F.coalesce(F.col("component"), F.col("__rep")).alias("component"),
        )
    )
    return membership


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) from an undirected edge list — min-label
    propagation to fixpoint.

    The downstream half of every dedup pipeline: near-dup PAIRS become
    duplicate CLUSTERS, and one representative per cluster survives.

    Adaptive strategy, like broadcast-vs-shuffle join selection:
    - Edge lists under ``driver_threshold`` are collected and solved with
      union-find at the driver (microseconds; one limit-probed collect,
      no iteration jobs). Near-dup pair lists are SMALL relative to the
      corpus — LSH blocking bounds them — so this is the common case even
      at large corpus scale.
    - Larger graphs run the distributed loop: labels start as each node's
      own id; each round joins labels across edges and takes the min over
      neighbors; stop when nothing changed. Rounds = graph diameter
      (near-dup clusters are shallow; ``max_iters`` bounds pathological
      chains). Each round is one join + one groupBy on the EDGE list only
      — document text is long gone. An eager reuse barrier per round
      cuts lineage so plan size stays O(1) per round (the GraphFrames-CC
      discipline).
    """
    probe = pairs.select(F.col(a_col), F.col(b_col)).limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            a, b = find(r[a_col]), find(r[b_col])
            if a != b:
                parent[max(a, b)] = min(a, b)
        nodes = {v for r in probe for v in (r[a_col], r[b_col])}
        rows = [(n, find(n)) for n in sorted(nodes)]
        # explicit schema from the edge columns: createDataFrame cannot
        # infer types from an EMPTY row list, and a pair list with zero
        # edges is a legitimate input (found round 6 via the
        # exact-duplicate-collapse path, where all similarity can live
        # inside collapsed groups and the rep-level edge list is empty)
        from pyspark.sql.types import StructField, StructType

        node_type = pairs.schema[a_col].dataType
        schema = StructType(
            [
                StructField("node", node_type),
                StructField("component", node_type),
            ]
        )
        return pairs.sparkSession.createDataFrame(rows, schema)

    edges = reuse_barrier(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct(),
        eager=True,
    )
    labels = reuse_barrier(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component")),
        eager=True,
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = reuse_barrier(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            ),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # review r8: exhausting max_iters with labels still moving means
        # a cluster deeper than the iteration budget was SPLIT — that is
        # a wrong answer, not a degraded one, so refuse loudly (callers
        # can raise max_iters; one-hop min-label propagation needs
        # rounds ~ graph diameter)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "rounds: a component deeper than the iteration budget would "
            "be silently split; raise max_iters"
        )
    return labels


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB mirror: recursive min-label propagation over the same pairs.

    ``pairs_sql`` must select (doc_a, doc_b). The recursive CTE carries
    (node, component) candidates; the outer query keeps the min per node —
    the same fixpoint the Spark loop reaches.
    """
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, component) AS (
      SELECT src AS node, src AS component FROM edges
      UNION
      SELECT e.src AS node, w.component
      FROM edges e JOIN walk w ON e.dst = w.node
      WHERE w.component < e.src
    )
    SELECT node::BIGINT AS node, min(component)::BIGINT AS component
    FROM walk GROUP BY node
    """


# --- embedding cosine near-dup --------------------------------------------


def embedding_dup_pairs(
    emb: DataFrame, threshold: float = 0.99, block_size: int = 1024, blocked: bool = True
) -> DataFrame:
    """Near-identical embedding pairs by cosine >= threshold (all pairs).

    ``blocked=True`` (default): blocked-GEMM all-pairs. Each vector is
    hashed into one of ``ceil(N / block_size)`` blocks and exploded once
    per partner block with a (p, q) block-pair key; one applyInPandas
    group per block-pair computes a single numpy matmul over the two
    block matrices and emits only pairs above threshold. Data movement is
    N x n_blocks vector copies (N^2 / block_size) instead of N^2 joined
    pair rows, and the inner loop is BLAS instead of Spark's per-element
    interpreted higher-order fold — measured 45x faster at 2000x64
    (70s -> 1.5s) with identical output (the DuckDB brute-force oracle
    checks it value-for-value). Same shape as a blocked matrix multiply:
    quadratic work is inherent to exact all-pairs; the block size only
    trades copies against per-task matrix size. At corpus scale run LSH
    blocking first (ann_lsh) and keep this as the in-bucket verifier.

    ``blocked=False`` keeps the pure-Column join + HOF-cosine form as the
    tiny-input / oracle baseline (double-precision sequential fold).
    """
    from ..functions import vectors as V

    e = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    if not blocked:
        a, b = e.alias("a"), e.alias("b")
        cos = V.cosine(F.col("a.v"), F.col("b.v"))
        return (
            a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                sql_round(cos, 6).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    n = e.count()
    n_blocks = max(1, -(-n // block_size))
    blk = F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks))
    # one struct per partner block: (p, q) = sorted block pair, side = which
    # matrix this row lands in (rows of a same-block pair sit on side 'a')
    partners = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(j)).alias("p"),
                F.greatest(blk, F.lit(j)).alias("q"),
                F.when(blk <= F.lit(j), F.lit("a")).otherwise(F.lit("b")).alias("side"),
            )
            for j in range(n_blocks)
        ]
    )
    exploded = (
        e.select("vec_id", "v", F.explode_outer(partners).alias("bp"))
        .where(F.col("bp").isNotNull())
        .select("vec_id", "v", "bp.p", "bp.q", "bp.side")
    )
    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(key, pdf):
        same_block = key[0] == key[1]
        a_rows = pdf[pdf["side"] == "a"]
        b_rows = a_rows if same_block else pdf[pdf["side"] == "b"]
        if not len(a_rows) or not len(b_rows):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )

        def mat(rows):
            M = np.vstack([np.asarray(v, dtype="float64") for v in rows["v"]])
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            return M / np.where(norms == 0, 1.0, norms)

        A, B = mat(a_rows), mat(b_rows)
        S = np_sql_round(A @ B.T, 6)
        ia, ja = np.where(S >= threshold)
        ids_a = a_rows["vec_id"].to_numpy()
        ids_b = b_rows["vec_id"].to_numpy()
        va, vb = ids_a[ia], ids_b[ja]
        cos = S[ia, ja]
        # normalize to vec_a < vec_b; same-block keeps strict upper pairs only
        keep = va < vb
        lo, hi = np.where(va < vb, va, vb), np.where(va < vb, vb, va)
        if same_block:
            return pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep], "cosine": cos[keep]})
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos})

    return exploded.groupBy("p", "q").applyInPandas(score, out_schema)


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 2,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Near-identical embedding pairs via LSH bucketing + exact in-bucket verify.

    The 100 TB shape for embedding dedup (vs. ``embedding_dup_pairs``'s
    declared all-pairs baseline): random-hyperplane LSH assigns each vector
    a sign-bit bucket per table (one narrow projection, codegen'd), and the
    exact verify is ONE numpy GEMM per (table, bucket) group — candidate
    pairs are never materialized as rows; only pairs ABOVE threshold leave
    the Python worker, then a distinct collapses cross-table repeats.
    (The first cut joined candidate id-pairs and scored them with a pair
    cosine UDF — at 2000 vectors that shuffled ~1.8M wide candidate rows
    and ran 6x slower than all-pairs blocked GEMM; the per-bucket GEMM
    form shuffles 8N vector rows and emits survivors only.)

    Missed-pair probability for a pair at cosine c is
    (1 - (1 - acos(c)/pi)^planes)^tables; at the production near-dup regime
    (c >= 0.95, 8 planes, 8 tables) recall is ~0.9998 with 256-way bucket
    blocking. The testdata vectors are near-orthogonal (max pair cosine
    ~0.51), so the demo threshold is 0.3 with few planes / many tables
    (analytic recall ~0.97); tests/test_dedup.py asserts measured recall
    against the all-pairs ground truth.

    Deterministic end-to-end: frozen hyperplanes (similarity.hyperplanes),
    exact verify — ``embedding_lsh_sql`` mirrors the same plane literals in
    DuckDB, so the result is value-oracled, not just rows-counted.

    Reference parity: generalizes the engine's blocking discipline (LSH
    band-join of minhash_lsh_candidates) to dense vectors; the reference
    itself has no embedding ops.
    """
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from .similarity import hyperplanes

    e = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # All (tables x planes) sign bits in ONE Arrow matmul per batch:
    # Spark's higher-order array functions evaluate interpreted per element
    # (docs/SCALE.md pitfall 4) — 16 HOF dot products per row measured ~1s
    # at 2000 rows, vs milliseconds for (batch x dim) @ (dim x 16).
    planes_flat = np.array(
        [p for t in range(n_tables) for p in hyperplanes(dim, n_planes, table=t)],
        dtype="float64",
    ).T  # dim x (tables*planes)
    pow2 = np.array([2**i for i in range(n_planes)], dtype="int64")

    @F.pandas_udf(ArrayType(LongType()))
    def all_buckets(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        M = np.vstack([np.asarray(v, dtype="float64") for v in vs])
        bits = (M @ planes_flat) >= 0  # batch x (tables*planes)
        bk = bits.reshape(len(M), n_tables, n_planes) @ pow2  # batch x tables
        return pd.Series([row.tolist() for row in bk])

    with_buckets = e.select("vec_id", "v", all_buckets("v").alias("__bks"))
    tbl_arr = F.transform(
        F.col("__bks"),
        lambda bk, t: F.struct(t.alias("tbl"), bk.alias("bucket")),
    )
    b = (
        with_buckets.select("vec_id", "v", F.explode_outer(tbl_arr).alias("tb"))
        .where(F.col("tb").isNotNull())
        .select("vec_id", "v", "tb.tbl", "tb.bucket")
    )

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        M = np.vstack([np.asarray(v, dtype="float64") for v in pdf["v"]])
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        Mn = M / np.where(norms == 0, 1.0, norms)
        S = np_sql_round(Mn @ Mn.T, 6)
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        iu, ju = np.nonzero(np.triu(S >= threshold, k=1))
        a, bb = ids[iu], ids[ju]
        lo, hi = np.minimum(a, bb), np.maximum(a, bb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": S[iu, ju]})

    return b.groupBy("tbl", "bucket").applyInPandas(score, out_schema).dropDuplicates(
        ["vec_a", "vec_b"]
    )


def embedding_lsh_sql(
    threshold: float = 0.3, n_planes: int = 2, n_tables: int = 8, dim: int = 64
) -> str:
    """DuckDB mirror of ``embedding_dup_pairs_lsh``: same frozen hyperplane
    literals, same sign-bit bucket ids, same candidate join + exact verify."""
    from .similarity import hyperplanes

    arms = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, table=t)
        bits = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            bits.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {2 ** i} ELSE 0 END)")
        arms.append(f"SELECT vec_id, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM e")
    union = "\n      UNION ALL ".join(arms)
    cos = (
        "round(list_dot_product(x.v, y.v) / "
        "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      {union}
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
      FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    SELECT c.vec_a::BIGINT AS vec_a, c.vec_b::BIGINT AS vec_b, {cos} AS cosine
    FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b
    WHERE {cos} >= {threshold}
    """
