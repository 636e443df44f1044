"""Deduplication (exact, fingerprint, MinHash-LSH, SimHash, n-gram Jaccard, embeddings), similarity search, and text analysis.

Split out of the single-file catalog (round 8, VERDICT r7 item 6);
query text is unchanged. Entries self-register into the shared
``QUERIES`` registry on import — ``plans.catalog`` imports every
family module in the original source order.
"""

from __future__ import annotations

from ._base import (
    F,
    T,
    _FP_SQL,
    ensure_parallelism,
    load,
    register,
    sql_round,
)
from ..session import reuse_barrier

# ===========================================================================
# 6. Dedup (exact + fingerprint; MinHash/SimHash/Jaccard in operators/dedup)
# ===========================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_md5, min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup via hash-groupBy: canonical keeper + copy count per "
    "distinct text (scales as one shuffle on the hash)",
)
def q_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "dedup_fingerprint",
    """
    SELECT (('0x' || substr(md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))), 1, 15))::BIGINT) AS fp,
           min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Fingerprint dedup: 60-bit hash of normalized text (case/punct/ws-"
    "insensitive near-exact dedup)",
)
def q_dedup_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(T.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "customer_upsert",
    """
    WITH upd AS (
      SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEW' FROM customer WHERE c_custkey % 100 = 0)
    SELECT c_custkey::BIGINT AS c_custkey, c_mktsegment
    FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
    UNION ALL
    SELECT c_custkey::BIGINT, c_mktsegment FROM upd
    """,
    doc="SCD-1 upsert on plain parquet (MERGE INTO without a table "
    "format): updates win per key via one anti-join + union — no "
    "full-outer join, no per-column coalesce. The update batch "
    "(deterministic synthetic corrections + inserts) is broadcast-sized, "
    "so the base never shuffles; pairs with partition-overwrite writes",
)
def q_customer_upsert(spark, sf_dir):
    from ..operators.merge import merge_upsert

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    updates = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("UPDATED").alias("c_mktsegment"))
        .unionByName(
            cust.where(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    return merge_upsert(cust, updates, "c_custkey")




@register(
    "dedup_incremental",
    f"""
    WITH fpd AS (SELECT doc_id, lang, {_FP_SQL} AS fp FROM documents),
    ex AS (SELECT DISTINCT fp FROM fpd WHERE doc_id % 5 <> 0),
    inc AS (SELECT * FROM fpd WHERE doc_id % 5 = 0),
    novel AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM ex)),
    best AS (SELECT min(doc_id) AS doc_id FROM novel GROUP BY fp)
    SELECT n.doc_id::BIGINT AS doc_id, n.lang
    FROM novel n JOIN best USING (doc_id)
    """,
    doc="Incremental (daily-crawl) dedup: the incoming batch (doc_id % 5 "
    "= 0 stands in for today's crawl) is anti-joined against the EXISTING "
    "corpus fingerprint index, then deduped within itself — the full "
    "corpus is never re-deduplicated. At 100 TB the existing side is the "
    "stored two-longs-per-doc index, so the anti-join moves index-sized "
    "data (or broadcasts the day's batch against it)",
)
def q_dedup_incremental(spark, sf_dir):
    from ..operators import corpus as C

    docs = ensure_parallelism(
        load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    existing = docs.where(F.col("doc_id") % 5 != 0)
    return C.dedup_incremental(incoming, existing).select("doc_id", "lang")


# ===========================================================================
# 7. Near-dup dedup: MinHash-LSH, SimHash, exact n-gram Jaccard, embeddings
# ===========================================================================


def _register_dedup():
    from ..operators import dedup as D

    @register(
        "dedup_minhash_lsh",
        D.minhash_lsh_candidates_sql(),
        doc="MinHash(12)+LSH(4x3) candidate near-dup pairs; signature is a "
        "per-row column expression, one shuffle on band keys",
    )
    def q_dedup_minhash(spark, sf_dir):
        return D.minhash_lsh_candidates(load(spark, sf_dir, "documents"))

    @register(
        "dedup_simhash",
        D.simhash_sql(),
        doc="SimHash-32 signature per doc (token-hash bit votes; one hash agg)",
    )
    def q_dedup_simhash(spark, sf_dir):
        return D.simhash(load(spark, sf_dir, "documents"))

    @register(
        "dedup_simhash_pairs",
        D.simhash_near_pairs_sql(3),
        doc="SimHash near-dup pairs via pigeonhole bit-chunk blocking "
        "(chunk equi-join + exact Hamming verify; no quadratic pairing); "
        "oracle is the brute-force all-pairs ground truth",
    )
    def q_dedup_simhash_pairs(spark, sf_dir):
        return D.simhash_near_pairs(load(spark, sf_dir, "documents"), max_hamming=3, blocked=True)

    @register(
        "dedup_ngram_jaccard",
        D.ngram_jaccard_sql(0.5),
        doc="Exact word-3-shingle Jaccard >= 0.5 pairs (shingle-explode join; "
        "at scale runs after LSH blocking)",
    )
    def q_dedup_jaccard(spark, sf_dir):
        return D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), 0.5)

    @register(
        "dedup_clusters",
        D.connected_components_sql(
            f"SELECT doc_a, doc_b FROM ({D.ngram_jaccard_sql(0.5)})"
        ),
        doc="Duplicate clustering: near-dup pairs -> connected components "
        "(iterative min-label propagation, lineage-checkpointed per round; "
        "oracle is a recursive CTE reaching the same fixpoint)",
    )
    def q_dedup_clusters(spark, sf_dir):
        # the edge list is tiny but connected_components reads it more
        # than once (the probe collect, then any distributed rounds)
        pairs = reuse_barrier(
            D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), 0.5), eager=True
        )
        return D.connected_components(pairs)

    @register(
        "dedup_clusters_blocked",
        D.connected_components_sql(
            f"SELECT doc_a, doc_b FROM ({D.ngram_jaccard_verify_sql(0.5)})"
        ),
        doc="The SCALE composition of duplicate clustering: MinHash-LSH "
        "blocking bounds the candidate pairs, exact Jaccard verifies only "
        "those, components cluster the survivors — no quadratic stage "
        "anywhere (dedup_clusters keeps the all-pairs sweep as baseline). "
        "Value-oracled end-to-end: DuckDB composes the same candidate SQL, "
        "verify CTE, and recursive components. Crossover note (measured "
        "sf0.1, identical 477-component output): with the pair-list "
        "checkpoints the blocked form runs 3.5s vs the all-pairs sweep's "
        "~3.0s warm — near-parity at test scale where shingle buckets are "
        "tiny and blocking pays an extra tokenization pass; the blocked "
        "form pulls ahead once the candidate set is sparse relative to "
        "N^2 — which is exactly the 100 TB regime. Round 6: runs through "
        "blocked_dup_clusters, which collapses exact-duplicate texts to "
        "one representative before LSH (the band self-join is Theta(f^2) "
        "in duplicate multiplicity) and re-expands members afterwards — "
        "provably value-identical, so THIS oracle, which composes the "
        "pipeline over the raw corpus in DuckDB, doubles as the proof "
        "obligation for the collapse",
    )
    def q_dedup_clusters_blocked(spark, sf_dir):
        docs = load(spark, sf_dir, "documents")
        return D.blocked_dup_clusters(docs, threshold=0.5)

    @register(
        "dedup_embedding",
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id::BIGINT AS vec_a, b.vec_id::BIGINT AS vec_b,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
        """,
        doc="Embedding cosine pairs >= threshold via blocked-GEMM all-pairs "
        "(one numpy matmul per block-pair group; 45x over the joined HOF "
        "form). Threshold 0.3 because the synthetic vectors are "
        "near-orthogonal — a production near-dup cut of 0.95+ would leave "
        "the value oracle vacuously empty here",
    )
    def q_dedup_embedding(spark, sf_dir):
        from ..operators.dedup import embedding_dup_pairs

        return embedding_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.3)


_register_dedup()


def _register_dedup_embedding_blocked():
    from ..operators.dedup import embedding_lsh_sql

    @register(
        "dedup_embedding_blocked",
        embedding_lsh_sql(threshold=0.3, n_planes=2, n_tables=8, dim=64),
        doc="Embedding near-dup pairs via hyperplane-LSH bucketing + exact "
        "Arrow-cosine verify — the scale path (candidates from a (table, "
        "bucket) equi-join only; no all-pairs self-join in the plan). "
        "Value-oracled: the DuckDB mirror reproduces the frozen hyperplane "
        "sign buckets literal-for-literal. Demo params are tuned for the "
        "near-orthogonal testdata (threshold 0.3, 2 planes x 8 tables, "
        "analytic recall ~0.97); production near-dup (cosine>=0.95) runs "
        "8x8 with 256-way blocking at recall ~0.9998",
    )
    def q_dedup_embedding_blocked(spark, sf_dir):
        from ..operators.dedup import embedding_dup_pairs_lsh

        return embedding_dup_pairs_lsh(
            load(spark, sf_dir, "embeddings"), threshold=0.3, n_planes=2, n_tables=8
        )


_register_dedup_embedding_blocked()


# ===========================================================================
# 8. Similarity search
# ===========================================================================


def _register_similarity():
    from ..operators import similarity as S

    @register(
        "knn_brute_force",
        S.knn_brute_force_sql(k=5, n_queries=3),
        doc="Exact top-5 cosine neighbors for 3 query vectors (broadcast "
        "queries x corpus scan; shuffle-free)",
    )
    def q_knn(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        return S.knn_brute_force(emb, emb.where(F.col("vec_id") < 3), k=5)

    @register(
        "knn_lsh",
        S.ann_lsh_sql(k=5, n_queries=3, dim=64, n_planes=4, n_tables=8),
        doc="LSH-bucketed ANN top-5 — VALUE-oracled: the DuckDB mirror "
        "reproduces the frozen hyperplane sign buckets, candidate dedup, "
        "exact rescoring, and tie-break rank literal-for-literal (recall "
        "vs brute force additionally asserted in tests/test_similarity.py)",
        tags=("approx",),
    )
    def q_knn_lsh(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        return S.ann_lsh(emb, emb.where(F.col("vec_id") < 3), k=5, n_planes=4, n_tables=8)

    @register(
        "knn_ivf",
        None,
        doc="IVF ANN top-5: driver-trained coarse quantizer (bounded sample, "
        "seeded k-means), distributed cell assignment + probed-cell ranking "
        "(approximate; recall asserted in tests/test_similarity.py)",
        tags=("approx",),
    )
    def q_knn_ivf(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        return S.ann_ivf(emb, emb.where(F.col("vec_id") < 3), k=5, n_centroids=16, n_probe=6)

    from ..operators import ivf_frozen as IVF

    @register(
        "knn_ivf_frozen",
        S.ann_ivf_sql(
            IVF.EMBEDDINGS_CENTROIDS,
            k=5,
            n_probe=6,
            corpus_sql="SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings",
            query_where="id < 3",
        ),
        doc="IVF ANN top-5 with the coarse quantizer FROZEN as literals "
        "(tools/freeze_ivf.py trains it once, seeded — the FAISS 'ship "
        "the trained quantizer with the index' deployment shape): cell "
        "assignment, probe fan-out, rescore, and rank are all "
        "deterministic, so the DuckDB mirror (ann_ivf_sql) value-checks "
        "the whole IVF pipeline — the hash-green twin of the rows-only "
        "train-at-query-time knn_ivf, exactly like the frozen-hyperplane "
        "knn_lsh upgrade. Assignment scores round to 6dp before argmax "
        "(ties -> lower cell) so numpy-vs-SQL summation ulp drift cannot "
        "flip a cell choice",
        tags=("approx",),
    )
    def q_knn_ivf_frozen(spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        return S.ann_ivf(
            emb,
            emb.where(F.col("vec_id") < 3),
            k=5,
            n_probe=6,
            centroids=IVF.EMBEDDINGS_CENTROIDS,
            round_dp=6,
        )


_register_similarity()


# ===========================================================================
# 9. Text analysis (training-data pipeline operators)
# ===========================================================================


def _lang_id_pick_sql() -> tuple:
    """(pick_expr, best_expr) — the DuckDB rendering of
    functions.text.lang_id, shared by the count and eval oracles."""
    langs = sorted(T.LANG_MARKERS.items())
    score = {
        lang: "(" + " + ".join(
            f"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% {m} %' THEN 1 ELSE 0 END)" for m in ms
        ) + ")"
        for lang, ms in langs
    }
    best = "greatest(" + ", ".join(score[lang] for lang, _ in langs) + ")"
    pick = "'und'"
    for lang, _ in reversed(langs):
        pick = f"(CASE WHEN {score[lang]} = best AND best > 0 THEN '{lang}' ELSE {pick} END)"
    return pick, best


def _lang_id_sql() -> str:
    """DuckDB mirror of functions.text.lang_id + counts per predicted lang."""
    pick, best = _lang_id_pick_sql()
    return f"""
    SELECT pred_lang, count(*)::BIGINT AS cnt FROM (
      SELECT {pick} AS pred_lang
      FROM (SELECT text, {best} AS best FROM documents)
    ) GROUP BY pred_lang
    """


def _lang_id_eval_sql() -> str:
    pick, best = _lang_id_pick_sql()
    return f"""
    WITH scored AS (
      SELECT lang AS label, {pick} AS pred
      FROM (SELECT text, lang, {best} AS best FROM documents)
    ),
    by_label AS (
      SELECT label AS cls, count(*) AS n_labeled,
             sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS n_correct
      FROM scored GROUP BY label
    ),
    by_pred AS (SELECT pred AS cls, count(*) AS n_predicted FROM scored GROUP BY pred)
    SELECT coalesce(l.cls, p.cls) AS cls,
           coalesce(n_labeled, 0)::BIGINT AS n_labeled,
           coalesce(n_predicted, 0)::BIGINT AS n_predicted,
           coalesce(n_correct, 0)::BIGINT AS n_correct,
           CASE WHEN coalesce(n_predicted, 0) > 0
                THEN round(coalesce(n_correct, 0) / CAST(n_predicted AS DOUBLE), 6) END
             AS precision,
           CASE WHEN coalesce(n_labeled, 0) > 0
                THEN round(coalesce(n_correct, 0) / CAST(n_labeled AS DOUBLE), 6) END
             AS recall,
           CASE WHEN coalesce(n_predicted, 0) + coalesce(n_labeled, 0) > 0
                THEN round(2.0 * coalesce(n_correct, 0)
                           / CAST(coalesce(n_predicted, 0) + coalesce(n_labeled, 0)
                                  AS DOUBLE), 6)
           END AS f1
    FROM by_label l FULL OUTER JOIN by_pred p ON l.cls = p.cls
    """


@register(
    "lang_id_eval",
    _lang_id_eval_sql(),
    doc="Model evaluation of the lang-id heuristic against the labeled "
    "lang column: per-class precision / recall / F1 from the confusion "
    "counts — the eval loop every classifier that gates training data "
    "must run. Two class-bounded aggregates (per label with a "
    "conditional correct count; per prediction) full-outer-joined on "
    "the class, so prediction-only classes ('und') appear with a "
    "defined precision and NULL recall rather than vanishing. F1 is "
    "computed as 2c/(n_pred + n_labeled) — the EXACT algebraic "
    "simplification of 2PR/(P+R), one division instead of three, so no "
    "intermediate-rounding drift between engines. At scale both "
    "aggregates are map-side-combinable single shuffles over the fact; "
    "the join is class-bounded",
)
def q_lang_id_eval(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        F.col("lang").alias("label"), T.lang_id(F.col("text")).alias("pred")
    )
    by_label = docs.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_labeled"),
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0)).alias("n_correct"),
    )
    by_pred = docs.groupBy(F.col("pred").alias("p_cls")).agg(
        F.count(F.lit(1)).alias("n_predicted")
    )
    j = by_label.join(by_pred, by_label.cls == by_pred.p_cls, "full_outer")
    cls = F.coalesce(F.col("cls"), F.col("p_cls"))
    nl = F.coalesce(F.col("n_labeled"), F.lit(0))
    np_ = F.coalesce(F.col("n_predicted"), F.lit(0))
    nc = F.coalesce(F.col("n_correct"), F.lit(0))
    return j.select(
        cls.alias("cls"),
        nl.alias("n_labeled"),
        np_.alias("n_predicted"),
        nc.alias("n_correct"),
        F.when(np_ > 0, sql_round(nc / np_.cast("double"), 6)).alias("precision"),
        F.when(nl > 0, sql_round(nc / nl.cast("double"), 6)).alias("recall"),
        F.when(np_ + nl > 0, sql_round(F.lit(2.0) * nc / (np_ + nl).cast("double"), 6)).alias(
            "f1"
        ),
    )


@register(
    "lang_id_counts",
    _lang_id_sql(),
    doc="Stopword-marker language ID heuristic, counted per predicted lang",
)
def q_lang_id_counts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(T.lang_id(F.col("text")).alias("pred_lang")).groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "doc_quality",
    r"""
    SELECT doc_id::BIGINT AS doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
           round(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
                 ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                      / length(regexp_replace(text, '\s', '', 'g')) END, 6) AS punct_ratio
    FROM documents
    """,
    doc="Per-doc quality metrics: whitespace token count + punctuation ratio",
)
def q_doc_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        sql_round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


@register(
    "token_stats",
    r"""
    SELECT sum(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS total_ws_tokens,
           sum(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')))::BIGINT AS total_bpe_tokens,
           sum(length(text))::BIGINT AS total_chars
    FROM documents
    """,
    doc="Corpus token budget: whitespace + BPE-ish subword counts + chars",
)
def q_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.sum(T.token_count(F.col("text"))).alias("total_ws_tokens"),
        F.sum(T.bpe_ish_token_count(F.col("text"))).alias("total_bpe_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


def _training_pipeline_sql() -> str:
    """DuckDB mirror of the composed pipeline (keep formulas in sync with
    functions/text: lang_id, token_count, fingerprint)."""
    from ..functions.hashing import hash64_sql

    langs = sorted(T.LANG_MARKERS.items())
    score = {
        lang: "(" + " + ".join(
            f"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% {m} %' THEN 1 ELSE 0 END)" for m in ms
        ) + ")"
        for lang, ms in langs
    }
    best = "greatest(" + ", ".join(score[lang] for lang, _ in langs) + ")"
    pick = "'und'"
    for lang, _ in reversed(langs):
        pick = f"(CASE WHEN {score[lang]} = best AND best > 0 THEN '{lang}' ELSE {pick} END)"
    norm = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"
    return rf"""
    WITH scored AS (SELECT doc_id, text, {best} AS best FROM documents),
    enriched AS (
      SELECT doc_id,
             {pick} AS lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             {hash64_sql(norm)} AS fp
      FROM scored
    ),
    kept AS (SELECT * FROM enriched WHERE lang = 'en' AND n_tokens >= 20),
    deduped AS (SELECT min(doc_id) AS doc_id, min_by(n_tokens, doc_id) AS n_tokens
                FROM kept GROUP BY fp)
    SELECT count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens
    FROM deduped
    """


@register(
    "training_pipeline",
    _training_pipeline_sql(),
    doc="Composed training-data pipeline in one plan: language filter -> "
    "length filter -> fingerprint dedup (min_by representative) -> corpus "
    "stats; every stage is a projection/agg, one shuffle on fingerprint",
)
def q_training_pipeline(spark, sf_dir):
    docs = ensure_parallelism(load(spark, sf_dir, "documents").select("doc_id", "text"))
    enriched = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    kept = enriched.where((F.col("lang") == "en") & (F.col("n_tokens") >= 20))
    deduped = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.min_by("n_tokens", "doc_id").alias("n_tokens")
    )
    return deduped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        sql_round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )
