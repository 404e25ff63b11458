"""LLM-data-pipeline query specs (SURVEY.md §2.12): text analysis,
dedup family, similarity search, multimodal plumbing — each a
(PySpark callable, DuckDB oracle SQL) pair over the ``documents`` /
``embeddings`` fixtures.

Registered via the same @spec registry as the core sweep; imported at
the bottom of ``queries.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from feature_store_spark.llm import curation as C
from feature_store_spark.llm import dedup as D
from feature_store_spark.llm import multimodal as M
from feature_store_spark.llm import similarity as S
from feature_store_spark.llm import text as T
from feature_store_spark.queries import spec
from feature_store_spark.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@spec("t_text_stats", T.text_stats_oracle_sql(), ("ext", "text"))
def q_text_stats(spark, sf_dir):
    return T.text_stats(_t(spark, sf_dir, "documents"))


@spec("t_token_report", T.token_report_oracle_sql(), ("ext", "text"))
def q_token_report(spark, sf_dir):
    """Token counts under whitespace / GPT-2-style BPE pre-token /
    alnum tokenizers plus the pre-token inflation factor — the
    budgeting signal for tokenizer cost per document."""
    return T.token_report(_t(spark, sf_dir, "documents"))


@spec("t_language_id", T.language_id_oracle_sql(), ("ext", "text"))
def q_language_id(spark, sf_dir):
    return T.language_id(_t(spark, sf_dir, "documents"))


@spec("t_quality_score", T.quality_score_oracle_sql(), ("ext", "text"))
def q_quality_score(spark, sf_dir):
    return T.quality_score(_t(spark, sf_dir, "documents"))


@spec("t_fingerprint", T.fingerprint_oracle_sql(), ("ext", "text", "F15"))
def q_fingerprint(spark, sf_dir):
    return T.fingerprint(_t(spark, sf_dir, "documents"))


@spec("t_ngram_lm_score", T.ngram_lm_score_oracle_sql(), ("ext", "text"))
def q_ngram_lm_score(spark, sf_dir):
    """Corpus-grounded bigram-LM quality score (KenLM-shaped,
    relational): avg log10 P(w2|w1) per document under the corpus's
    own Laplace-smoothed bigram model — the perplexity-style filter
    signal heuristic rules can't express."""
    return T.ngram_lm_score(_t(spark, sf_dir, "documents"))


@spec("t_tfidf_topk", T.tfidf_topk_oracle_sql(k=5), ("ext", "text"))
def q_tfidf_topk(spark, sf_dir):
    return T.tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


# literal retrieval queries over the synthetic corpus vocabulary —
# the SAME list feeds both engines (bm25_topk builds the broadcast
# term table; the oracle inlines a VALUES list)
BM25_QUERIES = [
    ("q_scan", ["table", "scan"]),
    ("q_shuffle", ["hash", "merge", "batch"]),
    ("q_sort", ["window", "sort", "slow"]),
]


@spec(
    "t_bm25_topk",
    T.bm25_topk_oracle_sql(BM25_QUERIES, k=10),
    ("ext", "text", "retrieval"),
)
def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (`llm/text.py::bm25_topk`): the
    keyword-search baseline next to the ANN family — inverted-index
    join on broadcast query terms, candidate-proportional scoring,
    micro-quantized BIGINT-summed scores (float-parity rule)."""
    return T.bm25_topk(_t(spark, sf_dir, "documents"), BM25_QUERIES, k=10)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@spec("d_exact_dedup", D.exact_dedup_oracle_sql(), ("ext", "dedup"))
def q_exact_dedup(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


@spec(
    "d_ngram_jaccard_pairs",
    D.ngram_jaccard_oracle_sql(n=3, threshold=0.5),
    ("ext", "dedup"),
)
def q_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


@spec(
    "d_containment_pairs",
    D.ngram_containment_oracle_sql(n=3, threshold=0.8),
    ("ext", "dedup", "containment"),
)
def q_ngram_containment(spark, sf_dir):
    """Broder containment C = shared/min(|A|,|B|) ≥ 0.8 — catches a
    short doc embedded verbatim in a longer one, which a Jaccard gate
    structurally misses (see llm/dedup.py::ngram_containment_pairs).
    Deterministic arithmetic → DIRECT oracle."""
    return D.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


@spec(
    "d_chunk_dedup",
    D.chunk_dedup_oracle_sql(chunk_tokens=16),
    ("ext", "dedup", "paragraph"),
)
def q_chunk_dedup(spark, sf_dir):
    """C4/Dolma-style paragraph dedup adapted to delimiter-free text:
    corpus-wide first-occurrence dedup of 16-token chunks + ordered
    per-document reassembly (see llm/dedup.py::chunk_dedup)."""
    return D.chunk_dedup(_t(spark, sf_dir, "documents"), chunk_tokens=16)


@spec(
    "d_minhash_lsh_pairs",
    D.minhash_lsh_oracle_sql(n=3, threshold=0.5),
    ("ext", "dedup"),
)
def q_minhash_lsh(spark, sf_dir):
    """materialize_sets=True since round 10: re-measured 0.74 s vs
    0.93 s at sf0.1 and parity at sf≈1 (the earlier 3×-tokenize
    preference no longer holds) — identical output, the sig values
    fall out of the same collected hash set."""
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5,
        materialize_sets=True,
    )


@spec("d_simhash_signatures", D.simhash_oracle_sql(), ("ext", "dedup"))
def q_simhash(spark, sf_dir):
    return D.simhash_signatures(_t(spark, sf_dir, "documents"))


@spec(
    "d_simhash_near_dup",
    D.simhash_near_dup_oracle_sql(max_hamming=8),
    ("ext", "dedup"),
)
def q_simhash_near_dup(spark, sf_dir):
    return D.simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


@spec(
    "d_near_dup_clusters",
    D.near_dup_clusters_oracle_sql(max_hamming=8),
    ("ext", "dedup", "iterative"),
)
def q_near_dup_clusters(spark, sf_dir):
    return D.near_dup_clusters(_t(spark, sf_dir, "documents"), max_hamming=8)


@spec(
    "d_embedding_near_dup",
    D.embedding_near_dup_oracle_sql(threshold=0.4),
    ("ext", "dedup"),
)
def q_embedding_near_dup(spark, sf_dir):
    return D.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


@spec(
    "d_semantic_dedup",
    D.semantic_dedup_oracle_sql(threshold=0.4),
    ("ext", "dedup", "similarity"),
)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style embedding dedup: LSH-bucketed candidate pairs,
    greedy min-id representative per cosine ball (llm/dedup.py)."""
    return D.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


@spec(
    "d_corpus_curation",
    C.curate_corpus_oracle_sql(),
    ("ext", "dedup", "text", "iterative"),
)
def q_corpus_curation(spark, sf_dir):
    """Composite curation pipeline (see `llm/curation.py`): language
    gate → quality gate → SimHash near-dup canonical cut → per-language
    document/token budget."""
    return C.curate_corpus(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

N_QUERY_VECS = 5


def _query_vecs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@spec(
    "sim_cosine_topk",
    S.cosine_topk_oracle_sql(n_queries=N_QUERY_VECS, k=10),
    ("ext", "similarity"),
)
def q_cosine_topk(spark, sf_dir):
    """Exact cosine top-k through the API DEFAULT kernel (auto → the
    BLAS-batched numpy matmul with the compensated boundary pass) —
    what a user gets calling ``cosine_topk`` with no kernel argument,
    so this is the entry the bench races. The pure-JVM scalar kernel
    (kernel="jvm") stays the lazily-planned exact baseline the ANN
    recall bands are measured against (equivalence pinned in
    tests/test_ann_quality.py)."""
    return S.cosine_topk(
        _t(spark, sf_dir, "embeddings"),
        _query_vecs(spark, sf_dir),
        k=10,
    )


@spec(
    "sim_lsh_ann_topk",
    S.lsh_ann_oracle_sql(n_queries=N_QUERY_VECS, k=10),
    ("ext", "similarity"),
)
def q_lsh_ann_topk(spark, sf_dir):
    return S.lsh_ann_topk(
        _t(spark, sf_dir, "embeddings"), _query_vecs(spark, sf_dir), k=10
    )


def _stringify_vec(col):
    """Project an ``array<double>`` column to one deterministic string:
    each component scaled to 1e-6 units, rounded to a bigint, joined
    with ','. The driver's pandas-based canonicalizer cannot sort/hash
    list cells (unhashable type — the r1 `err` rows), so array outputs
    are flattened identically on the Spark and oracle sides. Bigint
    rendering is engine-independent, unlike double→string formatting."""
    return F.array_join(
        F.transform(
            col, lambda c: F.round(c * 1_000_000).cast("bigint").cast("string")
        ),
        ",",
    )


# DuckDB twin of _stringify_vec (same 1e-6 quantization, ',' join).
_STRINGIFY_SQL = (
    "array_to_string(list_transform({col}, "
    "c -> CAST(CAST(round(c * 1000000) AS BIGINT) AS VARCHAR)), ',')"
)


@spec(
    "emb_label_centroids",
    f"""
    SELECT label, n_vectors,
           {_STRINGIFY_SQL.format(col='centroid')} AS centroid_q
    FROM ({S.label_centroids_oracle_sql()})
    """,
    ("ext", "embedding"),
)
def q_label_centroids(spark, sf_dir):
    return S.label_centroids(_t(spark, sf_dir, "embeddings")).select(
        "label",
        "n_vectors",
        _stringify_vec(F.col("centroid")).alias("centroid_q"),
    )


@spec(
    "emb_quantize_int8",
    S.quantize_embeddings_oracle_sql(),
    ("ext", "embedding", "quantization"),
)
def q_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization (the 4-8x-smaller codes
    table a 100 TB ANN shortlist tier actually scans). Deterministic
    arithmetic → DIRECT oracle; codes stringified for the driver
    canonicalizer."""
    qz = S.quantize_embeddings_int8(_t(spark, sf_dir, "embeddings"))
    return qz.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes_q"),
    )


from feature_store_spark.llm import cluster as K  # noqa: E402

_KM_SQL = K.kmeans_clusters_oracle_sql(k=8, n_iter=4)


@spec("emb_kmeans_clusters", _KM_SQL, ("ext", "embedding", "clustering"))
def q_kmeans_clusters(spark, sf_dir):
    """Deterministic exact fixed-point k-means assignment (k=8, 4
    Lloyd's iterations) — see llm/cluster.py for the bit-identity
    contract that makes a differential oracle possible where MLlib's
    KMeans is not. (cluster, dist_q) are exact integers."""
    return K.kmeans_clusters(_t(spark, sf_dir, "embeddings"), k=8, n_iter=4)


@spec(
    "o10_cluster_sample",
    K.cluster_balanced_sample_oracle_sql(_KM_SQL, n_per_cluster=20),
    ("ext", "embedding", "sampling", "clustering"),
)
def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced sample: ≤20 vectors per k-means cluster by the
    engine-standard seeded md5 order — the diversity-equalized
    training-mix draw (llm/cluster.py::cluster_balanced_sample)."""
    return K.cluster_balanced_sample(
        K.kmeans_clusters(_t(spark, sf_dir, "embeddings"), k=8, n_iter=4),
        n_per_cluster=20,
    )


def _codes_table(spark, sf_dir):
    """Materialized int8 codes for the fixture's embeddings — the
    deployed shape (quantize once at ingest, scan the 4-8× smaller
    codes table per query batch; same posture as pipelines/store.py's
    feature tables). Idempotent per fixture dir; external path so a
    fresh session reuses the files."""
    import hashlib
    import os

    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    name = f"fs_int8_codes_{digest}"
    if not spark.catalog.tableExists(name):
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        qz = S.quantize_embeddings_int8(_t(spark, sf_dir, "embeddings"))
        (
            qz.select("vec_id", "codes")
            .write.format("parquet")
            .option("path", f"{warehouse.rstrip('/')}/{name}__data")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return spark.table(name)


@spec(
    "sim_cosine_topk_int8",
    S.cosine_topk_int8_oracle_sql(n_queries=N_QUERY_VECS, k=10),
    ("ext", "similarity", "quantization"),
    # bench symmetry (ADVICE r4): Spark scores a deployed codes table,
    # so the timed DuckDB twin must too — quantization runs in the
    # untimed setup, identical arithmetic and output either way
    bench_setup=S.cosine_topk_int8_codes_setup_sql(),
    bench_sql=S.cosine_topk_int8_from_codes_oracle_sql(
        n_queries=N_QUERY_VECS, k=10
    ),
)
def q_cosine_topk_int8(spark, sf_dir):
    """Cosine top-k over int8-quantized vectors: exact bigint dot
    products (scales cancel), one sqrt+divide+round — engine-exact, so
    the quantized scores get a DIRECT oracle (which quantizes inline
    in SQL — identical arithmetic). The Spark side reads the
    MATERIALIZED codes table (quantize-once-at-ingest is the entire
    point of the int8 tier; `_codes_table` builds it on first touch),
    scoring through the Arrow integer-matmul kernel. Recall vs the
    float top-k and arrow==jvm bit-equality are pinned in
    tests/test_ann_quality.py."""
    return S.cosine_topk_int8(
        _t(spark, sf_dir, "embeddings"),
        _query_vecs(spark, sf_dir),
        k=10,
        index=_codes_table(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas path; deterministic stub decoder)
# ---------------------------------------------------------------------------


@spec("mm_decode_media", M.decode_media_oracle_sql(), ("ext", "multimodal"))
def q_decode_media(spark, sf_dir):
    return M.decode_media(M.attach_payload(_t(spark, sf_dir, "documents")))


@spec(
    "mm_frame_sample",
    M.frame_sample_oracle_sql(every_n=10),
    ("ext", "multimodal"),
)
def q_frame_sample(spark, sf_dir):
    decoded = M.decode_media(M.attach_payload(_t(spark, sf_dir, "documents")))
    return M.frame_sample(decoded, every_n=10)


@spec(
    "mm_resize_media",
    M.resize_media_oracle_sql(target_w=256, target_h=256),
    ("ext", "multimodal"),
)
def q_resize_media(spark, sf_dir):
    return M.resize_media(
        M.attach_payload(_t(spark, sf_dir, "documents")),
        target_w=256,
        target_h=256,
    )


@spec(
    "mm_extract_features",
    f"""
    SELECT doc_id, media_type,
           {_STRINGIFY_SQL.format(col='features')} AS features_q
    FROM ({M.extract_features_oracle_sql()})
    """,
    ("ext", "multimodal"),
)
def q_extract_features(spark, sf_dir):
    feats = M.extract_features(
        M.attach_payload(_t(spark, sf_dir, "documents"))
    )
    return feats.select(
        "doc_id",
        "media_type",
        _stringify_vec(F.col("features")).alias("features_q"),
    )


# ---------------------------------------------------------------------------
# ANN scale-path variants. The trainers/hashers aren't SQL-expressible,
# so the driver entries use the a11 tolerance-band pattern
# (queries_quality.py): the engine asserts its own approximate result
# against its own exact result and hash-compares the DETERMINISTIC
# summary (ids, exact counts, within-band booleans) with an oracle that
# computes the exact side in SQL. Raw ANN outputs + recall are further
# pinned in tests/test_ann_quality.py. Thresholds sit under the
# measured minima (seeded → deterministic per dataset): IVF n_probe=5/8
# per-query recall ≥0.8 at sf0.001/0.01/0.1, PQ shortlist_factor=50 +
# n_codes=32 ≥0.9 (round-4 sweep: 0.9/1.0/0.9 across the three SFs),
# MLlib-MinHash pair recall 1.0, risk-model accuracy 0.96.
# ---------------------------------------------------------------------------

ANN_RECALL_MIN = 0.65  # IVF per-query floor (measured minimum 0.8)
PQ_RECALL_MIN = 0.8  # PQ per-query floor (measured minimum 0.9)


def _ann_recall_band(
    exact: DataFrame, ann: DataFrame, floor: float = ANN_RECALL_MIN
) -> DataFrame:
    """Per-query (query_id, n_exact, recall_ok): the ANN result must
    recover ≥ ``floor`` of the exact top-k for every query."""
    hits = exact.join(ann, ["query_id", "vec_id"], "left_semi").groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("__n_hit"))
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            (
                F.coalesce(F.col("__n_hit"), F.lit(0)) / F.col("n_exact")
                >= floor
            ).alias("recall_ok"),
        )
    )


@spec(
    "sim_ivf_ann_topk",
    f"""SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
        FROM ({S.cosine_topk_oracle_sql(n_queries=N_QUERY_VECS, k=10)}) t
        GROUP BY query_id""",
    ("ext", "similarity", "mllib"),
)
def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN tolerance band: per-query recall of the bucketed search
    (probe 5 of 8 KMeans cells) against the exact top-10, as
    deterministic booleans the DuckDB oracle reproduces from its own
    exact side. Measured recall ≥0.8 per query at every fixture SF;
    band at 0.5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = _query_vecs(spark, sf_dir)
    ann = S.ivf_ann_topk(
        emb, queries, k=10, n_centroids=8, n_probe=5
    ).select("query_id", "vec_id")
    exact = S.cosine_topk(emb, queries, k=10, kernel="jvm").select(
        "query_id", "vec_id"
    )
    return _ann_recall_band(exact, ann)


@spec(
    "d_mllib_minhash_pairs",
    f"""SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok
        FROM ({D.ngram_jaccard_oracle_sql(n=3, threshold=0.5)}) t""",
    ("ext", "dedup", "mllib"),
)
def q_mllib_minhash(spark, sf_dir):
    """MLlib MinHashLSH tolerance band: one summary row — the count of
    TRUE near-dup pairs (exact n-gram Jaccard ≥ 0.5, which the oracle
    recomputes in SQL) and whether the MLlib candidate pairs recover
    ≥0.8 of them (measured 1.0 at every fixture SF — 5 OR-amplified
    hash tables)."""
    docs = _t(spark, sf_dir, "documents")
    ml = D.mllib_minhash_pairs(docs, n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    true = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    hit = true.join(ml, ["id_a", "id_b"], "left_semi")
    return true.agg(F.count(F.lit(1)).alias("n_true_pairs")).crossJoin(
        hit.agg(F.count(F.lit(1)).alias("__n_hit"))
    ).select(
        "n_true_pairs",
        F.when(F.col("n_true_pairs") == 0, F.lit(True))
        .otherwise(F.col("__n_hit") / F.col("n_true_pairs") >= 0.8)
        .alias("recall_ok"),
    )


@spec(
    "ml_risk_scores",
    """SELECT CAST(count(*) AS BIGINT) AS n_scored, TRUE AS acc_ok
       FROM customer""",
    ("ext", "mllib", "pipeline"),
)
def q_ml_risk_scores(spark, sf_dir):
    """Train the MLlib risk pipeline on the fused serving frame, score
    every user, and emit the a11-style band: user count (= customers,
    which the oracle counts in SQL) plus accuracy-vs-derived-labels
    ≥ 0.95 as a deterministic boolean (LBFGS with fixed maxIter on a
    fixed frame; measured 0.96 at every fixture SF). Raw scores are
    pinned by tests/test_ml_pipeline.py."""
    from feature_store_spark.ml import (
        risk_model_pipeline,
        risk_training_frame,
        score_risk,
    )
    from feature_store_spark.pipelines.features import serving_features

    serving = serving_features(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "events"),
    )
    frame = risk_training_frame(serving).cache()
    model = risk_model_pipeline().fit(frame)
    scored = score_risk(model, frame)
    j = scored.join(frame.select("user_id", "label"), "user_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_scored"),
        (
            F.avg(
                (F.col("risk_flag") == F.col("label").cast("int")).cast(
                    "double"
                )
            )
            >= 0.95
        ).alias("acc_ok"),
    )


@spec(
    "t_quality_model",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS acc_ok
       FROM documents""",
    ("ext", "text", "mllib"),
)
def q_text_quality_model(spark, sf_dir):
    """Model-based quality filter (CCNet/fastText-style distillation,
    ml/text_quality.py): train the hashed-TF-IDF + stats logistic
    classifier on the rule-gate weak labels, score every document, and
    emit the a11-style band — document count (the oracle counts it in
    SQL) plus accuracy-vs-weak-labels >= 0.95 as a deterministic
    boolean (seed-free murmur3 hashing + LBFGS on a fixed frame;
    measured 0.999-1.0 at every fixture SF)."""
    from feature_store_spark.ml.text_quality import (
        quality_training_frame,
        score_text_quality,
        text_quality_pipeline,
    )

    frame = quality_training_frame(
        _t(spark, sf_dir, "documents")
    ).cache()
    model = text_quality_pipeline().fit(frame)
    scored = score_text_quality(model, frame)
    j = scored.join(frame.select("doc_id", "label"), "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.avg(
                (
                    F.col("quality_flag").cast("double") == F.col("label")
                ).cast("double")
            )
            >= 0.95
        ).alias("acc_ok"),
    )


# ---------------------------------------------------------------------------
# Pretraining-corpus preparation (llm/pretrain.py)
# ---------------------------------------------------------------------------

from feature_store_spark.llm import pretrain as P  # noqa: E402

_EVAL_MAX_ID = 100  # eval = doc_id < 100, train = the rest

# Deterministic PII planting (the fixture corpus has no organic PII):
# every 7th doc gains an email, every 11th an IPv4, every 13th a phone
# number — same derivation on both engines so the scrub paths are
# exercised for real.
_PII_PLANT_SQL = f"""
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
            ELSE '' END
         || CASE WHEN doc_id % 13 = 0
            THEN ' call +1 555 01' || CAST(doc_id % 90 + 10 AS VARCHAR)
            ELSE '' END AS text
  FROM documents
"""


def _plant_pii(docs):
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(""),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(""),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" call +1 555 01"),
                    (did % 90 + 10).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )


@spec(
    "pt_contamination",
    P.contamination_oracle_sql(eval_max_id=_EVAL_MAX_ID, n=8),
    ("ext", "pretrain", "dedup"),
)
def q_pt_contamination(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return P.contamination_report(
        docs.filter(F.col("doc_id") >= _EVAL_MAX_ID),
        docs.filter(F.col("doc_id") < _EVAL_MAX_ID),
        n=8,
    )


@spec("pt_repetition_stats", P.repetition_oracle_sql(), ("ext", "pretrain"))
def q_pt_repetition(spark, sf_dir):
    return P.repetition_stats(_t(spark, sf_dir, "documents"))


@spec(
    "pt_pii_scrub",
    P.pii_scrub_oracle_sql(_PII_PLANT_SQL),
    ("ext", "pretrain"),
)
def q_pt_pii_scrub(spark, sf_dir):
    return P.pii_scrub(_plant_pii(_t(spark, sf_dir, "documents")))


@spec(
    "pt_temperature_mixture",
    P.temperature_mixture_oracle_sql(alpha=0.5, budget=200),
    ("ext", "pretrain", "O6"),
)
def q_pt_temperature_mixture(spark, sf_dir):
    return P.temperature_mixture(
        _t(spark, sf_dir, "documents"), alpha=0.5, budget=200
    )


@spec(
    "pt_pack_token_budget",
    P.pack_token_budget_oracle_sql(budget=512),
    ("ext", "pretrain"),
)
def q_pt_pack_token_budget(spark, sf_dir):
    return P.pack_token_budget(_t(spark, sf_dir, "documents"), budget=512)


@spec("pt_dup_span_stats", P.dup_span_oracle_sql(k=5), ("ext", "pretrain"))
def q_pt_dup_span_stats(spark, sf_dir):
    """Exact-substring duplicate-span statistics (Lee et al. 2022):
    per-doc count of corpus-duplicated token 5-gram windows and the
    interval-union fraction of tokens they cover. Single gram-keyed
    shuffle (count-over-partition window), candidate-proportional
    thereafter."""
    return P.dup_span_stats(_t(spark, sf_dir, "documents"), k=5)


@spec(
    "pt_chunk_documents",
    P.chunk_documents_oracle_sql(chunk_tokens=32, overlap=8),
    ("ext", "pretrain"),
)
def q_pt_chunk_documents(spark, sf_dir):
    """Sliding-window context chunking: 32-token windows, 8-token
    overlap — the splitting complement of pack_token_budget (which
    never splits a doc). One tokenize barrier, per-row lambda explode,
    rows proportional to total tokens / stride."""
    return P.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


@spec("t_vocab_coverage", T.vocab_coverage_oracle_sql(top_n=200), ("ext", "text"))
def q_t_vocab_coverage(spark, sf_dir):
    """Vocabulary head with cumulative corpus coverage (tokenizer-
    planning curve): one token shuffle, TakeOrdered top-200, window
    over 200 rows, broadcast 1-row total."""
    return T.vocab_coverage(_t(spark, sf_dir, "documents"), top_n=200)


_LSH_NEW_MIN_ID = 400  # ingest batch = doc_id >= 400; corpus = the rest


@spec(
    "d_lsh_incremental",
    # pairs are emitted with id_a < id_b, so "at least one side new"
    # reduces to id_b >= split.
    f"""SELECT * FROM ({D.minhash_lsh_oracle_sql()})
        WHERE id_b >= {_LSH_NEW_MIN_ID}""",
    ("ext", "dedup", "incremental"),
)
def q_lsh_incremental(spark, sf_dir):
    """Continuous-ingest dedup: probe a new batch against the stored
    corpus LSH index; must equal the full-corpus LSH restricted to
    pairs touching the batch (tests/test_plans.py pins the broadcast
    of the batch postings)."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < _LSH_NEW_MIN_ID)
    batch = docs.filter(F.col("doc_id") >= _LSH_NEW_MIN_ID)
    postings, sets = D.lsh_index(corpus)
    return D.minhash_lsh_incremental(batch, postings, sets)


@spec(
    "sim_knn_graph",
    S.knn_graph_oracle_sql(k=5),
    ("ext", "similarity", "graph"),
)
def q_knn_graph(spark, sf_dir):
    """Corpus-wide approximate kNN graph (LSH-bucketed candidates,
    exact in-bucket rerank) — the embedding-space neighbor structure
    semantic dedup and diversity sampling consume. Routes to the
    Arrow/BLAS per-bucket-matmul kernel (round 9, same move the
    cosine_topk entry made in round 4): measured at 200k×64 vectors
    (/tmp/sfemb, SCALE.md §14.2) the expression kernel's interpreted
    per-pair cosine is degenerate (>600 s — in-bucket-quadratic pair
    count × a 64-element zip_with per pair) while the dgemm kernel
    finishes in 66 s and beats the DuckDB oracle >8×. Round 10 turned
    hot-bucket tiling ON BY DEFAULT (KNN_MAX_BUCKET_SIZE=4096): those
    66 s were one 14k²-pair straggler task; oversized buckets now
    tile into bounded rectangular matmul tasks with an exact global
    merge — identical output (tests/test_hot_bucket.py). The pure-JVM
    pairing remains as knn_graph_multiprobe(n_tables=1), pinned
    bit-equal to this op."""
    return S.knn_graph(_t(spark, sf_dir, "embeddings"), k=5)


@spec(
    "sim_knn_graph_multiprobe",
    S.knn_graph_multiprobe_oracle_sql(k=5, n_tables=2),
    ("ext", "similarity", "graph", "multiprobe"),
)
def q_knn_graph_multiprobe(spark, sf_dir):
    """OR-amplified kNN graph: 2 independent hyperplane tables, a pair
    is a candidate on ANY collision (llm/similarity.py) — the recall
    dial the single-table op's docstring points at, oracle-checked."""
    return S.knn_graph_multiprobe(
        _t(spark, sf_dir, "embeddings"), k=5, n_tables=2
    )


@spec(
    "sim_pq_ann_topk",
    f"""SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
        FROM ({S.cosine_topk_oracle_sql(n_queries=10, k=10)}) t
        GROUP BY query_id""",
    ("ext", "similarity", "pq"),
)
def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN tolerance band (the KMeans codebook
    trainer has no SQL twin, so the band is per-query recall of the
    compressed ADC shortlist + exact rerank against the exact top-10 —
    the same a11 pattern as IVF). shortlist_factor=50 + n_codes=32
    (still 1 byte/code, 16× compression at m=8): measured per-query
    recall ≥0.9 at every fixture SF; band at 0.8 (PQ_RECALL_MIN).
    Full-shortlist == exact is pinned in tests/test_ann_quality.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = S.pq_ann_topk(
        emb, queries, k=10, shortlist_factor=50, n_codes=32
    ).select("query_id", "vec_id")
    exact = S.cosine_topk(emb, queries, k=10, kernel="jvm").select(
        "query_id", "vec_id"
    )
    return _ann_recall_band(exact, ann, floor=PQ_RECALL_MIN)


def _g1_oracle():
    from feature_store_spark.operators.graph import pagerank_oracle_sql

    inner = (
        "SELECT vec_id AS src, neighbor_id AS dst FROM ("
        + S.knn_graph_oracle_sql(k=5)
        + ")"
    )
    return pagerank_oracle_sql(inner, n_iter=4)


@spec("g1_pagerank_knn", _g1_oracle(), ("ext", "graph", "pagerank"))
def q_pagerank_knn(spark, sf_dir):
    """Exact fixed-point PageRank (4 rounds, damping 0.85) over the
    k=5 cosine kNN document graph — importance scoring for
    centrality-aware corpus curation; integer mass units make the
    iterative result bit-identical cross-engine
    (operators/graph.py::pagerank)."""
    from feature_store_spark.llm.similarity import knn_graph
    from feature_store_spark.operators.graph import pagerank

    edges = knn_graph(_t(spark, sf_dir, "embeddings"), k=5).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank(edges, n_iter=4)


@spec(
    "t_pmi_collocations",
    T.pmi_collocations_oracle_sql(k=50, min_count=5),
    ("ext", "text", "collocation"),
)
def q_pmi_collocations(spark, sf_dir):
    """Top-50 bigram collocations by PMI (min pair count 5) — the
    word2vec-style phrase-detection pass; counts exact, the one libm
    log rides the ngram_lm_score 9-decimal quantization contract
    (llm/text.py::pmi_collocations)."""
    return T.pmi_collocations(
        _t(spark, sf_dir, "documents"), k=50, min_count=5
    )


# hybrid retrieval: lexical (BM25) + semantic (cosine) rankings fused
# by RRF — query pairing is a fixture contract (term-list query i ↔
# query vector i; vec_id ≡ doc_id in the synthetic corpus)
RRF_PAIRS = [("q_scan", 0), ("q_shuffle", 1), ("q_sort", 2)]


def _rrf_oracle():
    sem_case = " ".join(
        f"WHEN {vid} THEN '{label}'" for label, vid in RRF_PAIRS
    )
    sem = f"""
    SELECT CASE query_id {sem_case} END AS query_id,
           vec_id AS doc_id, rank
    FROM ({S.cosine_topk_oracle_sql(n_queries=len(RRF_PAIRS), k=20)})
    """
    lex = f"""
    SELECT query_id, doc_id, rank
    FROM ({T.bm25_topk_oracle_sql(BM25_QUERIES, k=20)})
    """
    return S.rrf_fuse_oracle_sql([lex, sem], k=10)


@spec("t_hybrid_rrf", _rrf_oracle(), ("ext", "retrieval", "hybrid"))
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 and cosine top-20 rankings fused
    by Reciprocal Rank Fusion (llm/similarity.py::rrf_fuse) — the
    production RAG combiner; exact DECIMAL contributions make the
    fused scores hash-stable cross-engine."""
    lex = T.bm25_topk(_t(spark, sf_dir, "documents"), BM25_QUERIES, k=20)
    emb = _t(spark, sf_dir, "embeddings")
    sem_q = emb.filter(F.col("vec_id") < len(RRF_PAIRS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    label = F.col("query_id")
    mapping = None
    for lbl, vid in RRF_PAIRS:
        mapping = (
            F.when(label == vid, lbl)
            if mapping is None
            else mapping.when(label == vid, lbl)
        )
    sem = S.cosine_topk(emb, sem_q, k=20).select(
        mapping.alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    return S.rrf_fuse(
        [lex.select("query_id", "doc_id", "rank"), sem], k=10
    )


def _ndcg_oracle():
    rank_sql = (
        "SELECT query_id, vec_id AS doc_id, rank FROM ("
        + S.cosine_topk_oracle_sql(n_queries=N_QUERY_VECS, k=10)
        + ")"
    )
    rel_sql = (
        "SELECT q.vec_id AS query_id, c.vec_id AS doc_id "
        "FROM embeddings q JOIN embeddings c "
        "ON q.label = c.label AND c.vec_id <> q.vec_id "
        f"WHERE q.vec_id < {N_QUERY_VECS}"
    )
    return S.ndcg_at_k_oracle_sql(rank_sql, rel_sql, k=10)


@spec("sim_ndcg_cosine", _ndcg_oracle(), ("ext", "retrieval", "eval"))
def q_sim_ndcg(spark, sf_dir):
    """Retrieval-quality eval: binary nDCG@10 of the exact cosine
    ranking against label-match relevance — the metric loop every
    retrieval deployment runs; discounts are precomputed 12-decimal
    literals DECIMAL-summed, so the scores hash cross-engine
    (llm/similarity.py::ndcg_at_k)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vecs(spark, sf_dir)
    ranking = S.cosine_topk(emb, q, k=10).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    ql = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    rel = (
        ql.join(
            emb.select(F.col("vec_id").alias("doc_id"), "label"),
            ql["__ql"] == F.col("label"),
        )
        .filter(F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id")
    )
    return S.ndcg_at_k(ranking, rel, k=10)
