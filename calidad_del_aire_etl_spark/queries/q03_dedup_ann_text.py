"""Dedup suite, similarity search (quantized, graph and hybrid ANN with
their recall evals) and text analysis — registered queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import r4
from ..operators import ann, ann_graph, dedup, text
from ..registry import load, register

# ---------------------------------------------------------------------------
# Dedup suite (SURVEY §2 #25-29), similarity search (#30-31), and text
# analysis (#32-35) — the LLM-data-pipeline operators on documents/embeddings.
# ---------------------------------------------------------------------------


@register("dedup_exact_docs", dedup.exact_dedup_sql("documents", "doc_id", "text"))
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #25 — exact dedup by content hash."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.exact_dedup(docs, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26 — word-3-gram Jaccard near-dup pairs (j ≥ 0.5)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    dedup.minhash_lsh_pairs_sql("documents", "doc_id", "text", n=3, num_hashes=16, bands=4),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27 — MinHash(16) + LSH(4 bands) candidate pairs."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=16, bands=4)


@register("dedup_simhash", dedup.simhash_sql("documents", "doc_id", "text", bits=16))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #28 — 16-bit frequency-weighted SimHash fingerprints."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.simhash(docs, "doc_id", "text", bits=16)


@register(
    "dedup_embedding_cosine",
    dedup.embedding_cosine_pairs_sql("embeddings", "vec_id", "embedding", "label", 0.35),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #29 — partition-local embedding near-dup pairs (cos ≥ 0.35)."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return dedup.embedding_cosine_pairs(em, "vec_id", "embedding", "label", 0.35)


@register(
    "ann_bruteforce_topk",
    ann.bruteforce_topk_sql("embeddings", "vec_id", "embedding", "q.vec_id < 10", k=5),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30 — exact cosine top-5 for query vectors vec_id < 10."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.bruteforce_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "ann_lsh_topk",
    ann.lsh_topk_sql("embeddings", "vec_id", "embedding", "id < 10", k=5),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31 — LSH-bucketed cosine top-5 (approximate scale path).
    Recall vs brute force additionally asserted in tests/test_ann.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.lsh_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "ann_ivf_topk",
    ann.ivf_topk_sql(
        "embeddings", "vec_id", "embedding", "label", "id < 10", k=5, nprobe=2
    ),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31b — IVF top-5: per-label centroid codebook,
    nearest-centroid assignment, nprobe=2 probing."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2
    )


@register(
    "ann_sq_topk",
    ann.sq_topk_sql("embeddings", "vec_id", "embedding", "q.id < 10", k=5),
)
def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31c — int8 scalar-quantized cosine top-5: 4× fewer
    corpus-side bytes than float32 brute force; integer dot products
    make the twin hash-exact. Recall vs exact asserted in tests/test_ann.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.sq_topk(em, "vec_id", "embedding", lambda c: c < 10, k=5)


@register(
    "dedup_cluster_resolve",
    dedup.resolve_duplicate_clusters_sql(
        "documents",
        "doc_id",
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
    ),
)
def q_dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26b — near-dup pairs → connected components → one
    canonical survivor per duplicate cluster."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    # checkpoint=False: the standalone query is collected once, so the
    # eager checkpoint's extra materialization job is pure cost here
    # (r3 VERDICT #3); the composed pipelines keep the default.
    return dedup.resolve_duplicate_clusters(docs, "doc_id", pairs, checkpoint=False)


@register(
    "dedup_incremental_minhash",
    dedup.incremental_minhash_dedup_sql(
        "documents",
        "doc_id",
        "text",
        corpus_pred="doc_id % 5 != 0",
        new_pred="doc_id % 5 = 0",
        n=3,
        threshold=0.5,
    ),
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27b — incremental dedup: the 'new batch' (every 5th
    doc) is LSH-probed against the 'corpus' (the rest) WITHOUT
    re-signing the corpus — the daily-increment pattern that avoids
    re-hashing 100 TB per load. New side broadcasts (the scale
    asymmetry); corpus band store streams map-side."""
    docs = load(spark, sf_dir, "documents", spread=True)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_minhash_dedup(
        corpus, new_batch, "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "dedup_cluster_star",
    dedup.resolve_duplicate_clusters_sql(
        "documents",
        "doc_id",
        dedup.jaccard_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.5),
    ),
)
def q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26c — same clustering as dedup_cluster_resolve via
    alternating large-star/small-star contraction: O(log² n) rounds in
    component size, independent of diameter — the scale path for
    chain-shaped revision clusters. Identical oracle (exact transitive
    closure), so parity proves the two CC variants agree."""
    docs = load(spark, sf_dir, "documents", spread=True)
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup.resolve_duplicate_clusters_star(
        docs, "doc_id", pairs, checkpoint=False
    )


@register("text_lang_id", text.lang_id_sql("documents", "doc_id", "text"))
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #32 — stopword-profile language ID."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.lang_scores(docs.select("doc_id", "text"), "text")
    langs = list(text.LANG_MARKERS)
    return scored.select(
        "doc_id",
        text.lang_pick().alias("detected_lang"),
        *[f"score_{lg}" for lg in langs],
    )


@register("text_quality_score", text.quality_score_sql("documents", "doc_id", "text"))
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33 — length/stopword/punctuation quality score."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.quality_score(docs.select("doc_id", "text"), "text")
    return out.select("doc_id", "n_words", "stopword_ratio", "punct_ratio", "quality_score")


@register(
    "text_token_count",
    text.TOKEN_COUNTS_SQL.format(table="documents", id_col="doc_id", t="text"),
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #34 — whitespace + BPE-ish class token counts."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.token_counts(docs.select("doc_id", "text"), "text")
    return out.select(
        "doc_id", "ws_tokens", "alpha_tokens", "num_tokens", "symbol_tokens", "n_chars_measured"
    )


@register("text_fingerprint", text.fingerprint_sql("documents", "doc_id", "text", gram=8))
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35 — min-md5 char-8-gram document fingerprint."""
    docs = load(spark, sf_dir, "documents", spread=True)
    out = text.fingerprint(docs.select("doc_id", "text"), "text", gram=8)
    return out.select("doc_id", "fingerprint", "n_shingles")


# ---------------------------------------------------------------------------
# Dedup: fuzzy, semantic and containment pairs, keep-best, tuning.
# ---------------------------------------------------------------------------


@register(
    "dedup_fuzzy_pairs",
    dedup.fuzzy_pairs_sql("documents", "doc_id", "text", max_dist=40, prefix_len=12),
)
def q_dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, banded (shared 12-char prefix +
    length within 40) so levenshtein never runs all-pairs — the sixth
    dedup family (character-level edits; Jaccard/MinHash are word-set
    detectors and miss dense small edits)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.fuzzy_pairs(docs, "doc_id", "text", max_dist=40, prefix_len=12)


@register(
    "dedup_semantic",
    ann.semantic_dedup_sql("embeddings", "vec_id", "embedding", k=8, iters=3, tau=0.35),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #29d — SemDeDup: k-means-partitioned embedding near-dup
    removal (cos ≥ 0.35 within a learned cluster) — catches paraphrase
    dups every lexical family misses; quadratic term bounded per
    cluster."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.semantic_dedup(em, "vec_id", "embedding", k=8, iters=3, tau=0.35)


@register(
    "dedup_keep_best",
    dedup.dedup_keep_best_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26e — the dedup DECISION step: Jaccard near-dup pairs
    → connected components → keep the highest-quality doc per cluster
    (tie: lowest id). One quality projection + one per-cluster window on
    top of the proven pair/CC machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.dedup_keep_best(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_containment",
    dedup.containment_pairs_sql("documents", "doc_id", "text", n=3, threshold=0.6),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #26f — sub-document duplication via shingle overlap
    coefficient |A∩B|/min(|A|,|B|) ≥ 0.6: the short-doc-pasted-into-
    long-doc dups symmetric Jaccard under-reports; same skew-guarded
    pair machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


@register(
    "dedup_minhash_eval",
    dedup.minhash_eval_sql("documents", "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5),
)
def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27c — MinHash+LSH candidate quality vs exact-Jaccard
    ground truth: precision/recall in one row (the num_hashes×bands
    tuning evidence); both sides are the proven banded pair machinery."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_eval(docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5)


@register(
    "dedup_lsh_tuning",
    dedup.lsh_tuning_sql("documents", "doc_id", "text", n=3, threshold=0.5),
)
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #27d — MinHash-LSH (num_hashes × bands) parameter sweep:
    the banding S-curve P(candidate|s) = 1-(1-s^r)^b integrated over the
    corpus's OWN observed pair-Jaccard mass, pricing every candidate
    config's expected TP/FP/recall in ONE pass over the proven banded
    pair relation (operators/dedup.py:lsh_tuning) — how a pipeline picks
    its signature width without re-signing a 100 TB corpus per config.
    Per-config masses are extra map-side-combined SUM columns on the one
    aggregate; integer-quantized so partition order can't flip a hash."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.lsh_tuning(docs, "doc_id", "text", n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Similarity search: PQ/IVF-PQ, graph ANN, range, hybrid, recall evals.
# ---------------------------------------------------------------------------


@register(
    "ann_pq_topk",
    ann.pq_topk_sql(
        "embeddings", "vec_id", "embedding", "label", "id < 10", k=5, m_subspaces=8
    ),
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31f — product-quantized top-5: 8 subspace codes per
    vector (32x less corpus bandwidth than float32), asymmetric-distance
    scoring; codebook collected once, single window shuffle."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pq_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, m_subspaces=8
    )


@register(
    "ann_ivfpq_topk",
    ann.ivfpq_topk_sql(
        "embeddings",
        "vec_id",
        "embedding",
        "label",
        "id < 10",
        k=5,
        nprobe=2,
        m_subspaces=8,
    ),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31g — IVF+PQ top-5 (the FAISS billion-scale layout):
    coarse nprobe=2 cell pruning composed with 8-subspace PQ codes, so a
    query scans ~nprobe/|cells| of the rows AND 32x fewer bytes per row;
    one collected codebook serves both quantizers."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivfpq_topk(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2,
        m_subspaces=8,
    )


@register(
    "ann_recall_eval",
    ann.recall_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, nprobe=2,
    ),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31h — recall@5 of the IVF index vs the exact
    brute-force ranking, per query — the |cells|×nprobe tuning evidence;
    joins two proven relations on (query, neighbor) pairs."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.recall_eval(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, nprobe=2
    )


@register(
    "embed_cluster_purity",
    ann.cluster_purity_sql("embeddings", "vec_id", "embedding", "label", k=8, iters=3),
)
def q_embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31i — per-cluster majority-label purity of the k-means
    partition against the labeled column: the
    does-the-space-separate-classes check before trusting clusters for
    SemDeDup/IVF; oracle = unrolled-k-means CTE + purity arithmetic."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.cluster_purity(em, "vec_id", "embedding", "label", k=8, iters=3)


@register(
    "ann_graph_topk",
    ann_graph.graph_beam_topk_sql(
        "embeddings", "vec_id", "embedding", "id < 10", k=5
    ),
)
def q_ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j — graph ANN: NN-Descent k-NN graph (Dong et al.
    2011) + hub-seeded beam search (operators/ann_graph.py), the
    distributable counterpart of the HNSW/SW-graph family. Build is
    iterated local joins hash-partitioned on node id (O(N k^2 d) per
    round); search touches <= beam*k rows per query per hop.

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    every decision in the build and search is deterministic
    (md5-ordered hubs, r4-rounded tie-breaks), so graph_beam_topk_sql
    replays the identical walk as unrolled CTEs — the same twin
    ann_graph_recall_eval has hash-matched since r9, now checking the
    raw (query_id, neighbor_id, cosine, rank) relation itself. Recall,
    determinism, and degree invariants remain pinned in
    tests/test_ann_graph.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.graph_beam_topk(
        em, "vec_id", "embedding", lambda c: c < 10, k=5,
        memo_key=f"{sf_dir}/embeddings",
    )


@register(
    "ann_graph_insert",
    ann_graph.nndescent_insert_sql(
        "embeddings", "vec_id", "embedding", "vec_id % 5 = 0", k=8
    ),
)
def q_ann_graph_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j2 — incremental graph-ANN maintenance
    (operators/ann_graph.py:nndescent_insert): a 20% arrival batch is
    inserted into the standing NN-Descent index by batched beam-search
    placement (new->old), back-link merge into only the touched old
    nodes, and one bounded new<->new local join — the standing index is
    never re-scored, the graph-ANN sibling of dedup_incremental_minhash.

    Promoted from rows-only to FULL hash parity (r13, VERDICT r12 #7):
    nndescent_insert_sql unrolls the standing build over the old
    subset, the arrivals' beam placement, and all three edge sources
    into the graph family's deterministic CTE replay — every top-k cut
    shares the engines' tie-break. Coverage/quality/locality invariants
    stay pinned in tests/test_ann_graph.py."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.nndescent_insert(
        em, "vec_id", "embedding", lambda c: c % 5 == 0, k=8,
        memo_key=f"{sf_dir}/embeddings", pred_tag="mod5",
    )


@register(
    "ann_graph_recall_eval",
    ann_graph.graph_recall_eval_sql(
        "embeddings", "vec_id", "embedding", "q.vec_id < 10", "id < 10", k=5
    ),
)
def q_ann_graph_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j3 — recall@5 of the NN-Descent beam search vs the
    exact brute-force ranking, per query (VERDICT r9 #3): closes the
    graph-ANN verification gap. The graph BUILD stays rows-only, but
    every decision in it is deterministic (md5-ordered hubs, r4-rounded
    tie-breaks), so the oracle twin replays the IDENTICAL build+search
    as unrolled CTEs (the embed_kmeans discipline) — the pair's output
    quality is now hash-checkable, not just pytest-pinned."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann_graph.graph_recall_eval(
        em, "vec_id", "embedding", lambda c: c < 10, k=5,
        memo_key=f"{sf_dir}/embeddings",
    )


@register(
    "ann_range_search",
    ann.range_search_sql("embeddings", "vec_id", "embedding", "q.vec_id < 10", 0.30),
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30b — cosine RANGE search (all neighbors with rounded
    cosine >= 0.30 per query, FAISS range_search semantics): the
    unknown-result-count companion to top-k. Broadcast query set, one
    shuffle-free corpus scan, threshold applied to the r4-rounded score
    so the boundary is engine-stable."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.range_search(em, "vec_id", "embedding", lambda c: c < 10, 0.30)


@register(
    "embed_matryoshka_recall",
    ann.matryoshka_recall_sql(
        "embeddings", "vec_id", "embedding", "q.vec_id < 10", k=5, dims=(4, 8, 16)
    ),
)
def q_embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31h2 — Matryoshka truncation recall (Kusupati et al.
    2022): recall@5 of prefix-dimension cosine search (dims 4/8/16) vs
    the full-dim exact top-5. One broadcast of the query set and ONE
    corpus scan scores every truncation side by side (stack unpivot);
    per-dim top-k windows run over the tiny scored relation."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.matryoshka_recall(
        em, "vec_id", "embedding", lambda c: c < 10, k=5, dims=(4, 8, 16)
    )


@register(
    "ann_hybrid_rrf",
    ann.hybrid_rrf_topk_sql(
        "documents",
        "embeddings",
        "doc_id",
        "text",
        "vec_id",
        "embedding",
        ["hash", "join", "spark"],
        query_vec_id=0,
        n=20,
        k=10,
    ),
)
def q_ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #30c — hybrid retrieval: BM25 keyword top-20 over the
    document text fused with the exact dense cosine top-20 for the
    query embedding (vec_id 0) via Reciprocal Rank Fusion
    (operators/ann.py:hybrid_rrf_topk). Each list is one proven
    single-scan plan (broadcast stats / broadcast query); the fusion
    join and final top-k run on ≤ 2n rows, so the corpus is scanned
    once per modality and nothing else shuffles at any scale."""
    docs = load(spark, sf_dir, "documents", spread=True)
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.hybrid_rrf_topk(
        docs,
        emb,
        "doc_id",
        "text",
        "vec_id",
        "embedding",
        ["hash", "join", "spark"],
        query_vec_id=0,
        n=20,
        k=10,
    )


@register(
    "embed_ivf_balance",
    ann.ivf_balance_sql("embeddings", "vec_id", "embedding", "label"),
)
def q_embed_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31l — IVF index-health readout
    (operators/ann.py:ivf_balance): per-cell population after
    nearest-centroid assignment, corpus share, and the FAISS-style
    imbalance factor |C|·Σ(n_c/N)² that prices expected probe cost —
    the COST-side tuning evidence pairing ann_recall_eval's quality
    side. Literal-codebook assignment projection (zero joins/shuffles
    on the corpus) + one |cells|-row aggregate."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_balance(em, "vec_id", "embedding", "label")


@register(
    "ann_pq_recall_eval",
    ann.pq_recall_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, m_subspaces=8,
    ),
)
def q_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31m — recall@5 of the PQ asymmetric-distance ranking
    vs the EXACT squared-L2 ranking (operators/ann.py:pq_recall_eval):
    the quantization-dial tuning evidence completing the eval family
    (ann_recall_eval = nprobe dial, embed_matryoshka_recall =
    truncation dial, this = code budget). The L2 truth is evaluated in
    PQ's own metric so the readout measures quantization loss, not
    metric mismatch; both relations are single-scan plans and the join
    carries 2·|queries|·k rows."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pq_recall_eval(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5, m_subspaces=8
    )


@register(
    "ann_nprobe_sweep",
    ann.ivf_nprobe_sweep_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id < 10", "id < 10", k=5, nprobes=(1, 2, 3, 4),
    ),
)
def q_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31n — IVF recall@5 at EVERY probe depth 1..4 in one
    pass (operators/ann.py:ivf_nprobe_sweep): probe-candidate sets
    nest, so the corpus is scanned once at the deepest setting and
    each shallower depth's top-k is recovered with a conditional
    running-count window — the dedup_lsh_tuning discipline (price all
    dial settings without re-running the index) applied to IVF.
    ann_recall_eval stays as the single-setting driver-verified
    baseline; this is how the nprobe is actually chosen."""
    em = load(spark, sf_dir, "embeddings", spread=True)
    return ann.ivf_nprobe_sweep(
        em, "vec_id", "embedding", "label", lambda c: c < 10, k=5,
        nprobes=(1, 2, 3, 4),
    )


@register(
    "embed_knn_label_eval",
    ann.knn_label_eval_sql(
        "embeddings", "vec_id", "embedding", "label",
        "q.vec_id % 20 = 0", k=5,
    ),
)
def q_embed_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31o — k-NN label-consistency probe
    (operators/ann.py:knn_label_eval): every 20th vector's label is
    predicted by majority vote among its 5 exact-cosine neighbors and
    scored against its own label, per-label accuracy out — the
    standard embedding-quality eval (k-NN probe): it reads near-chance
    on a collapsed space and high when the geometry respects labels.
    Pure composition: the proven bruteforce top-k feeds a count +
    row_number vote argmax (tie → smallest label), all
    partial-aggregated; swap the candidate generator for IVF/graph at
    100 TB and the vote/score stages are unchanged."""
    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.knn_label_eval(
        emb, "vec_id", "embedding", "label",
        lambda c: c % 20 == 0, k=5,
    )


# ---------------------------------------------------------------------------
# Text: normalization, readability, retrieval, classifier evals.
# ---------------------------------------------------------------------------


@register("text_normalize", text.normalize_sql("documents", "doc_id", "text"))
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (strip non-printables, lowercase,
    collapse whitespace) + md5 of the canonical form — the pre-dedup
    normalization pass, all JVM-side regexp_replace."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.normalize(docs, "doc_id", "text")


@register("text_readability", text.readability_sql("documents", "doc_id", "text"))
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35e — Flesch-style readability from three regexp
    counts; zero-shuffle narrow projection."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.readability(docs, "doc_id", "text")


@register(
    "lang_id_eval",
    f"""
    WITH pred AS ({text.lang_id_sql("documents", "doc_id", "text")})
    SELECT d.lang AS label_lang, p.detected_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS DOUBLE)
                 + 1e-9, 4) AS frac_of_label
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #32b — classifier evaluation loop: confusion matrix of
    the stopword-profile language ID against the corpus's labeled
    ``lang`` column, with per-label recall fractions. One narrow scoring
    projection + one (label, pred) groupBy — the share-of-label window
    runs over the ≤|langs|² matrix, never the corpus."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.lang_scores(docs.select("doc_id", "lang", "text"), "text")
    pred = scored.select("doc_id", "lang", text.lang_pick().alias("detected_lang"))
    from pyspark.sql import Window

    cell = pred.groupBy(
        F.col("lang").alias("label_lang"), "detected_lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy("label_lang")
    return cell.select(
        "label_lang",
        "detected_lang",
        "n_docs",
        r4(F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "frac_of_label"
        ),
    ).orderBy("label_lang", "detected_lang")


@register(
    "text_bm25_topk",
    text.bm25_topk_sql("documents", "doc_id", "text", ["hash", "join", "spark"], k=10),
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35f — BM25 ranked retrieval: top-10 docs for a fixed
    query term set. Zero wide shuffles: per-doc tfs are a narrow array
    projection, corpus stats one broadcast 1-row aggregate, top-k plans
    as TakeOrdered."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.bm25_topk(docs, "doc_id", "text", ["hash", "join", "spark"], k=10)


@register("text_hash_features", text.hash_features_sql("documents", "doc_id", "text", k=16))
def q_text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #35g — feature hashing (Weinberger ICML'09): 16-dim
    hashed bag-of-words count vectors, one narrow zero-shuffle
    projection; integer counts → exact parity."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.hash_features(docs, "doc_id", "text", k=16)


@register(
    "quality_auc_eval",
    f"""
    WITH scored AS ({text.quality_score_sql("documents", "doc_id", "text")}),
    j AS (
      SELECT s.quality_score, d.lang
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    {text.score_auc_sql("j", "quality_score", "lang = 'en'")}
    """,
)
def q_quality_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33g — ROC-AUC of the heuristic quality score against
    the English weak label (Mann-Whitney with tie-averaged ranks): the
    calibration readout for the corpus quality filter, in the same
    eval family as lang_id_eval / ann_recall_eval. Scale-safe: ranks
    come from a distinct-score cumulative window (4-decimal scores cap
    that relation at ~10^4 rows at any corpus size)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    scored = text.quality_score(docs, "text")
    return text.score_auc(scored, "quality_score", F.col("lang") == "en")


@register(
    "text_zipf_fit",
    text.zipf_fit_sql("documents", "source", "text", top_terms=1000),
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33h — per-source Zipf-law fit (OLS of log freq vs log
    rank over the top-1000 terms): corpus-health slope per slice
    (operators/text.py:zipf_fit). One (source, token) groupBy; the rank
    window runs on the vocabulary relation only."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.zipf_fit(docs, "source", "text", top_terms=1000)


@register(
    "quality_calibration_eval",
    text.calibration_eval_sql("documents", "doc_id", "text", "lang = 'en'"),
)
def q_quality_calibration_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33i — reliability diagram / ECE buckets of the
    heuristic quality score against the English weak label
    (operators/text.py:calibration_eval): per-decile mean score vs
    empirical positive rate, gap, and ECE contribution. quality_auc_eval
    checks ranking; this checks whether the score's VALUE reads as a
    probability before it's thresholded as one. One narrow scoring
    projection + one map-side-combined aggregate to ≤ 10 rows."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.calibration_eval(docs, "text", F.col("lang") == "en")
