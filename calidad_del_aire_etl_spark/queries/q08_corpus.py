"""Corpus-preparation operators (SURVEY §2 #44-49): chunking, PII, n-grams,
sampling, LM scoring, quality rules, span dedup, BPE — registered queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus
from ..registry import load, register

# ---------------------------------------------------------------------------
# Corpus-preparation operators for LLM training data (SURVEY §2 #44-49):
# chunking, packing, PII scrub, n-gram stats, repetition filter,
# stratified sampling.
# ---------------------------------------------------------------------------


@register(
    "corpus_chunk_docs",
    corpus.chunk_sql("documents", "doc_id", "text", chunk_size=400, overlap=50),
)
def q_corpus_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #44 — 400-char/50-overlap document chunking (narrow
    posexplode; no shuffle)."""
    docs = load(spark, sf_dir, "documents")
    return corpus.chunk_documents(docs, "doc_id", "text", chunk_size=400, overlap=50)


@register(
    "corpus_pack_sequences",
    corpus.pack_sql("documents", "doc_id", "text", budget=512, shards=32),
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #45 — deterministic sharded greedy packing of documents
    into 512-token context-window bins."""
    docs = load(spark, sf_dir, "documents")
    return corpus.pack_sequences(docs, "doc_id", "text", budget=512, shards=32)


# the raw corpus contains no PII, so both engines inject the same
# deterministic synthetic PII before scrubbing, one kind family per
# modulus (doc_id 0 gets all of them): email+phone, a Luhn-VALID card
# next to a Luhn-INVALID digit run (which must fall through to the
# phone catch-all, not <CARD>), IP + SSN, and a compact IBAN
_PII_DOCS_SQL = (
    "(SELECT doc_id, text"
    " || CASE WHEN doc_id % 10 = 0 THEN ' contact user'"
    "         || CAST(doc_id AS VARCHAR) || '@example.com or +1 555-123-4567'"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN"
    "         ' card 4111 1111 1111 1111 bad 4111111111111112' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN"
    "         ' ip 10.0.42.7 ssn 123-45-6789' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN"
    "         ' iban DE89370400440532013000' ELSE '' END"
    " AS text FROM documents)"
)


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents", spread=True)
    part = lambda mod, s: F.when(F.col("doc_id") % mod == 0, F.lit(s)).otherwise(
        F.lit("")
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or +1 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
            part(7, " card 4111 1111 1111 1111 bad 4111111111111112"),
            part(13, " ip 10.0.42.7 ssn 123-45-6789"),
            part(11, " iban DE89370400440532013000"),
        ).alias("text"),
    )


@register(
    "corpus_dup_spans",
    corpus.dup_spans_sql("documents", "doc_id", "text", span_len=32, stride=16),
)
def q_corpus_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49b — cross-document duplicated-substring profile
    (strided exact-span hashing; the distributed stand-in for Lee et
    al.'s suffix-array span dedup). Linear, self-join-free."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dup_spans(docs, "doc_id", "text", span_len=32, stride=16)


@register("corpus_pii_scrub", corpus.pii_scrub_sql(_PII_DOCS_SQL, "doc_id", "text"))
def q_corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #46 — PII redaction with per-kind match counts: emails,
    IPv4, IBAN, SSN-shaped ids, Luhn-VALIDATED card numbers (HOF fold,
    no UDF), and phone-like digit runs as the catch-all (common
    Java-regex ∩ RE2 dialect, byte-identical on both engines)."""
    return corpus.pii_scrub(_pii_docs(spark, sf_dir), "doc_id", "text")


@register("corpus_ngram_topk", corpus.ngram_topk_sql("documents", "text", n=3, k=50))
def q_corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47 — corpus-wide top-50 word trigrams (explode →
    map-side-combined count → top-k on the aggregated relation)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.ngram_topk(docs, "text", n=3, k=50)


@register(
    "corpus_repetition_filter",
    corpus.repetition_sql("documents", "doc_id", "text", n=3, threshold=0.2),
)
def q_corpus_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #48 — Gopher-style duplicate-trigram fraction per doc,
    flagging repetitive documents (single let-bound n-gram evaluation)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.repetition_stats(docs, "doc_id", "text", n=3, threshold=0.2)


@register(
    "corpus_stratified_sample",
    corpus.stratified_sample_sql(
        "documents", "doc_id", "lang", {"en": 4}, default_hex=2,
        cols="doc_id, lang, source",
    ),
)
def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49 — deterministic hash-bucket stratified sampling:
    'en' kept at 4/16, every other language at 2/16; stable under
    reruns/retries (no RNG state)."""
    docs = load(spark, sf_dir, "documents")
    out = corpus.stratified_sample(docs, "doc_id", "lang", {"en": 4}, default_hex=2)
    return out.select("doc_id", "lang", "source")


# Lloyd's k-means IS oracle-able for fixed iterations: unroll the 5
# assign/recompute rounds as chained CTEs. Distances fold sequentially
# like the Spark aggregate(zip_with(...)); per-dimension centroid AVG
# order differs ~1e-16, far below any assignment boundary. (Caveat
# mirrored from the Spark side: no cluster ever empties on this data —
# the Spark op would keep the old centroid, the twin drops it.)
_KMEANS_SQL = """
WITH b AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster, v AS cv
  FROM (SELECT id, v FROM b ORDER BY id LIMIT 8)
),
a0 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c0 c
  ) WHERE rk = 1
),
c1 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a0
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a1 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c1 c
  ) WHERE rk = 1
),
c2 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a2 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c2 c
  ) WHERE rk = 1
),
c3 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a2
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a3 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c3 c
  ) WHERE rk = 1
),
c4 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a3
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
a4 AS (
  SELECT id, v, cluster, d FROM (
    SELECT b.id, b.v, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c4 c
  ) WHERE rk = 1
),
c5 AS (
  SELECT cluster, list(c ORDER BY pos) AS cv FROM (
    SELECT cluster, pos, AVG(x) AS c FROM (
      SELECT cluster, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a4
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
final AS (
  SELECT id, cluster, d FROM (
    SELECT b.id, c.cluster, list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS d,
           ROW_NUMBER() OVER (PARTITION BY b.id ORDER BY list_sum(list_transform(generate_series(1, len(b.v)), i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) ASC, c.cluster ASC) AS rk
    FROM b CROSS JOIN c5 c
  ) WHERE rk = 1
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(AVG(d) + 1e-9, 4) AS mean_sq_dist
FROM final GROUP BY 1
"""


@register("embed_kmeans", _KMEANS_SQL)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31c — Lloyd's k-means over the embedding column
    (deterministic lowest-id init, 5 iterations, k=8); verified against
    a NumPy reference implementation in tests/test_ann.py."""
    from ..operators import ann

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.kmeans_summary(emb, "vec_id", "embedding", k=8, iters=5)


@register("embed_pca_project", None)  # eigendecomposition — no SQL twin, rows-only
def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31e — distributed PCA projection: covariance via one
    map-side-combined aggregate (dim² driver traffic only), numpy eigh
    on the driver, broadcast k×dim projection as a narrow JVM map.
    Spectral invariants pytest-asserted in tests/test_ann.py."""
    from ..operators import ann

    emb = load(spark, sf_dir, "embeddings", spread=True)
    return ann.pca_project(emb, "vec_id", "embedding", k=4)


# ---------------------------------------------------------------------------
# Sampling, LM scoring, quality rules, span dedup, BPE.
# ---------------------------------------------------------------------------


@register(
    "corpus_weighted_sample",
    corpus.weighted_sample_topk_sql(
        "documents", "doc_id", "octet_length(encode(text))", k=50
    ),
)
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): deterministic
    length-weighted sample-without-replacement of 50 docs — long docs
    proportionally likelier, md5-derived priorities, TakeOrdered plan
    (per-partition top-k, no global sort)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.weighted_sample_topk(
        docs, "doc_id", F.octet_length(F.col("text")), k=50
    )


@register(
    "corpus_domain_quota",
    corpus.domain_quota_sample_sql(
        "documents", "doc_id", "source", quota=10, cols="doc_id, source"
    ),
)
def q_corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: cap every source at 10 docs, kept subset chosen
    by deterministic md5 order (crawl balancing — no hot-domain
    dominance, no head-of-file bias, stable across reruns)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.domain_quota_sample(docs, "doc_id", "source", quota=10).select(
        "doc_id", "source"
    )


@register(
    "corpus_unigram_logprob",
    corpus.unigram_logprob_sql("documents", "doc_id", "text"),
)
def q_corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49h — CCNet-style unigram-LM quality score; the
    Zipf-head token join broadcasts (skew guard), only the long tail
    shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.unigram_logprob(docs, "doc_id", "text")


@register(
    "corpus_split_decontaminated",
    corpus.split_decontaminated_sql("documents", "doc_id", "text"),
)
def q_corpus_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49i — hash-deterministic train/test split with
    verbatim n-gram leakage flags; the train side never shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.split_decontaminated(docs, "doc_id", "text")


@register(
    "corpus_sentence_dedup",
    corpus.sentence_dedup_sql("documents", "doc_id", "text", max_df=3),
)
def q_corpus_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49j — CCNet-style sentence-level boilerplate removal:
    drop sentences appearing in > 3 distinct docs, reassemble documents
    in order. Broadcast anti-join on the small boilerplate set — the
    corpus never shuffles on sentence text."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.sentence_dedup(docs, "doc_id", "text", max_df=3)


@register(
    "corpus_dsir_weights",
    corpus.dsir_weights_sql(
        "documents", "doc_id", "text",
        "source IN ('src0','src1','src2','src3')",
        head_size=1024,
    ),
)
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49c — DSIR importance weights (Xie et al. 2023): score
    every document by log p_target / p_background under two Zipf-head
    bag-of-words LMs, target = the trusted source set; resampling by
    exp(weight) shifts the corpus mixture toward the target domain
    without training a classifier. One explode pass + one head
    aggregate; the LM ratio table broadcasts (operators/corpus.py:
    dsir_weights)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dsir_weights(
        docs, "doc_id", "text",
        F.col("source").isin("src0", "src1", "src2", "src3"),
        head_size=1024,
    )


@register(
    "corpus_gopher_rules",
    corpus.gopher_rules_sql("documents", "text", "source"),
)
def q_corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49l — Gopher document-quality rules (Rae et al. 2021)
    with per-source pass rates and per-rule fail counts
    (operators/corpus.py:gopher_rules). All seven rules are JVM
    higher-order-function expressions over the split arrays — no UDF,
    no text shuffle; the one exchange carries a row per source."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.gopher_rules(docs, "text", "source")


@register(
    "corpus_perplexity_buckets",
    corpus.perplexity_buckets_sql("documents", "doc_id", "text", "lang"),
)
def q_corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49m — CCNet head/middle/tail perplexity buckets per
    language (Wenzek et al. 2020): tercile documents within each lang
    by unigram mean log-probability and report bucket sizes and score
    ranges (operators/corpus.py:perplexity_buckets). Rides
    unigram_logprob's broadcast-head/shuffled-tail token join."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.perplexity_buckets(docs, "doc_id", "text", "lang")


@register(
    "corpus_perplexity_buckets_approx",
    corpus.perplexity_buckets_approx_sql("documents", "doc_id", "text", "lang"),
)
def q_corpus_perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49m (scale variant) — histogram-cut head/middle/tail
    perplexity split (operators/corpus.py:perplexity_buckets_approx):
    the 100 TB path corpus_perplexity_buckets' docstring promises, as a
    registered query. 512 fixed-width score bins per language replace
    the exact per-language NTILE over doc-grain rows — after the
    unigram score, the whole plan is an aggregate tree (per-bin
    histogram, a <= 512-row window, a 3-row rollup); no doc-grain sort
    or re-join. Deterministic, so the DuckDB twin hash-matches; a
    tolerance pytest pins bucket sizes within bin-straddle of exact
    terciles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.perplexity_buckets_approx(docs, "doc_id", "text", "lang")


@register(
    "corpus_dup_spans_exact",
    corpus.dup_spans_exact_sql("documents", "doc_id", "text", span_len=32),
)
def q_corpus_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49b (full-coverage variant) — duplicated-substring
    profile at stride 1 (operators/corpus.py:dup_spans_exact): the
    exact span-level signal of Lee et al. 2022, catching duplicates the
    strided corpus_dup_spans misses when occurrences start at different
    offsets modulo the stride. Codegen'd md5-prefix hash per position,
    one exchange on the span hash with a min/max window duplicate flag,
    linear in corpus bytes, self-join-free."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.dup_spans_exact(docs, "doc_id", "text", span_len=32)


@register(
    "corpus_bpe_pair_counts",
    corpus.bpe_pair_counts_sql("documents", "text", k=50),
)
def q_corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47b — BPE merge-step pair statistics (Sennrich et al.
    2016): corpus-wide adjacent character-pair frequencies (with
    end-of-word marker), weighted by word frequency — the first-merge
    decision of a distributed tokenizer trainer. Tokens collapse to the
    Heaps'-bounded distinct-word relation before any pair explosion."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_pair_counts(docs, "text", k=50)


@register(
    "corpus_span_dedup_emit",
    corpus.span_dedup_emit_sql("documents", "doc_id", "text", span_len=32, drop_frac=0.3),
)
def q_corpus_span_dedup_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49g3 — the REMOVAL step of Lee et al. 2022 span dedup
    (VERDICT r9 #7): per-doc duplicated-CHAR fraction (interval union of
    the stride-1 duplicated spans — tighter than the span fraction) and
    the emit action (drop > 0.3, clip if any dup chars, else keep) — the
    decision analog of dedup_keep_best, built on the proven
    corpus_dup_spans_exact machinery. All-integer interval arithmetic,
    so both engines agree exactly; planted-doc pytest in
    tests/test_round10_ops.py."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.span_dedup_emit(docs, "doc_id", "text", span_len=32, drop_frac=0.3)


@register(
    "corpus_bpe_merges",
    corpus.bpe_merges_sql("documents", "text", n_merges=6),
)
def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47d — the BPE trainer LOOP (Sennrich et al. 2016;
    VERDICT r9 #6): 6 iterated merge decisions over the Heaps'-bounded
    distinct-word relation, extending corpus_bpe_pair_counts (the first
    decision) into the merge-table artifact a tokenizer ships with.
    Per step: combiner-backed pair count over the vocab relation, ONE
    argmax row to the driver (codebook discipline), literal-replace
    broadcast back. Oracle = the loop unrolled into per-step CTEs;
    pytest pins the loop against a reference BPE on a toy corpus."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_merges(docs, "text", n_merges=6)


@register(
    "corpus_vocab_coverage",
    corpus.vocab_coverage_sql("documents", "text", top_ns=(10, 50, 200)),
)
def q_corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47c — top-N vocabulary token coverage / OOV-rate curve
    (tokenizer vocab sizing): combiner-backed word count, TakeOrdered
    top-max(N) (no full vocabulary sort), all remaining math on <= 200
    rows with the corpus total riding a 1-row broadcast."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.vocab_coverage(docs, "text", top_ns=(10, 50, 200))


@register(
    "corpus_bpe_encode",
    corpus.bpe_encode_stats_sql("documents", "doc_id", "text", n_merges=6),
)
def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #47e — the ENCODER side of the BPE family: apply the
    trained merge table to every document and report per-doc token
    statistics (tokens/word, chars/token) — the sequence-length readout
    a vocab decision is actually made on. Encoding is k chained literal
    replaces in ONE projection over the corpus (all-JVM, no UDF); the
    trainer's merges arrive as collected literals (codebook
    discipline), so encoder and trainer share the greedy scan by
    construction."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.bpe_encode_stats(docs, "doc_id", "text", n_merges=6)


@register(
    "corpus_kn_bigram_logprob",
    corpus.kn_bigram_logprob_sql("documents", "doc_id", "text"),
)
def q_corpus_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49n — per-document mean log2 probability under an
    interpolated Kneser-Ney BIGRAM LM trained on the corpus itself
    (operators/corpus.py:kn_bigram_logprob): the word-ORDER-aware step
    up from unigram_logprob's CCNet filter (scrambled/template spam
    built from common words scores low here, not there). Bigrams are
    built map-side from two shifted array slices (no positional
    self-join); the model is the Heaps-bounded distinct-bigram
    relation; the score join broadcasts the 4096-bigram Zipf head so
    only the tiny-fan-out tail shuffles."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.kn_bigram_logprob(docs, "doc_id", "text")
