"""Training-data-pipeline extension queries (BASELINE.json north star):
deduplication, similarity search, text analysis — each over the driver's
`documents` / `embeddings` tables with a value-identical DuckDB oracle
(including both ANN variants — the SRP-LSH oracle embeds the md5-derived
hyperplanes as float literals; the IVF oracle unrolls the k-means fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.text import tokenize
from nashville_etl_service_backup_spark.operators.dedup import (
    connected_components,
    exact_dedup_groups,
    lsh_near_dup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    resolve_duplicates,
    shingles,
    simhash_near_dup_pairs,
)
from nashville_etl_service_backup_spark.operators.similarity import (
    as_double,
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucket_topk,
    pm_plane_bits,
    semantic_dedup_pairs,
)
from nashville_etl_service_backup_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    sample_frames,
    synth_media,
)
from nashville_etl_service_backup_spark.operators.text_analysis import (
    bag_fingerprint,
    bigram_lm_nll,
    bm25_topk,
    bpe_token_count,
    content_fingerprint,
    PII_PATTERNS,
    chunk_token_windows,
    contamination_matches,
    corpus_lm_scores,
    language_id,
    pack_offsets,
    pii_counts,
    pii_redact,
    quality_features,
    repetition_features,
    split_assign,
    stratified_sample,
    strip_boilerplate_lines,
    tfidf_cosine_topk,
    ws_token_count,
    zscore_by_group,
)
from nashville_etl_service_backup_spark.queries._util import (
    DUCK_TOKENS_DISTINCT,
    DUCK_TOKENS_ORDERED,
    dsum,
)
from nashville_etl_service_backup_spark.operators import spread
from nashville_etl_service_backup_spark.tables import load


def dedup_exact_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (bag-of-words) duplicate groups over documents."""
    docs = load(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", bag_fingerprint(F.col("text")))


def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 4-hash MinHash signature (the LSH building block)."""
    docs = load(spark, sf_dir, "documents")
    sig = minhash_signature(tokenize(F.col("text")), num_hashes=4)
    return docs.select(
        "doc_id", *[s.alias(f"minhash_{k}") for k, s in enumerate(sig)]
    )


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return lsh_near_dup_pairs(
        docs, "doc_id", "text", shingle_n=2, num_hashes=4, bands=2, threshold=0.6
    )


def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (bigram shingles, 4 hashes,
    2 bands, Jaccard ≥ 0.6) with exact-Jaccard verification."""
    return _lsh_pairs(spark, sf_dir)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components (iterative
    min-label propagation) over the MinHash-LSH near-dup pairs —
    (doc_id, component) for every doc in a cluster."""
    comp = connected_components(_lsh_pairs(spark, sf_dir))
    return comp.select(F.col("node").alias("doc_id"), "component")


def dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup decision: the kept doc_ids after dropping every
    cluster member except its representative (min doc_id)."""
    docs = load(spark, sf_dir, "documents")
    kept = resolve_duplicates(docs, "doc_id", _lsh_pairs(spark, sf_dir))
    return kept.select("doc_id")


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 over documents for the fixed query
    ['spark','window','vector'] — corpus stats via one broadcast-joined
    single-row aggregate, term frequencies via HOFs (no explode)."""
    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", ["spark", "window", "vector"], k=20)


def text_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test split (md5 hash-bucket of doc_id — identical
    assignment in any engine, under any partitioning) tallied per split
    × language."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(split_assign(F.col("doc_id")).alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def text_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document token counts: exact-int group
    moments via groupBy.agg + broadcast join, elementwise z projection —
    all JVM built-ins, no Python stage, no group-fits-memory limit."""
    docs = load(spark, sf_dir, "documents")
    feats = docs.select("doc_id", "lang", ws_token_count(F.col("text")).alias("nt"))
    z = zscore_by_group(feats, "lang", "nt", "doc_id")
    return z.select("doc_id", "lang", F.round("z", 6).alias("z"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit frequency-voted signature,
    4×16-bit chunk bucketing (pigeonhole for hamming ≤ 3), exact
    bit-difference verification."""
    docs = load(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-gram Jaccard near-dups, banded-MinHash blocked (3 bands × 5 hashes)."""
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, bands=3, hashes_per_band=5, threshold=0.7
    )


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups: banded ±1-sign-projection candidates
    (4 bands × 10 planes → 1024 buckets/band: ~4× fewer random
    collisions than 8-plane bands, so the exact-cosine verify touches a
    far smaller candidate set), top-20 candidate pairs by exact cosine
    (ranked mode — this corpus plants no true embedding duplicates)."""
    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, dim=64, bands=4, planes_per_band=10, top_k=20
    )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 — the ANN baseline."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return cosine_topk(emb.filter(F.col("vec_id") != 0), query, k=10)


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via sign-random-projection buckets. Exact-oracled:
    the md5-derived hyperplanes are embedded as float literals in the
    DuckDB twin, so bucket membership and the in-bucket re-rank are
    hash-checked; recall vs brute force additionally pinned in tests."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return lsh_bucket_topk(
        emb.filter(F.col("vec_id") != 0), query, k=10, n_planes=4
    )


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for vec_id=42: 16 centroids from one
    deterministic Lloyd's k-means round (exact-decimal sum centroids —
    see operators.similarity.kmeans_centroids; a second round adds no
    measured recall), probe the 2 nearest inverted lists, exact re-rank
    inside them."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 42).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return ivf_topk(
        emb.filter(F.col("vec_id") != 42),
        query,
        k=10,
        n_centroids=16,
        n_probe=2,
    )


def sim_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivf's exact answer served from an INCREMENTALLY
    MAINTAINED index (streaming/ivf.py — VERDICT r8 Next #7): the
    16-centroid quantizer is fitted once (same deterministic Lloyd's
    round as the batch query) and FROZEN; the corpus is then delivered
    as four AvailableNow micro-batches, each assigned by the same
    Arrow kernel and committed as its own posting partial through the
    manifest log; top-10 is served from the streamed store with the
    identical probe/re-rank plan. Because the quantizer is frozen,
    the maintained index equals a batch rebuild on the same rows —
    this query shares sim_ann_ivf's DuckDB oracle verbatim, so the
    batch-equivalence claim is hash-checked every round (and
    streamed-vs-batch frame equality is pinned in
    tests/test_streaming.py)."""
    import tempfile

    from nashville_etl_service_backup_spark.operators.similarity import (
        kmeans_centroids,
    )
    from nashville_etl_service_backup_spark.streaming.ivf import (
        incremental_ivf,
        ivf_probe_topk,
        read_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 42)
    query = emb.filter(F.col("vec_id") == 42).select(
        as_double(F.col("embedding")).alias("qv")
    )
    base = corpus.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    cents = kmeans_centroids(base, n_centroids=16, iters=1, dim=64)

    work = tempfile.mkdtemp(prefix="ivf_inc_")
    src, idx, ckpt = f"{work}/src", f"{work}/index", f"{work}/ckpt"
    corpus.repartition(4).write.parquet(src)
    q = incremental_ivf(spark, src, idx, ckpt, cents)
    q.awaitTermination(300)
    q.stop()
    index = read_ivf_index(spark, idx)
    return ivf_probe_topk(index, cents, query, k=10, n_probe=2)


def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 for vec_id=42: L2-normalize,
    8 blocks × 64 spherical-k-means codewords, one-projection encoding
    against literal codebooks, blockwise ADC inner-product scoring in
    the compressed domain, exact-cosine re-rank of the ADC top-100
    (operators.similarity.pq_topk — the 100 TB storage story: m bytes
    of codes replace the raw floats at scan time; only the 100-row
    re-rank reads vectors). The oracle unrolls the eight per-block
    k-means fits + the fixed-order block-score sum + the re-rank in
    SQL; recall@10 vs brute force pinned in tests."""
    from nashville_etl_service_backup_spark.operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 42).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return pq_topk(
        emb.filter(F.col("vec_id") != 42),
        query,
        k=10,
        m=8,
        codes=64,
        iters=1,
        shortlist=100,
    )


def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring aggregated per language."""
    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    per_doc = docs.select("lang", qf["quality"].alias("quality"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(dsum(F.col("quality"), scale=6) / F.count(F.lit(1)), 6).alias(
            "avg_quality"
        ),
    )


def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (the row-level scoring table)."""
    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        qf["n_tokens"].alias("n_tokens"),
        qf["n_unique"].alias("n_unique"),
        qf["stop_ratio"].alias("stop_ratio"),
        qf["uniq_ratio"].alias("uniq_ratio"),
        qf["quality"].alias("quality"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs. the labeled lang column (confusion counts)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting aggregated per source."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        ws_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("total_ws_tokens"),
        F.sum("bpe").alias("total_bpe_tokens"),
    )


def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mixture: keep src0 documents at
    100%, every other source at 30%, via a salted md5 hash bucket —
    the engine-portable, partitioning-invariant way to mix corpora at
    fixed ratios (df.sample's RNG is none of those). Output is the kept
    (doc_id, source) set."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        hash_bucket,
    )

    docs = load(spark, sf_dir, "documents")
    b = hash_bucket(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 100
    )
    keep = (F.col("source") == "src0") | (b < 30)
    return docs.filter(keep).select("doc_id", "source")


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy-hitters: top-10 terms per language by corpus
    frequency (ties → lexicographic). The classic vocab-build shape:
    explode → map-side-combinable count → per-group top-k window. At
    100 TB the count shuffle carries only (lang, term) partials; the
    top-k is a per-group sort of the (small) distinct-term aggregate."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    counts = (
        docs.select("lang", F.explode(toks).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "term", "n", F.col("rank").cast("long").alias("rank"))
    )


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by smoothed TF-IDF
    (sklearn formula: tf · (ln((N+1)/(df+1)) + 1), rounded like the
    BM25 idf whose round-6 ln parity is already oracle-proven). Corpus
    size N arrives via a broadcast single-row aggregate (the BM25 stats
    pattern — never a collect); df comes from the same distinct
    (doc, term) frame the tf counts use, so the term shuffle is paid
    once. Top-3 per doc is a window over the per-doc term aggregate."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df_t, "term").join(F.broadcast(n_docs))
    idf = (
        F.log(
            (F.col("n_docs").cast("double") + F.lit(1.0))
            / (F.col("df").cast("double") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.select(
            "doc_id",
            "term",
            F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )



def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse composition SCD2 exists for: facts joined to the
    dimension version in effect AT FACT TIME. Builds a three-epoch
    customer dimension via scd2_merge (base 1996-01-01; every 11th key
    re-versioned 1998-01-01; every 13th key updated 2000-01-01), then
    joins orders on key + [valid_from, valid_to) containment of the
    order date — an equi-join on the key with a range conjunct (the
    as-of pattern; ISO date strings compare correctly). Output: order
    counts + exact decimal revenue per (version epoch, segment)."""
    from nashville_etl_service_backup_spark.plans.load import scd2_merge
    from nashville_etl_service_backup_spark.queries._util import dsum

    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey", "c_mktsegment",
        F.lit("1996-01-01").alias("valid_from"),
    )
    second = cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey", F.lit("AUTOMOBILE").alias("c_mktsegment"),
        F.lit("1998-01-01").alias("valid_from"),
    )
    updates = cust.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey", F.lit("MACHINERY").alias("c_mktsegment"),
        F.lit("2000-01-01").alias("valid_from"),
    )
    dim = scd2_merge(
        base.unionByName(second), updates, "c_custkey", ["c_mktsegment"]
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        F.col("o_totalprice"),
    )
    joined = orders.join(
        dim,
        (orders["o_custkey"] == dim["c_custkey"])
        & (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to"))),
    )
    return (
        joined.groupBy("valid_from", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("valid_from", "c_mktsegment")
    )



def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class geometry: the pairwise cosine matrix of
    per-label centroids. Centroids are exact DECIMAL component sums of
    round-6 components (the kmeans_centroids determinism device — sum ≡
    mean under cosine, order-independent), built by one posexplode +
    combinable shuffle that never moves whole vectors; the |labels|²
    cosine matrix is computed on the tiny centroid table. The
    class-separation diagnostic for embedding QA."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        cosine,
    )

    emb = load(spark, sf_dir, "embeddings")
    r6 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6),
    )
    sums = (
        emb.select(F.col("label"), F.posexplode(r6).alias("idx", "x"))
        .groupBy("label", "idx")
        .agg(F.sum(F.col("x").cast("decimal(30,12)")).alias("s"))
    )
    cents = (
        sums.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "s"))).alias("a"))
        .select(
            "label",
            F.transform("a", lambda t: t["s"].cast("double")).alias("cv"),
        )
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    cents = cents.join(F.broadcast(counts), "label")
    a = cents.select(
        F.col("label").alias("label_a"),
        F.col("cv").alias("cv_a"),
        F.col("n").alias("n_a"),
    )
    b = cents.select(
        F.col("label").alias("label_b"),
        F.col("cv").alias("cv_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(cosine(F.col("cv_a"), F.col("cv_b")), 4).alias(
                "centroid_cosine"
            ),
        )
        .orderBy("label_a", "label_b")
    )



def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch apply (plans/load.py cdc_apply) over the customer
    snapshot: a synthetic change batch (every 7th key updated at seq 2,
    every 11th deleted at seq 1, every 13th updated at seq 1 — keys
    hitting both rules exercise the highest-seq-wins resolution, and
    key 1001 arrives as a brand-new insert). Output: per-segment row
    count + account-balance decimal sum of the post-apply state."""
    from nashville_etl_service_backup_spark.plans.load import cdc_apply
    from nashville_etl_service_backup_spark.queries._util import dsum

    cust = load(spark, sf_dir, "customer")
    snap = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    k = F.col("c_custkey")
    upd7 = cust.filter(k % 7 == 0).select(
        k.alias("c_custkey"),
        F.lit("MACHINERY").alias("c_mktsegment"),
        (F.col("c_acctbal") + 50.0).alias("c_acctbal"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("seq"),
    )
    del11 = cust.filter(k % 11 == 0).select(
        k.alias("c_custkey"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit("D").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    upd13 = cust.filter(k % 13 == 0).select(
        k.alias("c_custkey"),
        F.lit("FURNITURE").alias("c_mktsegment"),
        F.col("c_acctbal").alias("c_acctbal"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    ins = spark.range(1001, 1002).select(
        F.col("id").alias("c_custkey"),
        F.lit("HOUSEHOLD").alias("c_mktsegment"),
        F.lit(123.45).alias("c_acctbal"),
        F.lit("I").alias("op"), F.lit(3).cast("long").alias("seq"),
    )
    changes = upd7.unionByName(del11).unionByName(upd13).unionByName(ins)
    out = cdc_apply(
        snap, changes, "c_custkey", ["c_mktsegment", "c_acctbal"]
    )
    return (
        out.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("c_acctbal")).alias("sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse FK edges — the
    cross-table generalization of the per-row required-field checks
    (P2): for each FK edge, parent count, child count, orphan children
    (left_anti on the FK), and childless parents. Each edge is two
    combinable counts + one anti-join keyed on the FK."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")

    def edge(name, child, ckey, parent, pkey):
        orphans = child.select(F.col(ckey).alias("k")).join(
            parent.select(F.col(pkey).alias("k")), "k", "left_anti"
        )
        childless = parent.select(F.col(pkey).alias("k")).join(
            child.select(F.col(ckey).alias("k")), "k", "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .join(parent.agg(F.count(F.lit(1)).alias("n_parent")))
            .join(orphans.agg(F.count(F.lit(1)).alias("n_orphan_child")))
            .join(
                childless.agg(F.count(F.lit(1)).alias("n_childless_parent"))
            )
            .select(
                F.lit(name).alias("fk_edge"), "n_child", "n_parent",
                "n_orphan_child", "n_childless_parent",
            )
        )
    e1 = edge("lineitem.l_orderkey->orders", li, "l_orderkey",
              orders, "o_orderkey")
    e2 = edge("orders.o_custkey->customer", orders, "o_custkey",
              cust, "c_custkey")
    e3 = edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
              supp, "s_suppkey")
    return e1.unionByName(e2).unionByName(e3).orderBy("fk_edge")



def dedup_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph health check: the degree distribution of the
    MinHash-LSH pair graph — how many documents have exactly d verified
    near-duplicates, for each d (degree 0 = clean docs, counted too).
    A heavy upper tail here is the early-warning for template spam /
    mirror floods before cluster resolution even runs. Composition over
    the shared pair-finder; the pair table is tiny after banding, so
    both aggregates are trivial shuffles.

    The pair frame is consumed ONCE via explode(array(doc_a, doc_b)) —
    a union of two selects over the same frame would make Spark
    recompute the whole LSH subtree (shingle → minhash → band join →
    verify) once per union branch."""
    docs = load(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    deg = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    all_deg = (
        docs.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
    )
    return (
        all_deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )



def text_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture drift: KL(source language distribution ||
    corpus language distribution) — the information-theoretic audit
    behind "did this crawl slice change its language mix" (the drift
    alarm upstream of the alpha-mixture resampling). All probabilities
    come from exact integer counts; each KL term is rounded to 12dp
    and summed in DECIMAL (order-independent), ln parity as in BM25."""
    docs = load(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_sl")
    )
    st = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    lt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    cells = (
        sl.join(F.broadcast(st), "source")
        .join(F.broadcast(lt), "lang")
        .join(F.broadcast(n))
    )
    p_sl = F.col("n_sl").cast("double") / F.col("n_s").cast("double")
    p_cl = F.col("n_l").cast("double") / F.col("n").cast("double")
    term = F.round(p_sl * F.log(p_sl / p_cl), 12)
    return (
        cells.groupBy("source", "n_s")
        .agg(
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double"), 6
            ).alias("kl_drift")
        )
        .select(
            "source", F.col("n_s").alias("n_docs"), "kl_drift"
        )
        .orderBy("source")
    )



def text_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration (Gini) over document counts by source and
    by language — the "is one crawl slice dominating the corpus" audit
    next to the domain-cap operator. Exact-integer formulation: with
    counts x_(1) ≤ … ≤ x_(n) ranked ascending, G = (2·Σ i·x_(i)) /
    (n·Σx) − (n+1)/n — every sum is an integer (order-independent),
    the final expression is one correctly-rounded double chain. The
    rank window runs over the tiny distinct-group table only."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")

    def gini(dim: str) -> DataFrame:
        counts = docs.groupBy(dim).agg(F.count(F.lit(1)).alias("x"))
        w = Window.orderBy("x", dim)
        ranked = counts.select(
            F.col("x"),
            F.row_number().over(w).cast("long").alias("i"),
        )
        agg = ranked.agg(
            F.sum(F.col("i") * F.col("x")).alias("six"),
            F.sum("x").alias("sx"),
            F.count(F.lit(1)).alias("n"),
        )
        g = (
            F.lit(2.0) * F.col("six").cast("double")
            / (F.col("n").cast("double") * F.col("sx").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0))
            / F.col("n").cast("double")
        )
        return agg.select(
            F.lit(dim).alias("dimension"),
            F.col("n").alias("n_groups"),
            F.round(g, 6).alias("gini"),
        )

    return gini("source").unionByName(gini("lang")).orderBy("dimension")



def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-15 term pairs by document-level PMI
    (ln(n_ab·N / (n_a·n_b)), min co-occurrence 25) — the classic
    "phrases that belong together" statistic for vocabulary building.
    Pair candidates come from ONE self-equi-join on doc_id of the
    distinct (doc, term) table (market-basket over terms, never a
    corpus cross product); marginals broadcast back; ln parity as in
    BM25/TF-IDF."""
    docs = load(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(tokenize(F.col("text"))))
            .alias("term")
        )
        .filter(F.length("term") >= 3)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    a = dt.alias("a")
    b = dt.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 25)
    )
    marg = dt.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    j = (
        pairs.join(
            F.broadcast(marg.select(F.col("term").alias("term_a"),
                                    F.col("n").alias("n_a"))),
            "term_a",
        )
        .join(
            F.broadcast(marg.select(F.col("term").alias("term_b"),
                                    F.col("n").alias("n_b"))),
            "term_b",
        )
        .join(F.broadcast(n_docs))
    )
    pmi = F.log(
        F.col("n_ab").cast("double") * F.col("nd").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        j.select(
            "term_a", "term_b", "n_ab", F.round(pmi, 6).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(15)
    )



def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing: Arrow-batched mapInPandas feature
    extraction over image-modality media (stub decoder, real plan)."""
    docs = load(spark, sf_dir, "documents")
    media = synth_media(docs).filter(F.col("modality") == "image")
    feats = extract_image_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "content_md5",
        "width",
        "height",
        F.round(F.element_at("feat", 1), 6).alias("feat_0"),
        F.round(F.element_at("feat", 8), 6).alias("feat_7"),
    )


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality decode plumbing: duration + stub band features over
    binary content (Arrow-batched mapInPandas, no rounding — exact)."""
    docs = load(spark, sf_dir, "documents")
    media = synth_media(docs).filter(F.col("modality") == "audio")
    return extract_audio_features(media)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-shaped frame sampling over video-modality binary content:
    every 4th 64-byte frame, one row per kept frame."""
    docs = load(spark, sf_dir, "documents")
    media = synth_media(docs).filter(F.col("modality") == "video")
    return sample_frames(media, frame_bytes=64, every=4)


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content (order-sensitive) + bag (order-insensitive) fingerprints."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        content_fingerprint(F.col("text")).alias("content_fp"),
        bag_fingerprint(F.col("text")).alias("bag_fp"),
    )


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + scrub: per-kind match counts and the md5 of the
    redacted text (value-verifies the exact redaction output). Narrow
    JVM-side regex map — no shuffle."""
    # spread: regex scans are per-row CPU work that must not run on the
    # scan's single input split
    docs = spread(load(spark, sf_dir, "documents"))
    counts = pii_counts(F.col("text"))
    # no ORDER BY: the gate's value hash is order-insensitive, and at
    # scale sorting the full scrub output would be a real global sort
    return docs.select(
        "doc_id",
        *[c.alias(k) for k, c in counts.items()],
        F.md5(pii_redact(F.col("text"))).alias("redacted_md5"),
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (duplicate-line
    fraction, top-bigram fraction, longest-line char fraction)."""
    # spread: the bigram-mode fold is the CPU cost; parallelize it
    docs = spread(load(spark, sf_dir, "documents"))
    feats = repetition_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in feats.items()])


def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate-then-chunk documents into 512-token
    context windows across 8 hash streams; per-pack occupancy stats."""
    docs = load(spark, sf_dir, "documents")
    packed = pack_offsets(docs, "doc_id", "text", budget=512, n_streams=8)
    return (
        packed.groupBy("stream", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("stream", "pack_id")
    )


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: training docs sharing any word
    4-gram with the held-out set (doc_id % 97 == 0). Production uses
    13-grams (the GPT-3 recipe); this synthetic corpus only exhibits
    overlap at n=4, which exercises the identical plan."""
    docs = load(spark, sf_dir, "documents")
    return contamination_matches(
        spread(docs), "doc_id", "text", F.col("doc_id") % 97 == 0, n=4
    )


def _funnel_split(docs: DataFrame, keep_cols: tuple[str, ...] = ()):
    """Short-circuited funnel halves (round-2 verdict item #4): the
    length and PII rules are pure-JVM scalar expressions, so they run
    first as a narrow pre-filter; the Arrow-batched repetition UDF (the
    expensive rule) is evaluated ONLY for documents that survived them —
    a `when` cascade alone would not stop ArrowEvalPython from running
    on every row.

    Returns (early, survivors): `early` carries the pre-filter verdict
    (too_short | contains_pii), `survivors` carries `late_verdict`
    (repetitive | no_language | low_quality | kept). Both keep
    ``keep_cols`` alongside the verdict for downstream stages."""
    qf = quality_features(F.col("text"))
    pii = pii_counts(F.col("text"))
    pii_total = None
    for c in pii.values():
        pii_total = c if pii_total is None else pii_total + c
    pre = F.when(qf["n_tokens"] < 20, "too_short").when(
        pii_total > 0, "contains_pii"
    )
    staged = docs.select(*keep_cols, F.col("text"), pre.alias("pre_verdict"))
    early = staged.filter(F.col("pre_verdict").isNotNull()).select(
        *keep_cols, F.col("pre_verdict").alias("verdict")
    )
    survivors = staged.filter(F.col("pre_verdict").isNull())
    rep = repetition_features(F.col("text"))
    qf2 = quality_features(F.col("text"))
    late = (
        F.when(
            (rep["dup_line_frac"] > 0.3) | (rep["top_bigram_frac"] > 0.2),
            "repetitive",
        )
        .when(language_id(F.col("text")) == "und", "no_language")
        .when(qf2["quality"] < 0.55, "low_quality")
        .otherwise("kept")
    )
    survivors = survivors.select(
        *keep_cols, F.col("text"), late.alias("late_verdict")
    )
    return early, survivors


def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-filter funnel (C4/Gopher-style): every document gets
    its FIRST failing rule — length → PII → repetition → language →
    quality — and the funnel is tallied per verdict. See
    :func:`_funnel_split` for the UDF short-circuit; both branches
    aggregate map-side before the tiny union."""
    # spread: every funnel rule is per-row scalar CPU
    docs = spread(load(spark, sf_dir, "documents"))
    early, survivors = _funnel_split(docs)
    return (
        early.unionAll(survivors.select(F.col("late_verdict").alias("verdict")))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 5 docs per (lang, source) cell
    by md5 order — reproducible in any engine under any partitioning."""
    docs = load(spark, sf_dir, "documents")
    cell = docs.withColumn("_g", F.concat_ws("|", "lang", "source"))
    out = stratified_sample(cell, "_g", "doc_id", k=5)
    return out.select("doc_id", "lang", "source")


def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings (the IVF quantizer),
    pair only within a cluster, top-20 by exact cosine (ranked mode —
    this corpus plants no true embedding duplicates). The third
    candidate-generation strategy in the embedding-dedup family, next
    to banded-SRP (dedup_embedding_pairs) and exact fingerprints."""
    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, n_centroids=16, kmeans_iters=1, top_k=20, dim=64
    )


def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean log-probability of
    its char trigrams under the corpus trigram model (CCNet's filtering
    signal, self-fit). Returns every doc with ≥1 trigram."""
    docs = spread(load(spark, sf_dir, "documents"))
    return corpus_lm_scores(docs, id_col="doc_id", text_col="text")


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram add-one LM fit on the train hash-split, per-doc mean
    negative log-likelihood over ALL docs (operators.text_analysis.
    bigram_lm_nll) — the held-out LM-filter signal: val/test docs are
    scored out of model, and unusual word sequences score high nll."""
    docs = spread(load(spark, sf_dir, "documents"))
    return bigram_lm_nll(docs, id_col="doc_id", text_col="text")


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG / pretraining preprocessing):
    64-token windows, stride 48 (overlap 16), per-chunk token count +
    md5 fingerprint. One narrow pass, no shuffle."""
    docs = spread(load(spark, sf_dir, "documents"))
    return chunk_token_windows(
        docs, window=64, stride=48, id_col="doc_id", text_col="text"
    )


DOMAIN_CAP = 30


def text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus cap — the C4/RefinedWeb curation step that stops
    a handful of mega-domains from dominating the training mix: keep at
    most DOMAIN_CAP docs per source (the domain analog in this corpus),
    preferring higher quality score with doc_id as the deterministic
    tiebreak; report per-source kept/total docs and token mass so the
    downstream mixture sees what the cap removed.

    100 TB shape: one hash shuffle on source + a per-domain sort for the
    rank (sort-based window, spills — never OOMs); the aggregate output
    is one row per domain. For a pathologic mega-domain the rank-by-
    quality is the irreducible cost of 'keep the BEST N' (a cheaper
    uniform cap would be the md5 stratified-sample operator instead)."""
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    qf = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        qf["quality"].alias("quality"),
        qf["n_tokens"].alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


N_SHARDS = 8


def text_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding — the dataloader-prep
    step between curation and training: global training order is
    md5(doc_id) (seedless, uniform, partition-count-invariant), shard =
    order-hash mod N_SHARDS, position-in-shard = rank of the order hash
    within the shard. Output pins the plan per shard: doc count, char
    mass, the first/last docs in training order, and an order-sensitive
    checksum sum((pos mod 8191)·(hash mod 8191)) mod 1e9+7 — any
    reordering, drop, or duplicate flips it, so two independent runs
    (or engines) can prove they would feed batches identically.

    100 TB shape: one narrow hash map + one rank window per shard
    (sort-based, spills) + a combinable aggregate; nothing but scalars
    leaves the executors. The checksum accumulates in DECIMAL(38,0)
    (exact, order-independent sum) before the final mod."""
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    keyed = docs.select(
        "doc_id",
        "n_chars",
        h.alias("h"),
        (h % N_SHARDS).alias("shard"),
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("h", "doc_id")
    )
    ranked = keyed.withColumn("pos", pos)
    term = ((F.col("pos") % 8191) * (F.col("h") % 8191)).cast("decimal(38,0)")
    return (
        ranked.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min_by("doc_id", "pos").alias("first_doc"),
            F.max_by("doc_id", "pos").alias("last_doc"),
            (F.sum(term) % F.lit(1000000007).cast("decimal(38,0)"))
            .cast("long")
            .alias("order_checksum"),
        )
        .orderBy("shard")
    )


def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus curation pipeline as ONE oracle-checked
    query — the shape a real pretraining-data job runs end to end:

      1. quality funnel (length → PII → repetition → language →
         quality), keeping only verdict='kept' docs — the Arrow
         repetition UDF runs only on pre-filter survivors;
      2. MinHash-LSH near-dup pairs AMONG THE KEPT DOCS (banded
         equi-join candidates, exact-Jaccard verify);
      3. cluster resolution (connected components) + representative
         keep-set (one left-anti join);
      4. deterministic md5 train/val/test split;
      5. per (split, lang) doc + whitespace-token accounting.

    Every stage is a previously-verified operator; this query pins
    their COMPOSITION (the funnel's survivors feed the dedup, the
    keep-set feeds the split) — at 100 TB the stages chain without
    materialization barriers except the LSH signature persist the pair
    stage already owns."""
    from nashville_etl_service_backup_spark.operators import track_persist

    docs = spread(load(spark, sf_dir, "documents"))
    _, survivors = _funnel_split(docs, keep_cols=("doc_id", "lang"))
    # three downstream stages consume the kept set (LSH signatures, the
    # resolve anti-join's left side, the split/token aggregate) — persist
    # it once, or the funnel's Arrow UDF re-runs per consumer. This is
    # the materialization barrier a real pipeline puts between "curated
    # corpus" and everything derived from it.
    kept = track_persist(
        survivors.filter(F.col("late_verdict") == "kept").select(
            "doc_id", "lang", "text"
        )
    )
    pairs = lsh_near_dup_pairs(
        kept, "doc_id", "text", shingle_n=2, num_hashes=4, bands=2, threshold=0.6
    )
    final = resolve_duplicates(kept, "doc_id", pairs)
    return (
        final.select(
            split_assign(F.col("doc_id")).alias("split"),
            "lang",
            ws_token_count(F.col("text")).alias("_nt"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
        )
    )


# fixed power-of-2 sequence buckets for batch shaping — a when-cascade,
# exact in both engines (no float log2)
_LEN_BUCKETS = [32, 64, 128, 256, 512, 1024, 2048, 4096]


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training-batch shaping: docs
    bucketed by BPE-ish token count into power-of-2 bins; per bin the
    doc count, token mass, and padding waste (bin_width·n − tokens —
    what a pad-to-bucket batcher would burn). One narrow pass + one
    map-side-combinable aggregate."""
    docs = spread(load(spark, sf_dir, "documents"))
    n = bpe_token_count(F.col("text"))
    bucket = F.lit(2 * _LEN_BUCKETS[-1])  # overflow bin
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    return (
        docs.select(bucket.cast("long").alias("seq_bucket"), n.alias("_n"))
        .groupBy("seq_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
        )
        .select(
            "seq_bucket",
            "n_docs",
            "sum_tokens",
            (F.col("seq_bucket") * F.col("n_docs") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
        )
    )


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document boilerplate-line removal (C4/CCNet): trimmed lines
    shared by ≥3 distinct docs are stripped everywhere; output is the
    per-doc removal audit + cleaned-text fingerprint."""
    docs = load(spark, sf_dir, "documents")
    return strip_boilerplate_lines(
        docs, min_docs=3, id_col="doc_id", text_col="text"
    )


QUERIES = {
    "dedup_exact_bow": dedup_exact_bow,
    "dedup_minhash_sig": dedup_minhash_sig,
    "dedup_lsh_pairs": dedup_lsh_pairs,
    "dedup_clusters": dedup_clusters,
    "dedup_resolve": dedup_resolve,
    "text_bm25_topk": text_bm25_topk,
    "text_split_counts": text_split_counts,
    "text_zscore_by_lang": text_zscore_by_lang,
    "text_top_terms": text_top_terms,
    "text_tfidf_keywords": text_tfidf_keywords,
    "q_scd2_asof_lookup": q_scd2_asof_lookup,
    "q_label_centroid_sim": q_label_centroid_sim,
    "q_cdc_apply": q_cdc_apply,
    "q_referential_audit": q_referential_audit,
    "dedup_degree_dist": dedup_degree_dist,
    "text_mixture_drift": text_mixture_drift,
    "text_gini_concentration": text_gini_concentration,
    "text_pmi_collocations": text_pmi_collocations,
    "text_mixture_sample": text_mixture_sample,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_incremental": sim_ann_ivf_incremental,
    "text_quality_by_lang": text_quality_by_lang,
    "text_quality_docs": text_quality_docs,
    "text_lang_id": text_lang_id,
    "text_token_counts": text_token_counts,
    "doc_fingerprints": doc_fingerprints,
    "multimodal_image_features": multimodal_image_features,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "text_pii_scrub": text_pii_scrub,
    "text_repetition": text_repetition,
    "text_pack_bins": text_pack_bins,
    "text_contamination": text_contamination,
    "text_filter_funnel": text_filter_funnel,
    "text_stratified_sample": text_stratified_sample,
    "dedup_semantic_pairs": dedup_semantic_pairs,
    "text_lm_quality": text_lm_quality,
    "text_boilerplate_strip": text_boilerplate_strip,
    "llm_corpus_curation": llm_corpus_curation,
    "text_length_histogram": text_length_histogram,
    "text_chunk_windows": text_chunk_windows,
    "text_domain_cap": text_domain_cap,
    "text_shard_plan": text_shard_plan,
}

_TOKS_D = DUCK_TOKENS_DISTINCT.format(col="text")
_TOKS_O = DUCK_TOKENS_ORDERED.format(col="text")

# Quality-feature SQL fragments shared by every trained-classifier oracle
# (_qc/_tree/_gbm/_woe/_drift): the DuckDB twin of
# functions.text.quality_features, over a `tk` ordered-token column.
_QF_UNIQ = (
    "CASE WHEN len(tk) > 0 THEN CAST(len(list_distinct(tk)) AS DOUBLE)"
    "/len(tk) ELSE 0.0 END"
)
_QF_STOP = (
    "CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk,"
    " x -> x IN ('the','a','and','of','to'))) AS DOUBLE)/len(tk)"
    " ELSE 0.0 END"
)
_QF_LEN = "LEAST(len(tk)/300.0, 1.0)"
_QF_QUALITY = (
    f"ROUND(0.5*({_QF_UNIQ}) + 0.3*(1.0 - {_QF_STOP}) + 0.2*{_QF_LEN}, 6)"
)


def _moments_sql(c: str) -> str:
    """DECIMAL-sum mean/std aggregate pair (m_<c>, s_<c>) — the oracle
    twin of operators.ml.standardize's decimal-moment pass."""
    s = f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"
    ss = (
        f"CAST(SUM(CAST({c} AS DECIMAL(18,6))"
        f"*CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"
    )
    n = "CAST(COUNT(*) AS DOUBLE)"
    return (
        f"ROUND({s}/{n}, 6) AS m_{c},\n"
        f"  ROUND(SQRT(GREATEST(({ss} - {s}*{s}/{n})/{n}, 0.0)), 6)"
        f" AS s_{c}"
    )


def _zscore_sql(c: str) -> str:
    """Guarded z-score select item over raw × st(moments) CTEs."""
    return (
        f"CASE WHEN st.s_{c} > 0.0"
        f" THEN ROUND((raw.{c} - st.m_{c})/st.s_{c}, 6)"
        f" ELSE 0.0 END AS {c}"
    )


def _qc_head() -> str:
    """Everything of _qc_oracle up to (and including) the standardized
    feature CTE `f` — the shared front half of the calibration /
    conformal / CV / lift-gains oracles, which retrain the same model
    over the same features."""
    base = _qc_oracle()
    return base[: base.index("nn AS MATERIALIZED (")].rstrip().rstrip(",")


def _md5_bucket_sql(mod: int) -> str:
    """Deterministic md5(doc_id) hash bucket in [0, mod) — the DuckDB
    twin of the engine's conv(substr(md5, 1, 8), 16, 10) % mod fold
    assignment used by logreg_cv / conformal / NB train-test splits."""
    return (
        "CAST(list_sum(list_transform(range(1, 9), i ->"
        " (strpos('0123456789abcdef',"
        " substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)"
        f" * pow(16, 8 - i))) AS BIGINT) % {mod}"
    )

# bigram shingles over ordered tokens, then distinct
_SHINGLES = (
    "list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))"
)

_MINHASH = "list_min(list_transform({s}, t -> md5('{k}:' || t)))"
# sliced variant: one md5 per shingle, 8-hex-char slice per hash index
_MINHASH_SLICE = "list_min(list_transform({s}, t -> substr(md5(t), {off}, 8)))"

# ±1 plane sign literals for the embedding oracle — generated by the SAME
# pm_plane_bits used in the Spark plan, so both engines bucket identically.
def _pm_list(seed: int, dim: int = 64) -> str:
    return "[" + ",".join(
        "1.0" if c == "1" else "-1.0" for c in pm_plane_bits(seed, dim)
    ) + "]"


_EMB_PLANES = ",\n    ".join(f"{_pm_list(s)} AS s{s}" for s in range(40))
_EMB_BANDS = ",\n    ".join(
    " || ".join(
        "(CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * "
        f"s{b * 10 + j}[i])) >= 0 THEN '1' ELSE '0' END)"
        for j in range(10)
    )
    + f" AS b{b}"
    for b in range(4)
)

# float-plane literals for the sim_ann_lsh oracle — repr() round-trips
# doubles exactly, so DuckDB parses the same IEEE values the Spark plan
# embeds (same normalized md5-derived planes from similarity._plane)
def _float_plane_list(seed: int, dim: int = 64) -> str:
    from nashville_etl_service_backup_spark.operators.similarity import _plane

    return "[" + ",".join(repr(x) for x in _plane(seed, dim)) + "]"


def _srp_bucket_sql(vec: str, n_planes: int) -> str:
    """sign-bit concat over the float planes — mirrors srp_bucket."""
    return " || ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, 65), i -> {vec}[i] * "
        f"fp{s}[i])) >= 0 THEN '1' ELSE '0' END)"
        for s in range(n_planes)
    )


def _cos_sql(a: str, b: str, dims: int = 64) -> str:
    return (
        f"list_sum(list_transform(range(1, {dims + 1}), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x))))"
    )


def _kmeans_chain(iters: int, prefix: str = "", dims: int = 64) -> str:
    """Lloyd's-k-means CTE chain ({p}ac1..{p}cents{iters} +
    {p}fac/{p}fassign) — the exact SQL mirror of
    operators.similarity.kmeans_centroids + ivf_assign, shared by the
    IVF, SemDeDup, and (per-block, via prefix/dims) PQ oracles. Assumes
    CTEs ``{p}base`` (vec_id, v) and ``{p}cents0`` (cent_id, cv) are
    already defined. Centroids are exact DECIMAL(30,12) sums of
    round(x, 6) member components (sum ≡ mean under cosine; the
    pre-round avoids the Spark-HALF_UP vs DuckDB-half-even decimal-tie
    divergence); assignments break cosine ties toward the larger
    cent_id."""
    p = prefix
    parts = []
    for t in range(1, iters + 1):
        parts.append(
            f""",
{p}ac{t} AS (
  SELECT b.vec_id, c.cent_id, {_cos_sql('b.v', 'c.cv', dims)} AS c
  FROM {p}base b, {p}cents{t - 1} c),
{p}assign{t} AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY c DESC, cent_id DESC) AS rn
    FROM {p}ac{t}) WHERE rn = 1),
{p}sums{t} AS (
  SELECT a.cent_id, r.i AS idx,
         SUM(CAST(round(b.v[r.i], 6) AS DECIMAL(30,12))) AS s
  FROM {p}base b, {p}assign{t} a, range(1, {dims + 1}) r(i)
  WHERE b.vec_id = a.vec_id
  GROUP BY 1, 2),
{p}cents{t} AS (
  SELECT cent_id, list(CAST(s AS DOUBLE) ORDER BY idx) AS cv
  FROM {p}sums{t} GROUP BY cent_id)"""
        )
    last = f"{p}cents{iters}"
    parts.append(
        f""",
{p}fac AS (
  SELECT b.vec_id, c.cent_id, {_cos_sql('b.v', 'c.cv', dims)} AS c
  FROM {p}base b, {last} c),
{p}fassign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY c DESC, cent_id DESC) AS rn
    FROM {p}fac) WHERE rn = 1)"""
    )
    return "".join(parts)


def _ivf_oracle(iters: int, n_cent: int, n_probe: int, qid: int) -> str:
    """sim_ann_ivf oracle: the shared k-means chain, then probe the
    query's n_probe nearest lists and exact-cosine re-rank inside."""
    last = f"cents{iters}"
    parts = [
        f"""WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM v WHERE vec_id = {qid}),
base AS (SELECT * FROM v WHERE vec_id <> {qid}),
cents0 AS (
  SELECT vec_id AS cent_id, list_transform(v, x -> round(x, 6)) AS cv
  FROM base WHERE vec_id < {n_cent})""",
        _kmeans_chain(iters),
    ]
    parts.append(
        f""",
probes AS (
  SELECT cent_id FROM (
    SELECT c.cent_id, {_cos_sql('q.qv', 'c.cv')} AS c
    FROM {last} c, q)
  ORDER BY c DESC, cent_id DESC LIMIT {n_probe}),
cand AS (
  SELECT b.vec_id, b.label, {_cos_sql('b.v', 'q.qv')} AS c
  FROM base b
  JOIN fassign a ON b.vec_id = a.vec_id
  JOIN probes p ON a.cent_id = p.cent_id
  CROSS JOIN q)
SELECT vec_id, label, ROUND(c, 4) AS cosine
FROM cand
ORDER BY c DESC, vec_id ASC
LIMIT 10"""
    )
    return "".join(parts)


# bit i of a token's md5 lives in hex digit i//4, nibble shift 3-i%4 —
# identical derivation to operators.dedup.simhash64
_SIMHASH_SIG = """array_to_string(list_transform(range(0, 64), i ->
      CASE WHEN list_sum(list_transform(hs, hx ->
        CASE WHEN CAST(floor((strpos('0123456789abcdef',
                   substr(hx, CAST(i // 4 AS INT) + 1, 1)) - 1)
                 / pow(2, 3 - i % 4)) AS INT) % 2 = 1
        THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '')"""

_HAMMING = (
    "len(list_filter(range(1, 65), i -> substr(a.sig, i, 1) <> substr(b.sig, i, 1)))"
)

_TRI_JACCARD = (
    "CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.g, b.g)))"
)

# MinHash-LSH pair CTE chain, shared by dedup_lsh_pairs (pairs + jaccard)
# and the cluster-resolution oracles (recursive closure over the pairs).
_LSH_CTES_T = f"""tok AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM {{src}}),
sh AS (
  SELECT doc_id, {_SHINGLES} AS s FROM tok),
sig AS (
  SELECT doc_id, s,
    {_MINHASH_SLICE.format(s='s', off=1)} || '|' || {_MINHASH_SLICE.format(s='s', off=9)} AS b0,
    {_MINHASH_SLICE.format(s='s', off=17)} || '|' || {_MINHASH_SLICE.format(s='s', off=25)} AS b1
  FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id AND (a.b0 = b.b0 OR a.b1 = b.b1)),
lshp AS (
  SELECT doc_a, doc_b,
    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.s, sb.s))) AS j
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.6)"""

_LSH_CTES = _LSH_CTES_T.format(src="documents")

# transitive closure over the symmetric pair graph: every (node,
# reachable-node) label, min per node = component representative
_CLUSTER_CTES_T = _LSH_CTES_T + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lshp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lshp),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
comp AS (
  SELECT node, MIN(lbl) AS component FROM walk GROUP BY node)"""

_CLUSTER_CTES = _CLUSTER_CTES_T.format(src="documents")

# sequential regexp_replace chain mirroring pii_redact's pattern order
_PII_REDACT_SQL = "text"
for _kind, _pat, _repl in PII_PATTERNS:
    _PII_REDACT_SQL = (
        f"regexp_replace({_PII_REDACT_SQL}, '{_pat}', '{_repl}', 'g')"
    )

ORACLES = {
    "dedup_exact_bow": f"""
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM (SELECT doc_id,
        md5(array_to_string(list_sort({_TOKS_D}), ' ')) AS fp
      FROM documents)
GROUP BY fp
HAVING COUNT(*) > 1
""",
    "dedup_minhash_sig": f"""
SELECT doc_id,
  {_MINHASH.format(s='tk', k=0)} AS minhash_0,
  {_MINHASH.format(s='tk', k=1)} AS minhash_1,
  {_MINHASH.format(s='tk', k=2)} AS minhash_2,
  {_MINHASH.format(s='tk', k=3)} AS minhash_3
FROM (SELECT doc_id, {_TOKS_O} AS tk FROM documents)
""",
    "dedup_lsh_pairs": f"""
WITH {_LSH_CTES}
SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard FROM lshp
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_CLUSTER_CTES}
SELECT node AS doc_id, component FROM comp
""",
    "dedup_resolve": f"""
WITH RECURSIVE {_CLUSTER_CTES}
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
""",
    "text_bm25_topk": f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
d AS (
  SELECT doc_id, len(tk) AS dl,
    len(list_filter(tk, x -> x = 'spark'))  AS tf_0,
    len(list_filter(tk, x -> x = 'window')) AS tf_1,
    len(list_filter(tk, x -> x = 'vector')) AS tf_2
  FROM t),
s AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
    SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
    SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
    SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
  FROM d)
SELECT doc_id, ROUND(
    ln(1.0 + (n_docs - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
      * CAST(tf_0 AS DOUBLE) * (1.2 + 1.0)
      / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
  + ln(1.0 + (n_docs - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
      * CAST(tf_1 AS DOUBLE) * (1.2 + 1.0)
      / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
  + ln(1.0 + (n_docs - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
      * CAST(tf_2 AS DOUBLE) * (1.2 + 1.0)
      / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
  , 6) AS bm25
FROM d, s
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
""",
    "dedup_simhash_pairs": f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
h AS (
  SELECT doc_id, list_transform(tk, t -> md5(t)) AS hs FROM t),
sig AS (
  SELECT doc_id, {_SIMHASH_SIG} AS sig FROM h)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST({_HAMMING} AS BIGINT) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id
 AND (substr(a.sig, 1, 16) = substr(b.sig, 1, 16)
   OR substr(a.sig, 17, 16) = substr(b.sig, 17, 16)
   OR substr(a.sig, 33, 16) = substr(b.sig, 33, 16)
   OR substr(a.sig, 49, 16) = substr(b.sig, 49, 16))
WHERE {_HAMMING} <= 3
""",
    "dedup_ngram_jaccard": """
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents),
tri AS (
  SELECT doc_id,
    CASE WHEN len(s) >= 5
      THEN list_distinct(list_transform(range(1, len(s) - 3),
                                        i -> substr(s, i, 5)))
      ELSE CAST([] AS VARCHAR[]) END AS g
  FROM n),
blk AS (
  SELECT doc_id, g,
{bandkeys}
  FROM tri)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  ROUND({j}, 6) AS jaccard
FROM blk a JOIN blk b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2)
WHERE {j} >= 0.7
""".replace("{j}", _TRI_JACCARD).replace(
        "{bandkeys}",
        # sliced band keys: one md5 per (gram, band), 6-hex-char slices —
        # mirrors operators.dedup.ngram_jaccard_pairs exactly
        ",\n".join(
            "    "
            + " || '|' || ".join(
                f"list_min(list_transform(g, t -> substr(md5('{b}:' || t), {k * 6 + 1}, 6)))"
                for k in range(5)
            )
            + f" AS b{b}"
            for b in range(3)
        ),
    ),
    "dedup_embedding_pairs": f"""
WITH p AS (SELECT
    {_EMB_PLANES}),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
    {_EMB_BANDS}
  FROM v, p),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM sig a JOIN sig b
    ON a.vec_id < b.vec_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
scored AS (
  SELECT id_a, id_b,
    list_sum(list_transform(range(1, 65), i -> va[i] * vb[i]))
      / (sqrt(list_sum(list_transform(va, x -> x*x)))
         * sqrt(list_sum(list_transform(vb, x -> x*x)))) AS c
  FROM cand)
SELECT id_a, id_b, ROUND(c, 6) AS cosine
FROM scored
ORDER BY c DESC, id_a ASC, id_b ASC
LIMIT 20
""",
    "sim_topk_bruteforce": """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0),
scored AS (
  SELECT vec_id, label,
    list_sum(list_transform(range(1, len(v)+1), i -> v[i] * qv[i]))
      / (sqrt(list_sum(list_transform(v, x -> x*x)))
         * sqrt(list_sum(list_transform(qv, x -> x*x)))) AS c
  FROM s, q)
SELECT vec_id, label, ROUND(c, 4) AS cosine
FROM scored
ORDER BY c DESC, vec_id ASC
LIMIT 10
""",
    # sim_ann_lsh: the SRP planes are deterministic md5-derived doubles,
    # embedded as exact float literals on both sides — bucket membership
    # and the in-bucket exact re-rank are therefore oracle-checkable
    # (sign parity of the 64-term dot holds; verified at sf0.01 + sf0.1)
    "sim_ann_lsh": f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS (
  SELECT {", ".join(f"{_float_plane_list(s)} AS fp{s}" for s in range(4))}),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
b AS (
  SELECT vec_id, label, v, {_srp_bucket_sql('v', 4)} AS bucket
  FROM v, planes WHERE vec_id <> 0),
qb AS (
  SELECT {_srp_bucket_sql('qv', 4)} AS bucket FROM q, planes),
cand AS (
  SELECT b.vec_id, b.label, {_cos_sql('b.v', 'q.qv')} AS c
  FROM b JOIN qb ON b.bucket = qb.bucket CROSS JOIN q)
SELECT vec_id, label, ROUND(c, 4) AS cosine
FROM cand
ORDER BY c DESC, vec_id ASC
LIMIT 10""",
    "sim_ann_ivf": _ivf_oracle(iters=1, n_cent=16, n_probe=2, qid=42),
    # identical oracle by design: the incremental index is a frozen-
    # quantizer batch rebuild (streaming/ivf.py batch-equivalence)
    "sim_ann_ivf_incremental": _ivf_oracle(iters=1, n_cent=16, n_probe=2, qid=42),
    # SemDeDup: same k-means chain, no query/probe — pair within cluster
    "dedup_semantic_pairs": f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (SELECT * FROM v),
cents0 AS (
  SELECT vec_id AS cent_id, list_transform(v, x -> round(x, 6)) AS cv
  FROM base WHERE vec_id < 16){_kmeans_chain(1)},
tagged AS (
  SELECT b.vec_id, b.v, a.cent_id
  FROM base b JOIN fassign a ON b.vec_id = a.vec_id),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_sql('a.v', 'b.v')} AS c
  FROM tagged a JOIN tagged b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, ROUND(c, 4) AS cosine
FROM pairs
ORDER BY c DESC, vec_a ASC, vec_b ASC
LIMIT 20""",
    # char-trigram LM score: model = corpus trigram counts; per-gram ln
    # rounded to 9 decimals and summed exactly in DECIMAL(28,9) — the
    # repo's summation-order-independence recipe for float aggregates
    "text_lm_quality": """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
  FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(s) - 1),
                               i -> substr(s, CAST(i AS INT), 3))) AS g
  FROM norm WHERE length(s) >= 3),
model AS (SELECT g, COUNT(*) AS c FROM g GROUP BY g),
tot AS (SELECT SUM(c) AS t FROM model),
per AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9))) AS slc
  FROM g JOIN model USING (g)
  GROUP BY doc_id)
SELECT doc_id, n_grams,
       round(CAST(slc AS DOUBLE) / n_grams
             - round(ln(CAST(t AS DOUBLE)), 9), 6) AS lm_score
FROM per, tot""",
    # boilerplate strip: census on trimmed non-empty lines, anti-join,
    # in-order rebuild fingerprint; md5('') for fully-stripped docs
    "text_boilerplate_strip": """
WITH sp AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
lx AS (
  SELECT doc_id, CAST(pos AS INT) AS pos, trim(ls[CAST(pos AS INT)]) AS l
  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM sp)),
ne AS (SELECT * FROM lx WHERE l <> ''),
bp AS (SELECT l FROM ne GROUP BY l HAVING COUNT(DISTINCT doc_id) >= 3),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ne GROUP BY doc_id),
kept AS (
  SELECT ne.doc_id, ne.pos, ne.l
  FROM ne LEFT JOIN bp ON ne.l = bp.l
  WHERE bp.l IS NULL),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(l, chr(10) ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, t.n_lines,
       t.n_lines - COALESCE(a.n_kept, 0) AS n_removed,
       COALESCE(a.cleaned_md5, md5('')) AS cleaned_md5
FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id""",
    # hex→int without from_hex: Σ nibble·16^k, exact in double (< 2^53)
    "text_split_counts": """
WITH b AS (
  SELECT lang,
    CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 100 AS bkt
  FROM documents)
SELECT CASE WHEN bkt < 90 THEN 'train'
            WHEN bkt < 95 THEN 'val'
            ELSE 'test' END AS split,
  lang, COUNT(*) AS n_docs
FROM b
GROUP BY 1, 2
""",
    "text_zscore_by_lang": f"""
WITH t AS (
  SELECT doc_id, lang, len({_TOKS_O}) AS nt FROM documents),
g AS (
  SELECT lang, COUNT(*) AS n, SUM(nt) AS s, SUM(nt * nt) AS ss FROM t
  GROUP BY lang)
SELECT t.doc_id, t.lang,
  CASE WHEN g.n > 1
        AND (g.ss - g.s * g.s / CAST(g.n AS DOUBLE)) / (g.n - 1) > 0
       THEN ROUND((t.nt - g.s / CAST(g.n AS DOUBLE))
                  / sqrt((g.ss - g.s * g.s / CAST(g.n AS DOUBLE)) / (g.n - 1)), 6)
       END AS z
FROM t JOIN g ON t.lang = g.lang
""",
    "text_mixture_sample": """
SELECT doc_id, source FROM documents
WHERE source = 'src0'
   OR CAST(list_sum(list_transform(range(1, 9), i ->
        (strpos('0123456789abcdef',
                substr(md5('mix:' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        * pow(16, 8 - i))) AS BIGINT) % 100 < 30
""",
    "text_top_terms": f"""
WITH tok AS (
  SELECT lang, unnest({_TOKS_O}) AS term FROM documents),
c AS (
  SELECT lang, term, COUNT(*) AS n FROM tok GROUP BY lang, term),
r AS (
  SELECT lang, term, n,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rank
  FROM c)
SELECT lang, term, n, rank FROM r WHERE rank <= 10
""",
    "text_quality_by_lang": f"""
WITH t AS (
  SELECT lang, {_TOKS_O} AS tk FROM documents),
f AS (
  SELECT lang,
    len(tk) AS n_tokens,
    len(list_distinct(tk)) AS n_unique,
    CASE WHEN len(tk) > 0
         THEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to')))
                   AS DOUBLE)/len(tk) ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(tk) > 0
         THEN CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk) ELSE 0.0 END
      AS uniq_ratio
  FROM t)
SELECT lang, COUNT(*) AS n_docs,
  ROUND(CAST(SUM(CAST(
    ROUND(0.5*uniq_ratio + 0.3*(1.0-stop_ratio)
          + 0.2*LEAST(n_tokens/300.0, 1.0), 6)
  AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*), 6) AS avg_quality
FROM f
GROUP BY lang
""",
    "text_quality_docs": f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents)
SELECT doc_id,
  CAST(len(tk) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(tk)) AS BIGINT) AS n_unique,
  ROUND(CASE WHEN len(tk) > 0
        THEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to')))
                  AS DOUBLE)/len(tk) ELSE 0.0 END, 6) AS stop_ratio,
  ROUND(CASE WHEN len(tk) > 0
        THEN CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk) ELSE 0.0 END, 6)
    AS uniq_ratio,
  ROUND(0.5*(CASE WHEN len(tk) > 0
             THEN CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk) ELSE 0.0 END)
      + 0.3*(1.0 - CASE WHEN len(tk) > 0
             THEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to')))
                       AS DOUBLE)/len(tk) ELSE 0.0 END)
      + 0.2*LEAST(len(tk)/300.0, 1.0), 6) AS quality
FROM t
""",
    "text_lang_id": f"""
WITH t AS (
  SELECT lang, {_TOKS_D} AS tk FROM documents),
h AS (
  SELECT lang,
    len(list_intersect(tk, ['the','a','and','of','to','in','is'])) AS h_en,
    len(list_intersect(tk, ['el','la','de','que','y','los'])) AS h_es,
    len(list_intersect(tk, ['der','die','das','und','ist','nicht'])) AS h_de,
    len(list_intersect(tk, ['le','la','les','de','et','est'])) AS h_fr
  FROM t)
SELECT lang,
  CASE
    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
    WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
    WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
    WHEN h_fr > 0 THEN 'fr'
    ELSE 'und'
  END AS predicted,
  COUNT(*) AS n
FROM h
GROUP BY 1, 2
""",
    "text_token_counts": f"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len({_TOKS_O})) AS BIGINT) AS total_ws_tokens,
  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')))
       AS BIGINT) AS total_bpe_tokens
FROM documents
GROUP BY source
""",
    "doc_fingerprints": f"""
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_fp,
  md5(array_to_string(list_sort({_TOKS_D}), ' ')) AS bag_fp
FROM documents
""",
    # hex-pair k of an md5 digest, parsed to its byte value 0..255
    "multimodal_image_features": "\n".join(
        [
            "WITH m AS (SELECT doc_id AS media_id, text FROM documents"
            " WHERE doc_id % 3 = 0),",
            "h AS (SELECT media_id,"
            " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
            " md5(text) AS hx FROM m),",
            "b AS (SELECT media_id, n_bytes, hx,",
            ",\n".join(
                f"  ((strpos('0123456789abcdef', substr(hx, {2 * k + 1}, 1)) - 1) * 16"
                f" + strpos('0123456789abcdef', substr(hx, {2 * k + 2}, 1)) - 1)"
                f" AS byte{k}"
                for k in (0, 1, 7)
            ),
            "FROM h)",
            "SELECT media_id, n_bytes, hx AS content_md5,",
            "  CAST(16 + byte0 % 240 AS INT) AS width,",
            "  CAST(16 + byte1 % 240 AS INT) AS height,",
            "  ROUND(byte0 / 255.0, 6) AS feat_0,",
            "  ROUND(byte7 / 255.0, 6) AS feat_7",
            "FROM b",
        ]
    ),
    # audio stub: bytes 2 and 3 of md5(text) → rms stand-ins; duration =
    # byte length / 16000 Hz, all exact (no rounding)
    "multimodal_audio_features": "\n".join(
        [
            "WITH m AS (SELECT doc_id AS media_id, text FROM documents"
            " WHERE doc_id % 3 = 1),",
            "h AS (SELECT media_id,"
            " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
            " md5(text) AS hx FROM m),",
            "b AS (SELECT media_id, n_bytes,",
            ",\n".join(
                f"  ((strpos('0123456789abcdef', substr(hx, {2 * k + 1}, 1)) - 1) * 16"
                f" + strpos('0123456789abcdef', substr(hx, {2 * k + 2}, 1)) - 1)"
                f" AS byte{k}"
                for k in (2, 3)
            ),
            "FROM h)",
            "SELECT media_id, n_bytes, CAST(16000 AS INT) AS sample_rate,",
            "  n_bytes / 16000.0 AS duration_sec,",
            "  byte2 / 255.0 AS rms_lo,",
            "  byte3 / 255.0 AS rms_hi",
            "FROM b",
        ]
    ),
    "multimodal_frame_sample": """
WITH m AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
f AS (
  SELECT media_id, text,
    CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
  FROM m),
u AS (
  SELECT media_id, text, unnest(range(0, n_frames, 4)) AS idx FROM f)
SELECT media_id, CAST(idx AS INT) AS frame_idx,
  md5(substr(text, CAST(idx AS INT) * 64 + 1, 64)) AS frame_md5
FROM u
""",
    # PII patterns shared verbatim with operators.text_analysis
    # (RE2-safe subset, so both regex engines match identically);
    # sequential redaction in PII_PATTERNS order, like pii_redact.
    "text_pii_scrub": (
        "SELECT doc_id,\n  "
        + ",\n  ".join(
            f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
            for kind, pat, _ in PII_PATTERNS
        )
        + ",\n  md5("
        + _PII_REDACT_SQL
        + ") AS redacted_md5\nFROM documents ORDER BY doc_id"
    ),
    "text_repetition": f"""
WITH t AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> len(x) > 0) AS lines,
    {_TOKS_O} AS tk
  FROM documents),
g AS (
  SELECT doc_id, lines,
    CASE WHEN len(tk) >= 2
         THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t)
SELECT doc_id,
  ROUND(CASE WHEN len(lines) > 0
        THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
        ELSE 0.0 END, 6) AS dup_line_frac,
  ROUND(CASE WHEN len(grams) > 0
        THEN CAST(list_max(list_transform(list_distinct(grams),
               d -> len(list_filter(grams, x -> x = d)))) AS DOUBLE)
             / len(grams)
        ELSE 0.0 END, 6) AS top_bigram_frac,
  ROUND(CASE WHEN list_sum(list_transform(lines, x -> len(x))) > 0
        THEN CAST(list_max(list_transform(lines, x -> len(x))) AS DOUBLE)
             / list_sum(list_transform(lines, x -> len(x)))
        ELSE 0.0 END, 6) AS max_line_frac
FROM g
""",
    # stream = md5 hash-bucket (same derivation as text_split_counts);
    # pack = floor(start_offset / budget), start offsets via running sum
    # in (stream, doc_id) order — mirror of text_analysis.pack_offsets
    "text_pack_bins": f"""
WITH t AS (
  SELECT doc_id, len({_TOKS_O}) AS n_tokens,
    CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 8 AS stream
  FROM documents),
o AS (
  SELECT doc_id, n_tokens, stream,
    SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM t)
SELECT stream, CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id,
  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM o
GROUP BY 1, 2
ORDER BY 1, 2
""",
    # word-4-gram construction mirrors operators.dedup.shingles: starts
    # 1..len-n+1, n consecutive tokens space-joined, distinct, md5
    "text_contamination": f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
g AS (
  SELECT doc_id, doc_id % 97 = 0 AS is_eval,
    unnest(list_distinct(list_transform(range(1, len(tk) - 2),
      i -> md5(array_to_string(tk[i:i+3], ' '))))) AS gram
  FROM t WHERE len(tk) >= 4),
ev AS (SELECT DISTINCT gram FROM g WHERE is_eval)
SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
FROM g JOIN ev USING (gram)
WHERE NOT g.is_eval
GROUP BY 1
""",
    "text_stratified_sample": """
WITH r AS (
  SELECT doc_id, lang, source,
    ROW_NUMBER() OVER (
      PARTITION BY lang || '|' || source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
SELECT doc_id, lang, source FROM r WHERE rk <= 5
""",
}

# First-failing-rule funnel CTE chain ending in rv(doc_id, verdict);
# every sub-expression is the proven mirror from text_quality_docs /
# text_repetition / text_pii_scrub / text_lang_id. Shared by the funnel
# tally oracle and the end-to-end curation oracle.
_FUNNEL_CTES = f"""t AS (
  SELECT doc_id, text, {_TOKS_O} AS tk, {_TOKS_D} AS tkd,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> len(x) > 0) AS lines
  FROM documents),
f AS (
  SELECT doc_id, tk, tkd, lines,
    CASE WHEN len(tk) >= 2
         THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE CAST([] AS VARCHAR[]) END AS grams,
    len(regexp_extract_all(text, '{PII_PATTERNS[0][1]}'))
      + len(regexp_extract_all(text, '{PII_PATTERNS[1][1]}'))
      + len(regexp_extract_all(text, '{PII_PATTERNS[2][1]}'))
      + len(regexp_extract_all(text, '{PII_PATTERNS[3][1]}')) AS pii_total,
    len(list_intersect(tkd, ['the','a','and','of','to','in','is'])) AS h_en,
    len(list_intersect(tkd, ['el','la','de','que','y','los'])) AS h_es,
    len(list_intersect(tkd, ['der','die','das','und','ist','nicht'])) AS h_de,
    len(list_intersect(tkd, ['le','la','les','de','et','est'])) AS h_fr
  FROM t),
r AS (
  SELECT doc_id, pii_total, h_en, h_es, h_de, h_fr,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    ROUND(CASE WHEN len(lines) > 0
          THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
          ELSE 0.0 END, 6) AS dup_line_frac,
    ROUND(CASE WHEN len(grams) > 0
          THEN CAST(list_max(list_transform(list_distinct(grams),
                 d -> len(list_filter(grams, x -> x = d)))) AS DOUBLE)
               / len(grams)
          ELSE 0.0 END, 6) AS top_bigram_frac,
    ROUND(0.5*(CASE WHEN len(tk) > 0
               THEN CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk) ELSE 0.0 END)
        + 0.3*(1.0 - CASE WHEN len(tk) > 0
               THEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to')))
                         AS DOUBLE)/len(tk) ELSE 0.0 END)
        + 0.2*LEAST(len(tk)/300.0, 1.0), 6) AS quality
  FROM f),
rv AS (
  SELECT doc_id, CASE
    WHEN n_tokens < 20 THEN 'too_short'
    WHEN pii_total > 0 THEN 'contains_pii'
    WHEN dup_line_frac > 0.3 OR top_bigram_frac > 0.2 THEN 'repetitive'
    WHEN NOT (h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr
              OR h_es > 0 AND h_es >= h_de AND h_es >= h_fr
              OR h_de > 0 AND h_de >= h_fr
              OR h_fr > 0) THEN 'no_language'
    WHEN quality < 0.55 THEN 'low_quality'
    ELSE 'kept'
  END AS verdict
  FROM r)"""

# md5-hex → int bucket in [0,100): Σ nibble·16^k over the first 8 hex
# chars, exact in double (< 2^53) — mirrors operators.hash_bucket
_MD5_BUCKET_SQL = """CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 100"""

ORACLES["text_filter_funnel"] = f"""
WITH {_FUNNEL_CTES}
SELECT verdict, COUNT(*) AS n_docs
FROM rv
GROUP BY 1
"""

# the whole curation pipeline: funnel keep-set → LSH dedup among kept →
# component representatives → md5 split → per (split, lang) accounting
ORACLES["llm_corpus_curation"] = f"""
WITH RECURSIVE {_FUNNEL_CTES},
keptd AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN rv ON d.doc_id = rv.doc_id
  WHERE rv.verdict = 'kept'),
{_CLUSTER_CTES_T.format(src='keptd')},
dropd AS (SELECT node FROM comp WHERE node <> component),
final AS (
  SELECT k.doc_id, k.lang, CAST(len({_TOKS_O}) AS BIGINT) AS n_tok
  FROM keptd k LEFT JOIN dropd dr ON k.doc_id = dr.node
  WHERE dr.node IS NULL),
spl AS (
  SELECT lang, n_tok,
    {_MD5_BUCKET_SQL} AS bkt
  FROM final)
SELECT CASE WHEN bkt < 90 THEN 'train'
            WHEN bkt < 95 THEN 'val'
            ELSE 'test' END AS split,
  lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM spl
GROUP BY 1, 2
"""

# 64-token windows at stride 48: starts 0,48,96,… while start < n_tok;
# Spark slice(toks, s+1, 64) ≡ DuckDB list_slice(tk, s+1, s+64) (both
# 1-based, clamped)
ORACLES["text_chunk_windows"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
ch AS (
  SELECT doc_id,
    unnest(range(0, CAST(floor((len(tk) - 1) / 48) AS BIGINT) + 1)) AS chunk_idx,
    tk
  FROM tok WHERE len(tk) >= 1)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  CAST(len(list_slice(tk, CAST(chunk_idx*48+1 AS INT), CAST(chunk_idx*48+64 AS INT))) AS BIGINT) AS n_chunk_tokens,
  md5(array_to_string(list_slice(tk, CAST(chunk_idx*48+1 AS INT), CAST(chunk_idx*48+64 AS INT)), ' ')) AS chunk_md5
FROM ch
"""

_BUCKET_CASE = " ".join(
    f"WHEN n <= {b} THEN {b}" for b in _LEN_BUCKETS
)
ORACLES["text_length_histogram"] = f"""
WITH n AS (
  SELECT CAST(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n
  FROM documents),
b AS (
  SELECT CASE {_BUCKET_CASE} ELSE {2 * _LEN_BUCKETS[-1]} END AS seq_bucket, n
  FROM n)
SELECT seq_bucket, COUNT(*) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS sum_tokens,
  seq_bucket * COUNT(*) - CAST(SUM(n) AS BIGINT) AS padding_waste
FROM b
GROUP BY seq_bucket
"""

ORACLES["text_domain_cap"] = f"""
WITH t AS (
  SELECT doc_id, source, {_TOKS_O} AS tk FROM documents),
s AS (
  SELECT doc_id, source,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    ROUND(0.5*(CASE WHEN len(tk) > 0
               THEN CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk) ELSE 0.0 END)
        + 0.3*(1.0 - CASE WHEN len(tk) > 0
               THEN CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to')))
                         AS DOUBLE)/len(tk) ELSE 0.0 END)
        + 0.2*LEAST(len(tk)/300.0, 1.0), 6) AS quality
  FROM t),
r AS (
  SELECT source, n_tokens,
    ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY quality DESC, doc_id ASC) AS rk
  FROM s)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN rk <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN rk <= 30 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM r GROUP BY source ORDER BY source
"""

ORACLES["text_shard_plan"] = """
WITH k AS (
  SELECT doc_id, n_chars,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents),
r AS (
  SELECT doc_id, n_chars, h, h % 8 AS shard,
    ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
  FROM k)
SELECT shard,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  arg_min(doc_id, pos) AS first_doc,
  arg_max(doc_id, pos) AS last_doc,
  CAST(SUM(CAST((pos % 8191) * (h % 8191) AS DECIMAL(38,0)))
       % 1000000007 AS BIGINT) AS order_checksum
FROM r GROUP BY shard ORDER BY shard
"""


_NORM_SQL = "list_transform({v}, x -> x / sqrt(list_sum(list_transform({v}, y -> y*y))))"


def _pq_oracle(
    m: int = 8, sub: int = 8, k: int = 64, iters: int = 1,
    qid: int = 42, shortlist: int = 100, topk: int = 10,
) -> str:
    """sim_ann_pq oracle: L2-normalize, m per-block spherical-k-means
    fits (the shared chain, prefixed b0..b{m-1} over sub-dim slices),
    per-block ADC score tables dot(qn_b, sum_cv)/n, the fixed-order
    block-score sum mirroring the Spark expression tree, the ADC
    top-`shortlist` heap, and an exact-cosine re-rank over the raw
    vectors (cosine is normalization-invariant)."""
    parts = [
        f"""WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM v WHERE vec_id = {qid}),
qn AS (SELECT {_NORM_SQL.format(v='qv')} AS qv FROM q),
allbase AS (SELECT * FROM v WHERE vec_id <> {qid}),
nbase AS (SELECT vec_id, {_NORM_SQL.format(v='v')} AS v FROM allbase)"""
    ]
    for b in range(m):
        lo, hi = b * sub + 1, (b + 1) * sub
        parts.append(
            f""",
b{b}base AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM nbase),
b{b}cents0 AS (
  SELECT vec_id AS cent_id, list_transform(v, x -> round(x, 6)) AS cv
  FROM b{b}base WHERE vec_id < {k})"""
        )
        parts.append(_kmeans_chain(iters, prefix=f"b{b}", dims=sub))
        parts.append(
            f""",
b{b}n AS (SELECT cent_id, COUNT(*) AS n FROM b{b}fassign GROUP BY 1),
b{b}s AS (
  SELECT f.vec_id,
    list_sum(list_transform(range(1, {sub + 1}),
                            i -> qn.qv[{b * sub} + i] * c.cv[i])) / n.n AS s
  FROM b{b}fassign f
  JOIN b{b}cents{iters} c USING (cent_id)
  JOIN b{b}n n USING (cent_id), qn)"""
        )
    score = "b0s.s"
    for b in range(1, m):
        score = f"({score} + b{b}s.s)"
    joins = " ".join(f"JOIN b{b}s ON a.vec_id = b{b}s.vec_id" for b in range(m))
    parts.append(
        f""",
short AS (
  SELECT a.vec_id FROM nbase a {joins}
  ORDER BY {score} DESC, a.vec_id ASC
  LIMIT {shortlist}),
cand AS (
  SELECT b.vec_id, b.label, {_cos_sql('b.v', 'q.qv')} AS c
  FROM allbase b JOIN short USING (vec_id), q)
SELECT vec_id, label, ROUND(c, 4) AS cosine
FROM cand
ORDER BY c DESC, vec_id ASC
LIMIT {topk}"""
    )
    return "".join(parts)


QUERIES["sim_ann_pq"] = sim_ann_pq
ORACLES["sim_ann_pq"] = _pq_oracle()


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first 8 BPE merges over the documents corpus
    (operators.text_analysis.bpe_train): word-histogram trainer, greedy
    most-frequent-pair selection with lexicographic tiebreak, literal
    sentinel-replace merge application. The oracle re-derives the whole
    merge SEQUENCE dynamically in SQL — each round's chosen pair feeds
    the next round's replace — so a single divergent choice anywhere in
    the chain flips the hash."""
    from nashville_etl_service_backup_spark.operators.text_analysis import bpe_train

    docs = load(spark, sf_dir, "documents")
    return bpe_train(docs, text_col="text", n_merges=8)


def _rep_chain(var: str, passes: int) -> str:
    """Repeat the sentinel pair-merge replace `passes` times — the SQL
    mirror of text_analysis._BPE_APPLY_PASSES (fixpoint convergence for
    consecutive pair occurrences; see bpe_train docstring)."""
    s = var
    for _ in range(passes):
        s = (
            f"replace({s}, '|' || t.l || '|' || t.r || '|',"
            f" '|' || t.l || t.r || '|')"
        )
    return s


def _bpe_oracle(n_merges: int = 8) -> str:
    parts = [
        f"""WITH tok AS (
  SELECT unnest({_TOKS_O}) AS w FROM documents),
w0 AS MATERIALIZED (
  SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s,
         COUNT(*) AS freq
  FROM tok GROUP BY w)"""
    ]
    for t in range(n_merges):
        parts.append(
            f""",
sy{t} AS (
  SELECT list_filter(string_split(s, '|'), x -> x <> '') AS sy, freq
  FROM w{t}),
pc{t} AS (
  SELECT p.l AS l, p.r AS r, SUM(freq) AS freq FROM (
    SELECT unnest(list_transform(range(1, len(sy)),
                                 i -> {{'l': sy[i], 'r': sy[i+1]}})) AS p,
           freq
    FROM sy{t}) GROUP BY 1, 2),
top{t} AS MATERIALIZED (
  SELECT l, r, freq FROM pc{t} ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
w{t + 1} AS MATERIALIZED (
  SELECT {_rep_chain('w.s', 6)} AS s, w.freq AS freq
  FROM w{t} w, top{t} t),
v{t} AS (
  SELECT COUNT(DISTINCT sym) AS vocab_size FROM (
    SELECT unnest(list_filter(string_split(s, '|'), x -> x <> '')) AS sym
    FROM w{t + 1}))"""
        )
    selects = [
        f"""SELECT {t} AS step, t.l AS lhs, t.r AS rhs,
       CAST(t.freq AS BIGINT) AS freq, v.vocab_size
FROM top{t} t, v{t} v"""
        for t in range(n_merges)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY step")
    return "".join(parts)


QUERIES["text_bpe_merges"] = text_bpe_merges
ORACLES["text_bpe_merges"] = _bpe_oracle()


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span mass: the fraction of word 5-gram
    positions whose 5-gram occurs in >= 2 documents — the equi-shuffle
    approximation of ExactSubstr dedup (Lee et al. 2022); see
    operators.text_analysis.duplicated_span_stats for the scale shape."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        duplicated_span_stats,
    )

    docs = spread(load(spark, sf_dir, "documents"))
    return duplicated_span_stats(docs, "doc_id", "text", n=5, min_docs=2)


def text_alpha_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) language sampling rates — the
    mT5/XLM-R low-resource-upsampling mixture; sqrt keeps the rates
    bit-identical cross-engine (see temperature_mixture_rates)."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        temperature_mixture_rates,
    )

    docs = load(spark, sf_dir, "documents")
    return temperature_mixture_rates(docs, "lang")


# DSIR target language shares (integer percent, sums to 100): upsample
# the non-English languages relative to the en-dominant corpus.
_DSIR_SHARES = {"en": 30, "zh": 20, "es": 20, "de": 15, "fr": 15}


def text_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style deterministic importance resampling toward the fixed
    target language distribution, half-corpus budget — exact-integer
    accept rule on a salted md5 bucket (see importance_resample)."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        importance_resample,
    )

    docs = load(spark, sf_dir, "documents")
    return importance_resample(
        docs, "doc_id", "lang", _DSIR_SHARES, sample_num=1, sample_den=2
    )


# fixed BPE merge table for the encode query — a model artifact baked
# into the plan as literals, like the IVF centroids or the ANN query
# vector (training's output is pinned separately by text_bpe_merges)
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
    ("a", "n"), ("r", "e"), ("o", "n"), ("s", "t"),
]


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: segment every document with the fixed 8-merge
    BPE table and report per-doc word count, BPE token count, and
    fertility (tokens per word) — a pure narrow JVM projection, no
    shuffle/UDF (see bpe_segment_counts)."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bpe_segment_counts,
    )

    docs = spread(load(spark, sf_dir, "documents"))
    return bpe_segment_counts(docs, "doc_id", "text", _BPE_MERGES)


QUERIES["text_dup_spans"] = text_dup_spans
QUERIES["text_alpha_mixture"] = text_alpha_mixture
QUERIES["text_dsir_sample"] = text_dsir_sample
QUERIES["text_bpe_encode"] = text_bpe_encode

ORACLES["text_dup_spans"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
g AS (
  SELECT doc_id,
    md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])) AS gram
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
        FROM tok WHERE len(tk) >= 5)),
dg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
dfq AS (SELECT gram, COUNT(*) AS ndocs FROM dg GROUP BY 1),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS ng,
         CAST(SUM(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS BIGINT) AS nd
  FROM dg JOIN dfq USING (gram) GROUP BY 1)
SELECT d.doc_id,
  COALESCE(ng, 0) AS n_grams,
  COALESCE(nd, 0) AS n_dup_grams,
  CASE WHEN COALESCE(ng, 0) > 0
       THEN ROUND(CAST(nd AS DOUBLE) / ng, 6) END AS dup_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""

ORACLES["text_alpha_mixture"] = """
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS N FROM c),
s AS (SELECT lang, n_docs, N,
        CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE) / N), 9)
             AS DECIMAL(18,9)) AS s
      FROM c, t),
z AS (SELECT SUM(s) AS Z FROM s)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
  ROUND(CAST(n_docs AS DOUBLE) / N, 6) AS p_corpus,
  ROUND(CAST(s AS DOUBLE) / CAST(Z AS DOUBLE), 6) AS samp_rate,
  CAST(FLOOR(ROUND(CAST(s AS DOUBLE) / CAST(Z AS DOUBLE), 6) * N)
       AS BIGINT) AS expected_docs
FROM s, z
"""

_DSIR_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _DSIR_SHARES.items()
)
ORACLES["text_dsir_sample"] = f"""
WITH c AS (SELECT lang, COUNT(*) AS ng FROM documents GROUP BY 1),
t AS (SELECT CAST(SUM(ng) AS BIGINT) AS N FROM c),
d AS (SELECT CAST(FLOOR(CAST(N AS DOUBLE) * 1 / 2) AS BIGINT) AS desired
      FROM t)
SELECT doc_id, lang
FROM documents
JOIN c USING (lang), d
WHERE (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       % 100000) * 100 * ng
    < (CASE lang {_DSIR_CASE} ELSE 0 END) * desired * 100000
"""


def _bpe_encode_chain(var: str) -> str:
    s = f"'|' || regexp_replace({var}, '(.)', '\\1|', 'g')"
    for left, right in _BPE_MERGES:
        for _ in range(6):  # mirrors text_analysis._BPE_APPLY_PASSES
            s = f"replace({s}, '|{left}|{right}|', '|{left}{right}|')"
    return s


ORACLES["text_bpe_encode"] = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
e AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(tk, w ->
      len(list_filter(string_split({_bpe_encode_chain('w')}, '|'),
                      x -> x <> '')))), 0) AS BIGINT) AS nb
  FROM tok)
SELECT doc_id, n_words, nb AS n_bpe_tokens,
  CASE WHEN n_words > 0
       THEN ROUND(CAST(nb AS DOUBLE) / n_words, 6) END AS fertility
FROM e
"""


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 (terms spark/window/vector) fused
    with dense cosine top-50 (query vec_id=0) by reciprocal-rank fusion
    — the standard RAG retrieval combiner; see similarity.rrf_fuse."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        rrf_fuse,
    )

    docs = load(spark, sf_dir, "documents")
    bm25 = bm25_topk(
        docs, "doc_id", "text", ["spark", "window", "vector"], k=50
    )
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    cos = cosine_topk(
        emb.filter(F.col("vec_id") != 0), query, k=50, extra_cols=()
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse([(bm25, "bm25"), (cos, "cosine")], id_col="doc_id", k=10)


def text_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-refresh snapshot diff: two deterministic snapshot
    views of the documents table (ids dropped on either side, a 1-in-13
    content revision) classified added/removed/changed/unchanged via one
    fingerprint full-outer join; see dedup.snapshot_delta."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        snapshot_delta,
    )
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        content_fingerprint,
    )

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id", content_fingerprint(F.col("text")).alias("fp")
    )
    new_text = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.col("text"), F.lit(" revised edition")),
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") % 19 != 5).select(
        "doc_id", content_fingerprint(new_text).alias("fp")
    )
    return snapshot_delta(old, new, "doc_id", "fp")


QUERIES["hybrid_search_rrf"] = hybrid_search_rrf
QUERIES["text_snapshot_delta"] = text_snapshot_delta

ORACLES["hybrid_search_rrf"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk FROM documents),
d AS (
  SELECT doc_id, len(tk) AS dl,
    len(list_filter(tk, x -> x = 'spark'))  AS tf_0,
    len(list_filter(tk, x -> x = 'window')) AS tf_1,
    len(list_filter(tk, x -> x = 'vector')) AS tf_2
  FROM t),
s AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
    SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
    SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
    SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
  FROM d),
bm AS (
  SELECT doc_id, ROUND(
      ln(1.0 + (n_docs - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
        * CAST(tf_0 AS DOUBLE) * (1.2 + 1.0)
        / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
    + ln(1.0 + (n_docs - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
        * CAST(tf_1 AS DOUBLE) * (1.2 + 1.0)
        / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
    + ln(1.0 + (n_docs - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
        * CAST(tf_2 AS DOUBLE) * (1.2 + 1.0)
        / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
    , 6) AS bm25
  FROM d, s
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT 50),
bmr AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_0
  FROM bm),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0),
sc AS (
  SELECT vec_id AS doc_id, {_cos_sql('v', 'qv')} AS c
  FROM base, q
  ORDER BY c DESC, vec_id ASC
  LIMIT 50),
cr AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY ROUND(c, 4) DESC, doc_id ASC) AS rank_1
  FROM sc),
f AS (
  SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id, rank_0, rank_1,
    ROUND(COALESCE(1.0 / (60 + rank_0), 0.0)
        + COALESCE(1.0 / (60 + rank_1), 0.0), 6) AS rrf
  FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id)
SELECT doc_id, rank_0, rank_1, rrf
FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""

_FP_SQL = "md5(trim(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g')))"
ORACLES["text_snapshot_delta"] = f"""
WITH o AS (
  SELECT doc_id, {_FP_SQL.format(t='text')} AS fp
  FROM documents WHERE doc_id % 17 <> 3),
n AS (
  SELECT doc_id,
    {_FP_SQL.format(t="CASE WHEN doc_id % 13 = 0 THEN text || ' revised edition' ELSE text END")} AS fp
  FROM documents WHERE doc_id % 19 <> 5)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.fp IS NULL THEN 'added'
       WHEN n.fp IS NULL THEN 'removed'
       WHEN o.fp <> n.fp THEN 'changed'
       ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


_HTML_NAV = '<div class="nav"><a href="/">Home</a> <a href="/up">Up</a></div>'
_HTML_EXTRA = '<li><a href="/arch">Archive &amp; tags</a></li>'
_HTML_SCRIPT = (
    '<script type="text/javascript">var n = 1; if (n < 2) { n = 3; }</script>'
)
_HTML_TAIL = (
    '</p><p>terms &amp; conditions apply</p>'
    '<div class="footer"><a href="/contact">Contact</a></div></body></html>'
)


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction over deterministically synthesized HTML
    pages (title + nav links + optional script noise + the document body
    + an entity-bearing footer), the trafilatura/jusText-lite recipe —
    see operators.text_analysis.html_extract. The synthetic wrapper
    plays the role the md5-fake media bytes play for the multimodal
    queries: the EXTRACTION algebra is the thing under test."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        html_extract,
    )

    docs = spread(load(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; friends</title><style>p { margin: 0; }</style></head><body>"),
        F.lit(_HTML_NAV),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HTML_EXTRA)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit(_HTML_SCRIPT)).otherwise(F.lit("")),
        F.lit("<p>"),
        F.col("text"),
        F.lit(_HTML_TAIL),
    )
    return html_extract(
        docs.select("doc_id", html.alias("html")), "doc_id", "html"
    )


QUERIES["text_html_extract"] = text_html_extract


def _duck_entities(expr: str) -> str:
    for ent, ch in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
        ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"),
    ):
        expr = f"replace({expr}, '{ent}', '{ch}')"
    return expr


def _html_oracle() -> str:
    nav = _HTML_NAV.replace("'", "''")
    extra = _HTML_EXTRA.replace("'", "''")
    script = _HTML_SCRIPT.replace("'", "''")
    tail = _HTML_TAIL.replace("'", "''")
    collapse = "trim(regexp_replace({e}, '\\s+', ' ', 'g'))"
    s1 = (
        "regexp_replace(regexp_replace(html,"
        " '(?is)<script[^>]*>.*?</script>', ' ', 'g'),"
        " '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    )
    return f"""
WITH pages AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || ' &amp; friends</title><style>p {{ margin: 0; }}</style></head><body>'
    || '{nav}'
    || CASE WHEN doc_id % 3 = 0 THEN '{extra}' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN '{script}' ELSE '' END
    || '<p>' || text || '{tail}' AS html
  FROM documents),
s AS (
  SELECT doc_id, {s1} AS s1 FROM pages),
sh AS (
  SELECT doc_id, s1,
    regexp_replace(s1, '(?is)<head[^>]*>.*?</head>', ' ', 'g') AS s1b
  FROM s),
parts AS (
  SELECT doc_id,
    {_duck_entities("regexp_extract(s1, '(?is)<title[^>]*>(.*?)</title>', 1)")} AS title_raw,
    list_transform(
      regexp_extract_all(s1b, '(?is)<a[^>]*>(.*?)</a>', 1),
      a -> {collapse.format(e=_duck_entities("regexp_replace(a, '<[^>]*>', ' ', 'g')"))}
    ) AS anchors,
    {_duck_entities("regexp_replace(regexp_replace(s1b, '(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/table)[^>]*>', chr(10), 'g'), '<[^>]*>', ' ', 'g')")} AS s3
  FROM sh),
ln AS (
  SELECT doc_id, title_raw, anchors, s3,
    list_filter(
      list_transform(string_split(s3, chr(10)),
                     l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))),
      l -> l <> '' AND len(string_split(l, ' ')) >= 3) AS kept,
    length(trim(regexp_replace(regexp_replace(s3, chr(10), ' ', 'g'),
                               '\\s+', ' ', 'g'))) AS total_chars
  FROM parts)
SELECT doc_id,
  trim(regexp_replace(title_raw, '\\s+', ' ', 'g')) AS title,
  CAST(len(anchors) AS BIGINT) AS n_links,
  CASE WHEN total_chars > 0 THEN
    ROUND(CAST(COALESCE(list_sum(list_transform(anchors, a -> length(a))), 0)
               AS DOUBLE) / total_chars, 6) END AS link_char_frac,
  CAST(len(kept) AS BIGINT) AS n_lines_kept,
  CAST(total_chars AS BIGINT) AS n_text_chars,
  md5(array_to_string(kept, chr(10))) AS text_md5
FROM ln
"""


ORACLES["text_html_extract"] = _html_oracle()


_URL_BLOCKLIST = ["src3.com", "src7.org", "src12.com"]


def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable-domain extraction + blocklist
    verdict over deterministically synthesized messy URLs (upper-case
    scheme/host, default ports, tracking params, fragments, trailing
    slashes) — the crawl-side hygiene pass before URL-level dedup; see
    operators.text_analysis.normalize_url / url_domain."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        normalize_url,
        url_domain,
    )

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 11 == 0, "HTTPS://").otherwise(F.lit("https://")),
        F.lit("WWW."),
        F.col("source"),
        F.when(d % 2 == 0, ".com").otherwise(F.lit(".org")),
        F.when(d % 7 == 0, ":443").otherwise(F.lit("")),
        F.lit("/posts/"),
        d.cast("string"),
        F.when(d % 13 == 0, "/").otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(d % 5 == 1, F.concat(F.lit("?id="), d.cast("string"), F.lit("&utm_medium=email")))
        .when(d % 5 == 2, F.lit("?gclid=abc123"))
        .when(d % 5 == 3, F.lit("#section-2"))
        .otherwise(F.lit("")),
    )
    norm = normalize_url(raw)
    dom = url_domain(norm)
    status = F.when(dom.isin(*_URL_BLOCKLIST), "blocked").otherwise(
        F.lit("kept")
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_url"),
        dom.alias("domain"),
        status.alias("status"),
    )


QUERIES["text_url_normalize"] = text_url_normalize


def _duck_norm_url(var: str) -> str:
    """DuckDB mirror of operators.text_analysis.normalize_url — same
    step order, \\1-style replacement backrefs, explicit 'g' flags."""
    pre = "regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)"
    u = f"regexp_replace(trim({var}), '#.*$', '', 'g')"
    u = (
        f"lower({pre.format(u=u)}) || "
        f"substr({u}, length({pre.format(u=u)}) + 1)"
    )
    for scheme, port in (("http", "80"), ("https", "443")):
        for ctx, repl in (("/", r"\1/"), (r"\?", r"\1?"), ("$", r"\1")):
            u = (
                f"regexp_replace({u}, "
                f"'^({scheme}://[^/:?#]+):{port}{ctx}', '{repl}', 'g')"
            )
    trk = "(?:utm_[a-z]+|gclid|fbclid|ref)"
    for _ in range(3):
        u = f"regexp_replace({u}, '([?&]){trk}=[^&]*&', '\\1', 'g')"
    u = f"regexp_replace({u}, '[?&]{trk}=[^&]*$', '', 'g')"
    u = f"regexp_replace({u}, '\\?&', '?', 'g')"
    u = f"regexp_replace({u}, '[?&]$', '', 'g')"
    return f"regexp_replace({u}, '^(.*[^/])/$', '\\1', 'g')"


ORACLES["text_url_normalize"] = f"""
WITH raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 11 = 0 THEN 'HTTPS://' ELSE 'https://' END)
    || 'WWW.' || source
    || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
    || '/posts/' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END)
    || (CASE doc_id % 5
        WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
        WHEN 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_medium=email'
        WHEN 2 THEN '?gclid=abc123'
        WHEN 3 THEN '#section-2'
        ELSE '' END) AS u0
  FROM documents),
n AS (
  SELECT doc_id, {_duck_norm_url('u0')} AS norm_url FROM raw),
d AS (
  SELECT doc_id, norm_url,
    regexp_extract(
      regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1),
      '([^.]+\\.[^.]+)$', 1) AS domain
  FROM n)
SELECT doc_id, norm_url, domain,
  CASE WHEN domain IN ({", ".join("'" + b + "'" for b in _URL_BLOCKLIST)})
       THEN 'blocked' ELSE 'kept' END AS status
FROM d
"""


def llm_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataloader-prep composition: quality funnel → BPE tokenization
    (the fixed 8-merge table) → concatenate-then-chunk packing into
    384-token context windows across 8 hash streams, reported as
    per-pack occupancy. Pins the funnel→tokenizer→packer CHAIN — the
    batch-shaping pipeline a pretraining loader runs — the way
    llm_corpus_curation pins the funnel→dedup→split chain."""
    from pyspark.sql.window import Window

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bpe_segment_counts,
        hash_bucket,
    )

    docs = spread(load(spark, sf_dir, "documents"))
    _, survivors = _funnel_split(docs, keep_cols=("doc_id",))
    kept = survivors.filter(F.col("late_verdict") == "kept").select(
        "doc_id", "text"
    )
    counts = bpe_segment_counts(kept, "doc_id", "text", _BPE_MERGES).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    base = counts.withColumn("stream", hash_bucket(F.col("doc_id"), 8))
    w = Window.partitionBy("stream").orderBy("doc_id")
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = base.withColumn("start_offset", start).withColumn(
        "pack_id", F.floor(F.col("start_offset") / F.lit(384.0)).cast("long")
    )
    return (
        packed.groupBy("stream", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("stream", "pack_id")
    )


QUERIES["llm_tokenize_pack"] = llm_tokenize_pack

ORACLES["llm_tokenize_pack"] = f"""
WITH {_FUNNEL_CTES},
keptd AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN rv ON d.doc_id = rv.doc_id
  WHERE rv.verdict = 'kept'),
cnt AS (
  SELECT doc_id,
    CAST(COALESCE(list_sum(list_transform({_TOKS_O}, w ->
      len(list_filter(string_split({_bpe_encode_chain('w')}, '|'),
                      x -> x <> '')))), 0) AS BIGINT) AS n_tokens,
    CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 8 AS stream
  FROM keptd),
o AS (
  SELECT doc_id, n_tokens, stream,
    SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM cnt)
SELECT stream, CAST(floor(start_offset / 384.0) AS BIGINT) AS pack_id,
  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM o
GROUP BY 1, 2
ORDER BY 1, 2
"""


def sim_ann_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via Johnson–Lindenstrauss compression: 64→32-dim
    md5-derived projection, projected-cosine top-100 shortlist,
    exact-cosine re-rank — the training-free compression rung of the
    similarity ladder (see similarity.jl_topk). Exact-oracled: the 16
    projection planes are embedded as float literals on both sides."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        jl_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return jl_topk(emb.filter(F.col("vec_id") != 0), query, k=10)


QUERIES["sim_ann_jl"] = sim_ann_jl


def _jl_oracle(out_dim: int = 32, shortlist: int = 100, k: int = 10) -> str:
    plane_defs = ", ".join(
        f"{_float_plane_list(100 + j)} AS jp{j}" for j in range(out_dim)
    )
    pv = ", ".join(
        f"list_sum(list_transform(range(1, 65), i -> v[i] * jp{j}[i])) AS pv{j}"
        for j in range(out_dim)
    )
    qv = ", ".join(
        f"list_sum(list_transform(range(1, 65), i -> qv[i] * jp{j}[i])) AS qp{j}"
        for j in range(out_dim)
    )
    pvl = "[" + ", ".join(f"pv{j}" for j in range(out_dim)) + "]"
    qpl = "[" + ", ".join(f"qp{j}" for j in range(out_dim)) + "]"
    return f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS (SELECT {plane_defs}),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
proj AS (
  SELECT vec_id, label, v, {pv}
  FROM v, planes WHERE vec_id <> 0),
qproj AS (SELECT {qv} FROM q, planes),
pc AS (
  SELECT vec_id, label, v,
    {_cos_sql(pvl, qpl, out_dim)} AS pcos
  FROM proj, qproj),
short AS (
  SELECT vec_id, label, v FROM pc
  ORDER BY pcos DESC, vec_id ASC LIMIT {shortlist}),
rer AS (
  SELECT s.vec_id, s.label, {_cos_sql('s.v', 'q.qv')} AS c
  FROM short s, q)
SELECT vec_id, label, ROUND(c, 4) AS cosine
FROM rer ORDER BY c DESC, vec_id ASC LIMIT {k}
"""


ORACLES["sim_ann_jl"] = _jl_oracle()


def sim_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization + recall@10 audit for the exact
    inner-product top-10 of vec_id=7 (operators.similarity.
    int8_quantize_topk): symmetric global max-abs scale fitted on the
    corpus (one-row broadcast aggregate), clamp(floor(x/s·127+0.5))
    codes, EXACT integer-dot quantized ranking, and per-row
    in_quant_topk membership flags — sum/10 is recall@10. The 4×
    compressed-scan story for 100 TB ANN with the quality loss
    measured in-engine; quantizer arithmetic is floor-form binary
    double math, bit-identical in DuckDB's twin."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        int8_quantize_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 7).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return int8_quantize_topk(
        emb.filter(F.col("vec_id") != 7), query, k=10
    )


QUERIES["sim_quantize_recall"] = sim_quantize_recall


def sim_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-4 from the exact-cosine top-8 shortlist of
    vec_id=0 (operators.similarity.mmr_topk, λ=0.7): greedy
    relevance-minus-redundancy selection so near-duplicates don't
    crowd the result list. Shortlist + pairwise sims in-engine; the
    greedy loop runs on the bounded shortlist² scalar matrix."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        mmr_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    return mmr_topk(
        emb.filter(F.col("vec_id") != 0), query, k=4, shortlist=8, lam=0.7
    )


QUERIES["sim_mmr_diverse"] = sim_mmr_diverse


def _mmr_oracle(k: int = 4, shortlist: int = 8, qid: int = 0) -> str:
    """Unroll the k greedy MMR steps as CTEs. The redundancy weight is
    written (1.0 - 0.7), NOT 0.3 — Python computes 1.0-lam in doubles
    (0.30000000000000004) and the SQL must replay the same bits."""
    steps = []
    sel: list[str] = []
    for i in range(1, k + 1):
        if i == 1:
            steps.append(
                "s1 AS MATERIALIZED (SELECT vec_id, sq,"
                " 0.7 * sq - (1.0 - 0.7) * 0.0 AS score"
                " FROM cands ORDER BY score DESC, vec_id ASC LIMIT 1)"
            )
        else:
            prev = " UNION ALL ".join(
                f"SELECT vec_id FROM s{j}" for j in range(1, i)
            )
            steps.append(
                f"s{i} AS MATERIALIZED (SELECT c.vec_id, c.sq,"
                f" 0.7 * c.sq - (1.0 - 0.7) * COALESCE((SELECT MAX(p.sab)"
                f" FROM pr p WHERE p.ia = c.vec_id"
                f" AND p.ib IN ({prev})), 0.0) AS score"
                f" FROM cands c WHERE c.vec_id NOT IN ({prev})"
                f" ORDER BY score DESC, c.vec_id ASC LIMIT 1)"
            )
        sel.append(
            f"SELECT vec_id, {i} AS mmr_rank, ROUND(sq, 4) AS sim_to_query,"
            f" ROUND(score, 4) AS mmr_score FROM s{i}"
        )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM v WHERE vec_id = {qid}),
cands AS MATERIALIZED (
  SELECT vec_id, {_cos_sql('v.v', 'q.qv')} AS sq, v.v AS v
  FROM v CROSS JOIN q WHERE vec_id <> {qid}
  ORDER BY sq DESC, vec_id ASC LIMIT {shortlist}),
pr AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {_cos_sql('a.v', 'b.v')} AS sab
  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
{", ".join(steps)}
SELECT * FROM ({" UNION ALL ".join(sel)}) ORDER BY mmr_rank
"""


ORACLES["sim_mmr_diverse"] = _mmr_oracle()


def sim_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the SRP-LSH ANN ranking against the exact cosine
    ideal (operators.similarity.ndcg_at_k) — the ranking-quality audit
    that complements recall: a hit at rank 1 is worth more than the
    same hit at rank 10. Composes the two existing retrieval paths;
    the windows run on the two top-10 frames (metric-sized)."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        ndcg_at_k,
    )

    return ndcg_at_k(
        sim_ann_lsh(spark, sf_dir),
        sim_topk_bruteforce(spark, sf_dir),
        k=10,
    )


QUERIES["sim_ann_ndcg"] = sim_ann_ndcg


def _ndcg_oracle(k: int = 10) -> str:
    return f"""
WITH ranked AS ({ORACLES["sim_ann_lsh"]}),
ideal AS ({ORACLES["sim_topk_bruteforce"]}),
r AS (SELECT vec_id,
        ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rrank
      FROM ranked),
i AS (SELECT vec_id,
        ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS irank
      FROM ideal),
d AS (SELECT COUNT(*) AS n_hits,
        SUM(CAST(ROUND(({k} + 1 - irank) / log2(rrank + 1.0), 9)
            AS DECIMAL(28,9))) AS dcg
      FROM r JOIN i USING (vec_id)),
ic AS (SELECT SUM(CAST(ROUND(({k} + 1 - irank) / log2(irank + 1.0), 9)
            AS DECIMAL(28,9))) AS idcg
       FROM i)
SELECT {k} AS k, n_hits,
  ROUND(CAST(dcg AS DOUBLE), 6) AS dcg,
  ROUND(CAST(idcg AS DOUBLE), 6) AS idcg,
  ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
FROM d CROSS JOIN ic
"""


ORACLES["sim_ann_ndcg"] = _ndcg_oracle()


def text_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screening of the
    uniq_ratio feature against the quality label (operators.ml.
    feature_woe): quintile equi-depth bins by exact percentile edges,
    half-smoothed WOE and IV contribution per bin — the 'is this
    feature worth training on' audit in front of the classifier
    family."""
    from nashville_etl_service_backup_spark.operators.ml import feature_woe

    docs = spread(load(spark, sf_dir, "documents"))
    qf = quality_features(F.col("text"))
    feats = docs.select(
        qf["uniq_ratio"].alias("f"),
        F.when(qf["quality"] >= 0.64, 1).otherwise(0).alias("y"),
    )
    return feature_woe(feats, "f", "y", n_bins=5)


QUERIES["text_feature_woe"] = text_feature_woe


def _woe_oracle(n_bins: int = 5) -> str:
    uniq, quality = _QF_UNIQ, _QF_QUALITY
    qs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    bin_sum = " + ".join(
        f"(CASE WHEN f > e[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, n_bins)
    )
    ln9 = lambda x: f"ROUND(ln({x}), 9)"  # noqa: E731
    woe = (
        f"{ln9('2*n_pos + 1')} - {ln9('2*n_neg + 1')}"
        f" - {ln9('pt')} + {ln9('nt')}"
    )
    return f"""
WITH t AS (SELECT {_TOKS_O} AS tk FROM documents),
feats AS (SELECT ROUND({uniq}, 6) AS f,
  CASE WHEN {quality} >= 0.64 THEN 1 ELSE 0 END AS y FROM t),
e AS (SELECT quantile_cont(f, [{qs}]) AS e FROM feats),
b AS (SELECT CAST({bin_sum} AS INT) AS bin, y FROM feats, e),
g AS (SELECT bin, COUNT(*) AS n,
  CAST(SUM(y) AS BIGINT) AS n_pos,
  CAST(SUM(1 - y) AS BIGINT) AS n_neg
 FROM b GROUP BY bin),
tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS pt,
  CAST(SUM(n_neg) AS BIGINT) AS nt FROM g)
SELECT bin, n, n_pos, n_neg,
  ROUND({woe}, 6) AS woe,
  ROUND(((CAST(n_pos AS DOUBLE) + 0.5)/CAST(pt AS DOUBLE)
        - (CAST(n_neg AS DOUBLE) + 0.5)/CAST(nt AS DOUBLE))
        * ROUND({woe}, 6), 6) AS iv_term
FROM g CROSS JOIN tot
ORDER BY bin
"""


ORACLES["text_feature_woe"] = _woe_oracle()


def text_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-serving skew audit (the MLOps gate between fit and
    deploy): the quality classifier is trained on the train hash-split
    ONLY, every doc is scored, and the score distribution of the
    held-out serve traffic is compared to the train distribution by
    PSI over 10 fixed score bins — psi_term = (d_train − d_serve)·
    ln(d_train/d_serve) with half-smoothing, every ln argument kept
    INTEGER via ln(x+½)=ln(2x+1)−ln 2 (the ln 2 terms cancel in the
    ratio; the feature_woe device). Σ psi_term > 0.2 = retrain signal.

    100 TB shape: standardization + each GD round are combinable
    aggregates (train rows only), scoring is a narrow projection, the
    PSI is a 10-cell groupBy + broadcast totals."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_score,
        logreg_train,
        standardize,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    raw = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        qf["uniq_ratio"].alias("x1"),
        qf["stop_ratio"].alias("x2"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("x3"),
        (split_assign(F.col("doc_id")) == "train").alias("is_tr"),
    )
    fcols = ["x1", "x2", "x3"]
    feats = track_persist(standardize(raw, fcols))
    # lazy=False: single-model consumers measured faster with
    # collect-per-round at sf0.1 (round 6; see logreg_train docstring)
    w = logreg_train(
        feats.filter(F.col("is_tr")), fcols, "y", lazy=False
    )
    s = F.round(logreg_score(fcols, w), 6)
    binned = feats.select(
        F.least(F.floor(s * 10).cast("int"), F.lit(9)).alias("bin"),
        F.col("is_tr"),
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.col("is_tr").cast("long")).alias("n_train"),
        F.sum((~F.col("is_tr")).cast("long")).alias("n_serve"),
    )
    # totals as GLOBAL WINDOWS over the ≤10-row bin frame (round 10):
    # the separate totals aggregate's subtree re-planned the whole
    # binning pass (column pruning blocks exchange reuse), so the
    # corpus was aggregated twice; exact long sums, same values.
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    g = g.select(
        "bin",
        "n_train",
        "n_serve",
        F.sum("n_train").over(wall).alias("_ta"),
        F.sum("n_serve").over(wall).alias("_tb"),
    )
    ln9 = lambda c: F.round(F.log(c.cast("double")), 9)  # noqa: E731
    lnr = (
        ln9(F.lit(2) * F.col("n_train") + 1)
        - ln9(F.lit(2) * F.col("n_serve") + 1)
        - ln9(F.col("_ta"))
        + ln9(F.col("_tb"))
    )
    da = (F.col("n_train").cast("double") + F.lit(0.5)) / F.col(
        "_ta"
    ).cast("double")
    db = (F.col("n_serve").cast("double") + F.lit(0.5)) / F.col(
        "_tb"
    ).cast("double")
    return (
        g
        .select(
            "bin",
            "n_train",
            "n_serve",
            F.round((da - db) * F.round(lnr, 6), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


QUERIES["text_score_drift"] = text_score_drift


def _drift_oracle() -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    uniq, stop, lensig, quality = _QF_UNIQ, _QF_STOP, _QF_LEN, _QF_QUALITY
    moments, zscore = _moments_sql, _zscore_sql
    fcols = ["x1", "x2", "x3"]
    train_ctes, w_final = logreg_oracle_ctes(
        fcols, "y", iterations=8, lr=4.0, src="ftr"
    )
    p = logreg_oracle_score_sql(fcols, w_final, src="f")
    ln9 = lambda x: f"ROUND(ln({x}), 9)"  # noqa: E731
    lnr = (
        f"{ln9('2*n_train + 1')} - {ln9('2*n_serve + 1')}"
        f" - {ln9('ta')} + {ln9('tb')}"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_O} AS tk,
  CAST(list_sum(list_transform(range(1, 9), i ->
    (strpos('0123456789abcdef',
            substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
    * pow(16, 8 - i))) AS BIGINT) % 100 < 90 AS is_tr
 FROM documents),
raw AS (SELECT doc_id,
  CASE WHEN {quality} >= 0.64 THEN 1.0 ELSE 0.0 END AS y,
  ROUND({uniq}, 6) AS x1,
  ROUND({stop}, 6) AS x2,
  ROUND(CAST({lensig} AS DOUBLE), 6) AS x3,
  is_tr
 FROM t),
st AS (SELECT {moments('x1')},
  {moments('x2')},
  {moments('x3')}
 FROM raw),
f AS (SELECT raw.doc_id, raw.y, raw.is_tr,
  {zscore('x1')},
  {zscore('x2')},
  {zscore('x3')}
 FROM raw, st),
ftr AS (SELECT * FROM f WHERE is_tr),
{train_ctes},
scored AS (SELECT f.is_tr, ROUND({p}, 6) AS s FROM f, {w_final} w),
b AS (SELECT LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin, is_tr
      FROM scored),
g AS (SELECT bin,
  CAST(SUM(CASE WHEN is_tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN is_tr THEN 0 ELSE 1 END) AS BIGINT) AS n_serve
 FROM b GROUP BY bin),
tot AS (SELECT CAST(SUM(n_train) AS BIGINT) AS ta,
  CAST(SUM(n_serve) AS BIGINT) AS tb FROM g)
SELECT bin, n_train, n_serve,
  ROUND(((CAST(n_train AS DOUBLE) + 0.5)/CAST(ta AS DOUBLE)
        - (CAST(n_serve AS DOUBLE) + 0.5)/CAST(tb AS DOUBLE))
        * ROUND({lnr}, 6), 6) AS psi_term
FROM g CROSS JOIN tot
ORDER BY bin
"""


ORACLES["text_score_drift"] = _drift_oracle()

QUERIES["text_bigram_lm"] = text_bigram_lm


def sim_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine top-10 neighbors of doc_id=3 via the
    inverted-index join plan (operators.text_analysis.tfidf_cosine_topk)
    — term-key equi-join scoring touching only the query terms'
    postings; the sparse-MIPS sibling of the dense HOF top-k."""
    docs = spread(load(spark, sf_dir, "documents"))
    return tfidf_cosine_topk(docs, query_id=3, k=10)


QUERIES["sim_sparse_cosine"] = sim_sparse_cosine

ORACLES["sim_sparse_cosine"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_O}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM documents),
w AS (
  SELECT doc_id, term,
    ROUND(tf * (ROUND(ln(n + 1), 9) - ROUND(ln(df + 1), 9)), 6) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
norms AS (
  SELECT doc_id, SUM(CAST(ROUND(w * w, 6) AS DECIMAL(28,6))) AS n2
  FROM w GROUP BY 1),
q AS (SELECT term, w AS wq FROM w WHERE doc_id = 3),
qn AS (SELECT n2 AS qn2 FROM norms WHERE doc_id = 3),
dots AS (
  SELECT w.doc_id,
    SUM(CAST(ROUND(w.w * q.wq, 6) AS DECIMAL(28,6))) AS dt,
    COUNT(*) AS n_shared_terms
  FROM w JOIN q USING (term) WHERE w.doc_id <> 3 GROUP BY 1)
SELECT d.doc_id,
  ROUND(CAST(d.dt AS DOUBLE)
        / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))),
        4) AS cosine,
  d.n_shared_terms
FROM dots d JOIN norms n ON d.doc_id = n.doc_id CROSS JOIN qn
ORDER BY cosine DESC, d.doc_id ASC
LIMIT 10
"""

# bigram LM: train-split counts, add-one conditionals, per-doc NLL.
# ln terms rounded to 9 and summed separately as DECIMAL(28,9) —
# exactly the corpus_lm_scores determinism device.
ORACLES["text_bigram_lm"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_O} AS tk,
    CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 100 < 90 AS is_train
  FROM documents),
bgl AS (
  SELECT doc_id, is_train,
    unnest(list_transform(range(1, len(tk)),
           i -> {{'w1': tk[i], 'w2': tk[i+1]}})) AS p
  FROM t),
bg AS (SELECT doc_id, is_train, p.w1 AS w1, p.w2 AS w2 FROM bgl),
c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg WHERE is_train GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c FROM bg WHERE is_train GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(tk) AS tok FROM t WHERE is_train)),
sc AS (
  SELECT bg.doc_id,
    ROUND(ln(COALESCE(c12.c, 0) + 1), 9) AS l1,
    ROUND(ln(COALESCE(c1.c, 0) + v.v), 9) AS l2
  FROM bg
  LEFT JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
  LEFT JOIN c1 ON bg.w1 = c1.w1
  CROSS JOIN v),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
    SUM(CAST(l1 AS DECIMAL(28,9))) AS s1,
    SUM(CAST(l2 AS DECIMAL(28,9))) AS s2
  FROM sc GROUP BY 1)
SELECT doc_id, n_bigrams,
  ROUND(CAST(s2 - s1 AS DOUBLE) / n_bigrams, 6) AS nll
FROM agg
"""

ORACLES["sim_quantize_recall"] = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM v WHERE vec_id = 7),
corp AS (SELECT vec_id, v FROM v WHERE vec_id <> 7),
s AS (SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS s FROM corp),
sc AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(v)+1), i -> v[i] * qv[i])) AS de,
    CAST(list_sum(list_transform(range(1, len(v)+1), i ->
      GREATEST(-127, LEAST(127, CAST(FLOOR(v[i] / s * 127.0 + 0.5) AS BIGINT)))
      * GREATEST(-127, LEAST(127, CAST(FLOOR(qv[i] / s * 127.0 + 0.5) AS BIGINT)))
    )) AS BIGINT) AS di,
    s
  FROM corp, q, s),
qtop AS (SELECT vec_id FROM sc ORDER BY di DESC, vec_id ASC LIMIT 10),
etop AS (SELECT * FROM sc ORDER BY de DESC, vec_id ASC LIMIT 10)
SELECT e.vec_id, ROUND(e.de, 4) AS dot_exact,
  ROUND(CAST(e.di AS DOUBLE) * e.s * e.s / 16129.0, 4) AS dot_quant,
  CAST(q2.vec_id IS NOT NULL AS INT) AS in_quant_topk
FROM etop e LEFT JOIN qtop q2 ON e.vec_id = q2.vec_id
ORDER BY e.de DESC, e.vec_id ASC
"""


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance (Kimball type-2) over the customer
    dimension: a two-deep synthetic version history (every 11th key
    already has a second version) merged with an update batch where
    every 13th key changes market segment and every 17th key is a
    NO-OP update (must open no version); see plans.load.scd2_merge."""
    from nashville_etl_service_backup_spark.plans.load import scd2_merge

    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("2025-01-01").alias("valid_from"),
    )
    second = cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey", "c_mktsegment",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("2025-03-01").alias("valid_from"),
    )
    current = base.unionByName(second)
    updates = cust.filter(
        (F.col("c_custkey") % 13 == 0) | (F.col("c_custkey") % 17 == 0)
    ).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, "MACHINERY")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(
            F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        F.lit("2025-06-01").alias("valid_from"),
    )
    return scd2_merge(
        current, updates, "c_custkey", ["c_mktsegment", "c_acctbal"]
    )


QUERIES["q_scd2_customers"] = q_scd2_customers

ORACLES["q_scd2_customers"] = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, '2025-01-01' AS valid_from
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal + 100.0, '2025-03-01'
  FROM customer WHERE c_custkey % 11 = 0),
upd AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 13 = 0 THEN 'MACHINERY' ELSE c_mktsegment END
      AS c_mktsegment,
    CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
      AS c_acctbal,
    '2025-06-01' AS valid_from
  FROM customer WHERE c_custkey % 13 = 0 OR c_custkey % 17 = 0),
latest AS (
  SELECT * FROM (
    SELECT cur.*,
      ROW_NUMBER() OVER (PARTITION BY c_custkey
                         ORDER BY valid_from DESC) AS rn
    FROM cur) WHERE rn = 1),
chg AS (
  SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal, u.valid_from
  FROM upd u JOIN latest c USING (c_custkey)
  WHERE u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
     OR u.c_acctbal IS DISTINCT FROM c.c_acctbal),
vers AS (
  SELECT * FROM cur UNION ALL SELECT * FROM chg)
SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
  LEAD(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
    AS valid_to,
  CAST(CASE WHEN LEAD(valid_from) OVER (PARTITION BY c_custkey
                                        ORDER BY valid_from) IS NULL
       THEN 1 ELSE 0 END AS INT) AS is_current
FROM vers
"""

ORACLES["text_tfidf_keywords"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_O}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
    ROUND(CAST(t.tf AS DOUBLE)
          * (LN((CAST(n.n_docs AS DOUBLE) + 1.0)
                / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
  FROM tf t JOIN dft d USING (term) CROSS JOIN nd n),
r AS (
  SELECT doc_id, term, tfidf,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
ORDER BY doc_id, rank
"""

ORACLES["q_scd2_asof_lookup"] = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, '1996-01-01' AS valid_from FROM customer
  UNION ALL
  SELECT c_custkey, 'AUTOMOBILE', '1998-01-01'
  FROM customer WHERE c_custkey % 11 = 0),
upd AS (
  SELECT c_custkey, 'MACHINERY' AS c_mktsegment, '2000-01-01' AS valid_from
  FROM customer WHERE c_custkey % 13 = 0),
latest AS (
  SELECT * FROM (
    SELECT cur.*, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY valid_from DESC) AS rn
    FROM cur) WHERE rn = 1),
chg AS (
  SELECT u.c_custkey, u.c_mktsegment, u.valid_from
  FROM upd u JOIN latest c USING (c_custkey)
  WHERE u.c_mktsegment IS DISTINCT FROM c.c_mktsegment),
vers AS (
  SELECT c_custkey, c_mktsegment, valid_from FROM cur
  UNION ALL SELECT * FROM chg),
dim AS (
  SELECT c_custkey, c_mktsegment, valid_from,
    LEAD(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
      AS valid_to
  FROM vers),
j AS (
  SELECT d.valid_from, d.c_mktsegment, o.o_totalprice
  FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
    AND strftime(o.o_orderdate, '%Y-%m-%d') >= d.valid_from
    AND (d.valid_to IS NULL
         OR strftime(o.o_orderdate, '%Y-%m-%d') < d.valid_to))
SELECT valid_from, c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM j GROUP BY valid_from, c_mktsegment
ORDER BY valid_from, c_mktsegment
"""

ORACLES["q_label_centroid_sim"] = """
WITH r AS (
  SELECT label,
    list_transform(CAST(embedding AS DOUBLE[]), x -> ROUND(x, 6)) AS r6
  FROM embeddings),
e AS (
  SELECT label, g.i AS idx, r6[g.i] AS x
  FROM r, range(1, 65) g(i)),
sums AS (
  SELECT label, idx, SUM(CAST(x AS DECIMAL(30,12))) AS s
  FROM e GROUP BY label, idx),
cents AS (
  SELECT label,
    list_transform(
      list_sort(list(struct_pack(idx := idx, s := s)), 'ASC'),
      t -> CAST(t.s AS DOUBLE)) AS cv
  FROM sums GROUP BY label),
counts AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
cc AS (SELECT c.label, c.cv, n.n FROM cents c JOIN counts n USING (label))
SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
  ROUND(
    list_sum(list_transform(range(1, 65), i -> a.cv[i] * b.cv[i]))
    / (sqrt(list_sum(list_transform(a.cv, x -> x*x)))
       * sqrt(list_sum(list_transform(b.cv, x -> x*x)))), 4)
    AS centroid_cosine
FROM cc a JOIN cc b ON a.label < b.label
ORDER BY label_a, label_b
"""

ORACLES["q_cdc_apply"] = """
WITH changes AS (
  SELECT c_custkey, 'MACHINERY' AS c_mktsegment,
    c_acctbal + 50.0 AS c_acctbal, 'U' AS op, 2 AS seq
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, NULL, NULL, 'D', 1 FROM customer WHERE c_custkey % 11 = 0
  UNION ALL
  SELECT c_custkey, 'FURNITURE', c_acctbal, 'U', 1
  FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT 1001, 'HOUSEHOLD', 123.45, 'I', 3),
latest AS (
  SELECT * FROM (
    SELECT changes.*, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY seq DESC, op DESC) AS rn
    FROM changes) WHERE rn = 1),
survivors AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)),
upserts AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM latest WHERE op <> 'D'),
state AS (SELECT * FROM survivors UNION ALL SELECT * FROM upserts)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
FROM state GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

ORACLES["q_referential_audit"] = """
SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
  (SELECT COUNT(*) FROM lineitem) AS n_child,
  (SELECT COUNT(*) FROM orders) AS n_parent,
  (SELECT COUNT(*) FROM lineitem
   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    AS n_orphan_child,
  (SELECT COUNT(*) FROM orders
   WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
    AS n_childless_parent
UNION ALL
SELECT 'orders.o_custkey->customer',
  (SELECT COUNT(*) FROM orders), (SELECT COUNT(*) FROM customer),
  (SELECT COUNT(*) FROM orders
   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
  (SELECT COUNT(*) FROM lineitem), (SELECT COUNT(*) FROM supplier),
  (SELECT COUNT(*) FROM lineitem
   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
  (SELECT COUNT(*) FROM supplier
   WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem))
ORDER BY fk_edge
"""

ORACLES["dedup_degree_dist"] = f"""
WITH {_LSH_CTES},
deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM lshp
    UNION ALL SELECT doc_b FROM lshp)
  GROUP BY doc_id),
alld AS (
  SELECT COALESCE(deg.degree, 0) AS degree
  FROM documents LEFT JOIN deg USING (doc_id))
SELECT degree, COUNT(*) AS n_docs FROM alld
GROUP BY degree ORDER BY degree
"""

ORACLES["text_mixture_drift"] = """
WITH sl AS (
  SELECT source, lang, COUNT(*) AS n_sl
  FROM documents GROUP BY source, lang),
st AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
lt AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
n AS (SELECT COUNT(*) AS n FROM documents),
cells AS (
  SELECT sl.source, st.n_s,
    ROUND((CAST(sl.n_sl AS DOUBLE) / CAST(st.n_s AS DOUBLE))
          * LN((CAST(sl.n_sl AS DOUBLE) / CAST(st.n_s AS DOUBLE))
               / (CAST(lt.n_l AS DOUBLE) / CAST(n.n AS DOUBLE))), 12)
      AS term
  FROM sl JOIN st USING (source) JOIN lt USING (lang) CROSS JOIN n)
SELECT source, n_s AS n_docs,
  ROUND(CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl_drift
FROM cells GROUP BY source, n_s ORDER BY source
"""

ORACLES["text_gini_concentration"] = """
WITH s AS (
  SELECT source AS g, COUNT(*) AS x FROM documents GROUP BY source),
sr AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, g) AS i FROM s),
sa AS (
  SELECT 'source' AS dimension, COUNT(*) AS n_groups,
    ROUND(2.0 * CAST(SUM(i * x) AS DOUBLE)
          / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
          - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE), 6)
      AS gini
  FROM sr),
l AS (
  SELECT lang AS g, COUNT(*) AS x FROM documents GROUP BY lang),
lr AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, g) AS i FROM l),
la AS (
  SELECT 'lang' AS dimension, COUNT(*) AS n_groups,
    ROUND(2.0 * CAST(SUM(i * x) AS DOUBLE)
          / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
          - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE), 6)
      AS gini
  FROM lr)
SELECT * FROM sa UNION ALL SELECT * FROM la ORDER BY dimension
"""

ORACLES["text_pmi_collocations"] = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest({_TOKS_D}) AS term FROM documents) t
  WHERE length(t.term) >= 3),
nd AS (SELECT COUNT(*) AS nd FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= 25),
marg AS (SELECT term, COUNT(*) AS n FROM dt GROUP BY term)
SELECT p.term_a, p.term_b, p.n_ab,
  ROUND(LN(CAST(p.n_ab AS DOUBLE) * CAST(nd.nd AS DOUBLE)
           / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE))), 6) AS pmi
FROM pairs p
JOIN marg ma ON p.term_a = ma.term
JOIN marg mb ON p.term_b = mb.term
CROSS JOIN nd
ORDER BY pmi DESC, term_a, term_b LIMIT 15
"""



def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-weighted corpus subsample via priority sampling
    (operators.text_analysis.priority_sample — Duffield/Lund/Thorup
    2007): weight = whitespace token count (min 1), top-100 priorities.
    The engine-portable weighted counterpart of text_mixture_sample's
    uniform hash gate: heavy documents are near-certain members, and
    the priority threshold makes the sample a subset-sum estimator for
    token accounting. One narrow md5 projection into a top-k heap —
    no corpus shuffle."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        priority_sample,
        ws_token_count,
    )

    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id",
        "lang",
        F.greatest(F.lit(1).cast("long"), ws_token_count(F.col("text"))).alias(
            "weight"
        ),
    )
    samp = priority_sample(per, "doc_id", "weight", k=100)
    return samp.select(
        "doc_id",
        "lang",
        "weight",
        F.round("priority", 6).alias("priority"),
    )


QUERIES["text_weighted_sample"] = text_weighted_sample

# salted md5-hex -> bucket in [0, 1048576): same nibble expansion as
# _MD5_BUCKET_SQL but over 'psample:' || doc_id, mirroring
# operators.text_analysis.priority_sample exactly
_PSAMPLE_BUCKET_SQL = """CAST(list_sum(list_transform(range(1, 9), i ->
      (strpos('0123456789abcdef',
              substr(md5('psample:' || CAST(doc_id AS VARCHAR)),
                     CAST(i AS INT), 1)) - 1)
      * pow(16, 8 - i))) AS BIGINT) % 1048576"""

ORACLES["text_weighted_sample"] = f"""
WITH w AS (
  SELECT doc_id, lang,
    GREATEST(CAST(1 AS BIGINT), CAST(len({_TOKS_O}) AS BIGINT)) AS weight
  FROM documents),
q AS (
  SELECT doc_id, lang, weight,
    CAST(weight AS DOUBLE) * 1048576.0
      / CAST(({_PSAMPLE_BUCKET_SQL}) + 1 AS DOUBLE) AS p
  FROM w)
SELECT doc_id, lang, weight, ROUND(p, 6) AS priority
FROM q ORDER BY p DESC, doc_id LIMIT 100
"""


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 3/5 near-duplicate pairs via prefix filtering
    (operators.dedup.prefix_filter_jaccard_pairs — PPJoin-family, zero
    false negatives): the ground-truth twin of the probabilistic
    dedup_lsh_pairs blocking, over word trigram-shingle sets.
    Integer-rational thresholds everywhere, so both engines agree at
    every boundary."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", t_num=3, t_den=5, shingle_n=3
    ).orderBy("doc_a", "doc_b")


QUERIES["dedup_prefix_jaccard"] = dedup_prefix_jaccard

ORACLES["dedup_prefix_jaccard"] = f"""
WITH tok0 AS (
  SELECT doc_id, {_TOKS_O} AS tko FROM documents),
tok AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(tko) - 1),
      i -> tko[i] || ' ' || tko[i+1] || ' ' || tko[i+2])) AS tk
  FROM tok0),
nz AS (SELECT doc_id, tk FROM tok WHERE len(tk) > 0),
ex AS (SELECT doc_id, unnest(tk) AS t FROM nz),
freq AS (SELECT t, COUNT(*) AS df FROM ex GROUP BY t),
ordered AS (
  SELECT e.doc_id, list(e.t ORDER BY f.df, e.t) AS ot, COUNT(*) AS sz
  FROM ex e JOIN freq f ON e.t = f.t GROUP BY e.doc_id),
pfx AS (
  SELECT doc_id, sz,
    unnest(ot[1:CAST(sz - ((3 * sz + 4) // 5) + 1 AS INT)]) AS t
  FROM ordered),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b ON a.t = b.t AND a.doc_id < b.doc_id
   AND b.sz * 5 >= a.sz * 3 AND a.sz * 5 >= b.sz * 3),
v AS (
  SELECT doc_a, doc_b,
    len(list_intersect(x.tk, y.tk)) AS i,
    len(list_distinct(list_concat(x.tk, y.tk))) AS u
  FROM cand JOIN nz x ON cand.doc_a = x.doc_id
            JOIN nz y ON cand.doc_b = y.doc_id)
SELECT doc_a, doc_b, ROUND(CAST(i AS DOUBLE) / u, 6) AS jaccard
FROM v WHERE i * 5 >= u * 3
ORDER BY doc_a, doc_b
"""


def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual hashing
    (operators.multimodal.phash_near_dup_pairs): frame-hash votes →
    64-bit signature → pigeonhole Hamming pairs. Runs on the image
    modality of the synthetic media lake; the oracle replays frame
    slicing, vote accumulation, and the chunk-bucket join in SQL."""
    from nashville_etl_service_backup_spark.operators.multimodal import (
        phash_near_dup_pairs,
        synth_media,
    )

    docs = load(spark, sf_dir, "documents")
    media = synth_media(docs).filter(F.col("modality") == "image")
    return phash_near_dup_pairs(media).orderBy("id_a", "id_b")


QUERIES["multimodal_phash_neardup"] = multimodal_phash_neardup

_PHASH_HAMMING = (
    "len(list_filter(range(1, 65), i ->"
    " substr(a.sig, i, 1) <> substr(b.sig, i, 1)))"
)

ORACLES["multimodal_phash_neardup"] = f"""
WITH m AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0),
f AS (
  SELECT media_id, text,
    CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
  FROM m),
u AS (
  SELECT media_id, md5(substr(text, CAST(idx AS INT) * 64 + 1, 64)) AS fh
  FROM (SELECT media_id, text, unnest(range(0, n_frames, 4)) AS idx FROM f)),
h AS (
  SELECT media_id, list(fh) AS hs FROM u GROUP BY media_id),
sig AS (
  SELECT media_id, {{sig}} AS sig FROM h)
SELECT a.media_id AS id_a, b.media_id AS id_b,
  CAST({_PHASH_HAMMING} AS BIGINT) AS hamming
FROM sig a JOIN sig b
  ON a.media_id < b.media_id
 AND (substr(a.sig, 1, 16) = substr(b.sig, 1, 16)
   OR substr(a.sig, 17, 16) = substr(b.sig, 17, 16)
   OR substr(a.sig, 33, 16) = substr(b.sig, 33, 16)
   OR substr(a.sig, 49, 16) = substr(b.sig, 49, 16))
WHERE {_PHASH_HAMMING} <= 3
ORDER BY id_a, id_b
""".replace("{sig}", _SIMHASH_SIG)


def dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-dedup quality audit: run MinHash-LSH and the EXACT
    prefix-filter join over the SAME trigram-shingle sets and the same
    Jaccard >= 3/5 threshold, and report LSH's measured recall against
    ground truth. Because LSH verifies candidates with exact Jaccard,
    its pairs are a subset of the truth — the query proves that too
    (n_matched must equal n_lsh; a false positive would break it).
    This is the methodology piece a 100 TB dedup needs: banding
    probabilities are an estimate, this measures them on YOUR corpus
    (sampled at scale, exhaustive here).

    Plan shape: each expensive pair-finder is consumed exactly ONCE —
    the two pair sets UNION on the pair key and collapse through one
    hash aggregate (max of the side tags per pair), from which all
    three counts come in a final combinable aggregate. The union ships
    each pair through ONE exchange with no sort — a full-outer join
    formulation costs two sorted exchanges plus a merge for the same
    set semantics (measured +1 s at sf0.1), and the round-3
    semi-join + three-persisted-count-branch formulation re-derived
    finders under concurrent branch materialization — the round-4
    bench drift. Both finders' subtrees are independent leaves of one
    job, so they scan concurrently."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        lsh_near_dup_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    exact = prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", t_num=3, t_den=5, shingle_n=3
    ).select(
        "doc_a", "doc_b", F.lit(1).alias("_e"),
        F.lit(None).cast("int").alias("_l"),
    )
    lsh = lsh_near_dup_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=4, bands=2,
        threshold=0.6,
    ).select(
        "doc_a", "doc_b", F.lit(None).cast("int").alias("_e"),
        F.lit(1).alias("_l"),
    )
    per_pair = (
        exact.unionByName(lsh)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("_e").alias("_e"), F.max("_l").alias("_l"))
    )
    return per_pair.agg(
        F.count("_e").alias("n_exact"),
        F.count("_l").alias("n_lsh"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1)).alias(
            "n_matched"
        ),
    ).select(
        "n_exact",
        "n_lsh",
        "n_matched",
        F.round(
            F.col("n_lsh").cast("double") / F.col("n_exact"), 6
        ).alias("recall"),
    )


QUERIES["dedup_recall_audit"] = dedup_recall_audit

# trigram-shingle LSH chain: sliced minhash (one md5 per shingle,
# 8-hex-char slices), 2 bands x 2 hashes — mirrors lsh_near_dup_pairs
# with shingle_n=3 exactly; reuses the prefix-filter truth CTEs
_TRI_SHINGLES_SQL = """list_distinct(list_transform(range(1, len(tko) - 1),
      i -> tko[i] || ' ' || tko[i+1] || ' ' || tko[i+2]))"""

ORACLES["dedup_recall_audit"] = f"""
WITH tok0 AS (
  SELECT doc_id, {_TOKS_O} AS tko FROM documents),
tri AS (
  SELECT doc_id, {_TRI_SHINGLES_SQL} AS g FROM tok0),
nz AS (SELECT doc_id, g FROM tri WHERE len(g) > 0),
sig AS (
  SELECT doc_id, g,
    list_min(list_transform(g, t -> substr(md5(t), 1, 8))) || '|' ||
    list_min(list_transform(g, t -> substr(md5(t), 9, 8))) AS b0,
    list_min(list_transform(g, t -> substr(md5(t), 17, 8))) || '|' ||
    list_min(list_transform(g, t -> substr(md5(t), 25, 8))) AS b1
  FROM nz),
lshp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id AND (a.b0 = b.b0 OR a.b1 = b.b1)
  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        / len(list_distinct(list_concat(a.g, b.g))) >= 0.6),
ex AS (SELECT doc_id, unnest(g) AS t FROM nz),
freq AS (SELECT t, COUNT(*) AS df FROM ex GROUP BY t),
ordered AS (
  SELECT e.doc_id, list(e.t ORDER BY f.df, e.t) AS ot, COUNT(*) AS sz
  FROM ex e JOIN freq f ON e.t = f.t GROUP BY e.doc_id),
pfx AS (
  SELECT doc_id, sz,
    unnest(ot[1:CAST(sz - ((3 * sz + 4) // 5) + 1 AS INT)]) AS t
  FROM ordered),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b ON a.t = b.t AND a.doc_id < b.doc_id
   AND b.sz * 5 >= a.sz * 3 AND a.sz * 5 >= b.sz * 3),
exact AS (
  SELECT doc_a, doc_b
  FROM (
    SELECT doc_a, doc_b,
      len(list_intersect(x.g, y.g)) AS i,
      len(list_distinct(list_concat(x.g, y.g))) AS u
    FROM cand JOIN nz x ON cand.doc_a = x.doc_id
              JOIN nz y ON cand.doc_b = y.doc_id)
  WHERE i * 5 >= u * 3),
m AS (SELECT l.doc_a, l.doc_b FROM lshp l
      JOIN exact e ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
SELECT
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM lshp) AS n_lsh,
  (SELECT COUNT(*) FROM m) AS n_matched,
  ROUND(CAST((SELECT COUNT(*) FROM lshp) AS DOUBLE)
        / (SELECT COUNT(*) FROM exact), 6) AS recall
"""


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution — the
    information-density audit next to the Gini concentration and KL
    drift views: low entropy = templated/repetitive feed, entropy near
    ln(vocab) = flat distribution. Each −p·ln(p) term is rounded to
    12dp and summed in DECIMAL (order-independent; ln parity as in
    BM25/PMI); normalized entropy divides by ln(vocab). One combinable
    (source, token) count, one per-source aggregate."""
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("t")
    )
    counts = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    term = F.round(-p * F.log(p), 12).cast("decimal(38,12)")
    ent = (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source", "n_tokens", "vocab")
        .agg(F.sum(term).cast("double").alias("_h"))
    )
    return ent.select(
        "source",
        "n_tokens",
        "vocab",
        F.round("_h", 6).alias("entropy"),
        F.round(
            F.col("_h") / F.log(F.col("vocab").cast("double")), 6
        ).alias("norm_entropy"),
    )


QUERIES["text_token_entropy"] = text_token_entropy

ORACLES["text_token_entropy"] = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_O}) AS t FROM documents),
counts AS (
  SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t),
totals AS (
  SELECT source, SUM(c) AS n_tokens, COUNT(*) AS vocab
  FROM counts GROUP BY source),
ent AS (
  SELECT c.source, t.n_tokens, t.vocab,
    CAST(SUM(CAST(ROUND(-(CAST(c.c AS DOUBLE) / t.n_tokens)
        * LN(CAST(c.c AS DOUBLE) / t.n_tokens), 12) AS DECIMAL(38,12)))
      AS DOUBLE) AS h
  FROM counts c JOIN totals t ON c.source = t.source
  GROUP BY c.source, t.n_tokens, t.vocab)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(vocab AS BIGINT) AS vocab,
  ROUND(h, 6) AS entropy,
  ROUND(h / LN(CAST(vocab AS DOUBLE)), 6) AS norm_entropy
FROM ent
"""


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 corpus terms: OLS of
    ln(count) on ln(rank) — slope ≈ −1 is the classic Zipf signature;
    a flat slope flags synthetic/templated vocabulary. The corpus
    collapses to a combinable term count first; the top-100 is a top-k
    heap; the regression runs over that 100-row model artifact with
    12dp-rounded ln terms decimal-summed, so both engines produce the
    identical closed-form slope/intercept/r²."""
    from pyspark.sql.window import Window

    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokenize(F.col("text"))).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top = counts.orderBy(F.desc("c"), F.asc("t")).limit(100)
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    ranked = top.select(
        F.row_number().over(w).alias("r"), F.col("c")
    )
    x = F.round(F.log(F.col("r").cast("double")), 12)
    y = F.round(F.log(F.col("c").cast("double")), 12)
    d = lambda e: e.cast("decimal(38,12)")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).cast("double").alias("sx"),
        F.sum(d(y)).cast("double").alias("sy"),
        F.sum(d(F.round(x * y, 12))).cast("double").alias("sxy"),
        F.sum(d(F.round(x * x, 12))).cast("double").alias("sxx"),
        F.sum(d(F.round(y * y, 12))).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / vx
    return agg.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept"
        ),
        F.round(cov * cov / (vx * vy), 6).alias("r2"),
    )


QUERIES["text_zipf_fit"] = text_zipf_fit

ORACLES["text_zipf_fit"] = f"""
WITH tok AS (
  SELECT unnest({_TOKS_O}) AS t FROM documents),
counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
top AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT 100),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r, c FROM top),
terms AS (
  SELECT ROUND(LN(CAST(r AS DOUBLE)), 12) AS x,
         ROUND(LN(CAST(c AS DOUBLE)), 12) AS y
  FROM ranked),
agg AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy
  FROM terms)
SELECT n,
  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
  ROUND((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6)
    AS intercept,
  ROUND((sxy - sx * sy / n) * (sxy - sx * sy / n)
        / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
FROM agg
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (operators/ml.py): distill the corpus
    quality heuristic into a linear model — labels from the teacher rule
    quality ≥ 0.64, three standardized features (uniq_ratio, stop_ratio,
    length signal), hard-sigmoid logistic fit by 8 full-batch GD rounds
    (decimal-exact gradients), then every doc scored by the trained
    weights. The FineWeb-Edu / fastText curation pattern (teacher labels
    → linear student → corpus-wide scoring) with the FIT in-engine; the
    oracle unrolls the identical 8 rounds in SQL CTEs and the scores
    hash-match bitwise. Reference parity: the trainable generalization
    of transform_data.py's hand-written validity rules (SURVEY §2 P2/P6).
    """
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_score,
        logreg_train,
        standardize,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    raw = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        qf["uniq_ratio"].alias("x1"),
        qf["stop_ratio"].alias("x2"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("x3"),
    )
    fcols = ["x1", "x2", "x3"]
    feats = track_persist(standardize(raw, fcols))
    w = logreg_train(
        feats, fcols, "y", iterations=8, lr=4.0, lazy=False
    )
    p = logreg_score(fcols, w)
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        F.round(p, 6).alias("score"),
        (p >= 0.5).cast("int").alias("pred"),
    )


QUERIES["text_quality_classifier"] = text_quality_classifier


def _qc_oracle(with_eval: bool = False) -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        classifier_eval_oracle_sql,
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    uniq, stop, lensig, quality = _QF_UNIQ, _QF_STOP, _QF_LEN, _QF_QUALITY
    moments, zscore = _moments_sql, _zscore_sql
    fcols = ["x1", "x2", "x3"]
    train_ctes, w_final = logreg_oracle_ctes(fcols, "y", iterations=8, lr=4.0)
    p = logreg_oracle_score_sql(fcols, w_final)
    scored_sel = f"""SELECT f.doc_id, CAST(f.y AS INT) AS label,
  ROUND({p}, 6) AS score,
  CASE WHEN {p} >= 0.5 THEN 1 ELSE 0 END AS pred
FROM f, {w_final} w"""
    tail = (
        f"\n{scored_sel}"
        if not with_eval
        else f",\nscored AS ({scored_sel}),\n{classifier_eval_oracle_sql('scored')}"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_O} AS tk FROM documents),
raw AS (SELECT doc_id,
  CASE WHEN {quality} >= 0.64 THEN 1.0 ELSE 0.0 END AS y,
  ROUND({uniq}, 6) AS x1,
  ROUND({stop}, 6) AS x2,
  ROUND(CAST({lensig} AS DOUBLE), 6) AS x3
 FROM t),
st AS (SELECT {moments('x1')},
  {moments('x2')},
  {moments('x3')}
 FROM raw),
f AS (SELECT raw.doc_id, raw.y,
  {zscore('x1')},
  {zscore('x2')},
  {zscore('x3')}
 FROM raw, st),
{train_ctes}{tail}
"""


ORACLES["text_quality_classifier"] = _qc_oracle()


def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation metrics for the trained quality classifier
    (operators/ml.classifier_eval): accuracy, histogram-pair ROC-AUC
    (no global per-row sort — the Mann–Whitney statistic over the
    distinct-score histogram), and Brier score, all exact-integer /
    decimal-sum deterministic. The model-quality gate a curation
    pipeline runs before trusting a classifier to filter 100 TB."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        classifier_eval,
    )

    scored = track_persist(text_quality_classifier(spark, sf_dir))
    return classifier_eval(scored)


QUERIES["text_classifier_eval"] = text_classifier_eval
ORACLES["text_classifier_eval"] = _qc_oracle(with_eval=True)


def text_quality_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 decision tree induced in-engine (operators/ml.tree_train)
    on the quality-teacher label over round-2 histogram bins of the
    three quality features — the LightGBM-style distributed split
    search: per node one (feature, bin) count shuffle + windows over the
    tiny histogram; only (feature, threshold) scalars reach the driver.
    Output: every doc with its leaf path, leaf size, leaf positive rate
    and majority-vote prediction; the oracle replays the identical
    3-node search unrolled in CTEs and hash-matches bitwise."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        tree_leaf_predictions,
        tree_path,
        tree_train,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    r6 = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, 1).otherwise(0).alias("y"),
        qf["uniq_ratio"].alias("u6"),
        qf["stop_ratio"].alias("s6"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("l6"),
    )
    # FLOOR(x·100) integer bins, NOT round(x, 2): round-6 features land
    # exactly on .xx5 halves, where Spark (decimal-string HALF_UP) and
    # DuckDB (binary value) round differently — floor of the shared
    # binary product is bit-identical in both engines.
    raw = r6.select(
        "doc_id",
        "y",
        F.floor(F.col("u6") * F.lit(100.0)).alias("x1"),
        F.floor(F.col("s6") * F.lit(100.0)).alias("x2"),
        F.floor(F.col("l6") * F.lit(100.0)).alias("x3"),
    )
    fcols = ["x1", "x2", "x3"]
    feats = track_persist(raw)
    tree = tree_train(feats, fcols, "y", depth=2)
    pathed = feats.withColumn("path", tree_path(tree))
    leaves = tree_leaf_predictions(pathed, "y", "path")
    return pathed.join(F.broadcast(leaves), "path").select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        "path",
        "leaf_n",
        "leaf_p",
        "pred",
    )


QUERIES["text_quality_tree"] = text_quality_tree


def _tree_oracle() -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        tree_oracle_sql,
    )

    uniq, stop, lensig, quality = _QF_UNIQ, _QF_STOP, _QF_LEN, _QF_QUALITY
    tree = tree_oracle_sql(["x1", "x2", "x3"], label="y", raw_cte="raw")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_O} AS tk FROM documents),
rawq AS (SELECT doc_id,
  CASE WHEN {quality} >= 0.64 THEN 1 ELSE 0 END AS y,
  ROUND({uniq}, 6) AS u6,
  ROUND({stop}, 6) AS s6,
  ROUND(CAST({lensig} AS DOUBLE), 6) AS l6
 FROM t),
raw AS (SELECT doc_id, y,
  CAST(FLOOR(u6*100.0) AS BIGINT) AS x1, CAST(FLOOR(s6*100.0) AS BIGINT) AS x2, CAST(FLOOR(l6*100.0) AS BIGINT) AS x3
 FROM rawq),
{tree}
"""


ORACLES["text_quality_tree"] = _tree_oracle()


def text_classifier_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-fold cross-validation of the trained quality classifier
    (operators/ml.logreg_cv): md5 hash-bucket folds, each fold's model
    trained on the other two and evaluated out-of-sample — accuracy,
    histogram-AUC, Brier per fold. The oracle unrolls all three GD
    chains (prefixed CTE namespaces) and replays the identical fold
    assignment, so the metric rows hash-match bitwise."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_cv,
        standardize,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    raw = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        qf["uniq_ratio"].alias("x1"),
        qf["stop_ratio"].alias("x2"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("x3"),
    )
    fcols = ["x1", "x2", "x3"]
    feats = track_persist(standardize(raw, fcols))
    return logreg_cv(feats, fcols, "y", "doc_id", k=3)


QUERIES["text_classifier_cv"] = text_classifier_cv


def _cv_oracle(k: int = 3) -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        classifier_eval_oracle_sql,
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    head = _qc_head()
    bucket = _md5_bucket_sql(k)
    fcols = ["x1", "x2", "x3"]
    parts = [f"ff AS (SELECT f.*, {bucket} AS fold FROM f)"]
    selects = []
    for i in range(k):
        tr, te, px = f"f{i}tr", f"f{i}te", f"k{i}"
        parts.append(f"{tr} AS (SELECT * FROM ff WHERE fold <> {i})")
        parts.append(f"{te} AS (SELECT * FROM ff WHERE fold = {i})")
        ctes, wname = logreg_oracle_ctes(
            fcols, "y", iterations=8, lr=4.0, src=tr, prefix=px
        )
        parts.append(ctes)
        p = logreg_oracle_score_sql(fcols, wname, src=te)
        parts.append(
            f"{px}scored AS (SELECT CAST({te}.y AS INT) AS label,"
            f" ROUND({p}, 6) AS score,"
            f" CASE WHEN {p} >= 0.5 THEN 1 ELSE 0 END AS pred"
            f" FROM {te}, {wname} w)"
        )
        parts.append(
            classifier_eval_oracle_sql(
                f"{px}scored", prefix=px, as_cte=True
            ).lstrip("\n")
        )
        parts.append(f"{px}ntr AS (SELECT COUNT(*) AS n_train FROM {tr})")
        selects.append(
            f"SELECT {i} AS fold, n_train, n_pos, n_neg, acc, auc, brier"
            f" FROM {px}metrics, {px}ntr"
        )
    return (
        head
        + ",\n"
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL ".join(selects)
    )


ORACLES["text_classifier_cv"] = _cv_oracle()


def text_quality_gbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted stumps regressing the quality score
    (operators/ml.gbm_train): 3 squared-loss boosting rounds, each
    fitting a depth-1 tree to the round-6 residuals via the histogram
    split search with variance-reduction impurity from decimal-exact
    per-bin moments. Per doc: actual quality, boosted prediction,
    absolute error. The oracle unrolls the 3 rounds (base mean → stump
    → residual update) in materialized CTEs and hash-matches bitwise."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import gbm_train

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    r6 = docs.select(
        "doc_id",
        qf["quality"].alias("q"),
        qf["uniq_ratio"].alias("u6"),
        qf["stop_ratio"].alias("s6"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("l6"),
    )
    # FLOOR(x·100) bins — see text_quality_tree for why not round(x, 2)
    raw = r6.select(
        "doc_id",
        "q",
        F.floor(F.col("u6") * F.lit(100.0)).alias("x1"),
        F.floor(F.col("s6") * F.lit(100.0)).alias("x2"),
        F.floor(F.col("l6") * F.lit(100.0)).alias("x3"),
    )
    feats = track_persist(raw)
    scored, _model = gbm_train(feats, ["x1", "x2", "x3"], "q", rounds=3)
    return scored.select(
        "doc_id",
        "q",
        "pred",
        F.round(F.abs(F.col("q") - F.col("pred")), 6).alias("abs_err"),
    )


QUERIES["text_quality_gbm"] = text_quality_gbm


def _gbm_oracle() -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        gbm_oracle_sql,
    )

    uniq, stop, lensig, quality = _QF_UNIQ, _QF_STOP, _QF_LEN, _QF_QUALITY
    gbm = gbm_oracle_sql(["x1", "x2", "x3"], target="q", raw_cte="raw")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_O} AS tk FROM documents),
rawq AS (SELECT doc_id,
  {quality} AS q,
  ROUND({uniq}, 6) AS u6,
  ROUND({stop}, 6) AS s6,
  ROUND(CAST({lensig} AS DOUBLE), 6) AS l6
 FROM t),
raw AS MATERIALIZED (SELECT doc_id, q,
  CAST(FLOOR(u6*100.0) AS BIGINT) AS x1, CAST(FLOOR(s6*100.0) AS BIGINT) AS x2, CAST(FLOOR(l6*100.0) AS BIGINT) AS x3
 FROM rawq),
{gbm}
"""


ORACLES["text_quality_gbm"] = _gbm_oracle()


def text_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier trained IN-ENGINE
    (operators/ml.nb_train / nb_predict): md5 hash-bucket 80/20 split,
    add-one-smoothed per-(term, lang) log likelihoods with round-6 ln
    (the BM25 cross-engine ln device) and exact-decimal posterior sums,
    argmax with a deterministic smaller-class tiebreak. Output is the
    out-of-sample confusion matrix (lang_true, lang_pred, n_docs) — the
    fastText-style language-ID check a curation pipeline runs against
    its heuristic langid (SURVEY §2 north-star: text analysis). The
    model is two combinable aggregates; documents never shuffle."""
    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        nb_predict,
        nb_train,
    )
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        hash_bucket,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        tokenize(F.col("text")).alias("tk"),
        (hash_bucket(F.col("doc_id"), 5)).alias("_b"),
    )
    docs = track_persist(docs)
    train = docs.filter(F.col("_b") != 0)
    test = docs.filter(F.col("_b") == 0).withColumn(
        "lang_true", F.col("lang")
    )
    cls, loglik = nb_train(train, "lang", "tk")
    pred = nb_predict(
        test, cls, loglik, "doc_id", "lang", "tk",
        keep_cols=("lang_true",),
    )
    return (
        pred.groupBy("lang_true", F.col("pred").alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


QUERIES["text_nb_lang"] = text_nb_lang

_NB_BUCKET = _md5_bucket_sql(5)

ORACLES["text_nb_lang"] = f"""
WITH d AS (SELECT doc_id, lang, {_TOKS_O} AS tk,
  {_NB_BUCKET} AS b FROM documents),
tr AS (SELECT * FROM d WHERE b <> 0),
te AS (SELECT * FROM d WHERE b = 0),
tot AS (SELECT COUNT(*) AS nd FROM tr),
cs AS (SELECT lang, COUNT(*) AS ndc, SUM(len(tk)) AS ntc
 FROM tr GROUP BY 1),
trt AS (SELECT lang, unnest(tk) AS term FROM tr),
vocab AS (SELECT COUNT(DISTINCT term) AS v FROM trt),
cls AS (SELECT cs.lang,
  ROUND(LN(CAST(ndc AS DOUBLE)/CAST(nd AS DOUBLE)), 6) AS prior,
  ROUND(LN(1.0/CAST(ntc + v AS DOUBLE)), 6) AS dflt,
  ntc + v AS denom
 FROM cs, tot, vocab),
tc AS (SELECT term, lang, COUNT(*) AS cnt FROM trt GROUP BY 1, 2),
ll AS (SELECT tc.term, tc.lang,
  ROUND(LN(CAST(cnt + 1 AS DOUBLE)/CAST(denom AS DOUBLE)), 6) AS ll
 FROM tc JOIN cls ON tc.lang = cls.lang),
tet AS (SELECT doc_id, unnest(tk) AS term FROM te),
contrib AS (SELECT tet.doc_id, cls.lang AS lang_c,
  SUM(CAST(COALESCE(ll.ll, cls.dflt) AS DECIMAL(28,6))) AS s
 FROM tet CROSS JOIN cls
 LEFT JOIN ll ON ll.term = tet.term AND ll.lang = cls.lang
 GROUP BY 1, 2),
grid AS (SELECT te.doc_id, te.lang AS lang_true, cls.lang AS lang_c,
  cls.prior FROM te, cls),
scored AS (SELECT g.doc_id, g.lang_true, g.lang_c,
  CAST(g.prior AS DECIMAL(28,6))
    + COALESCE(c.s, CAST(0 AS DECIMAL(28,6))) AS score
 FROM grid g LEFT JOIN contrib c
   ON c.doc_id = g.doc_id AND c.lang_c = g.lang_c),
pick AS (SELECT doc_id, lang_true, lang_c AS lang_pred,
  ROW_NUMBER() OVER (PARTITION BY doc_id
    ORDER BY score DESC, lang_c ASC) AS rn
 FROM scored)
SELECT lang_true, lang_pred, COUNT(*) AS n_docs
FROM pick WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


def text_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the trained quality classifier
    (Vovk et al. 2005; Angelopoulos & Bates 2023 tutorial form): train
    the hard-sigmoid logistic model on folds ≥2 of the md5 hash split,
    take nonconformity s = 1 − p_true on the CALIBRATION fold (=1),
    q̂ = the k-th smallest calibration score with k = ⌈(n+1)(1−α)⌉ at
    α = 0.1 (exact integer k; the quantile is read off the cumulative
    distinct-score histogram, no per-row global sort — the AUC device),
    then audit the TEST fold (=0): marginal coverage of the prediction
    set {c : s_c ≤ q̂} and average set size, per true label. The
    distribution-free uncertainty gate a pipeline wants before
    trusting classifier scores at 100 TB; every score is round-6 and
    the thresholding is exact, so both engines agree bitwise."""
    from pyspark.sql.window import Window

    from nashville_etl_service_backup_spark.operators import track_persist
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_score,
        logreg_train,
        standardize,
    )
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        hash_bucket,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    raw = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        qf["uniq_ratio"].alias("x1"),
        qf["stop_ratio"].alias("x2"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("x3"),
    )
    fcols = ["x1", "x2", "x3"]
    feats = track_persist(
        standardize(raw, fcols).withColumn(
            "_b", hash_bucket(F.col("doc_id"), 5)
        )
    )
    train = feats.filter(F.col("_b") >= 2)
    w = logreg_train(
        train, fcols, "y", iterations=8, lr=4.0, lazy=False
    )
    p = F.round(logreg_score(fcols, w), 6)
    # nonconformity of the TRUE class: 1 - p for y=1, p for y=0
    s_true = F.round(
        F.when(F.col("y") >= 1.0, F.lit(1.0) - p).otherwise(p), 6
    )
    cal = feats.filter(F.col("_b") == 1).select(s_true.alias("s"))
    hist = cal.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # n_cal is the marginal of the histogram (Σc ≡ COUNT over cal —
    # exact integers), read off the SAME single-partition window stage
    # as the cumulative counts: the calibration fold is scanned once,
    # not twice, and qhat/k/n_cal ride ONE broadcast row instead of
    # two (round-10; the dup_spans/WOE marginal device).
    wall = Window.partitionBy()
    cum = hist.select(
        "s",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n_cal"),
    )
    # k = ceil(0.9*(n+1)) in exact integer arithmetic (the double
    # division is exact for any realistic n, floor matches the oracle)
    k = (F.lit(9) * (F.col("n_cal") + 1) + F.lit(9)) / 10
    cum = cum.withColumn("k", F.floor(k).cast("long"))
    # n_cal/k are constant across rows, so min() reads them exactly;
    # the cum >= k test rides inside qhat's aggregate, not a filter, so
    # a calibration fold under 9 rows (k > n_cal: no k-th score) still
    # reports n_cal and k, with a NULL qhat
    qhat = cum.agg(
        F.min(F.when(F.col("cum") >= F.col("k"), F.col("s"))).alias("qhat"),
        F.min("n_cal").alias("n_cal"),
        F.min("k").alias("k"),
    )
    test = feats.filter(F.col("_b") == 0).select(
        F.col("y").cast("int").alias("label"),
        F.round(F.lit(1.0) - p, 6).alias("s1"),
        p.alias("s0"),
    )
    t = test.crossJoin(F.broadcast(qhat))
    in0 = (F.col("s0") <= F.col("qhat")).cast("int")
    in1 = (F.col("s1") <= F.col("qhat")).cast("int")
    covered = F.when(F.col("label") == 1, in1).otherwise(in0)
    return (
        t.groupBy("label")
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.first("k").alias("k"),
            F.first("qhat").alias("qhat"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(covered).alias("n_covered"),
            F.round(
                F.sum(covered).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("coverage"),
            F.round(
                F.sum(in0 + in1).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_set_size"),
        )
        .orderBy("label")
    )


QUERIES["text_conformal_gate"] = text_conformal_gate


def _conformal_oracle() -> str:
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    head = _qc_head()
    bucket = _md5_bucket_sql(5)
    fcols = ["x1", "x2", "x3"]
    ctes, wname = logreg_oracle_ctes(
        fcols, "y", iterations=8, lr=4.0, src="ftr", prefix="cf"
    )
    p = logreg_oracle_score_sql(fcols, wname, src="ff")
    return f"""{head},
ff AS (SELECT f.*, {bucket} AS b FROM f),
ftr AS (SELECT * FROM ff WHERE b >= 2),
{ctes},
sc AS (SELECT ff.b, ff.y,
  ROUND({p}, 6) AS p FROM ff, {wname} w),
cal AS (SELECT ROUND(CASE WHEN y >= 1.0 THEN 1.0 - p ELSE p END, 6) AS s
 FROM sc WHERE b = 1),
hist AS (SELECT s, COUNT(*) AS c FROM cal GROUP BY s),
cum AS (SELECT s, SUM(c) OVER (ORDER BY s
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
kk AS (SELECT COUNT(*) AS n_cal,
  CAST(FLOOR((9*(COUNT(*) + 1) + 9)/10) AS BIGINT) AS k FROM cal),
qh AS (SELECT MIN(s) AS qhat FROM cum, kk WHERE cum.cum >= kk.k),
cfte AS (SELECT CAST(y AS INT) AS label,
  ROUND(1.0 - p, 6) AS s1, p AS s0 FROM sc WHERE b = 0),
cft AS (SELECT cfte.*, qh.qhat, kk.n_cal, kk.k FROM cfte, qh, kk)
SELECT label,
  ANY_VALUE(n_cal) AS n_cal,
  ANY_VALUE(k) AS k,
  ANY_VALUE(qhat) AS qhat,
  COUNT(*) AS n_test,
  CAST(SUM(CASE WHEN label = 1
       THEN CASE WHEN s1 <= qhat THEN 1 ELSE 0 END
       ELSE CASE WHEN s0 <= qhat THEN 1 ELSE 0 END END) AS BIGINT)
    AS n_covered,
  ROUND(CAST(SUM(CASE WHEN label = 1
        THEN CASE WHEN s1 <= qhat THEN 1 ELSE 0 END
        ELSE CASE WHEN s0 <= qhat THEN 1 ELSE 0 END END) AS DOUBLE)
    /CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
  ROUND(CAST(SUM((CASE WHEN s0 <= qhat THEN 1 ELSE 0 END)
    + (CASE WHEN s1 <= qhat THEN 1 ELSE 0 END)) AS DOUBLE)
    /CAST(COUNT(*) AS DOUBLE), 6) AS avg_set_size
FROM cft GROUP BY label ORDER BY label
"""


ORACLES["text_conformal_gate"] = _conformal_oracle()


def sim_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette audit of the IVF k-means
    clustering (Rousseeuw 1987; the medoid-free variant every
    large-scale library ships): per vector, a = cosine distance to its
    OWN centroid and b = distance to the nearest OTHER centroid — read
    off the SAME |vectors|×k broadcast-cosine pass the quantizer's
    assignment uses (one row_number window per vector, no second scan)
    — then s = (b − a)/max(a, b), aggregated per cluster with exact
    decimal sums. The is-k-right / are-clusters-real diagnostic a
    pipeline runs before trusting IVF routing or SemDeDup pruning at
    100 TB.

    Plan shape: NO window, NO per-vector shuffle, NO interpreted HOF —
    the trained quantizer collects into a local k×dim artifact
    (kmeans_centroids is eager for a known dim, the pyspark.ml fit()
    pattern) and each vector computes its assignment + top-2 cosines
    inside ONE Arrow-batched numpy sweep
    (similarity.centroid_top2_vectorized): the whole audit after the
    quantizer is a single narrow map. The sweep's promote/second
    update realizes the first two elements of the (c desc, cid desc)
    sort the earlier sort_array/window/aggregate formulations used,
    over bit-identical chain-order IEEE cosines — so a, b, and the
    cluster tag are unchanged to the last bit (round 6.1; the r6.0
    per-row transform → sort_array → slice shape computed the same
    thing through an interpreted higher-order function, the r5 struct
    aggregate exchanged ~n partial rows, and the r4 window sorted
    n×k). min(round(1−c, 6)) over the non-best centroids equals
    round(1 − max_others(c), 6) because round is monotone
    non-decreasing, so the top-2 is exact. The oracle replays the
    k-means chain (shared `_kmeans_chain` unroll) with an equivalent
    window formulation, hash-matching bitwise."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        centroid_artifact,
        centroid_top2_vectorized,
        kmeans_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = kmeans_centroids(base, n_centroids=16, iters=1, dim=64)
    top2 = centroid_top2_vectorized(*centroid_artifact(cents))
    pv = (
        base.select("vec_id", top2(F.col("v")).alias("_t"))
        .select(
            "vec_id",
            F.col("_t")["cid"].alias("cluster"),
            F.round(F.lit(1.0) - F.col("_t")["c1"], 6).alias("a"),
            F.round(F.lit(1.0) - F.col("_t")["c2"], 6).alias("b"),
        )
    )
    g = F.greatest(F.col("a"), F.col("b"))
    sv = pv.withColumn(
        "sil",
        F.when(g > 0, F.round((F.col("b") - F.col("a")) / g, 6)).otherwise(
            F.lit(0.0)
        ),
    )

    def davg6(col: str, alias: str):
        return F.round(
            F.sum(F.col(col).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(alias)

    return (
        sv.groupBy(F.col("cluster").alias("cent_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg6("sil", "avg_silhouette"),
            davg6("a", "avg_intra"),
            davg6("b", "avg_nearest_other"),
        )
        .orderBy("cent_id")
    )


QUERIES["sim_cluster_silhouette"] = sim_cluster_silhouette

ORACLES["sim_cluster_silhouette"] = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (SELECT * FROM v),
cents0 AS (
  SELECT vec_id AS cent_id, list_transform(v, x -> round(x, 6)) AS cv
  FROM base WHERE vec_id < 16){_kmeans_chain(1)},
ranked AS (SELECT vec_id, cent_id, ROUND(1.0 - c, 6) AS dist,
  ROW_NUMBER() OVER (PARTITION BY vec_id
    ORDER BY c DESC, cent_id DESC) AS rn FROM fac),
pv AS (SELECT vec_id,
  MAX(CASE WHEN rn = 1 THEN cent_id END) AS cluster,
  MAX(CASE WHEN rn = 1 THEN dist END) AS a,
  MIN(CASE WHEN rn > 1 THEN dist END) AS b
 FROM ranked GROUP BY 1),
sv AS (SELECT cluster, a, b,
  CASE WHEN GREATEST(a, b) > 0
    THEN ROUND((b - a)/GREATEST(a, b), 6) ELSE 0.0 END AS sil
 FROM pv)
SELECT cluster AS cent_id, COUNT(*) AS n_vecs,
  ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6)
    AS avg_silhouette,
  ROUND(CAST(SUM(CAST(a AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6)
    AS avg_intra,
  ROUND(CAST(SUM(CAST(b AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6)
    AS avg_nearest_other
FROM sv GROUP BY 1 ORDER BY 1
"""


def text_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    trained quality classifier (Guo et al. 2017 ECE formulation): the
    round-6 scores bin into 10 fixed-width buckets via exact binary
    bin math (CAST(FLOOR(score·10)) capped at 9 — the verify-notes
    device, no decimal-tie ROUND), and each bucket reports its mean
    predicted score vs observed positive rate (exact decimal sums)
    plus the |gap|; ece carries the n-weighted |gap| so the whole
    diagram is one combinable aggregate over the scored frame. The
    is-the-score-a-probability audit that decides whether a curation
    threshold like p ≥ 0.5 means what it claims."""
    from nashville_etl_service_backup_spark.operators import track_persist

    scored = track_persist(text_quality_classifier(spark, sf_dir))
    b = F.least(
        F.floor(F.col("score") * 10).cast("int"), F.lit(9)
    )
    per = scored.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_score"),
        F.round(
            F.sum(F.col("label")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("pos_rate"),
    )
    per = per.withColumn(
        "gap", F.round(F.abs(F.col("avg_score") - F.col("pos_rate")), 6)
    )
    # ece as a GLOBAL WINDOW over the ≤10-row diagram (round 10): the
    # separate ece aggregate re-planned the whole binning pass under a
    # broadcast (no exchange reuse across the pruned subtrees), so the
    # scored frame was aggregated twice; decimal window sums are
    # order-independent, values identical.
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    ece = F.round(
        F.sum(
            F.round(
                F.col("n").cast("double") * F.col("gap"), 6
            ).cast("decimal(28,6)")
        )
        .over(wall)
        .cast("double")
        / F.sum("n").over(wall).cast("double"),
        6,
    )
    return (
        per.select(
            "bin", "n", "avg_score", "pos_rate", "gap",
            ece.alias("ece"),
        )
        .orderBy("bin")
    )


QUERIES["text_calibration_curve"] = text_calibration_curve


def _calibration_oracle() -> str:
    head = _qc_head()
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    ctes, wname = logreg_oracle_ctes(
        ["x1", "x2", "x3"], "y", iterations=8, lr=4.0
    )
    p = logreg_oracle_score_sql(["x1", "x2", "x3"], wname)
    return f"""{head},
{ctes},
scored AS (SELECT CAST(f.y AS INT) AS label, ROUND({p}, 6) AS score
 FROM f, {wname} w),
per AS (SELECT LEAST(CAST(FLOOR(score*10) AS INTEGER), 9) AS bin,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6)
    AS avg_score,
  ROUND(CAST(SUM(label) AS DOUBLE)/COUNT(*), 6) AS pos_rate
 FROM scored GROUP BY 1),
per2 AS (SELECT bin, n, avg_score, pos_rate,
  ROUND(ABS(avg_score - pos_rate), 6) AS gap FROM per),
tot AS (SELECT ROUND(CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE)*gap, 6)
    AS DECIMAL(28,6))) AS DOUBLE)/CAST(SUM(n) AS DOUBLE), 6) AS ece
 FROM per2)
SELECT bin, n, avg_score, pos_rate, gap, ece
FROM per2, tot ORDER BY bin
"""


ORACLES["text_calibration_curve"] = _calibration_oracle()


def text_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling plan (Neyman 1934): a
    100-document annotation budget split across language strata
    proportionally to N_h·s_h (stratum size × token-count std — the
    allocation that minimizes estimator variance), vs the naive
    proportional split. Stds are exact decimal moments; allocations
    are deterministic floors of round-6 shares; the DRAW is the
    engine-portable md5 rank within each stratum (row_number over
    md5(doc_id) — the split_assign determinism device, no RNG), so
    both engines select byte-identical samples. Output per lang:
    population, std, both allocations, docs actually drawn, and the
    drawn sample's exact mean token count for comparison. One
    moments aggregate + one per-stratum window over the rank.
    """
    from pyspark.sql.window import Window

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        quality_features,
    )

    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    d = docs.select(
        "doc_id", "lang", qf["n_tokens"].cast("long").alias("nt")
    )
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("nt").cast("decimal(28,6)")).alias("s1"),
        F.sum((F.col("nt") * F.col("nt")).cast("decimal(38,6)")).alias(
            "s2"
        ),
    )
    nh = F.col("n_h").cast("double")
    sd = F.round(
        F.sqrt(
            F.greatest(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / nh
                )
                / nh,
                F.lit(0.0),
            )
        ),
        6,
    )
    g = g.select("lang", "n_h", sd.alias("s_h"))
    totals = g.agg(
        F.sum("n_h").alias("n_tot"),
        F.sum(
            F.round(nh * F.col("s_h"), 6).cast("decimal(28,6)")
        ).alias("w_tot"),
    )
    alloc = g.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_h",
        "s_h",
        F.floor(
            F.lit(100.0)
            * F.round(nh * F.col("s_h"), 6)
            / F.col("w_tot").cast("double")
        )
        .cast("long")
        .alias("neyman_n"),
        F.floor(
            F.lit(100.0) * nh / F.col("n_tot").cast("double")
        )
        .cast("long")
        .alias("proportional_n"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.withColumn("rk", F.row_number().over(w)).join(
        F.broadcast(alloc.select("lang", "neyman_n")), "lang"
    )
    drawn = (
        ranked.filter(F.col("rk") <= F.col("neyman_n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_drawn"),
            F.round(
                F.sum(F.col("nt").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("drawn_mean_tokens"),
        )
    )
    return (
        alloc.join(drawn, "lang", "left")
        .select(
            "lang",
            "n_h",
            "s_h",
            "neyman_n",
            "proportional_n",
            F.coalesce(F.col("n_drawn"), F.lit(0)).alias("n_drawn"),
            "drawn_mean_tokens",
        )
        .orderBy("lang")
    )


QUERIES["text_neyman_sample"] = text_neyman_sample

ORACLES["text_neyman_sample"] = f"""
WITH d AS (SELECT doc_id, lang, len({_TOKS_O}) AS nt FROM documents),
g0 AS (SELECT lang, COUNT(*) AS n_h,
  SUM(CAST(nt AS DECIMAL(28,6))) AS s1,
  SUM(CAST(nt * nt AS DECIMAL(38,6))) AS s2
 FROM d GROUP BY 1),
g AS (SELECT lang, n_h,
  ROUND(SQRT(GREATEST((CAST(s2 AS DOUBLE)
    - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n_h AS DOUBLE))
    /CAST(n_h AS DOUBLE), 0.0)), 6) AS s_h
 FROM g0),
tt AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n_tot,
  SUM(CAST(ROUND(CAST(n_h AS DOUBLE)*s_h, 6) AS DECIMAL(28,6)))
    AS w_tot FROM g),
alloc AS (SELECT lang, n_h, s_h,
  CAST(FLOOR(100.0*ROUND(CAST(n_h AS DOUBLE)*s_h, 6)
    /CAST(w_tot AS DOUBLE)) AS BIGINT) AS neyman_n,
  CAST(FLOOR(100.0*CAST(n_h AS DOUBLE)/CAST(n_tot AS DOUBLE))
    AS BIGINT) AS proportional_n
 FROM g, tt),
rk AS (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY lang
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d),
drawn AS (SELECT rk.lang, COUNT(*) AS n_drawn,
  ROUND(CAST(SUM(CAST(nt AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*), 6)
    AS drawn_mean_tokens
 FROM rk JOIN alloc ON rk.lang = alloc.lang
 WHERE rk.rk <= alloc.neyman_n GROUP BY 1)
SELECT a.lang, CAST(a.n_h AS BIGINT) AS n_h, a.s_h, a.neyman_n,
  a.proportional_n,
  CAST(COALESCE(dr.n_drawn, 0) AS BIGINT) AS n_drawn,
  dr.drawn_mean_tokens
FROM alloc a LEFT JOIN drawn dr ON a.lang = dr.lang
ORDER BY a.lang
"""


def text_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table for the trained quality classifier —
    the targeting-efficiency audit that complements the reliability
    diagram (text_calibration_curve): rank the corpus by the trained
    score, cut into deciles, and report how concentrated the positive
    (high-quality) documents are at the top. Per decile (10 = highest
    scores): n, positives, positive rate, lift vs the base rate, and
    the cumulative capture / population share a curation run gets by
    keeping the top-k deciles — the "what fraction of the good
    documents do I keep if I only afford to keep 30% of the corpus"
    curve (gains chart; Provost & Fawcett 2013 ch.8).

    Determinism: deciles are assigned by BINNING AGAINST BROADCAST
    PERCENTILE EDGES (one aggregate; Spark `percentile` and DuckDB
    `quantile_cont` share the p·(n−1) interpolation — the RFM/
    q_percentiles precedent), never an ntile global row sort; edges
    and every ratio are round-6; count arithmetic is exact integer.
    Ties collapsing a decile shrink the output identically in both
    engines (strict > comparisons against identical edges).

    100 TB shape: scoring is the classifier's narrow map, the edge
    fit is one combinable aggregate, the decile rollup a 10-group
    combinable aggregate, and every window runs over the ≤10-row
    decile table — nothing but scalars crosses stages."""
    from pyspark.sql.window import Window

    from nashville_etl_service_backup_spark.operators import track_persist

    scored = track_persist(text_quality_classifier(spark, sf_dir))
    qs = F.lit([i / 10.0 for i in range(1, 10)])
    edges = scored.agg(
        *[
            F.round(F.element_at(F.percentile("score", qs), i), 6).alias(
                f"e{i}"
            )
            for i in range(1, 10)
        ]
    )
    dec: F.Column = F.lit(1)
    for i in range(1, 10):
        dec = dec + (F.col("score") > F.col(f"e{i}")).cast("int")
    per = (
        scored.crossJoin(F.broadcast(edges))
        .groupBy(dec.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").alias("n_pos"),
        )
    )
    # totals as GLOBAL WINDOWS over the ≤10-row decile table (round
    # 10): the separate totals aggregate re-planned the scoring +
    # edge-binning pass under a broadcast (no exchange reuse across
    # pruned subtrees) — one aggregation pass instead of two; exact
    # long sums, and the cumulative window below shares the same
    # single-partition stage.
    wall = Window.partitionBy()
    per = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wall).alias("n_tot"),
        F.sum("n_pos").over(wall).alias("pos_tot"),
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    nn = F.col("n").cast("double")
    np_ = F.col("n_pos").cast("double")
    base = F.col("pos_tot").cast("double") / F.col("n_tot").cast("double")
    return (
        per
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(np_ / nn, 6).alias("pos_rate"),
            F.round((np_ / nn) / base, 6).alias("lift"),
            F.round(
                F.sum("n_pos").over(w).cast("double")
                / F.col("pos_tot").cast("double"),
                6,
            ).alias("cum_capture"),
            F.round(
                F.sum("n").over(w).cast("double")
                / F.col("n_tot").cast("double"),
                6,
            ).alias("cum_pop_share"),
        )
        .orderBy(F.desc("decile"))
    )


QUERIES["text_lift_gains"] = text_lift_gains


def _lift_gains_oracle() -> str:
    head = _qc_head()
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_oracle_ctes,
        logreg_oracle_score_sql,
    )

    ctes, wname = logreg_oracle_ctes(
        ["x1", "x2", "x3"], "y", iterations=8, lr=4.0
    )
    p = logreg_oracle_score_sql(["x1", "x2", "x3"], wname)
    edge_cols = ",\n  ".join(
        f"ROUND(quantile_cont(score, {i / 10.0}), 6) AS e{i}"
        for i in range(1, 10)
    )
    dec = "1" + "".join(
        f" + CASE WHEN score > e{i} THEN 1 ELSE 0 END" for i in range(1, 10)
    )
    return f"""{head},
{ctes},
scored AS (SELECT CAST(f.y AS INT) AS label, ROUND({p}, 6) AS score
 FROM f, {wname} w),
ed AS (SELECT {edge_cols} FROM scored),
per AS (SELECT {dec} AS decile, COUNT(*) AS n,
  CAST(SUM(label) AS BIGINT) AS n_pos
 FROM scored, ed GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
  CAST(SUM(n_pos) AS BIGINT) AS pos_tot FROM per)
SELECT decile, n, n_pos,
  ROUND(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE), 6) AS pos_rate,
  ROUND((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))
    /(CAST(pos_tot AS DOUBLE)/CAST(n_tot AS DOUBLE)), 6) AS lift,
  ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    /CAST(pos_tot AS DOUBLE), 6) AS cum_capture,
  ROUND(CAST(SUM(n) OVER (ORDER BY decile DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    /CAST(n_tot AS DOUBLE), 6) AS cum_pop_share
FROM per, tot ORDER BY decile DESC
"""


ORACLES["text_lift_gains"] = _lift_gains_oracle()


def sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by in-engine
    power iteration (operators.similarity.pca_power_top1) — loadings,
    eigenvalue (Rayleigh quotient), and explained-variance share of
    the uncentered second moment. The oracle unrolls the identical
    exact-decimal Gram build and all 8 round-6 power steps in SQL
    CTEs (the IVF train-in-SQL device), so the trained axis
    hash-matches bitwise."""
    from nashville_etl_service_backup_spark.operators.similarity import (
        pca_power_top1,
    )

    vecs = load(spark, sf_dir, "embeddings")
    return pca_power_top1(vecs, "embedding", dim=64, iters=8)


QUERIES["sim_pca_power"] = sim_pca_power


def _pca_oracle(dim: int = 64, iters: int = 8) -> str:
    v0 = repr(round(1.0 / dim**0.5, 6))
    mv = (
        "list_transform(gmat, row -> list_sum(list_transform("
        f"range(1, {dim + 1}), k -> row[k] * v[k])))"
    )
    parts = [
        f"""WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
    x -> round(x, 6)) AS x FROM embeddings),
ij AS (SELECT a.i, b.j FROM (SELECT unnest(range({dim})) AS i) a,
  (SELECT unnest(range({dim})) AS j) b),
g AS (SELECT i, j,
  CAST(SUM(CAST(FLOOR(x[CAST(i AS INT)+1] * x[CAST(j AS INT)+1]
    * 1000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS gv
 FROM e, ij GROUP BY i, j),
gr AS (SELECT i, list(gv ORDER BY j) AS grow FROM g GROUP BY i),
gm AS (SELECT list(grow ORDER BY i) AS gmat FROM gr),
it0 AS (SELECT gmat,
  list_transform(range({dim}), k -> CAST({v0} AS DOUBLE)) AS v FROM gm)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
w{t} AS (SELECT gmat, {mv} AS w FROM it{t - 1}),
n{t} AS (SELECT gmat, w,
  sqrt(list_sum(list_transform(w, t -> t*t))) AS nrm FROM w{t}),
it{t} AS (SELECT gmat,
  list_transform(w, t -> round(t / nrm, 6)) AS v FROM n{t})"""
        )
    parts.append(
        f""",
fin AS (SELECT gmat, v, {mv} AS w FROM it{iters}),
sc AS (SELECT gmat, v,
  round(list_sum(list_transform(range(1, {dim + 1}), k -> v[k] * w[k]))
    / list_sum(list_transform(v, t -> t*t)), 6) AS eigenvalue FROM fin),
tr AS (SELECT v, eigenvalue,
  round(eigenvalue / list_sum(list_transform(range(1, {dim + 1}),
    k -> gmat[CAST(k AS INT)][CAST(k AS INT)])), 6) AS explained_share
 FROM sc)
SELECT CAST(ks.k - 1 AS INT) AS dim_idx, v[CAST(ks.k AS INT)] AS loading,
  eigenvalue, explained_share
FROM tr, (SELECT unnest(range(1, {dim + 1})) AS k) ks
ORDER BY dim_idx"""
    )
    return "".join(parts)


ORACLES["sim_pca_power"] = _pca_oracle()
