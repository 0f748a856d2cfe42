"""The north-star batch job: ``llm_corpus_curation`` (funnel → MinHash-LSH
→ connected components → resolve → split) over a generated corpus, its
oracle check, and the traced census of its stages plus the k-means
SemDeDup step (``semantic_dedup_pairs``) over generated embeddings."""

from __future__ import annotations

import argparse
import json
import os
import re

from common import canon_hash
from spans import Tracer

QUERY = "llm_corpus_curation"


def curation_pass(spark, corpus_dir: str, tracer: Tracer, request: str | None = None):
    """One pass of the curation query, collected; returns its frame."""
    from nashville_etl_service_backup_spark.operators import release_persisted
    from nashville_etl_service_backup_spark.queries import extended_queries

    with tracer.span("pass", request):
        out = extended_queries()[QUERY](spark, corpus_dir).toPandas()
        release_persisted()
    return out


def oracle_hash(corpus_dir: str) -> tuple[int, str]:
    """The registry's DuckDB oracle SQL over the generated inputs.  Every
    non-recursive CTE is marked ``AS MATERIALIZED``: a DuckDB evaluation
    hint that leaves the result unchanged, without which DuckDB
    re-evaluates the LSH pair CTE in each recursion round and the oracle
    takes minutes instead of seconds."""
    import duckdb

    from nashville_etl_service_backup_spark.queries import extended_oracles

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/documents.parquet')")
    sql = re.sub(r"\n(\w+) AS \(", r"\n\1 AS MATERIALIZED (", extended_oracles()[QUERY])
    try:
        return canon_hash(con.execute(sql).fetchdf())
    finally:
        con.close()


def staged(spark, corpus_dir: str, cluster: dict[int, int], tracer: Tracer) -> dict:
    """Traced layer census: funnel, LSH pairs, resolve, k-means and the
    SemDeDup pair step, each materialized from the cached output of the
    stage before it.  Returns the stage counts and the LSH recall against
    the generator's planted near-duplicate clusters."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators import release_persisted, spread
    from nashville_etl_service_backup_spark.operators.dedup import (
        band_signatures,
        lsh_near_dup_pairs,
        resolve_duplicates,
    )
    from nashville_etl_service_backup_spark.operators.similarity import (
        as_double,
        kmeans_centroids,
        semantic_dedup_pairs,
    )
    from nashville_etl_service_backup_spark.queries.llmdata import _funnel_split

    cached = []

    def keep(df):
        df = df.cache()
        cached.append(df)
        return df, df.count()

    docs, n_docs = keep(spread(spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))))
    with tracer.span("text_analysis.funnel"):
        _, survivors = _funnel_split(docs, keep_cols=("doc_id", "lang"))
        kept, n_kept = keep(
            survivors.filter(F.col("late_verdict") == "kept").select("doc_id", "lang", "text"))
    with tracer.span("dedup.lsh"):
        pairs, n_pairs = keep(lsh_near_dup_pairs(
            kept, "doc_id", "text", shingle_n=2, num_hashes=4, bands=2, threshold=0.6))
    with tracer.span("dedup.resolve"):
        final, n_final = keep(resolve_duplicates(kept, "doc_id", pairs))
    release_persisted()
    # untimed: candidate pairs (same banding as the pair step) and recall
    b = band_signatures(kept, "doc_id", "text", shingle_n=2, num_hashes=4, bands=2)
    n_cand = (
        b.alias("l").join(b.alias("r"), (F.col("l.band_idx") == F.col("r.band_idx"))
                          & (F.col("l.band_hash") == F.col("r.band_hash"))
                          & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select("l.doc_id", "r.doc_id").distinct().count()
    )
    kept_ids = {r[0] for r in kept.select("doc_id").collect()}
    final_ids = {r[0] for r in final.select("doc_id").collect()}
    groups: dict[int, set[int]] = {}
    for v, base in cluster.items():
        groups.setdefault(base, {base}).add(v)
    expected = found = 0
    for members in groups.values():
        k = members & kept_ids
        if len(k) > 1:
            expected += len(k) - 1
            found += min(len(k) - 1, len(k - final_ids))
    emb = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    pts, _ = keep(emb.select("vec_id", as_double(F.col("embedding")).alias("v")))
    # SemDeDup = k-means + pair step; the pair step's time is the
    # difference of the two spans
    with tracer.span("similarity.semdedup"):
        semantic_dedup_pairs(emb, n_centroids=16, kmeans_iters=1, top_k=20, dim=64).collect()
    with tracer.span("similarity.kmeans"):
        kmeans_centroids(pts, n_centroids=16, iters=1, id_col="vec_id", vec_col="v",
                         dim=64).collect()
    release_persisted()
    for df in cached:
        df.unpersist()
    return {
        "docs": n_docs, "kept": n_kept, "pairs": n_pairs, "final": n_final,
        "candidates": n_cand, "recall": found / expected if expected else 1.0,
    }


def main() -> int:
    """Write one seed's corpus and its oracle hash (``prepared.json``).
    The workload runs this in a child process, so the corpus lists and
    DuckDB never count towards the benchmark process's memory."""
    import gen

    ap = argparse.ArgumentParser(description=main.__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cluster = gen.write_corpus(args.seed, gen.load_spec()["curate_corpus"], args.out)
    with open(os.path.join(args.out, "prepared.json"), "w") as f:
        json.dump({"oracle": oracle_hash(args.out), "cluster": cluster}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
