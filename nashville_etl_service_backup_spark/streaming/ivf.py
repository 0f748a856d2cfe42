"""Incremental IVF index maintenance — ANN serving without re-training.

The batch ANN ladder (operators/similarity.py) fits the coarse
quantizer and assigns the whole corpus in one pass; a NEW embedding
batch would need a full re-fit + re-assign to join the index. This
module is the streaming leg (VERDICT r8 Next #7): the quantizer is
FROZEN as a model artifact (k×dim numbers from
similarity.centroid_artifact), each AvailableNow micro-batch assigns
its vectors with the same Arrow kernel the batch path uses
(similarity.nearest_centroid_vectorized — bit-identical chain-order
IEEE cosine), and the per-batch posting partial lands under
``index_path/batch_id=<id>/`` with the incremental_rollup replay
contract: a re-delivered batch overwrites its OWN directory, so the
index can never double-post, and the partial becomes reader-visible
only through an atomic manifest append (streaming/commitlog.py) — torn
partials never serve.

Because the quantizer is frozen, the maintained index is EXACTLY the
index a batch rebuild would produce on the union of the batches —
set-union of per-vector (cent_id, v) rows is independent of batching.
That equivalence is the correctness contract: the registry query
sim_ann_ivf_incremental serves top-k from a streamed index against
the SAME DuckDB oracle as the batch sim_ann_ivf, and
tests/test_streaming.py pins streamed-vs-batch equality plus the
recall-vs-refit trade.

100 TB shape: assignment is a narrow Arrow map (no shuffle — the
artifact rides the UDF closure); each batch writes only its own
postings; serving probes ``n_probe`` lists via a broadcast semi-join,
so queries touch ~n_probe/k of the corpus regardless of how many
batches built it. Drift is handled by re-fitting OFFLINE on a sample
and atomically swapping index roots — the quantizer is a few KB, the
index rebuild is one assignment pass, and the commit log makes the
swap a single manifest append (compact_rollup's device).

Reference parity: the reference has no vector serving at all; this is
part of the 100-TB-training-pipeline extension surface (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nashville_etl_service_backup_spark.operators.similarity import (
    as_double,
    centroid_artifact,
    cosine,
    nearest_centroid_vectorized,
)
from nashville_etl_service_backup_spark.streaming import commitlog


def incremental_ivf(
    spark: SparkSession,
    emb_path: str,
    index_path: str,
    checkpoint_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream embedding batches into an IVF posting store against a
    FROZEN quantizer. Each micro-batch: assign every vector to its
    highest-cosine centroid (Arrow kernel, bit-identical to the batch
    path), write (id, extra..., v, cent_id) to its own
    ``batch_id=<id>/`` directory (overwrite → idempotent replay), then
    commit it through the manifest log.

    The source batches must partition the corpus (file-based
    AvailableNow delivery does this by construction); a vector
    re-appearing across batches would post twice — upsert semantics
    belong to a compaction, not the hot path."""
    schema = spark.read.parquet(emb_path).schema
    art = centroid_artifact(centroids)
    assign = nearest_centroid_vectorized(*art)

    def sink(batch: DataFrame, batch_id: int) -> None:
        part = (
            batch.select(
                F.col(id_col),
                *extra_cols,
                as_double(F.col(vec_col)).alias("v"),
            )
            .withColumn("_a", assign(F.col("v")))
            .select(
                id_col,
                *extra_cols,
                "v",
                F.col("_a")["cid"].alias("cent_id"),
            )
        )
        commitlog.publish(part, index_path, batch_id)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(emb_path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_ivf_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The served posting table: union of the manifest-committed
    per-batch partials (the read_rollup contract — torn/uncommitted
    directories are invisible)."""
    return commitlog.read_committed(spark, index_path)


def ivf_probe_topk(
    index: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Serve top-k from a maintained posting store: pick the query's
    ``n_probe`` nearest lists (broadcast centroid scan — identical
    probe order to ivf_topk: cosine desc, cent_id desc), semi-join the
    store on cent_id, exact-cosine re-rank. Identical output contract
    to operators.similarity.ivf_topk, so the two index paths (batch
    rebuild vs incremental maintenance) are interchangeable — and
    hash-checked against the same oracle."""
    probes = (
        query.crossJoin(F.broadcast(centroids))
        .withColumn("_c", cosine(F.col("qv"), F.col("cv")))
        .orderBy(F.desc("_c"), F.desc("cent_id"))
        .limit(n_probe)
        .select("cent_id")
    )
    cand = (
        index.join(F.broadcast(probes), "cent_id", "left_semi")
        .crossJoin(F.broadcast(query))
        .withColumn("_cos", cosine(F.col("v"), F.col("qv")))
    )
    return (
        cand.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )
