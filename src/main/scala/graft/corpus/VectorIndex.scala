package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{TxTable, VectorOps}
import graft.queries.SimilarityQueries

/** PERSISTED IVF vector index on the engine's own transactional layer
  * — the ANN-index storage dogfooded onto [[TxTable]] instead of
  * loose parquet directories:
  *
  *  - [[build]] trains the deterministic k-means codebook
  *    ([[SimilarityQueries.kmeansCentroids]]) and the celled
  *    assignment table, then lands BOTH in ONE atomic commit of ONE
  *    table (rows discriminated by a `part` column) — a rebuild is a
  *    single `overwriteAs("ivf-build")`, so a concurrent searcher
  *    resolves the old index or the new one, never centroids from one
  *    fit against assignments from another (the torn-rebuild hazard
  *    two plain directories cannot exclude);
  *  - every rebuild is a table version: `DESCRIBE HISTORY` audits
  *    refits, [[searchAt]] time-travels a query onto any prior index
  *    (the reproduce-last-week's-retrieval shape), and vacuum
  *    reclaims superseded builds on the normal retention contract;
  *  - a crashed rebuild leaves NOTHING visible (commit atomicity) —
  *    no half-written `index/` next to a stale `cents/`.
  *
  * Scale shape: identical plans to the benchmarked ANN queries — the
  * codebook broadcasts, scoring joins on `cell`, only top-k rows per
  * group cross any shuffle. At 100 TB the assignment table is the big
  * side; it rides the txtable like any fact table (bucketed/clustered
  * layouts compose through the same writer options). */
object VectorIndex {

  private val Tag = "ivf-build"

  /** Fit centroids over `embeddings` (`vec_id`, `v`; `nrm` computed
    * if absent) and persist the full index at `dir` as one commit.
    * Returns the committed index version. */
  def build(embeddings: DataFrame, dir: String): Long = {
    val spark = embeddings.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val e0 =
      if (embeddings.columns.contains("nrm")) embeddings
      else embeddings.withColumn("nrm", VectorOps.normNative(col("v")))
    graft.ops.Checkpoints.using(
        e0.select(col("vec_id"), col("v"), col("nrm"))) { e =>
      val cents = SimilarityQueries.kmeansCentroids(e)
      val celled = SimilarityQueries.assignCells(e, cents)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val combined = celled.withColumn("part", lit("vec"))
        .unionByName(cents.select(col("c_id").as("vec_id"),
          col("cv").as("v"), col("cn").as("nrm"))
          .withColumn("cell", lit(null).cast("long"))
          .withColumn("part", lit("cent")))
      try TxTable(spark, dir).overwriteAs(Tag, combined).version
      finally graft.ops.Checkpoints.release(cents)
    }
  }

  /** Top-3 cosine neighbors per query row (`q_id`, `qv`) against the
    * index at `dir`'s HEAD. */
  def search(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    searchOver(TxTable(spark, dir).read(), queries)

  /** [[search]] against a PRIOR index version — the dogfooding
    * dividend: re-run any retrieval exactly as an old build served it. */
  def searchAt(spark: SparkSession, dir: String, version: Long,
      queries: DataFrame): DataFrame =
    searchOver(TxTable(spark, dir).readAt(version), queries)

  private def searchOver(index: DataFrame, queries: DataFrame)
      : DataFrame = {
    graft.functions.VectorExpressions.register(index.sparkSession)
    val ce = index.where(col("part") === "vec")
      .select("vec_id", "v", "nrm", "cell")
    val cents = index.where(col("part") === "cent")
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val q = queries.select(col("q_id"), col("qv"),
      VectorOps.normNative(col("qv")).as("qn"))
    SimilarityQueries.ivfSearch(ce, cents, q)
  }
}
