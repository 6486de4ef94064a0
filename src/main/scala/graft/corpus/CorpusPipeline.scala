package graft.corpus

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Checkpoints, Dedup, PortableHash, Redaction, TextFunctions}

/** The end-to-end corpus-curation pipeline — the document-side twin of
  * [[graft.immigration.ImmigrationPipeline]], proving the operators
  * compose into the run a training-data team actually ships:
  *
  *   quality gate → canonicalize (NFC) + PII scrub → exact dedup →
  *   near-dup clustering (keep one doc per cluster) → stratified
  *   downsample → sequence packing → partitioned parquet.
  *
  * Every stage is the library operator, not a reimplementation; stage
  * row counts come back as [[CorpusPipeline.Stats]] for monitoring. The
  * two dedup outputs checkpoint (several downstream consumers each);
  * cheap per-row stages recompute on demand instead.
  *
  * Scale shape: per-row stages (quality, fingerprint, sample) are pure
  * scan-side column algebra and recompute rather than cache (cheaper
  * than materializing text); the dedup shuffles carry narrow
  * (fingerprint/id) projections with the text joined back by small
  * keeper/loser sets, so document text crosses exactly ONE shuffle —
  * the per-shard packing window.
  */
object CorpusPipeline {

  final case class Stats(
      input: Long,
      afterQuality: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      sampled: Long,
      sequences: Long)

  val MinTokens = 5
  val SeqLen = 2048

  def run(spark: SparkSession, docsDir: String, outDir: String): Stats = {
    // Stage counts ride the actions the pipeline already runs (the two
    // dedup checkpoints + the final write) as `observe()` metrics — at
    // 100 TB a per-stage count() is a full extra pass over the corpus,
    // and the original formulation paid three of them. Placement rule:
    // an observe node double-counts if its subtree feeds TWO plan
    // branches (each branch re-evaluates it), so the observed chain is
    // attached to exactly one branch — the anti-join's left (probe)
    // side — while the fingerprint branch derives from an unobserved
    // twin of the same stages.
    val obsInput = org.apache.spark.sql.Observation("input")
    val obsQuality = org.apache.spark.sql.Observation("quality")
    val obsSampled = org.apache.spark.sql.Observation("sampled")

    // 1. quality gate: drop degenerate docs (pure per-row filter)
    //    1b. canonicalize + redact BEFORE any fingerprint/shingle step:
    //    composed and decomposed spellings of the same visible text must
    //    dedup together, and PII must not survive into training shards.
    //    Both are per-row column algebra — free at scan speed.
    def qualityGate(d: DataFrame): DataFrame = d
      .withColumn("text",
        Redaction.scrub(call_function("nfc_normalize", col("text"))))
      .withColumn("n_tok", size(TextFunctions.tokens(col("text"))))
      .where(col("n_tok") >= MinTokens)

    val quality = qualityGate(Tables.documents(spark, docsDir))
    val qualityObserved = qualityGate(
      Tables.documents(spark, docsDir).observe(obsInput, count(lit(1)).as("n")))
      .observe(obsQuality, count(lit(1)).as("n"))

    // 2. exact dedup: one survivor (min doc_id) per canonical
    //    fingerprint. Only a narrow (fp, doc_id) projection crosses the
    //    shuffle; the LOSER ids (duplicates are rare, so this set is
    //    tiny) anti-join back against the full rows — a window over fp
    //    would shuffle every document body instead
    val fpPairs = quality.select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val losers = fpPairs.as("p")
      .join(fpPairs.groupBy("fp").agg(min("doc_id").as("keep")), "fp")
      .where(col("doc_id") =!= col("keep"))
      .select("doc_id")
    // the eager checkpoint IS the action that fires obsInput/obsQuality
    // (their chain lives only on this probe side); nExact is the
    // checkpointed row count — no extra pass over source data
    val keepExact = Checkpoints.pin(
      qualityObserved.join(losers, Seq("doc_id"), "left_anti"))
    val nExact = keepExact.count() // row count of the checkpoint

    // 3. near-dup clustering: production-speed signatures, exact verify,
    //    connected components, keep the min-id doc of each cluster
    val pairs = Dedup.minhashNearDupsFast(keepExact, threshold = 0.8)
      .select(col("a_id"), col("b_id"))
    val comp = Dedup.connectedComponents(
      keepExact.select(col("doc_id").as("id")), pairs)
    //    ... and tag each survivor with its leakage-safe train/eval
    //    split while the cluster label is in hand: hashing the CLUSTER
    //    id (not the doc id) means a near-dup of a training document can
    //    never surface in eval — the dropped dups' canonical carries the
    //    whole component to one side (see x_split_by_cluster)
    val keepNear = Checkpoints.pin(keepExact.join(
        comp.where(col("id") === col("label"))
          .select(col("id").as("doc_id"), col("label")),
        "doc_id")
      .withColumn("split",
        when(PortableHash.hash60(col("label").cast("string")) % 100 < 90,
          "train").otherwise("eval"))
      .drop("label"))
    val nNear = keepNear.count()

    // 4. deterministic stratified downsample (reproducible across runs
    //    and cluster sizes — no rand())
    val quota = when(col("lang") < "m", lit(80)).otherwise(lit(60))
    val sampled = keepNear
      .where(PortableHash.hash60(col("doc_id").cast("string")) % 100 < quota)
      .observe(obsSampled, count(lit(1)).as("n"))

    // 5. sequence packing within language shards
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = sampled
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("n_tok")) / lit(SeqLen)))
      .drop("cum")

    // 6. partitioned sink: downstream training jobs read one
    //    (lang, split) directory without touching the rest — eval never
    //    rides along with a training shard
    packed.write.mode(SaveMode.Overwrite)
      .partitionBy("lang", "split").parquet(s"$outDir/corpus")
    // everything below reads the written corpus, not the pins
    Checkpoints.release(keepExact, keepNear)
    val out = spark.read.parquet(s"$outDir/corpus")
    val nSeqs = out.select(col("lang"), col("seq_id")).distinct().count()

    def metric(o: org.apache.spark.sql.Observation): Long =
      o.get("n").asInstanceOf[Long]
    Stats(metric(obsInput), metric(obsQuality), nExact, nNear,
      metric(obsSampled), nSeqs)
  }
}
