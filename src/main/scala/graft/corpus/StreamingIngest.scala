package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextFunctions}

/** Streaming ingest curation — the continuous-crawl face of
  * [[CorpusPipeline]]'s leading stages. A landing stream of documents
  * (with an `ingest_ts` event time) passes a per-row quality gate, then
  * exact content dedup bounded by the watermark horizon: the first
  * arrival of a fingerprint wins, re-crawls and mirror copies inside the
  * horizon are dropped, and state for fingerprints older than the
  * watermark is evicted — the property that lets the query run forever.
  * The same gate+fingerprint transform runs in batch; only the dedup
  * call branches (`dropDuplicatesWithinWatermark` REJECTS batch frames,
  * so batch uses plain dropDuplicates — same keep-one-per-fingerprint
  * contract, which is how the spec pins stream ≡ batch).
  *
  * Near-dup (MinHash) dedup splits by horizon: dedup WITHIN the
  * unbounded stream would need corpus-wide state no stream can hold,
  * and stays a periodic batch compaction — but dedup AGAINST EVERYTHING
  * ALREADY ACCEPTED is incremental: [[nearDupIndexSink]] keeps a
  * persisted signature index on disk (not in stream state) and probes
  * it per micro-batch.
  */
object StreamingIngest {

  /** Quality-gated, content-deduped document stream. Input columns:
    * doc_id, text, lang, source, ingest_ts. */
  def curated(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    // the quality gate resolves the native ws_tokens function; callers
    // hand us an arbitrary stream, so register here rather than rely on
    // a prior Tables load or the extensions config
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val gated = docs
      .withColumn("n_tok", size(TextFunctions.tokens(col("text"))))
      .where(col("n_tok") >= CorpusPipeline.MinTokens)
      .withColumn("fp", TextFunctions.fingerprintMd5(col("text")))
    val deduped =
      if (docs.isStreaming)
        gated.withWatermark("ingest_ts", watermark)
          .dropDuplicatesWithinWatermark("fp")
      else gated.dropDuplicates("fp")
    deduped.drop("fp")
  }

  /** Incremental NEAR-dup dedup for a continuous crawl: each micro-batch
    * is MinHash-signed, deduped within itself (lower doc_id wins), then
    * probed against the persisted signature index of every previously
    * accepted document — an LSH band-key equi-join plus signature-level
    * verify ([[graft.ops.Dedup.signatureNearDups]]'s estimate; the raw
    * text of accepted docs is never retained). Survivors land in
    * `outDir`, their banded signatures append to `indexDir`, and the
    * next batch probes the grown index.
    *
    * State story: the dedup "state" is the on-disk index, not stream
    * state — unbounded corpus, bounded executor memory. Both the
    * accepted-documents table and the signature index are
    * [[graft.ops.TxTable]]s, and each batch's append carries a
    * `(txnAppId, batchId)` transaction marker — replay idempotence is
    * the ENGINE'S, not hand-rolled directory juggling: a replayed
    * batch whose append already committed raises the engine's
    * already-applied signal and is skipped, a crash mid-append left
    * NOTHING visible (commit atomicity), and both tables come with
    * time travel / DESCRIBE HISTORY / vacuum for free. The out table
    * is appended BEFORE the index, so at the probe the index can
    * never contain the probing batch's own signatures (the
    * self-match-at-sim-1.0 hazard the plain-parquet design had to
    * dodge with partition exclusion).
    *
    * Scale shape: the index join shuffles band keys + 12-long
    * signatures, never documents; the incoming batch (≪ index) is the
    * broadcast-eligible side. A pathological band key shared by a huge
    * index fraction would fan out — production composes the same df-cap
    * used by `invertedIndexNearDups` over the index side. */
  def nearDupIndexSink(
      docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, minSim: Double = 0.75,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] =
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val w = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupBatch(batch, batchId, indexDir, outDir, minSim)
        ()
      }
    // AvailableNow (the backfill default) drains then STOPS; a live
    // crawl passes None for the continuous micro-batch trigger
    trigger.fold(w)(w.trigger).start()
  }

  /** The sink's transaction identity in both tables' txn markers. */
  private[graft] val TxnApp = "graft.nearDupIndexSink"

  /** Test seam: fired between the out-table append and the index
    * append — a throw here models a crash in the one window where the
    * two tables disagree (out committed, index not), so the spec can
    * pin that replay completes the index WITHOUT re-landing the docs. */
  private[graft] var afterOutAppendHook: () => Unit = () => ()

  /** One micro-batch of [[nearDupIndexSink]] — package-visible so the
    * spec can drive batches directly. */
  private[graft] def nearDupBatch(
      batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      minSim: Double): Unit = {
    // an empty micro-batch (idle trigger tick) must not commit an
    // empty — and schema-less, hence unreadable — table version
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val out = graft.ops.TxTable(spark, outDir)
    val idx = graft.ops.TxTable(spark, indexDir)
    // whole-batch replay fast path: BOTH tables record the marker —
    // the first attempt finished, recomputing would only burn work
    if (out.txnVersion(TxnApp).exists(_ >= batchId) &&
        idx.txnVersion(TxnApp).exists(_ >= batchId)) return
    // pinned per batch and RELEASED on every exit — a continuous trigger
    // would otherwise accumulate blocks for the life of the app (the
    // leak class ops.Checkpoints exists to close)
    val sigPlan = Dedup.shingleTable(batch)
      .select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"))
    graft.ops.Checkpoints.using(sigPlan) { sigs =>
      // within-batch near-dups: the lower id is canonical, higher ids drop
      val withinDups = Dedup.signatureNearDups(sigs, minSim)
        .select(col("b_id").as("doc_id")).distinct()
      // vs the index of all previously accepted docs (absent on batch
      // 0). The index can never hold THIS batch's own signatures here:
      // the out table appends first, so an index that recorded the
      // marker implies the fast path above already returned — the
      // plain-parquet design's self-match-at-sim-1.0 replay hazard is
      // structurally gone.
      val newBands = Dedup.bandTable(sigs)
      val vsIndexDups = readIndex(spark, indexDir) match {
        case Some(index) =>
          // skew guard: a band key shared by a huge index fraction (a
          // boilerplate shingle pattern) would fan the probe join out by
          // its membership; keys past the cap are dropped — docs that hot
          // still meet the index through their other Bands-1 keys. The
          // hot list is tiny and broadcasts; production maintains these
          // counts incrementally instead of re-aggregating the index.
          val hot = index.groupBy("band_idx", "band_key")
            .agg(count(lit(1)).as("n"))
            .where(col("n") > Dedup.MaxBucket)
            .select("band_idx", "band_key")
          newBands
            .join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
            .join(index
              .select(col("band_idx"), col("band_key"),
                col("sig").as("idx_sig")),
              Seq("band_idx", "band_key"))
            .where(Dedup.signatureSimilarity(col("sig"), col("idx_sig"))
              >= minSim)
            .select("doc_id").distinct()
        case None => withinDups.limit(0)
      }
      val dropIds = withinDups.union(vsIndexDups).distinct()
      graft.ops.Checkpoints.using(
          batch.join(dropIds, Seq("doc_id"), "left_anti")) { kept =>
        // out FIRST, then index, each append atomic under its txn
        // marker. Crash shapes: mid-append → nothing visible, replay
        // recomputes cleanly; between the two → out's marker skips
        // the re-append on replay (rows landed once) and the index
        // append completes; after both → the fast path skips. The
        // pre-check avoids STAGING a full orphan copy of the batch
        // only for the marker to refuse the commit; the catch stays
        // for the zombie-attempt race the pre-check cannot close. The
        // `batch` column is ordinary data now — kept for lineage, no
        // partition-discovery tricks.
        if (!out.txnVersion(TxnApp).exists(_ >= batchId))
          try {
            out.append(kept.withColumn("batch", lit(batchId)),
              Some((TxnApp, batchId)))
            ()
          } catch { case _: graft.ops.TxTable.TxnAlreadyApplied => () }
        afterOutAppendHook()
        if (!idx.txnVersion(TxnApp).exists(_ >= batchId))
          try {
            idx.append(
              newBands.join(kept.select("doc_id"), Seq("doc_id"),
                "left_semi").withColumn("batch", lit(batchId)),
              Some((TxnApp, batchId)))
            ()
          } catch { case _: graft.ops.TxTable.TxnAlreadyApplied => () }
      }
    }
  }

  /** The signature index, if any batch has committed one yet —
    * resolved from the index table's own log (no directory probing;
    * a transient resolve error fails the batch, which retries, never
    * silently skips the index and re-admits in-flight near-dups). */
  private def readIndex(
      spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val t = graft.ops.TxTable(spark, indexDir)
    if (t.snapshot().files.isEmpty) None else Some(t.read())
  }
}
