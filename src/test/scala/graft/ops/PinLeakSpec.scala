package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables
import graft.streaming.EventStreams

/** Pin hygiene of the iterative and multi-pass operators on sf0.001
  * inputs: each call may grow the persistent-RDD registry by at most
  * the pinned frames its result reads (a loop's final round), never by
  * its superseded rounds or setup pins. */
class PinLeakSpec extends SparkTestBase {

  private def registry: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def dir = sf("sf0.001")

  private def graphEdges: DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    base.union(base.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def docs: DataFrame = Tables.documents(spark, dir)

  private def scd2SinkTwoBatches(): Unit = {
    import spark.implicits._
    val dim = Files.createTempDirectory("graft-pinleak-dim-").toString
    val ckpt = Files.createTempDirectory("graft-pinleak-ck-").toString
    val in = MemoryStream[(Long, String, Long)](spark)
    Seq(Seq((1L, "a", 1L), (2L, "b", 1L)), Seq((1L, "a2", 2L), (3L, "c", 1L)))
      .foreach { rows =>
        in.addData(rows: _*)
        EventStreams.scd2Sink(in.toDF().toDF("k", "v", "seq"),
          keys = Seq("k"), trackCols = Seq("v"), seqCol = "seq",
          dimDir = dim, checkpointDir = ckpt).awaitTermination()
      }
    assert(TxTable(spark, dim).read().where(col(Scd2.Current)).count() === 3)
  }

  /** (operator, call, pinned frames its result reads). Each call
    * materializes the operator's full output. */
  private val cases: Seq[(String, () => Unit, Int)] = Seq(
    ("Graph.pageRank",
      () => { Graph.pageRank(graphEdges).collect(); () }, 1),
    ("Graph.labelPropagation",
      () => {
        Graph.labelPropagation(graphEdges, packedLongLabels = true).collect()
        ()
      }, 1),
    ("Bpe.train",
      () => { Bpe.train(Bpe.wordCounts(docs), nMerges = 3)._2.collect(); () },
      1),
    ("Dedup.connectedComponents",
      () => {
        val pairs = docs.where(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"))
        Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
          .collect()
        ()
      }, 1),
    ("SimilarityQueries.kmeansCentroids",
      () => {
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", VectorOps.normNative(col("v")))
        graft.queries.SimilarityQueries.kmeansCentroids(e).collect()
        ()
      }, 1),
    ("Logistic.train",
      () => {
        val features = docs.select(col("doc_id"),
          (col("doc_id") % 8).as("b"), (col("n_chars") / 1000.0).as("x"))
        val labels = docs.select(col("doc_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        Logistic.train(features, labels).collect()
        ()
      }, 0),
    ("EventStreams.scd2Sink", () => scd2SinkTwoBatches(), 0))

  test("operators leave at most their result's pins in the registry") {
    val grown = cases.map { case (name, run, allowed) =>
      val before = registry
      run()
      val added = registry -- before
      // drop what the call left so the next case starts level
      added.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true)))
      (name, added.size, allowed)
    }
    val over = grown.filter { case (_, n, allowed) => n > allowed }
    assert(over.isEmpty, grown.map { case (name, n, allowed) =>
      s"$name +$n (allowed $allowed)" }.mkString("; "))
  }
}
