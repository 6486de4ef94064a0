package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one way to pin a frame: an eager `localCheckpoint`
  * whose blocks are released explicitly.
  *
  * `localCheckpoint(true)` materializes the plan into executor storage
  * and truncates its lineage — iterative loops (label propagation,
  * Lloyd iterations, connected components) pin every round so the
  * plan stays O(1), and multi-pass consumers (MERGE, identity appends,
  * runtime filters) pin so every pass reads ONE materialization. The
  * blocks live outside the SQL cache, so neither `Dataset.unpersist()`
  * nor `spark.catalog.clearCache()` ever frees them: without
  * [[release]] they stay for the life of the SparkContext.
  *
  * The pinned frame is its own handle. Its plan is a single
  * `LogicalRDD` leaf over the checkpointed RDD, and [[release]] reads
  * the RDD from there — no shared registry is consulted, so concurrent
  * queries in one SparkContext (a streaming `foreachBatch`, a second
  * session) never see or drop each other's blocks. Loops release each
  * superseded round once the next is pinned; a pin that escapes into a
  * returned lazy plan stays pinned for as long as that plan may run.
  */
object Checkpoints {

  /** Eagerly localCheckpoint `df`; the returned frame reads the pinned
    * blocks and is the handle [[release]] takes. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Free the blocks behind each frame [[pin]] returned. Any other
    * frame — a derived `select` of a pin, a loop's unpinned seed — is
    * left alone, so callers may pass whatever a loop variable holds.
    * Non-blocking: nothing rereads a released frame. */
  def release(pinned: DataFrame*): Unit = pinned.foreach { df =>
    df.queryExecution.logical match {
      case l: LogicalRDD if l.rdd.isCheckpointed =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Pin `df`, run `f` over the pinned frame, and release on every exit
    * path. `f` must finish reading the frame before it returns. */
  def using[T](df: DataFrame)(f: DataFrame => T): T = {
    val pinned = pin(df)
    try f(pinned) finally release(pinned)
  }
}
