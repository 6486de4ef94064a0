package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense sequential id assignment (0..n-1 by a total order) — without
  * the classic 100 TB mistake.
  *
  * The naive form, `row_number() OVER (ORDER BY ...)`, is an empty
  * PARTITION BY: Spark funnels the ENTIRE dataset through one task.
  * The scalable form is two-phase: range-partition by the order key
  * (parallel), count rows per partition (tiny aggregate), turn counts
  * into cumulative offsets on the driver (a few hundred longs, not
  * data), and add each partition's offset to its LOCAL row numbers —
  * every phase is parallel and the only driver traffic is the offset
  * array. Same trick as RDD.zipWithIndex, expressed in DataFrame
  * algebra so Catalyst keeps the plan.
  *
  * `order` must be a TOTAL order (include a unique tie-break column):
  * range boundaries can split ties across partitions, and only a total
  * order makes the assignment deterministic and engine-portable.
  *
  * The call is EAGER: the result comes back localCheckpoint-backed (its
  * lineage truncated) so the internal cache of the range-partitioned
  * input is released before returning rather than leaking per call;
  * release the result's own blocks when done like any checkpointed
  * frame. */
object DenseIds {

  def assign(df: DataFrame, order: Seq[Column],
      idCol: String = "dense_id",
      numPartitions: Int = 0,
      eager: Boolean = true): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else df.sparkSession.sparkContext.defaultParallelism
    // the counting pass and the numbering pass MUST see one
    // materialization: __pid comes from spark_partition_id(), and a
    // recompute (evicted/lost blocks) re-runs range sampling — leaving
    // correctness hinging on repartitionByRange's deterministic sampling
    // over a deterministic input, the exact implementation detail this
    // operator refuses to rely on. Production path (eager): PIN — the
    // lineage truncation makes silent recompute impossible (executor
    // loss fails loudly instead of renumbering). eager = false (plan
    // audits only, which need the exchange/window structure visible and
    // a pin would truncate it away) falls back to persist, which is safe
    // only for a deterministic df that survives block loss.
    val rangedPlan = df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
    val ranged =
      if (eager) Checkpoints.pin(rangedPlan)
      else rangedPlan.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // phase 1: per-partition counts — a |partitions|-row aggregate
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // phase 2: cumulative offsets (driver-side over ~n longs)
    val offsets = (0 until n).scanLeft(0L) {
      (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }.toArray
    val offsetOf = udfFreeOffset(offsets)
    // phase 3: local row numbers — the window partitions by __pid, so
    // every range partition numbers itself in parallel
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    val assigned = ranged
      .withColumn(idCol,
        (offsetOf(col("__pid")) + row_number().over(w) - 1).cast("long"))
      .drop("__pid")
    // materialize the result (pinned) so the cached ranged copy can be
    // RELEASED before returning — a long-lived app calling assign()
    // repeatedly must not accumulate a MEMORY_AND_DISK copy of its
    // input per call (the leak class ops.Checkpoints exists to close).
    // eager = false keeps the lazy plan (caller owns the cache) — used
    // by plan audits that need to see the window/exchange structure.
    if (!eager) assigned
    else {
      val out = Checkpoints.pin(assigned)
      Checkpoints.release(ranged)
      out
    }
  }

  /** Offset lookup as a literal array element access — codegen'd, no
    * UDF: `element_at(array(lit...), pid + 1)`. */
  private def udfFreeOffset(offsets: Array[Long]): Column => Column =
    pid => element_at(
      array(offsets.map(lit(_)).toSeq: _*), pid.cast("int") + 1)
}
