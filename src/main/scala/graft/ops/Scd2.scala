package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 maintenance — the warehouse-classic
  * dimension-history pattern (Kimball's SCD2, dbt's `snapshot`): every
  * business key carries a VERSION CHAIN of rows, each stamped
  * `[_valid_from, _valid_to)` in batch versions, with the open row
  * flagged `_current`. Applying a batch of updates closes the current
  * row of every key whose TRACKED attributes changed and opens a new
  * one; unchanged keys, absent keys, and already-closed history rows
  * are carried untouched.
  *
  * Scale shape: ONE shuffle join of the dimension's current rows
  * against the batch on the business key (historical rows are routed
  * around the join with a partition-local filter — history grows
  * forever, the join input does not), then a union of the four row
  * fates. A typical daily batch is small against a wide dimension:
  * Spark's AQE broadcasts it and the current-row side never shuffles
  * at all. No window functions, no global sort, no driver-side state —
  * the operator is a pure DataFrame transform usable inside
  * `foreachBatch` for streaming dimension maintenance.
  */
object Scd2 {

  val ValidFrom = "_valid_from"
  val ValidTo = "_valid_to"
  val Current = "_current"

  private val meta = Seq(ValidFrom, ValidTo, Current)

  /** Stamp an initial dimension load as version-`version` SCD2 state:
    * every row open (`_valid_to` null, `_current` true). */
  def init(dim: DataFrame, version: Long): DataFrame =
    dim.withColumn(ValidFrom, lit(version))
      .withColumn(ValidTo, lit(null).cast("bigint"))
      .withColumn(Current, lit(true))

  /** Apply one batch: `state` is SCD2 state (as produced by [[init]] or
    * a previous [[apply]]); `updates` carries the dimension's business
    * columns (no meta). A key present in both with any `trackCols`
    * difference (null-safe comparison) closes the open row at
    * `version` and opens the update's row; a key only in `updates`
    * opens a new chain; everything else is carried. `updates` must be
    * unique per key — the same refusal (and for the same reason) as
    * MERGE's duplicate-source guard.
    *
    * `updates` is read twice: by the duplicate-key guard (an eager
    * action here) and again when the returned plan executes. Pass a
    * pinned frame ([[Checkpoints.pin]]) when its derivation is costly
    * or non-deterministic, and release it once the result is
    * materialized — the operator pins nothing itself, so it leaves no
    * blocks behind. */
  def apply(state: DataFrame, updates: DataFrame, keys: Seq[String],
      trackCols: Seq[String], version: Long): DataFrame = {
    require(keys.nonEmpty, "SCD2 needs at least one business key column")
    require(trackCols.nonEmpty, "SCD2 needs at least one tracked column")
    val dupKeys = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"updates have duplicate rows per key ${keys.mkString(",")}: a " +
        "dimension chain can take at most one new version per batch")

    val busCols = state.columns.filterNot(meta.contains).toSeq
    // closed history never joins: routed around with a scan-side filter
    val history = state.where(!col(Current))
    // presence markers, not key-null tests, decide the join fate — the
    // same pattern as MERGE's __tp/__sp (a null business key must not
    // silently demote a row to "unmatched")
    val open = state.where(col(Current)).withColumn("__tp", lit(1)).alias("t")
    val s = updates.withColumn("__sp", lit(1)).alias("s")
    val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = open.join(s, keyCond, "full_outer")
    val changed = trackCols
      .map(c => !(col(s"t.$c") <=> col(s"s.$c"))).reduce(_ || _)

    val tCols = busCols.map(c => col(s"t.$c").as(c))
    val sCols = busCols.map(c => col(s"s.$c").as(c))
    val matched = col("t.__tp").isNotNull
    val fromUpdate = col("s.__sp").isNotNull

    // carried open rows: target-only, or matched-and-unchanged
    val carried = joined
      .where(!fromUpdate || (matched && !changed))
      .select(tCols :+ col(s"t.$ValidFrom").as(ValidFrom)
        :+ col(s"t.$ValidTo").as(ValidTo) :+ col(s"t.$Current").as(Current): _*)
    // closed: matched and changed — the old row, sealed at `version`
    val closed = joined.where(matched && fromUpdate && changed)
      .select(tCols :+ col(s"t.$ValidFrom").as(ValidFrom)
        :+ lit(version).as(ValidTo) :+ lit(false).as(Current): _*)
    // opened: changed rows' new version, plus brand-new keys
    val opened = joined
      .where(fromUpdate && (!matched || changed))
      .select(sCols :+ lit(version).as(ValidFrom)
        :+ lit(null).cast("bigint").as(ValidTo) :+ lit(true).as(Current): _*)

    history.select((busCols ++ meta).map(col): _*)
      .unionByName(carried).unionByName(closed).unionByName(opened)
  }
}
