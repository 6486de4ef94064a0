package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally maintained GROUP-BY materialized view over a
  * [[TxTable]] — the "materialized view maintenance" half of the
  * lakehouse design (Delta Live Tables / Snowflake MVs): the view's
  * aggregate state is itself a TxTable, and each refresh folds ONLY the
  * base table's row-level changes since the last refresh into it,
  * never rescanning base history.
  *
  * Maintained aggregates, two classes:
  *  - COUNT(*) (`n_rows`) and SUM (`<col>_sum`) are self-maintainable
  *    group homomorphisms: an insert adds, a delete subtracts, an
  *    update is its CDF delete+insert pair — every base write shape
  *    ([[TxTable.append]], [[TxTable.deleteVectorWhere]],
  *    [[TxTable.upsert]], [[TxTable.merge]], restore) maintains
  *    through one code path. AVG (`<col>_avg`) rides this class: the
  *    engine maintains a backing `sum` and a signed NON-NULL `count`
  *    and derives the average at read (SQL AVG null semantics — the
  *    standard store-sum-and-count MV device). STDDEV (`<col>_stddev`)
  *    and VARIANCE (`<col>_var`) ride it too: a backing
  *    sum-of-squares joins the sum and count (all three signed-
  *    foldable), and the sample moments derive at refresh — NULL below
  *    two non-null rows, exactly stddev_samp/var_samp.
  *  - MIN (`<col>_min`) and MAX (`<col>_max`) are homomorphisms under
  *    INSERTS only (fold via least/greatest); a delete may retire the
  *    extremum, so a delete-bearing window triggers a BOUNDED
  *    per-group recompute: only the groups the window's delete rows
  *    touch re-aggregate from the base head (a scoped semi-join scan),
  *    every other group keeps the O(window) fold — the shape real
  *    lakehouse MVs ship instead of per-group value multisets.
  *  - COUNT(DISTINCT c) (`<col>_dcnt`) is NOT a homomorphism over the
  *    served value, but it IS over the right backing state: a hidden
  *    AUXILIARY TxTable per column (`<mvDir>/_dcnt_<c>`) holds one row
  *    per live (group…, value) pair with a SIGNED occurrence count —
  *    an insert adds 1 to its pair, a delete subtracts 1, a pair
  *    folding to 0 drops — so deletes maintain EXACTLY with no
  *    recompute (the textbook incremental-view-maintenance device for
  *    distinct aggregates). The served `<c>_dcnt` is the aux table's
  *    per-group row count, re-derived at every refresh. State cost is
  *    the true lower bound for exact distinct maintenance: O(live
  *    distinct pairs); the fold is a stats-pruned null-safe-keyed
  *    MERGE, so a refresh rewrites only the aux files whose key
  *    ranges the window's pairs touch — O(window + touched files),
  *    never the live pair set (which can be base-cardinality for a
  *    high-distinct column). NULLs never count (SQL COUNT DISTINCT
  *    semantics). Each aux fold swaps a `txn-` watermark marker
  *    atomically with its commit and lands BEFORE the view commit; a
  *    crash between the two replays idempotently — the aux fold
  *    filters the window by `_commit_version` above its OWN applied
  *    watermark, so nothing double-folds.
  *
  * Exactly-once without a sidecar: the refresh's OVERWRITE commit
  * carries its applied-base-version watermark IN the commit action tag
  * ([[TxTable.overwriteAs]], tag `mv-refresh-<v>`), so the state and
  * the bookkeeping land in one atomic CAS. A crashed-and-replayed
  * refresh sees `appliedVersion >= head` and no-ops; racing refreshers
  * converge because each commit's content is a pure function of the
  * window its tag names (the MV is always exactly "base aggregated as
  * of its tag", whichever refresh lands last — a stale-but-consistent
  * commit is caught up by the next refresh).
  *
  * Scale shape: the per-refresh cost is one CDF read of the changed
  * window (appends shuffle-free, rewrites bounded by touched files) +
  * one |groups|-row combine — base size never appears in the refresh
  * cost except through a delete-bearing MIN/MAX window, whose
  * recompute scans only the delete-touched groups' rows (group keys
  * broadcast below the base scan when small; stats-pruned like any
  * predicate read) — and the combine's full-outer join runs at MV
  * cardinality, which AQE broadcasts when small. The MV rewrite itself
  * is O(groups), the whole point of maintaining an aggregate instead
  * of recomputing it.
  */
final class MaterializedView private (spark: SparkSession, base: TxTable,
    mv: TxTable, groupCols: Seq[String], sumCols: Seq[String],
    minCols: Seq[String], maxCols: Seq[String],
    avgCols: Seq[String], stdCols: Seq[String], varCols: Seq[String],
    exprSums: Seq[(String, String)], dcntCols: Seq[String]) {

  import MaterializedView._

  dcntCols.foreach(c => require(!groupCols.contains(c),
    s"COUNT(DISTINCT $c) over grouping column $c is constant-per-group" +
      " — not a maintainable view column"))

  /** Newest base version already folded in (from the refresh commits'
    * action tags, newest wins); -1 = nothing applied yet.
    *
    * BACKWARD name-probe from the head, not a full-log replay: every
    * refresh commit is tagged, so the newest tagged entry sits within
    * a few versions of the head (only foreign commits on the MV table
    * push it deeper) — O(1) entry reads per refresh instead of
    * O(refresh history). A missing entry (retention-cleaned below)
    * stops the walk, same reachable set as the old contiguous
    * replay's retention floor. */
  def appliedVersion: Long = appliedVersionOf(mv)

  private def appliedVersionOf(t: TxTable): Long =
    MaterializedView.taggedVersion(t)

  /** The view's current state: `groupCols…, n_rows, <sumCol>_sum…,
    * <minCol>_min…, <maxCol>_max…, <avgCol>_avg…`. Averages are
    * PHYSICALLY materialized by every refresh — derived from the
    * maintained backing state (`<c>_sum` and the signed non-null
    * count `<c>_cnt`) with SQL AVG semantics exactly: nulls don't
    * count, an all-null group reads NULL — so a plain
    * `SELECT * FROM` over the MV's table serves them too; this
    * accessor additionally hides the backing columns the definition
    * didn't ask for. */
  def read(): DataFrame =
    if (hiddenState.isEmpty) mv.read() else mv.read().drop(hiddenState: _*)

  /** Fold base commits `(appliedVersion, head]` into the view. None =
    * already current. First refresh aggregates the head snapshot
    * directly (CDF from -1 would read the same rows as inserts). */
  def refresh(): Option[TxTable.Commit] = {
    val w = appliedVersion
    val head = base.snapshot().version
    if (head <= w) None
    else if (w < 0L) {
      // first refresh: aux populates from the same head snapshot the
      // state aggregates (no CDF exists below the first watermark)
      syncAuxInitial(head)
      Some(mv.overwriteAs(s"$Tag$head",
        derive(fullAggregate(base.readAt(head)), None)))
    } else if (dcntCols.isEmpty) {
      fold(mv.read(), base.readChanges(w, head), head)(next =>
        Some(mv.overwriteAs(s"$Tag$head", derive(next, None))))
    } else {
      // ONE base-CDF evaluation for the whole refresh: the aux folds,
      // the MV fold, and the touched-group scope all read this pinned
      // window (each unpinned consumer would re-read and re-shuffle
      // the base CDF — measured costing more than the from-scratch
      // pair aggregation: SCALE.md, "Round-17 (late): DcntProbe")
      Checkpoints.using(base.readChanges(w, head)) { changes =>
        syncAuxFrame(changes, head)
        Checkpoints.using(
            changes.select(groupCols.map(col): _*).distinct()) { tg =>
          fold(mv.read(), changes, head)(next =>
            Some(mv.overwriteAs(s"$Tag$head", derive(next, Some(tg)))))
        }
      }
    }
  }

  /** Fold one pre-read CDF window ending at base version `upTo` —
    * the streaming face ([[maintainStream]]'s per-batch apply). The
    * watermark guard makes crash-replayed batches no-ops. */
  def foldBatch(changes: DataFrame, upTo: Long): Option[TxTable.Commit] = {
    val w = appliedVersion
    if (upTo <= w) None
    else {
      syncAuxFrame(changes, upTo)
      def commit(touched: Option[DataFrame]): Option[TxTable.Commit] = {
        val cur = if (w < 0L) emptyState() else mv.read()
        fold(cur, changes, upTo)(next =>
          Some(mv.overwriteAs(s"$Tag$upTo", derive(next, touched))))
      }
      // first batch: full count, no touched scope
      if (dcntCols.isEmpty || w < 0L) commit(None)
      else Checkpoints.using(changes.select(groupCols.map(col): _*)
        .distinct())(tg => commit(Some(tg)))
    }
  }

  /** Continuous maintenance: the base's streaming CHANGE FEED drives
    * [[foldBatch]] per micro-batch. Restart-safe — the engine replays
    * the last un-committed batch, whose watermark the fold then
    * ignores. */
  def maintainStream(checkpointDir: String): StreamingQuery =
    spark.readStream.format("graft.sources.tx")
      .option("path", base.tableDir)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, _: Long) =>
        if (!df.isEmpty) {
          val upTo = df.agg(max(col("_commit_version"))).head.getLong(0)
          foldBatch(df, upTo)
          ()
        }
      }
      .start()

  // ------------------------------------------------------------ internals

  private def hasExtrema: Boolean = minCols.nonEmpty || maxCols.nonEmpty

  // ---- COUNT(DISTINCT) backing: one aux TxTable per column, one row
  // per live (group…, value) pair with a signed occurrence count.
  // `_dcnt_<c>` has no `=` and is not a reclaimable root name, so the
  // MV table's own vacuum/cleanup never touches it; DROP MATERIALIZED
  // VIEW removes the whole tree, aux included.

  private def auxFor(c: String): TxTable =
    TxTable(spark, mv.tableDir + "/_dcnt_" + c)

  /** Pair counts from a full base snapshot (first refresh),
    * RANGE-CLUSTERED on the pair key: each staged file then holds a
    * contiguous (group…, value) range, which is what lets the merge
    * fold's stats pruning rewrite only the files a window's pairs
    * actually touch — hash-partitioned output would spread every key
    * range across every file and the "bounded merge" would degrade to
    * a full rewrite. (Locality erodes as merges rewrite candidate
    * files; the engine's incremental recluster is the maintenance
    * path, same as any clustered table.) */
  private def auxFull(df: DataFrame, c: String): DataFrame = {
    val keys = (groupCols :+ c).map(col)
    df.where(col(c).isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as(PairRows))
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
  }

  /** Signed pair-count delta from a CDF frame: inserts +1, deletes -1
    * per (group…, value); NULL values never count. */
  private def auxDelta(changes: DataFrame, c: String): DataFrame = {
    val sign: Column =
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    changes.where(col(c).isNotNull)
      .groupBy((groupCols :+ c).map(col): _*)
      .agg(sum(sign).as(PairRows))
  }

  /** `current ⊕ delta` at PAIR grain, as a stats-pruned MERGE touching
    * only the files whose key ranges intersect the window's pairs —
    * never a rewrite of the live pair set (the aux can be
    * base-cardinality for a high-distinct column; an O(live pairs)
    * overwrite per refresh would cost as much as recomputing). Keys
    * join NULL-SAFE (NULL is a group), matched pairs fold signed,
    * pairs folding to ≤ 0 delete, new positive pairs insert; a delta
    * row summing to 0 (an update that kept the value) is filtered out
    * so it cannot force a pointless file rewrite. The `txn` marker IS
    * the aux watermark — it swaps atomically with the fold, so a
    * replayed window sees `auxApplied ≥ upTo` and no-ops; an
    * all-zero delta advances the marker through an empty append
    * (marker-only commit). */
  private def auxMerge(aux: TxTable, delta: DataFrame, c: String,
      upTo: Long): Unit = {
    val keys = groupCols :+ c
    // pin ONCE: the merge machinery evaluates its source repeatedly
    // (emptiness, the duplicate-key guard, the pruning-bounds agg, the
    // staged rewrite itself) and each pass would otherwise re-read and
    // re-aggregate the base CDF window
    Checkpoints.using(delta.withColumnRenamed(PairRows, "__d")
        .where(col("__d") =!= 0L)) { d =>
      val txn = Some((AuxTxnApp, upTo))
      if (d.isEmpty) { aux.append(aux.read().limit(0), txn); () }
      else {
        aux.merge(d, keys,
          whenMatchedUpdate = Some(expr(s"t.$PairRows + s.__d > 0")),
          whenMatchedDelete = Some(expr(s"t.$PairRows + s.__d <= 0")),
          whenNotMatchedInsert = Some(expr("s.__d > 0")),
          updateSet = Some(Map(PairRows -> expr(s"t.$PairRows + s.__d"))),
          insertValues = Some((keys.map(k => k -> col(s"s.$k")) :+
            (PairRows -> col("s.__d"))).toMap),
          nullSafeKeys = true,
          txn = txn)
        ()
      }
    }
  }

  /** The aux table's applied-base-version watermark: its `txn-` marker
    * under [[MaterializedView.AuxTxnApp]] (swapped atomically with
    * every aux commit), -1 = never populated. */
  private def auxApplied(aux: TxTable): Long =
    aux.txnVersion(AuxTxnApp).getOrElse(-1L)

  /** Bring every aux table to base version `upTo` from a pre-read CDF
    * frame (both refresh paths hand in the SAME pinned window the MV
    * fold and the touched-group scope read — ONE base-CDF evaluation
    * per refresh, not one per consumer). Each aux advances from its
    * OWN watermark: the fold scopes the frame by `_commit_version`
    * above it, so a replayed batch (or an aux that landed ahead of
    * the view commit after a crash) never double-folds. An aux with
    * NO watermark — first refresh, or foreign loss of the aux dir —
    * rebuilds whole from the base head, the one inherently O(pairs)
    * moment. */
  private def syncAuxFrame(changes: DataFrame, upTo: Long): Unit =
    dcntCols.foreach { c =>
      val aux = auxFor(c)
      val auxW = auxApplied(aux)
      if (auxW < upTo) {
        if (auxW < 0L)
          aux.overwriteAs(s"$Tag$upTo", auxFull(base.readAt(upTo), c),
            txn = Some((AuxTxnApp, upTo)))
        else auxMerge(aux,
          auxDelta(changes.where(col("_commit_version") > auxW), c),
          c, upTo)
        ()
      }
    }

  /** First-population face of [[syncAuxFrame]] (no CDF exists below
    * the first watermark — each aux aggregates the head snapshot). */
  private def syncAuxInitial(head: Long): Unit = dcntCols.foreach { c =>
    val aux = auxFor(c)
    if (auxApplied(aux) < head) {
      aux.overwriteAs(s"$Tag$head", auxFull(base.readAt(head), c),
        txn = Some((AuxTxnApp, head)))
      ()
    }
  }

  /** Materialize `<c>_dcnt` onto the state frame. `touched` = None
    * (first population) re-counts the whole aux table — the one
    * inherently O(pairs) moment. Every later refresh passes the
    * window's TOUCHED GROUPS and pays O(touched groups' aux pairs):
    * only those groups' pairs re-count (semi-joined against the aux,
    * file-scoped by single-key stats pruning — the MIN/MAX
    * bounded-recompute device), every other group KEEPS its stored
    * `<c>_dcnt`. Without this the derive step alone would scan the
    * live pair set — base-cardinality for a high-distinct column —
    * at every refresh, measured costing MORE than the from-scratch
    * pair aggregation (SCALE.md, "Round-17 (late): DcntProbe").
    * Groups whose values are all NULL read 0 (SQL semantics); joins
    * run at MV cardinality. */
  private def withDcnt(df: DataFrame,
      touched: Option[DataFrame]): DataFrame =
    if (dcntCols.isEmpty) df
    else {
      def keyed(frame: DataFrame, suffix: String): DataFrame =
        groupCols.foldLeft(frame)((x, g) =>
          x.withColumnRenamed(g, g + suffix))
      def cond(suffix: String) =
        groupCols.map(g => col(g) <=> col(g + suffix)).reduce(_ && _)
      touched match {
        case None =>
          dcntCols.foldLeft(df) { (d, c) =>
            val counts = keyed(auxFor(c).read()
              .groupBy(groupCols.map(col): _*)
              .agg(count(lit(1)).as(c + "_dcnt")), "_g")
            d.join(counts, cond("_g"), "left")
              .drop(groupCols.map(_ + "_g"): _*)
              .withColumn(c + "_dcnt",
                coalesce(col(c + "_dcnt"), lit(0L)))
          }
        case Some(tg0) =>
          // touched groups once per refresh, flagged for the overlay
          val tg = keyed(tg0.withColumn("__tch", lit(1)), "_t")
          dcntCols.foldLeft(df) { (d, c) =>
            val aux = auxFor(c)
            // file-level scope exactly like fold1's recomputeBase: a
            // single non-null-keyed grouping prunes aux files through
            // the logged stats via the touched keys' [min,max]
            val auxScoped =
              if (groupCols.size == 1) {
                val g = groupCols.head
                val r = tg0.agg(min(col(g)), max(col(g)),
                  sum(when(col(g).isNull, 1L).otherwise(0L))).head()
                if (r.getLong(2) == 0L && !r.isNullAt(0))
                  aux.readPruned(Long.MaxValue,
                    Seq((g, Some(r.get(0)), Some(r.get(1)))))
                else aux.read()
              } else aux.read()
            val counts = keyed(auxScoped
              .join(keyed(tg0, "_s"), cond("_s"), "left_semi")
              .groupBy(groupCols.map(col): _*)
              .agg(count(lit(1)).as(c + "_dcnt_new")), "_n")
            val cur = keyed(mv.read()
              .select((groupCols.map(col) :+ col(c + "_dcnt")): _*)
              .withColumnRenamed(c + "_dcnt", c + "_dcnt_cur"), "_c")
            d.join(tg, cond("_t"), "left")
              .join(counts, cond("_n"), "left")
              .join(cur, cond("_c"), "left")
              .withColumn(c + "_dcnt",
                when(col("__tch").isNotNull,
                  coalesce(col(c + "_dcnt_new"), lit(0L)))
                  .otherwise(coalesce(col(c + "_dcnt_cur"), lit(0L))))
              .drop((groupCols.map(_ + "_t") ++ groupCols.map(_ + "_n")
                ++ groupCols.map(_ + "_c")): _*)
              .drop("__tch", c + "_dcnt_new", c + "_dcnt_cur")
          }
      }
    }

  /** Every derived column, applied immediately before each commit.
    * `touched` scopes the dcnt re-count — see [[withDcnt]]. */
  private def derive(df: DataFrame,
      touched: Option[DataFrame]): DataFrame =
    withDcnt(withDerived(df), touched)

  /** Columns whose second moment (sum of squares) is maintained —
    * STDDEV and VARIANCE both derive from it (the standard
    * sum/sumsq/count MV device; all three backings are signed-foldable
    * homomorphisms, so deletes maintain like SUM with no recompute). */
  private def momentCols: Seq[String] = (stdCols ++ varCols).distinct

  /** Stored SUM-class state: the declared sums, plus each AVG's /
    * moment's backing sum (when not already declared) and its non-null
    * count — all signed-foldable homomorphisms, so every AVG/STDDEV/
    * VARIANCE maintains through the same code path as SUM (deletes
    * included; no recompute needed). */
  private def backingSums: Seq[String] =
    (avgCols ++ momentCols).distinct.filterNot(sumCols.contains)
  /** Columns with a maintained signed non-null count (AVG's divisor;
    * the moments' n). */
  private def cntCols: Seq[String] = (avgCols ++ momentCols).distinct
  private def sumNames: Seq[String] =
    (NRows +: sumCols.map(_ + "_sum")) ++
      backingSums.map(_ + "_sum") ++ cntCols.map(_ + "_cnt") ++
      momentCols.map(_ + "_sumsq") ++ exprSums.map(_._1)
  /** Internal backing columns [[read]] hides from the served view. */
  private def hiddenState: Seq[String] =
    backingSums.map(_ + "_sum") ++ cntCols.map(_ + "_cnt") ++
      momentCols.map(_ + "_sumsq")

  /** Materialize the derived averages onto a stored-state frame —
    * applied immediately before every refresh commit, so the stored
    * table itself serves `<c>_avg` to any reader. The fold machinery
    * itself never consumes the derived column (combine/fullAggregate
    * project the maintained aggregates explicitly), so it is pure
    * output, recomputed fresh each refresh. */
  private def withDerived(df: DataFrame): DataFrame = {
    // sample variance from the maintained moments:
    // (Σx² − (Σx)²/n) / (n−1), n = the signed non-null count; NULL for
    // n ≤ 1 (SQL var_samp/stddev_samp semantics), clamped at 0 against
    // the formula's floating-point cancellation residue (a constant
    // group's true variance is 0, not −1e−18)
    def variance(c: String): Column = {
      val n = col(c + "_cnt").cast("double")
      when(col(c + "_cnt") > 1L,
        greatest(
          (col(c + "_sumsq") -
            col(c + "_sum").cast("double") * col(c + "_sum") / n) /
            (n - 1.0),
          lit(0.0)))
    }
    val withAvg = avgCols.foldLeft(df)((d, c) =>
      d.withColumn(c + "_avg",
        when(col(c + "_cnt") > 0L, col(c + "_sum") / col(c + "_cnt"))))
    val withVar = varCols.foldLeft(withAvg)((d, c) =>
      d.withColumn(c + "_var", variance(c)))
    stdCols.foldLeft(withVar)((d, c) =>
      d.withColumn(c + "_stddev", sqrt(variance(c))))
  }
  private def extName: Seq[String] =
    minCols.map(_ + "_min") ++ maxCols.map(_ + "_max")
  private def aggNames: Seq[String] = sumNames ++ extName

  private def fullAggregate(df: DataFrame): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(NRows),
        (sumCols.map(c => sum(col(c)).as(c + "_sum")) ++
          backingSums.map(c => sum(col(c)).as(c + "_sum")) ++
          cntCols.map(c => count(col(c)).as(c + "_cnt")) ++
          // sumsq in double: a long column's squared sum would overflow
          // LongType under ANSI long before its variance is large
          momentCols.map(c => sum(col(c).cast("double") *
            col(c).cast("double")).as(c + "_sumsq")) ++
          // expression SUMs evaluate per base row (the expression is a
          // deterministic scalar over base columns, so it evaluates
          // identically on a CDF frame), then fold exactly like SUM
          exprSums.map { case (n, e) => sum(expr(e)).as(n) } ++
          minCols.map(c => min(col(c)).as(c + "_min")) ++
          maxCols.map(c => max(col(c)).as(c + "_max"))): _*)

  /** `current ⊕ window`, choosing the fold shape per aggregate class:
    * COUNT/SUM always fold signed; MIN/MAX fold (least/greatest) when
    * the window is pure inserts and fall back to the BOUNDED recompute
    * when it deletes — only delete-touched groups re-aggregate from
    * the base at `upTo`, the untouched remainder keeps the fold.
    * The folded frame may read pins, so it is handed to `commit`, which
    * must materialize it; the pins release on every exit path once
    * `commit` returns (a localCheckpoint has no lineage to recompute
    * from once released). */
  private def fold[T](current: DataFrame, changes: DataFrame,
      upTo: Long)(commit: DataFrame => T): T =
    if (!hasExtrema) commit(combine(current, deltaAggregate(changes)))
    else Checkpoints.using(changes) { pinned =>
      Checkpoints.using(pinned.where(col("_change_type") === "delete")
          .select(groupCols.map(col): _*).distinct()) { delGroups =>
        commit(foldExtrema(current, pinned, delGroups, upTo))
      }
    }

  private def foldExtrema(current: DataFrame, pinned: DataFrame,
      delGroups: DataFrame, upTo: Long): DataFrame =
    if (delGroups.isEmpty) combine(current, deltaAggregate(pinned))
    else {
      // rename the touched-group keys so the null-safe membership
      // joins below resolve unambiguously (NULL is a group in SQL)
      val dg = groupCols.foldLeft(delGroups)((df, c) =>
        df.withColumnRenamed(c, c + "_g"))
      def touched(df: DataFrame, joinType: String): DataFrame =
        df.join(dg, groupCols.map(c => col(c) <=> col(c + "_g"))
          .reduce(_ && _), joinType)
      // untouched groups: pure-insert remainder (any delete marked
      // its group), so the homomorphic fold stays exact for extrema
      val folded = combine(touched(current, "left_anti"),
        deltaAggregate(touched(pinned, "left_anti")))
      // touched groups: re-aggregate from the base at upTo, scoped
      // two ways. (1) FILE level: a single-key grouping prunes base
      // files through the logged stats via the touched keys'
      // [min,max] — the engine's stats-pruned read, pure I/O
      // reduction (NULL-keyed groups disable it: null never enters
      // min/max stats, so a range could wrongly drop a null-bearing
      // file). (2) ROW level: the semi-join below is the exact
      // filter either way, broadcast under the scan when small.
      val recomputeBase =
        if (groupCols.size == 1) {
          val g = groupCols.head
          val r = delGroups.agg(min(col(g)), max(col(g)),
            sum(when(col(g).isNull, 1L).otherwise(0L))).head()
          if (r.getLong(2) == 0L && !r.isNullAt(0))
            base.readPruned(upTo, Seq((g, Some(r.get(0)), Some(r.get(1)))))
          else base.readAt(upTo)
        } else base.readAt(upTo)
      val recomputed = fullAggregate(touched(recomputeBase, "left_semi"))
      folded.unionByName(recomputed)
    }

  /** Signed aggregate of a CDF frame: inserts +1, deletes -1 for the
    * COUNT/SUM class; plain min/max for extrema (callers only hand
    * pure-insert frames in when extrema are maintained — [[fold]]
    * routes delete-bearing windows to the recompute). */
  private def deltaAggregate(changes: DataFrame): DataFrame = {
    val sign: Column =
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    changes.groupBy(groupCols.map(col): _*)
      .agg(sum(sign).as(NRows),
        (sumCols.map(c => sum(col(c) * sign).as(c + "_sum")) ++
          backingSums.map(c => sum(col(c) * sign).as(c + "_sum")) ++
          cntCols.map(c => sum(when(col(c).isNotNull, sign)
            .otherwise(lit(0L))).as(c + "_cnt")) ++
          momentCols.map(c => sum(col(c).cast("double") *
            col(c).cast("double") * sign).as(c + "_sumsq")) ++
          exprSums.map { case (n, e) => sum(expr(e) * sign).as(n) } ++
          minCols.map(c => min(col(c)).as(c + "_min")) ++
          maxCols.map(c => max(col(c)).as(c + "_max"))): _*)
  }

  /** `current ⊕ delta`: full-outer on the group keys, null-safe adds
    * for COUNT/SUM, least/greatest for MIN/MAX (both skip the NULL an
    * absent side contributes), groups emptied by deletes dropped.
    * Runs at MV cardinality.
    *
    * The join is NULL-SAFE (`<=>`) on every key: SQL GROUP BY makes
    * NULL a group, and an equality join would keep the current and
    * delta NULL-group rows apart — two NULL rows in the view and a
    * count that never converges. */
  private def combine(current: DataFrame, delta: DataFrame): DataFrame = {
    val d0 = aggNames.foldLeft(delta)((df, c) =>
      df.withColumnRenamed(c, c + "_d"))
    val d = groupCols.foldLeft(d0)((df, c) =>
      df.withColumnRenamed(c, c + "_g"))
    val cond = groupCols.map(c => col(c) <=> col(c + "_g"))
      .reduce(_ && _)
    current.join(d, cond, "full_outer")
      .select(groupCols.map(c => coalesce(col(c), col(c + "_g")).as(c)) ++
        sumNames.map(c =>
          (coalesce(col(c), lit(0L)) + coalesce(col(c + "_d"), lit(0L)))
            .as(c)) ++
        minCols.map(c => least(col(c + "_min"), col(c + "_min_d"))
          .as(c + "_min")) ++
        maxCols.map(c => greatest(col(c + "_max"), col(c + "_max_d"))
          .as(c + "_max")): _*)
      .where(col(NRows) > 0L)
  }

  /** Zero-group state with the MV's exact schema — the fold base when
    * the first window arrives through [[foldBatch]] (group/sum column
    * types derive from the CHANGE frame itself, so no base read). */
  private def emptyState(): DataFrame =
    fullAggregate(base.snapshot().read(spark)).limit(0)
}

object MaterializedView {

  /** Refresh commits' action-tag prefix; the rest is the applied base
    * version. */
  private[ops] val Tag = "mv-refresh-"

  /** The maintained COUNT(*) column. */
  val NRows = "n_rows"

  /** The aux pair tables' signed occurrence-count column. */
  private[ops] val PairRows = "n_pair_rows"

  /** App id of the `txn-` marker every aux commit swaps atomically
    * with its fold — the aux table's applied-base-version watermark
    * (the view table itself uses the `mv-refresh-` action tag; an aux
    * fold is a MERGE whose action the engine owns, so the watermark
    * rides the idempotent-writes marker instead). */
  private[graft] val AuxTxnApp = "graft-mv-dcnt"

  /** Newest `mv-refresh-` watermark tag on `t` (the instance doc's
    * backward name-probe); -1 = none reachable. Shared with the
    * transparent rewrite, which gates an aux-table read on its tag
    * matching the view's. */
  private[graft] def taggedVersion(t: TxTable): Long = {
    var v = t.snapshot().version
    while (v >= 0) {
      t.commitsBetween(v - 1, v).headOption match {
        case Some(c) if c.action.startsWith(Tag) =>
          return c.action.stripPrefix(Tag).toLong
        case Some(_) => v -= 1
        case None    => return -1L // cleaned below: no tag reachable
      }
    }
    -1L
  }

  /** Open (or create) the view state at `mvDir` over `base`, grouping
    * by `groupCols` and maintaining `SUM(c) AS c_sum` per `sumCols`
    * (plus `n_rows`). */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String]): MaterializedView =
    apply(spark, base, mvDir, groupCols, sumCols, Nil, Nil)

  /** Full surface: additionally `MIN(c) AS c_min` per `minCols` and
    * `MAX(c) AS c_max` per `maxCols` (delete-bearing windows trigger
    * the bounded per-group recompute — see the class doc). */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String]): MaterializedView =
    apply(spark, base, mvDir, groupCols, sumCols, minCols, maxCols, Nil)

  /** Full surface with AVG: `AVG(c) AS c_avg` per `avgCols`, derived
    * at read from maintained `sum` + non-null `count` backing state
    * (SQL AVG null semantics; deletes fold, no recompute needed). */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      avgCols: Seq[String]): MaterializedView =
    apply(spark, base, mvDir, groupCols, sumCols, minCols, maxCols,
      avgCols, Nil, Nil)

  /** Full surface with second moments: `STDDEV(c) AS c_stddev` per
    * `stdCols` and `VARIANCE(c) AS c_var` per `varCols` (sample
    * semantics, NULL below two non-null rows, like SQL
    * stddev_samp/var_samp) — maintained via a backing sum,
    * sum-of-squares, and signed non-null count, all SUM-class
    * homomorphisms, so deletes fold with no recompute. */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      avgCols: Seq[String], stdCols: Seq[String],
      varCols: Seq[String]): MaterializedView =
    apply(spark, base, mvDir, groupCols, sumCols, minCols, maxCols,
      avgCols, stdCols, varCols, Nil)

  /** Full surface with EXPRESSION sums: each `(name, exprSql)` of
    * `exprSums` maintains `SUM(exprSql) AS name` — the expression must
    * be a DETERMINISTIC scalar over base columns (it evaluates per CDF
    * row before the signed fold; the SQL face validates determinism at
    * CREATE, API callers own it here — a non-deterministic expression
    * would silently drift the state under deletes). */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      avgCols: Seq[String], stdCols: Seq[String],
      varCols: Seq[String], exprSums: Seq[(String, String)])
      : MaterializedView =
    apply(spark, base, mvDir, groupCols, sumCols, minCols, maxCols,
      avgCols, stdCols, varCols, exprSums, Nil)

  /** Full surface with COUNT(DISTINCT): `COUNT(DISTINCT c) AS c_dcnt`
    * per `dcntCols` — maintained EXACTLY (deletes included) via a
    * hidden per-column aux TxTable of signed (group…, value)
    * occurrence counts; see the class doc. A dcnt column must not be
    * a grouping column. */
  def apply(spark: SparkSession, base: TxTable, mvDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      avgCols: Seq[String], stdCols: Seq[String],
      varCols: Seq[String], exprSums: Seq[(String, String)],
      dcntCols: Seq[String]): MaterializedView =
    new MaterializedView(spark, base, TxTable(spark, mvDir),
      groupCols, sumCols, minCols, maxCols, avgCols, stdCols, varCols,
      exprSums, dcntCols)
}
