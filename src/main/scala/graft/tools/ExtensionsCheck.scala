package graft.tools

import org.apache.spark.sql.SparkSession

/** Proves the `spark.sql.extensions` path end-to-end: a FRESH session
  * configured with [[graft.plans.GraftExtensions]] must resolve every
  * injected function from pure SQL text, with no programmatic
  * registration call anywhere. Run with
  * `sbt "runMain graft.tools.ExtensionsCheck"` (own JVM — the shared
  * test session cannot re-apply extensions).
  * Prints `extensions-ok N` on success; throws on any resolution miss.
  * Gated in the test suite by `graft.plans.ExtensionsCheckSpec`. */
object ExtensionsCheck {
  def main(a: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .appName("graft-extensions-check")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val probes = Seq(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))" -> 11.0,
      "SELECT vec_norm(array(3.0d, 4.0d))" -> 5.0,
      "SELECT size(ws_tokens('  a  b '))" -> 2,
      "SELECT size(shingle_set('a b c d', 3))" -> 2,
      "SELECT size(minhash_sig(array('x', 'y'), 12))" -> 12,
      "SELECT size(minhash_sig_fast('a b c d', 3, 12))" -> 12,
      "SELECT simhash64('') " -> 0L,
      // md5('a') is odd -> bucket 1 (0.25), md5('b') even -> bucket 0 (0.5)
      "SELECT hashed_bucket_fold(array('a', 'b'), array(0L, 1L), array(0.5d, 0.25d), 2)" -> 0.75,
      "SELECT size(topk_pairs(s, i, 2)) FROM VALUES (1.0d, 1L), (2.0d, 2L), (3.0d, 3L) AS t(s, i)" -> 2,
      // r17: the bounded bucket-membership aggregate — k smallest kept
      "SELECT collect_min_k(i, 2)[0] FROM VALUES (5L), (1L), (3L) AS t(i)" -> 1L,
      "SELECT vec_sum(v)[0] FROM VALUES (array(1.0d)), (array(2.0d)) AS t(v)" -> 3.0,
      "SELECT nfc_normalize('café')" -> "café",
      "SELECT morton2(3L, 5L)" -> 39L,
      "SELECT jaro_winkler('abc', 'abc')" -> 1.0,
      // round-4: ADC lookup (codes pick lut[0]=1.5 and lut[1*2+1]=4.0)
      "SELECT pq_adc(CAST(array(0, 1) AS ARRAY<INT>), array(1.5d, 2.0d, 3.0d, 4.0d))" -> 5.5,
      // bloom probe resolves from SQL; a null filter yields null (the
      // serialized-filter path is pinned by BloomSemiJoinSpec)
      "SELECT bloom_might_contain(CAST(NULL AS BINARY), 7L)" -> null)

    probes.foreach { case (sql, expected) =>
      val got = spark.sql(sql).head().get(0)
      require(got == expected, s"$sql => $got, expected $expected")
    }
    // the injected optimizer rule is exercised against an analyzed plan
    // directly — a LocalRelation query would constant-fold to nothing
    // before the optimized plan could be inspected
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ruleApplied = graft.plans.LevenshteinPruning(
      Seq(("a", "b")).toDF("a", "b")
        .where(levenshtein(col("a"), col("b")) <= 2)
        .queryExecution.analyzed).toString
    require(ruleApplied.toLowerCase.contains("abs((length"),
      s"LevenshteinPruning not applicable via extensions:\n$ruleApplied")

    // round-10: the injected PARSER makes PLAIN spark.sql speak the
    // transactional table's DML/DDL dialect in a fresh session
    val dir = java.nio.file.Files
      .createTempDirectory("graft-extsql-").toString
    val t = graft.ops.TxTable(spark, s"$dir/t")
    t.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    spark.sql(s"UPDATE txtable.`$dir/t` SET v = v + 1 WHERE k = 2")
    require(t.read().where($"k" === 2L).head().getLong(1) == 21L,
      "parser-injected UPDATE did not land")
    Seq((3L, 300L), (9L, 900L)).toDF("k", "v")
      .createOrReplaceTempView("ext_src")
    val m = spark.sql(
      s"MERGE INTO txtable.`$dir/t` t2 USING ext_src s ON t2.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    require(m.columns.toSeq ==
      Seq("version", "action", "files_added", "files_removed") &&
      m.head().getString(1) == "merge", "MERGE summary shape wrong")
    require(t.read().count() == 4, "MERGE content wrong")
    spark.sql(s"DELETE FROM txtable.`$dir/t` WHERE k = 1")
    require(t.read().count() == 3, "DELETE content wrong")
    require(spark.sql(s"DESCRIBE HISTORY txtable.`$dir/t`").count() == 4,
      "DESCRIBE HISTORY row count wrong")
    // path-addressed SQL reads (Delta's delta.`path` device), time
    // travel in SQL, and INSERT INTO through InsertableRelation
    require(spark.sql(s"SELECT COUNT(*) FROM txtable.`$dir/t`")
      .head().getLong(0) == 3, "path-addressed SELECT wrong")
    require(spark.sql(
      s"SELECT COUNT(*) FROM txtable.`$dir/t` VERSION AS OF 0")
      .head().getLong(0) == 3, "SQL time travel wrong")
    spark.sql(s"INSERT INTO txtable.`$dir/t` SELECT 50L, 500L")
    require(t.read().count() == 4, "INSERT INTO did not land")
    require(t.read().where($"k" === 50L).head().getLong(1) == 500L)
    // ordinary SQL remains untouched by the injected parser
    require(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)

    // round-11: the tools/tx_parity.sql script — a Delta user's whole
    // lifecycle (convert → ADD COLUMNS → MERGE a CDC batch → time
    // travel → OPTIMIZE → DESCRIBE HISTORY) in PURE SQL text, no
    // Scala API call anywhere; each statement's effect asserted
    val pdir = java.nio.file.Files
      .createTempDirectory("graft-txparity-").toString
    Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, i * 10L)).toDF("id", "v")
      .write.parquet(s"$pdir/lake")
    // two ingest drops for the COPY INTO ledger steps
    Seq(11L, 12L, 13L, 14L).map(i => (i, s"in1-$i")).toDF("id", "tag")
      .write.parquet(s"$pdir/in1")
    Seq(21L, 22L, 23L).map(i => (i, s"in2-$i")).toDF("id", "tag")
      .write.parquet(s"$pdir/in2")
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/tx_parity.sql")),
      java.nio.charset.StandardCharsets.UTF_8)
    val stmts = script.linesIterator
      .filterNot(_.trim.startsWith("--")).mkString("\n")
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq
    require(stmts.size == 70, s"expected 70 statements, got ${stmts.size}")
    // each statement's result is FROZEN (collected) at its own point
    // in the lifecycle: a later statement may drop or rewrite what an
    // earlier SELECT read (56 drops the moment MV statement 53
    // selected), so lazy frames would resolve against the wrong state
    final case class Res(cols: Seq[String],
        rows: Array[org.apache.spark.sql.Row]) {
      def head(): org.apache.spark.sql.Row = rows.head
      def count(): Long = rows.length.toLong
      def collect(): Array[org.apache.spark.sql.Row] = rows
      def columns: Seq[String] = cols
    }
    val results = stmts.zipWithIndex.map { case (s, i) =>
      try {
        val df = spark.sql(s.replace("${DIR}", pdir))
        Res(df.columns.toSeq, df.collect())
      } catch {
        case e: Throwable =>
          System.err.println(s"[parity] statement ${i + 1} failed:\n$s")
          throw e
      }
    }
    val lake = graft.ops.TxTable(spark, s"$pdir/lake")
    // 1. convert adopted all six rows in place
    require(results(0).head().getString(1) == "convert", "convert action")
    // 2. ADD COLUMNS widened without rewriting (evolve commit)
    require(results(1).head().getString(1) == "evolve", "evolve action")
    // 4. MERGE applied the CDC fates: update, delete, insert
    val after = lake.read().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    require(!after.contains(3L) && after.size >= 6, "MERGE delete fate")
    require(after(2L) == (999L, "merged"), "MERGE update fate")
    require(after(9L) == (90L, "new"), "MERGE insert fate")
    require(after(1L) == (10L, null), "MERGE carried row changed")
    // 5. time travel reads the pre-DML snapshot
    require(results(4).head().getLong(0) == 6L, "VERSION AS OF 0 count")
    // 6-7. OPTIMIZE and ZORDER BY returned summaries, content intact
    require(results(5).columns ==
      Seq("version", "action", "files_added", "files_removed"))
    require(results(6).head().getString(1) == "compact", "zorder action")
    // 8. identity: the INSERT's NULL slot allocated rid = 1
    val inserted = lake.read()
      .where(org.apache.spark.sql.functions.col("id") === 77L).head()
    require(inserted.getAs[Long]("rid") == 1L, "identity allocation")
    require(lake.read().count() == 7, "content after identity insert")
    // 9-10. age-guarded vacuum runs and reclaims nothing this young;
    // the DRY RUN form lists the same (empty) set without deleting
    require(results(9).count() == 0, "VACUUM RETAIN HOURS reclaim list")
    require(results(10).count() == 0, "VACUUM DRY RUN list")
    // 11-12. table properties set in SQL and read back via SHOW
    val props = results(12).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(props.get("owner").contains("etl") &&
      props.get("txtable.logRetentionVersions").contains("100"),
      s"SHOW TBLPROPERTIES: $props")
    // 13. CLEANUP LOG with a window wider than the log cuts nothing
    require(results(13).count() == 0, "CLEANUP LOG should cut nothing")
    // 14. the history records every lifecycle step
    val actions = results(14).rows.toSeq
      .map(r => r.getString(r.fieldIndex("action")))
    require(actions.contains("convert") && actions.contains("evolve") &&
      actions.contains("merge") && actions.contains("compact") &&
      actions.contains("append"), s"history actions: $actions")
    try {
      // 15-17. partitioned CTAS + partition-scoped OPTIMIZE and
      // scoped ZORDER ran with content intact under the hive layout
      val parts = graft.ops.TxTable(spark, s"$pdir/parts")
      require(parts.read().count() == 4, "partitioned CTAS content")
      require(parts.snapshot().files.exists(_.contains("seg=even")),
        "CTAS did not lay out hive partitions")
      require(results(17).head().getString(1) == "compact",
        "scoped ZORDER BY should commit a compact")
      // 18-20. COPY INTO's ledger: in1 once (rerun no-op) + in2 —
      // the pre-RESTORE snapshot held exactly 4 + 3 rows
      val copied = graft.ops.TxTable(spark, s"$pdir/copied")
      require(copied.readAt(copied.snapshot().version - 1).count() == 7,
        "COPY INTO should hold in1 once plus in2")
      // 21-22. RESTORE took the table back to the first ingest
      require(results(22).head().getLong(0) == 4L,
        "RESTORE TO VERSION AS OF 0 content")
      // 23. CREATE-with-identity: the column spec in the DDL declared
      // the engine-owned key, and the two INSERT DEFAULT slots
      // allocated 100, 101 in commit order
      val dimRows = results(26).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      require(dimRows == Seq((100L, "alpha"), (101L, "beta")),
        s"CREATE-with-identity allocation: $dimRows")
      val dim = graft.ops.TxTable(spark, s"$pdir/dim")
      require(dim.identityColumns.get("uid").exists(_._1 == 100L),
        "identity declaration missing on the created table")
      // 28-30. DECLARATIVE clustering: CREATE … CLUSTER BY persisted
      // the column set, and the bare OPTIMIZE reclustered on it
      val clst = graft.ops.TxTable(spark, s"$pdir/clst")
      require(clst.property("txtable.clusterBy").contains("k,v"),
        s"CLUSTER BY not persisted: ${clst.properties}")
      require(results(29).head().getString(1) == "compact",
        "bare OPTIMIZE over declared clustering should compact")
      require(clst.read().count() == 4, "clustered table content")
      // 31. time travel over a CATALOG name
      require(results(30).head().getLong(0) == 4L,
        "catalog-name VERSION AS OF count")
      // 32. the table_changes TVF over a catalog name: the two INSERT
      // commits surface as two insert rows
      require(results(31).head().getLong(0) == 2L,
        "table_changes(tx_parity_dim, 1, 2) count")
      // 33-35. CREATE OR REPLACE ... AS SELECT: the second run landed
      // as ONE replace commit; the pre-replace snapshot (v0) still
      // reads via catalog-name time travel
      val rtas = graft.ops.TxTable(spark, s"$pdir/rtas")
      require(rtas.read().count() == 2, "RTAS replacement content")
      require(rtas.history().filter("action = 'replace'").count() == 1,
        "RTAS must land as one replace commit")
      require(results(34).head().getLong(0) == 4L,
        "pre-replace snapshot count via catalog-name time travel")
      // 36. OPTIMIZE FULL on the clustered table re-sorts and returns
      // a compact summary (bare OPTIMIZE would be an incremental
      // no-op — nothing landed since statement 30's recluster)
      require(results(35).head().getString(1) == "compact",
        "OPTIMIZE FULL action")
      // 37-40. MATERIALIZED VIEW in pure SQL: CREATE populated (one
      // refresh commit), the UPDATE moved id=5 from the NULL status
      // group into 'merged', REFRESH folded exactly that CDF window,
      // and the view's final state matches the hand recompute —
      // including the NULL group staying ONE row
      require(results(36).head().getString(1).startsWith("mv-refresh-"),
        "CREATE MATERIALIZED VIEW should populate via a refresh commit")
      require(results(38).head().getString(1).startsWith("mv-refresh-"),
        "REFRESH MATERIALIZED VIEW should commit a fold")
      val mvRows = results(39).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      require(mvRows == Seq((null, 3L, 110L), ("ins", 1L, 770L),
        ("merged", 2L, 1050L), ("new", 1L, 90L)),
        s"materialized view state: $mvRows")
      // 41-43. column DDL: the INSERT's column list omitted `src`, the
      // declared DEFAULT filled it; NOT NULL landed as an engine CHECK
      val dfltRow = results(42).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      require(dfltRow == Seq((5L, "etl")),
        s"CREATE-with-DEFAULT fill: $dfltRow")
      require(graft.ops.TxTable(spark, s"$pdir/dflt")
        .constraints.contains("id_not_null"),
        "NOT NULL must land as an enforced CHECK constraint")
      // 44-49. MIN/MAX/AVG materialized view: CREATE populated; the
      // DELETE retired group 2's maximum; REFRESH routed the extrema
      // through the bounded per-group recompute and the AVG through
      // its signed sum+count fold; final state hand-checked
      require(results(45).head().getString(1).startsWith("mv-refresh-"),
        "MIN/MAX MV CREATE should populate via a refresh commit")
      require(results(47).head().getString(1).startsWith("mv-refresh-"),
        "MIN/MAX MV REFRESH should commit a fold")
      val mmRows = results(48).collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSeq
      require(mmRows == Seq((1L, 2L, 40L, 10L, 30L, 20.0),
        (2L, 1L, 5L, 5L, 5L, 5.0)),
        s"MIN/MAX/AVG materialized view state: $mmRows")
      // 50-53. moment MV: CREATE over mm = {(1,10),(1,30),(2,5)} read
      // var(g=1) = 200; the DELETE of v=30 drops both groups to one
      // row, where SAMPLE variance reads NULL (never 0); the
      // expression SUM(v*v) folds signed like any SUM
      require(results(49).head().getString(1).startsWith("mv-refresh-"),
        "moment MV CREATE should populate via a refresh commit")
      require(results(51).head().getString(1).startsWith("mv-refresh-"),
        "moment MV REFRESH should commit a fold")
      val moRows = results(52).collect().map(r => (r.getLong(0),
        r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2),
        r.getLong(3))).toSeq
      require(moRows == Seq((1L, 1L, null, 100L), (2L, 1L, null, 25L)),
        s"moment MV state after the delete window: $moRows")
      // 54-55. transparent rewrite: the freshly-refreshed mmmv answers
      // the base aggregate — the parity contract here is the ANSWER
      // (identical either way); the plan-level routing pin lives in
      // the k48 oracle query and MvRewriteSpec
      require(results(54).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((1L, 1L, 10L), (2L, 1L, 5L)),
        "base aggregate after the second delete window")
      // 56. DROP MATERIALIZED VIEW removed the derived object
      require(!new java.io.File(s"$pdir/momv").exists(),
        "DROP MATERIALIZED VIEW must remove the view storage")
      // 57-61. COUNT(DISTINCT) MV: the CREATE saw g=1:{10,10,7},
      // g=2:{5,5,9} (n=3, dcnt=2 each); the DELETE retired BOTH 10s
      // (the value leaves g=1's distinct set) and the single 9 (g=2
      // keeps duplicated 5 counted once) — a pair dropped too early or
      // kept too long breaks either row.
      require(results(57).head().getString(1).startsWith("mv-refresh-"),
        "COUNT(DISTINCT) MV CREATE should populate via a refresh commit")
      val dcRows = results(60).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      require(dcRows == Seq((1L, 1L, 1L), (2L, 2L, 1L)),
        s"COUNT(DISTINCT) MV state after the delete window: $dcRows")
      require(new java.io.File(s"$pdir/dcmv/_dcnt_v").exists(),
        "the dcnt MV must carry its pair-count aux table")
      // 62-70. JOIN MV: after the dim k=3 retires (its fact row (3,7)
      // leaves cat 'a') and the (1,20) fact deletes in the same
      // window, a = {(1,10)} and b = {(2,5)} — a missed cross term or
      // a wrong-version side breaks either row
      require(results(65).head().getString(1).startsWith("mv-refresh-"),
        "JOIN MV CREATE should populate via a refresh commit")
      val jRows = results(69).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      require(jRows == Seq(("a", 1L, 10L), ("b", 1L, 5L)),
        s"JOIN MV state after the two-sided delete window: $jRows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS tx_parity_dim")
      spark.sql("DROP TABLE IF EXISTS tx_parity_parts")
      spark.sql("DROP TABLE IF EXISTS tx_parity_clst")
      spark.sql("DROP TABLE IF EXISTS tx_parity_rtas")
      spark.sql("DROP TABLE IF EXISTS tx_parity_dflt")
      spark.sql("DROP TABLE IF EXISTS tx_parity_mm")
      spark.sql("DROP TABLE IF EXISTS tx_parity_jf")
      spark.sql("DROP TABLE IF EXISTS tx_parity_jd")
    }

    // round-14: STREAMING over catalog names — readStream.table /
    // writeStream.format("txtable").toTable, the forms Delta tutorials
    // type — proven in the same user-shaped fresh session
    val sdir = java.nio.file.Files
      .createTempDirectory("graft-txstream-").toString
    try {
      spark.sql("CREATE TABLE tx_parity_srctab (id BIGINT, v BIGINT) " +
        s"USING txtable LOCATION '$sdir/src'")
      spark.sql("CREATE TABLE tx_parity_snktab (id BIGINT, v BIGINT) " +
        s"USING txtable LOCATION '$sdir/snk'")
      spark.sql("INSERT INTO tx_parity_srctab SELECT id, id * 2 AS v " +
        "FROM range(6)")
      val sq = spark.readStream.table("tx_parity_srctab")
        .writeStream.format("txtable")
        .option("checkpointLocation", s"$sdir/ck")
        .toTable("tx_parity_snktab")
      sq.processAllAvailable()
      spark.sql("INSERT INTO tx_parity_srctab SELECT id + 10, id FROM range(4)")
      sq.processAllAvailable()
      sq.stop()
      require(spark.sql("SELECT COUNT(*) FROM tx_parity_snktab")
        .head().getLong(0) == 10L, "catalog-name stream round-trip count")
      require(spark.sql(
        "SELECT COUNT(DISTINCT id) FROM tx_parity_snktab")
        .head().getLong(0) == 10L, "catalog-name stream exactly-once")
    } finally {
      spark.sql("DROP TABLE IF EXISTS tx_parity_srctab")
      spark.sql("DROP TABLE IF EXISTS tx_parity_snktab")
    }

    println(s"extensions-ok ${probes.size} rule-ok sql-face-ok parity-ok " +
      "stream-catalog-ok")
    spark.stop()
  }
}
