package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The SQL-text DML face ([[TxSql]]): MERGE / UPDATE / DELETE /
  * DESCRIBE HISTORY / OPTIMIZE / VACUUM statements parsed by Spark's
  * parser and dispatched onto the TxTable engine paths — the same
  * commit machinery the Scala API runs, proven by checking content
  * AND the protocol artifacts (versions, actions, file pruning). */
class TxSqlSpec extends SparkTestBase {

  private def mkTable(): (TxTable, String) = {
    val dir = Files.createTempDirectory("graft-txsql-").toString
    (TxTable(spark, s"$dir/t"), s"$dir/t")
  }

  private def df(range: Range) = {
    import spark.implicits._
    range.map(i => (i.toLong, i.toLong * 10, s"row-$i"))
      .toDF("k", "v", "tag")
  }

  private def sql = TxSql(spark)

  test("UPDATE statement: assignments, WHERE, qualified names") {
    val (t, p) = mkTable()
    t.append(df(0 until 20))
    val res = sql.run(
      s"UPDATE txtable.`$p` SET v = v + 1, tag = 'U' " +
        "WHERE k BETWEEN 5 AND 8")
    assert(res.head().getString(1) === "update")
    assert(t.read().where(col("tag") === "U").count() === 4)
    assert(t.read().where(col("k") === 6L).head().getLong(1) === 61L)
    assert(t.read().where(col("k") === 12L).head().getLong(1) === 120L)
    // table-qualified references unqualify onto the rewrite frame
    sql.run(s"UPDATE txtable.`$p` AS x SET v = x.v * 2 WHERE x.k = 0")
    assert(t.read().where(col("k") === 0L).head().getLong(1) === 0L)
    // unknown column still refuses through the SQL path
    intercept[IllegalArgumentException](
      sql.run(s"UPDATE txtable.`$p` SET nope = 1 WHERE k = 1"))
  }

  test("DELETE statement: arbitrary predicate, SQL NULL semantics") {
    val (t, p) = mkTable()
    t.append(df(0 until 30))
    val res = sql.run(s"DELETE FROM txtable.`$p` WHERE k % 7 = 0 AND v < 150")
    assert(res.head().getString(1) === "delete")
    // deleted: 0, 7, 14 (21, 28 have v >= 150)
    assert(t.read().count() === 27)
    assert(t.read().where(col("k").isin(0L, 7L, 14L)).count() === 0)
    assert(t.read().where(col("k").isin(21L, 28L)).count() === 2)
  }

  test("DELETE prunes files via predicate-implied bounds") {
    val (t, p) = mkTable()
    t.append(df(0 until 50))     // file A: k in [0, 49]
    t.append(df(1000 until 1050)) // file B: k in [1000, 1049]
    val before = t.snapshot().files.toSet
    sql.run(s"DELETE FROM txtable.`$p` WHERE k >= 1000 AND k <= 1010")
    val after = t.snapshot().files.toSet
    // the low-range file(s) must survive UNTOUCHED — identity, not
    // just content: bounds from the conjuncts reached pruneFiles
    assert((before intersect after).nonEmpty)
    val commit = t.commitLog.last
    assert(commit.action === "delete")
    // only the hit file(s) were rewritten
    assert(commit.remove.forall(r => before.exists(_.endsWith(r))))
    assert(before.size - commit.remove.size ===
      (before intersect after).size)
    assert(t.read().count() === 89)
  }

  test("MERGE statement: all three clauses, conditions, SQL order") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    // source: k 0-4 with bigger v (update), k 5 tagged D (delete),
    // k 100 new (insert)
    Seq((0L, 900L, "x"), (1L, 901L, "x"), (2L, 2L, "x"),
      (5L, 905L, "D"), (100L, 1000L, "new"))
      .toDF("k", "v", "tag")
      .createOrReplaceTempView("txsql_merge_src")
    val res = sql.run(
      s"MERGE INTO txtable.`$p` AS t USING txsql_merge_src s " +
        "ON t.k = s.k " +
        "WHEN MATCHED AND s.tag = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(res.head().getString(1) === "merge")
    assert(t.read().where(col("k") === 5L).count() === 0) // deleted
    assert(t.read().where(col("k") === 0L).head().getLong(1) === 900L)
    assert(t.read().where(col("k") === 1L).head().getLong(1) === 901L)
    // source v=2 < target v=20: matched but condition false → carried
    assert(t.read().where(col("k") === 2L).head().getLong(1) === 20L)
    assert(t.read().where(col("k") === 100L).head().getString(2) === "new")
    assert(t.read().count() === 10) // 10 - 1 deleted + 1 inserted
  }

  test("MERGE honors SQL clause order when DELETE precedes UPDATE") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 4))
    // row k=1 matches BOTH clauses; SQL order says the first (DELETE)
    // wins, though the engine evaluates UPDATE first
    Seq((1L, 999L, "both")).toDF("k", "v", "tag")
      .createOrReplaceTempView("txsql_order_src")
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_order_src s ON t.k = s.k " +
        "WHEN MATCHED AND s.tag = 'both' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET *")
    assert(t.read().where(col("k") === 1L).count() === 0)
    assert(t.read().count() === 3)
  }

  test("MERGE source can be a subquery; txtable-path source works") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 5))
    Seq((3L, 333L, "s"), (4L, 4L, "s"), (7L, 777L, "s"))
      .toDF("k", "v", "tag").createOrReplaceTempView("txsql_subq_src")
    sql.run(
      s"MERGE INTO txtable.`$p` t " +
        "USING (SELECT * FROM txsql_subq_src WHERE v > 100) s " +
        "ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().where(col("k") === 3L).head().getLong(1) === 333L)
    assert(t.read().where(col("k") === 4L).head().getLong(1) === 40L)
    assert(t.read().where(col("k") === 7L).count() === 1)
    // a second txtable referenced BY PATH as the merge source
    val (src, sp) = mkTable()
    src.append(df(100 until 103))
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txtable.`$sp` s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().where(col("k") >= 100L && col("k") < 200L).count() === 3)
  }

  test("MERGE column-level SET / INSERT VALUES / NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    // source with a DIFFERENT shape than the table — legal because
    // both clauses are column-level
    Seq((2L, 5L), (3L, 7L), (100L, 1L))
      .toDF("k", "delta").createOrReplaceTempView("txsql_cl_src")
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_cl_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.delta " +
        "WHEN NOT MATCHED THEN INSERT (k, v, tag) " +
        "VALUES (s.k, s.delta, 'NEW') " +
        "WHEN NOT MATCHED BY SOURCE AND t.k >= 8 THEN DELETE")
    val out = t.read().as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(2L) === ((25L, "row-2"))) // SET v only; tag kept
    assert(out(3L) === ((37L, "row-3")))
    assert(out(100L) === ((1L, "NEW")))  // INSERT (cols) VALUES
    assert(!out.contains(8L) && !out.contains(9L)) // NMS delete
    assert(out.keySet === ((0L until 8L).toSet + 100L))
    // partial INSERT column list: unassigned columns null-fill
    Seq((200L, 0L)).toDF("k", "delta")
      .createOrReplaceTempView("txsql_cl_src2")
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_cl_src2 s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)")
    val r200 = t.read().where(col("k") === 200L).head()
    assert(r200.isNullAt(1) && r200.isNullAt(2))
  }

  test("MERGE NOT MATCHED BY SOURCE UPDATE; source references refused") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    Seq((4L, 400L, "s")).toDF("k", "v", "tag")
      .createOrReplaceTempView("txsql_nms_src")
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_nms_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN UPDATE SET tag = 'STALE'")
    val out = t.read().as[(Long, Long, String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out(0L) === "STALE" && out(1L) === "STALE")
    assert(out(2L) === "row-2") // condition false: carried
    assert(out(4L) === "s")     // matched: source row taken
    // a source reference inside an NMS clause can only read nulls —
    // refused loudly
    val e = intercept[RuntimeException](sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_nms_src s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE"))
    assert(e.getMessage.contains("source"))
  }

  test("MERGE NMS: BARE source-only column refused too") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    // source carries a column 'delta' the target lacks: unqualified,
    // it would resolve across the join and read NULL for every
    // target-only row, silently disabling the clause
    Seq((4L, 400L, "s", 7L)).toDF("k", "v", "tag", "delta")
      .createOrReplaceTempView("txsql_nms_bare_src")
    val e = intercept[RuntimeException](sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_nms_bare_src s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND delta > 5 THEN DELETE"))
    assert(e.getMessage.contains("source"))
    // target-qualified references stay legal (bare shared names are a
    // loud analyzer ambiguity — never a silent wrong side)
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_nms_bare_src s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE AND t.v > 40 THEN DELETE")
    assert(t.read().count() === 5) // k=5 (v=50) deleted; k=4 matched
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target, then merges") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    // the CDC feed gained a column the table does not have yet
    Seq((2L, 222L, "U2", "fresh"), (9L, 900L, "I9", "fresh"))
      .toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("txsql_evo_src")
    // without the keyword: star clauses refuse the extra column
    val e = intercept[Exception](sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_evo_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(e.getMessage.contains("schema"))
    // with it: ONE atomic merge-evolve commit widens AND merges
    val before = t.snapshot().version
    sql.run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`$p` t " +
        "USING txsql_evo_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    val out = t.read().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(out.size === 7)
    assert(out(2L) === (222L, "fresh"))  // updated, new column landed
    assert(out(9L) === (900L, "fresh"))  // inserted with new column
    assert(out(0L) === (0L, null))       // carried rows read SQL NULL
    assert(t.read().columns.toSeq === Seq("k", "v", "tag", "extra"))
    // widen + merge landed as ONE commit, never a standalone evolve
    assert(t.snapshot().version === before + 1)
    assert(t.history().where(col("version") === before + 1)
      .select("action").as[String].head() === "merge-evolve")
  }

  test("failed evolving merge leaves the schema unchanged") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    val v0 = t.snapshot().version
    // failure shape 1: duplicate source keys — refused before anything
    // stages or commits
    Seq((2L, 20L, "a", "x"), (2L, 21L, "b", "y"))
      .toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("txsql_evo_dup")
    intercept[Exception](sql.run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`$p` t " +
        "USING txsql_evo_dup s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(!t.read().columns.contains("extra"),
      "a refused evolving merge must not leave the widening behind")
    assert(t.snapshot().version === v0)
    // failure shape 2: the merge output violates a CHECK constraint —
    // the write job dies AFTER validation started, and the widening
    // (same commit as the rewrite) still never lands
    t.addConstraint("v_pos", "v >= 0")
    val v1 = t.snapshot().version
    Seq((3L, -999L, "bad", "x")).toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("txsql_evo_bad")
    intercept[Exception](sql.run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`$p` t " +
        "USING txsql_evo_bad s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(!t.read().columns.contains("extra"))
    assert(t.snapshot().version === v1)
    // and the table still works: a clean evolving merge now lands
    Seq((3L, 333L, "ok", "fine")).toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("txsql_evo_ok")
    sql.run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`$p` t " +
        "USING txsql_evo_ok s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    assert(t.read().where(col("k") === 3L)
      .select("extra").as[String].head() === "fine")
  }

  test("DELETE-only MERGE accepts a differently-shaped source") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 8))
    // tombstone feed: just keys + an op marker, nothing like the
    // target's shape — legal because no clause references s.* values
    Seq((1L, "D"), (5L, "D"), (6L, "K"))
      .toDF("id", "op").createOrReplaceTempView("txsql_tomb_src")
    sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_tomb_src s ON t.k = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE")
    assert(t.read().count() === 6)
    assert(t.read().where(col("k").isin(1L, 5L)).count() === 0)
    assert(t.read().where(col("k") === 6L).count() === 1) // op != 'D'
  }

  test("MERGE refusals: bad ON condition") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 3))
    Seq((1L, 1L, "x")).toDF("k", "v", "tag")
      .createOrReplaceTempView("txsql_refuse_src")
    val e3 = intercept[RuntimeException](sql.run(
      s"MERGE INTO txtable.`$p` t USING txsql_refuse_src s ON t.k > s.k " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(e3.getMessage.contains("equalities"))
  }

  test("DESCRIBE HISTORY, OPTIMIZE, VACUUM statements") {
    val (t, p) = mkTable()
    t.append(df(0 until 10))   // v0
    t.append(df(10 until 20))  // v1
    t.overwrite(df(0 until 5)) // v2
    val h = sql.run(s"DESCRIBE HISTORY txtable.`$p`")
    assert(h.count() === 3)
    assert(h.select("action").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq ===
      Seq("overwrite", "append", "append"))
    // OPTIMIZE bin-packs the small files (or no-ops with none to pack)
    t.append(df(100 until 105))
    val o = sql.run(s"OPTIMIZE txtable.`$p`")
    assert(o.columns.toSeq ===
      Seq("version", "action", "files_added", "files_removed"))
    // VACUUM reclaims files only the pre-overwrite versions reference
    val v = sql.run(s"VACUUM txtable.`$p` RETAIN 1 VERSIONS")
    assert(v.columns.toSeq === Seq("reclaimed_file"))
    // age guard keeps everything younger than the default minAge — the
    // statement runs and returns the (empty) reclaim list
    assert(v.count() === 0)
  }

  test("catalog tables created USING txtable resolve by name") {
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    spark.sql(s"CREATE TABLE graft_txsql_cat USING txtable LOCATION '$p'")
    try {
      sql.run("UPDATE graft_txsql_cat SET tag = 'CAT' WHERE k < 3")
      assert(t.read().where(col("tag") === "CAT").count() === 3)
      sql.run("DELETE FROM graft_txsql_cat WHERE k = 9")
      assert(t.read().count() === 9)
      assert(sql.run("DESCRIBE HISTORY graft_txsql_cat").count() === 3)
      // a non-txtable table refuses
      spark.sql("CREATE TABLE graft_txsql_plain (a INT) USING parquet")
      try {
        val e = intercept[Exception](
          sql.run("DELETE FROM graft_txsql_plain WHERE a = 1"))
        assert(e.getMessage.contains("not a txtable"))
      } finally spark.sql("DROP TABLE graft_txsql_plain")
    } finally spark.sql("DROP TABLE graft_txsql_cat")
  }

  test("non-DML statements fall through to spark.sql") {
    assert(sql.run("SELECT 41 + 1 AS x").head().getInt(0) === 42)
  }

  test("DDL statements: constraints, rename/drop column, gencol, restore, detail") {
    val (t, p) = mkTable()
    t.append(df(0 until 10)) // v0
    // ADD CONSTRAINT validates + enforces through the same engine path
    sql.run(s"ALTER TABLE txtable.`$p` ADD CONSTRAINT v_pos CHECK (v >= 0)")
    assert(t.constraints === Map("v_pos" -> "v >= 0"))
    intercept[Exception](
      sql.run(s"UPDATE txtable.`$p` SET v = -1 WHERE k = 1"))
    sql.run(s"ALTER TABLE txtable.`$p` DROP CONSTRAINT v_pos")
    assert(t.constraints.isEmpty)
    // RENAME / DROP COLUMN are metadata-only commits
    val filesBefore = t.snapshot().files.toSet
    sql.run(s"ALTER TABLE txtable.`$p` RENAME COLUMN tag TO label")
    assert(t.read().columns.toSeq === Seq("k", "v", "label"))
    assert(t.snapshot().files.toSet === filesBefore)
    sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN label")
    assert(t.read().columns.toSeq === Seq("k", "v"))
    // GENERATED COLUMN declaration + drop
    sql.run(s"ALTER TABLE txtable.`$p` ADD GENERATED COLUMN v AS (k * 10)")
    assert(t.generatedColumns === Map("v" -> "k * 10"))
    sql.run(s"ALTER TABLE txtable.`$p` DROP GENERATED COLUMN v")
    assert(t.generatedColumns.isEmpty)
    // RESTORE back to v0 re-references the old FILES under a new
    // commit; column policy (the drop tombstone) stays active, so the
    // dropped column does not resurface
    val vNow = t.snapshot().version
    sql.run(s"RESTORE TABLE txtable.`$p` TO VERSION AS OF 0")
    assert(t.snapshot().version === vNow + 1)
    assert(t.read().columns.toSeq === Seq("k", "v"))
    // DESCRIBE DETAIL lists the active files
    val detail = sql.run(s"DESCRIBE DETAIL txtable.`$p`")
    assert(detail.columns.toSeq ===
      Seq("file", "kind", "bytes", "partition"))
    assert(detail.count() === t.snapshot().files.size)
  }

  test("dispatch conservatism survives induced failures (NonFatal narrowing)") {
    // The dispatch catches are NonFatal-only (r17 sweep): an induced
    // RuntimeException inside the catalog probe must still fall through
    // to "not a txtable" — the behavior the old `case _: Throwable`
    // sites provided — while no longer swallowing VM errors.
    // a nonexistent table makes getTableMetadata throw (NoSuchTable,
    // a NonFatal AnalysisException) — dispatch answers false
    assert(!TxSql.isTxParts(spark, Seq("no_such_db", "no_such_table")))
    assert(!TxSql.isTxParts(spark, Seq("spark_catalog", "nodb", "notab")))
    // the parser face: DML over the same nonexistent target returns the
    // delegate's plan instead of propagating the probe's exception
    val parser = new graft.plans.TxSqlParser(spark, spark.sessionState.sqlParser)
    assert(!parser.parsePlan("DELETE FROM no_such_db.no_such_table WHERE a = 1")
      .isInstanceOf[graft.plans.TxSqlStatement])
  }

  test("TxSqlParser routes txtable statements; everything else passes through") {
    import graft.plans.{TxSqlParser, TxSqlStatement}
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val (t, p) = mkTable()
    t.append(df(0 until 5))
    // DML on a txtable target is re-routed to a TxSqlStatement leaf
    // command, and EXECUTING that plan runs the engine path
    val plan = parser.parsePlan(
      s"UPDATE txtable.`$p` SET v = v + 1 WHERE k = 1")
    assert(plan.isInstanceOf[TxSqlStatement])
    val res = org.apache.spark.sql.graft.ColumnShim.ofRows(spark, plan)
    assert(res.columns.toSeq ===
      Seq("version", "action", "files_added", "files_removed"))
    assert(res.head().getString(1) === "update")
    assert(t.read().where(col("k") === 1L).head().getLong(1) === 11L)
    // Delta-grammar statements route when the reference is a txtable
    assert(parser.parsePlan(s"DESCRIBE HISTORY txtable.`$p`")
      .isInstanceOf[TxSqlStatement])
    val hist = org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      parser.parsePlan(s"DESCRIBE HISTORY txtable.`$p`"))
    assert(hist.count() === 2)
    // ordinary statements — and DML on non-txtable targets — return
    // the delegate's plan untouched
    assert(!parser.parsePlan("SELECT 1 + 1")
      .isInstanceOf[TxSqlStatement])
    assert(!parser.parsePlan("DELETE FROM some_plain_table WHERE a = 1")
      .isInstanceOf[TxSqlStatement])
    // path-addressed relations rewrite inside arbitrary queries,
    // including under VERSION AS OF, and INSERT INTO appends
    val sel = org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      parser.parsePlan(
        s"SELECT COUNT(*) FROM txtable.`$p` WHERE k >= 2"))
    assert(sel.head().getLong(0) === 3L)
    val tt = org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      parser.parsePlan(
        s"SELECT COUNT(*) FROM txtable.`$p` VERSION AS OF 0"))
    assert(tt.head().getLong(0) === 5L)
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
      parser.parsePlan(
        s"INSERT INTO txtable.`$p` SELECT 77L, 770L, 'ins'")).collect()
    assert(t.read().where(col("k") === 77L).count() === 1)
  }

  test("CONVERT TO TXTABLE and SHALLOW CLONE statements") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sqlconv-").toString + "/t"
    (0 until 12).map(i => (i.toLong, i.toLong * 2)).toDF("k", "v")
      .write.parquet(dir)
    val res = sql.run(s"CONVERT TO TXTABLE parquet.`$dir`")
    assert(res.head().getString(1) === "convert")
    val t = TxTable(spark, dir)
    assert(t.read().count() === 12)
    // and DML over the converted table works immediately
    sql.run(s"DELETE FROM txtable.`$dir` WHERE k >= 10")
    assert(t.read().count() === 10)
    // SHALLOW CLONE: zero-copy new table, optionally time-traveled
    val cdir = Files.createTempDirectory("graft-sqlclone-").toString + "/c"
    val cres = sql.run(
      s"CREATE TABLE txtable.`$cdir` SHALLOW CLONE txtable.`$dir` " +
        "VERSION AS OF 0")
    assert(cres.head().getString(1) === "convert" ||
      cres.head().getString(1) === "clone")
    val c = TxTable(spark, cdir)
    assert(c.read().count() === 12) // pre-delete version cloned
    // the clone evolves independently
    sql.run(s"DELETE FROM txtable.`$cdir` WHERE k = 0")
    assert(c.read().count() === 11)
    assert(t.read().count() === 10)
  }

  test("SQL DML runs the same enforcement as the Scala API") {
    val (t, p) = mkTable()
    t.append(df(0 until 5))
    t.addConstraint("v_nonneg", "v >= 0")
    intercept[Exception](
      sql.run(s"UPDATE txtable.`$p` SET v = -5 WHERE k = 2"))
    assert(t.read().where(col("v") < 0).count() === 0)
  }

  test("ALTER TABLE ADD COLUMNS: O(1) widening, flat and partitioned") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    val before = t.snapshot().files.toSet
    sql.run(s"ALTER TABLE txtable.`$p` ADD COLUMNS (score DOUBLE, note STRING)")
    // no data byte rewritten: every pre-existing file survives; the
    // commit adds only the zero-row schema carrier
    assert(before.subsetOf(t.snapshot().files.toSet))
    val r = t.read()
    assert(r.columns.toSeq === Seq("k", "v", "tag", "score", "note"))
    assert(r.count() === 10)
    assert(r.where(col("score").isNull).count() === 10)
    // the widened schema accepts data for the new columns
    t.append(Seq((100L, 1L, "n", 0.5, "x"))
      .toDF("k", "v", "tag", "score", "note"))
    assert(t.read().where(col("score").isNotNull).count() === 1)
    // duplicate names refuse
    val e = intercept[Exception](
      sql.run(s"ALTER TABLE txtable.`$p` ADD COLUMNS (v LONG)"))
    assert(e.getMessage.contains("already exists"))
    // partitioned table: the carrier lands INSIDE a leaf directory
    // (a flat file would corrupt path-based partition inference)
    val (u, q) = mkTable()
    u.appendPartitioned((0 until 12).map(i => (i.toLong, i % 3))
      .toDF("id", "part"), "part")
    sql.run(s"ALTER TABLE txtable.`$q` ADD COLUMNS (w INT)")
    assert(u.snapshot().files.forall(
      _.stripPrefix(s"$q/").matches("part=\\d/[^/]+")),
      s"${u.snapshot().files}")
    assert(u.read().columns.toSet === Set("id", "part", "w"))
    assert(u.read().count() === 12)
    assert(u.readPartition("part", 1).count() === 4)
  }

  test("writer partitionBy and CTAS PARTITIONED BY build hive layouts") {
    import spark.implicits._
    // DataFrameWriter.partitionBy reaches the provider as
    // __partition_columns and nests the files
    val d1 = Files.createTempDirectory("graft-sqlpb-").toString + "/t"
    Seq((1L, 2024, 1), (2L, 2024, 2), (3L, 2025, 1)).toDF("id", "y", "m")
      .write.format("txtable").partitionBy("y", "m")
      .option("path", d1).mode("append").save()
    val t1 = TxTable(spark, d1)
    assert(t1.snapshot().files.forall { f =>
      val s = f.stripPrefix(s"$d1/").split('/')
      s.length == 3 && s(0).startsWith("y=") && s(1).startsWith("m=")
    }, s"${t1.snapshot().files}")
    assert(t1.readPartitions(Seq("y" -> 2024)).count() === 2)
    // overwrite with partitionBy keeps the requested layout
    Seq((9L, 2030, 5)).toDF("id", "y", "m")
      .write.format("txtable").partitionBy("y", "m")
      .option("path", d1).mode("overwrite").save()
    assert(t1.read().count() === 1)
    assert(t1.snapshot().files.forall(_.contains("y=2030/")))
    // SQL CTAS: Spark drops PARTITIONED BY before a DSv1 provider —
    // the injected parser re-carries it as the option, so the plan
    // routed through TxSqlParser builds the partitioned layout
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val d2 = Files.createTempDirectory("graft-sqlctas-").toString + "/t"
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark, parser.parsePlan(
      s"CREATE TABLE graft_txsql_ctas USING txtable LOCATION '$d2' " +
        "PARTITIONED BY (k) AS SELECT * FROM VALUES (1, 'a'), (2, 'b') " +
        "v(id, k)")).collect()
    try {
      val t2 = TxTable(spark, d2)
      assert(t2.snapshot().files.nonEmpty)
      assert(t2.snapshot().files.forall(
        _.stripPrefix(s"$d2/").startsWith("k=")),
        s"${t2.snapshot().files}")
      assert(spark.table("graft_txsql_ctas").count() === 2)
    } finally spark.sql("DROP TABLE graft_txsql_ctas")
  }

  test("plain CREATE TABLE PARTITIONED BY + INSERT builds the layout") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val d = Files.createTempDirectory("graft-sqlpc-").toString + "/t"
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark, parser.parsePlan(
      s"CREATE TABLE graft_txsql_pcreate (id BIGINT, k STRING) " +
        s"USING txtable LOCATION '$d' PARTITIONED BY (k)")).collect()
    try {
      spark.sql("INSERT INTO graft_txsql_pcreate " +
        "SELECT * FROM VALUES (1L, 'a'), (2L, 'b'), (3L, 'a') v(id, k)")
      val t = TxTable(spark, d)
      assert(t.snapshot().files.nonEmpty)
      assert(t.snapshot().files.forall(
        _.stripPrefix(s"$d/").startsWith("k=")),
        s"${t.snapshot().files}")
      assert(t.readPartition("k", "a").count() === 2)
      spark.catalog.refreshTable("graft_txsql_pcreate")
      assert(spark.table("graft_txsql_pcreate").count() === 3)
    } finally spark.sql("DROP TABLE graft_txsql_pcreate")
  }

  test("SQL DML on a catalog table refreshes the cached relation") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 4))
    spark.sql(s"CREATE TABLE graft_txsql_fresh USING txtable LOCATION '$p'")
    try {
      // prime Spark's relation cache, then mutate through SQL DML —
      // the post-DML read must see the new version without a manual
      // refreshTable (TxSql invalidates the cached relation)
      assert(spark.table("graft_txsql_fresh").count() === 4)
      sql.run("DELETE FROM graft_txsql_fresh WHERE k = 0")
      assert(spark.table("graft_txsql_fresh").count() === 3)
      sql.run("UPDATE graft_txsql_fresh SET v = v + 1 WHERE k = 1")
      assert(spark.table("graft_txsql_fresh")
        .where(col("k") === 1L).head().getLong(1) === 11L)
    } finally spark.sql("DROP TABLE graft_txsql_fresh")
  }

  test("OPTIMIZE ZORDER BY, VACUUM RETAIN HOURS, RESTORE TO TIMESTAMP") {
    val (t, p) = mkTable()
    t.append(df(0 until 50))
    t.append(df(50 until 100))
    // ZORDER compaction commits and preserves content
    val z = sql.run(s"OPTIMIZE txtable.`$p` ZORDER BY (k, v)")
    assert(z.head().getString(1) === "compact")
    assert(t.read().count() === 100)
    val e = intercept[Exception](
      sql.run(s"OPTIMIZE txtable.`$p` ZORDER BY (k)"))
    assert(e.getMessage.contains("two columns"))
    // a string dimension cannot linear-bucket — refused loudly
    val es = intercept[Exception](
      sql.run(s"OPTIMIZE txtable.`$p` ZORDER BY (k, v, tag)"))
    assert(es.getMessage.contains("rank-bucket"))
    // three NUMERIC columns go through the n-D interleave
    import spark.implicits._
    val (u, q) = mkTable()
    u.append((0 until 64).map(i =>
      (i.toLong, (i * 7 % 64).toLong, (i * 13 % 64).toLong))
      .toDF("x", "y", "w"))
    u.append((64 until 128).map(i =>
      (i.toLong, (i * 7 % 64).toLong, (i * 13 % 64).toLong))
      .toDF("x", "y", "w"))
    val z3 = sql.run(s"OPTIMIZE txtable.`$q` ZORDER BY (x, y, w)")
    assert(z3.head().getString(1) === "compact")
    assert(u.read().count() === 128)
    // RETAIN 0 HOURS reclaims the pre-compaction files immediately
    val reclaimed = sql.run(s"VACUUM txtable.`$p` RETAIN 0 HOURS")
    assert(reclaimed.count() > 0)
    assert(t.read().count() === 100)
    // RESTORE TO TIMESTAMP resolves the newest version at-or-before:
    // the post-compaction snapshot (whose files survived the vacuum)
    val tsAfterZ = System.currentTimeMillis()
    Thread.sleep(5)
    t.overwrite(df(0 until 3))
    sql.run(s"RESTORE TABLE txtable.`$p` TO TIMESTAMP AS OF '$tsAfterZ'")
    assert(t.read().count() === 100)
  }

  test("CREATE TABLE with identity column spec routes through the parser") {
    import spark.implicits._
    import graft.plans.{TxCreateWithSpecs, TxSqlParser}
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-cid-").toString + "/t"
    val plan = parser.parsePlan(
      "CREATE TABLE graft_tx_cid (uid BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 10 INCREMENT BY 5), name STRING) " +
        s"USING txtable LOCATION '$loc'")
    assert(plan.isInstanceOf[TxCreateWithSpecs])
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark, plan).collect()
    try {
      val t = graft.ops.TxTable(spark, loc)
      // declared at birth: token recorded before any data can land
      assert(t.identityColumns === Map("uid" -> ((10L, 5L, 5L))))
      // the catalog table serves the DECLARED schema while dataless
      assert(spark.table("graft_tx_cid").columns.toSeq ===
        Seq("uid", "name"))
      // INSERT's all-NULL identity slot means DEFAULT → allocation
      spark.sql("INSERT INTO graft_tx_cid VALUES " +
        "(CAST(NULL AS BIGINT), 'a'), (CAST(NULL AS BIGINT), 'b')")
      assert(t.read().select("uid", "name").orderBy("uid")
        .as[(Long, String)].collect().toSeq ===
        Seq((10L, "a"), (15L, "b")))
      // the catalog read keeps the declared column order post-data
      spark.catalog.refreshTable("graft_tx_cid")
      assert(spark.table("graft_tx_cid").columns.toSeq ===
        Seq("uid", "name"))
      // a supplied identity value refuses loudly (GENERATED ALWAYS)
      intercept[Exception](spark.sql(
        "INSERT INTO graft_tx_cid VALUES (99L, 'rogue')"))
      // GENERATED BY DEFAULT contradicts engine allocation — parse-time
      intercept[Exception](parser.parsePlan(
        "CREATE TABLE graft_tx_cid2 (uid BIGINT GENERATED BY DEFAULT " +
          "AS IDENTITY, v STRING) USING txtable LOCATION '/tmp/nowhere'"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_cid")
  }

  test("VACUUM DRY RUN lists the reclaimable set without deleting") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 20))       // v0
    t.overwrite(df(100 until 110)) // v1 retires v0's files
    // backdate everything so the age guard admits the retired files
    def backdate(d: java.io.File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).foreach {
        f =>
          if (f.isDirectory) backdate(f)
          else { f.setLastModified(
            System.currentTimeMillis() - 2 * 3600 * 1000L); () }
      }
    backdate(new java.io.File(p))
    val listed = sql.run(s"VACUUM txtable.`$p` RETAIN 1 VERSIONS DRY RUN")
      .select("reclaimed_file").as[String].collect().toSet
    assert(listed.nonEmpty)
    // DRY RUN deleted nothing: every listed file still exists and the
    // pre-overwrite snapshot still time-travels
    listed.foreach(n => assert(new java.io.File(p, n).isFile,
      s"DRY RUN deleted $n"))
    assert(t.readAt(0L).count() === 20)
    // the real run reclaims exactly the dry run's list
    val real = sql.run(s"VACUUM txtable.`$p` RETAIN 1 VERSIONS")
      .select("reclaimed_file").as[String].collect().toSet
    assert(real === listed)
    listed.foreach(n => assert(!new java.io.File(p, n).exists()))
    // RETAIN omitted = Delta's 168h default: a young table reclaims
    // nothing, with or without DRY RUN
    val (u, q) = mkTable()
    u.append(df(0 until 5)); u.overwrite(df(5 until 8))
    assert(sql.run(s"VACUUM txtable.`$q` DRY RUN").count() === 0)
    assert(sql.run(s"VACUUM txtable.`$q`").count() === 0)
    assert(u.readAt(0L).count() === 5)
  }

  test("CREATE TABLE with GENERATED ALWAYS AS (expr) column spec") {
    import spark.implicits._
    import graft.plans.{TxCreateWithSpecs, TxSqlParser}
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-cgc-").toString + "/t"
    val plan = parser.parsePlan(
      "CREATE TABLE graft_tx_cgc (k BIGINT, d DATE, " +
        "y INT GENERATED ALWAYS AS (year(d))) " +
        s"USING txtable LOCATION '$loc'")
    assert(plan.isInstanceOf[TxCreateWithSpecs])
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark, plan).collect()
    try {
      val t = graft.ops.TxTable(spark, loc)
      // declared ahead of content — the token is live before any data
      assert(t.generatedColumns === Map("y" -> "year(d)"))
      // INSERT with an all-NULL generated slot = DEFAULT → computed
      spark.sql("INSERT INTO graft_tx_cgc VALUES " +
        "(1L, DATE '1996-03-07', CAST(NULL AS INT)), " +
        "(2L, DATE '2001-11-20', CAST(NULL AS INT))")
      assert(t.read().select("k", "y").orderBy("k")
        .as[(Long, Int)].collect().toSeq ===
        Seq((1L, 1996), (2L, 2001)))
      // a supplied WRONG value refuses loudly (null-safe enforcement)
      intercept[Exception](spark.sql(
        "INSERT INTO graft_tx_cgc VALUES (3L, DATE '2005-01-01', 1999)"))
      // a supplied CORRECT value passes
      spark.sql(
        "INSERT INTO graft_tx_cgc VALUES (4L, DATE '2005-01-01', 2005)")
      assert(t.read().count() === 3)
      // an expression referencing an undeclared column refuses at
      // parse time, before anything is created
      intercept[Exception](parser.parsePlan(
        "CREATE TABLE graft_tx_cgc2 (k BIGINT, " +
          "y INT GENERATED ALWAYS AS (year(nope))) " +
          "USING txtable LOCATION '/tmp/nowhere'"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_cgc")
  }

  test("OPTIMIZE packs per partition leaf; WHERE scopes the repack") {
    import spark.implicits._
    val (t, p) = mkTable()
    // 4 small appends, each landing one file per tag leaf
    (0 until 4).foreach { i =>
      t.appendPartitioned(Seq((i.toLong, 1L, "a"), (i + 100L, 2L, "b"))
        .toDF("k", "v", "tag"), Seq("tag"))
    }
    val before = t.snapshot().files
    assert(before.count(_.contains("tag=a")) === 4)
    assert(before.count(_.contains("tag=b")) === 4)
    // scoped: only the tag=a leaf repacks
    val r = sql.run(s"OPTIMIZE txtable.`$p` WHERE tag = 'a'")
    assert(r.head().getString(1) === "compact")
    val after = t.snapshot()
    assert(after.files.count(_.contains("tag=a")) === 1)
    // the other leaf is untouched BY IDENTITY (not rewritten, not
    // mentioned)
    assert(after.files.filter(_.contains("tag=b")).toSet ===
      before.filter(_.contains("tag=b")).toSet)
    // content identical; manifest partition pruning still works
    assert(t.read().count() === 8)
    assert(t.readPartition("tag", "a").count() === 4)
    assert(t.readPartition("tag", "a")
      .select("k").as[Long].collect().sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L))
    // unscoped OPTIMIZE packs the remaining leaf; the singleton a-leaf
    // no longer qualifies (packing one file buys nothing)
    sql.run(s"OPTIMIZE txtable.`$p`")
    assert(t.snapshot().files.count(_.contains("tag=b")) === 1)
    assert(t.read().count() === 8)
    // non-equality predicates refuse loudly
    val e = intercept[Exception](
      sql.run(s"OPTIMIZE txtable.`$p` WHERE tag > 'a'"))
    assert(e.getMessage.contains("partition equalities"))
    // a typo'd / non-partition column refuses instead of silently
    // no-op'ing forever
    val e2 = intercept[Exception](
      sql.run(s"OPTIMIZE txtable.`$p` WHERE tga = 'a'"))
    assert(e2.getMessage.contains("non-partition column"))
  }

  test("OPTIMIZE WHERE ... ZORDER BY: incremental clustering of one leaf") {
    import spark.implicits._
    val (t, p) = mkTable()
    // two days, two small appends each -> several files per leaf
    def day(d: Int, lo: Int) = (lo until lo + 40)
      .map(i => (i.toLong, (i * 7 % 40).toLong, d)).toDF("a", "b", "day")
    t.appendPartitioned(day(1, 0), Seq("day"))
    t.appendPartitioned(day(1, 40), Seq("day"))
    t.appendPartitioned(day(2, 0), Seq("day"))
    val before = t.snapshot().files.toSet
    val day2Before = before.filter(_.contains("day=2"))
    assert(before.count(_.contains("day=1")) >= 2)
    val res = sql.run(
      s"OPTIMIZE txtable.`$p` WHERE day = 1 ZORDER BY (a, b)")
    assert(res.head().getString(1) === "compact")
    val after = t.snapshot().files.toSet
    // the untouched leaf's files survive BY IDENTITY; the scoped
    // leaf's were all replaced by the re-clustered rewrite
    assert(after.filter(_.contains("day=2")) === day2Before)
    assert(after.filter(_.contains("day=1"))
      .intersect(before.filter(_.contains("day=1"))).isEmpty)
    assert(after.filter(_.contains("day=1")).nonEmpty)
    // content exact, layout preserved
    assert(t.read().count() === 120)
    assert(t.read().where(col("day") === 1).count() === 80)
    assert(t.readPartitions(Seq("day" -> 2)).count() === 40)
    // a filter matching no leaf is a loud-schema, quiet-content no-op
    val v = t.snapshot().version
    assert(sql.run(
      s"OPTIMIZE txtable.`$p` WHERE day = 9 ZORDER BY (a, b)")
      .count() === 0)
    assert(t.snapshot().version === v)
    // non-partition column refuses, same contract as plain WHERE
    val e = intercept[Exception](sql.run(
      s"OPTIMIZE txtable.`$p` WHERE a = 1 ZORDER BY (a, b)"))
    assert(e.getMessage.contains("non-partition column"))
  }

  test("partially cleaned log (age guard) keeps vacuum safe and floor adopted") {
    import spark.implicits._
    val (t, p) = mkTable()
    (0 until 14).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    // backdate every log file EXCEPT v8's entry — a young pre-cut
    // survivor the age guard will keep, so the cleaned log's oldest
    // entry does NOT coincide with the cut checkpoint (v10)
    val young = f"${8L}%020d"
    Option(new java.io.File(s"$p/_log").listFiles())
      .getOrElse(Array.empty[java.io.File]).foreach { f =>
        if (!f.getName.startsWith(young)) {
          f.setLastModified(
            System.currentTimeMillis() - 2 * 3600 * 1000L); ()
        }
      }
    assert(t.cleanupLog(retainVersions = 3).nonEmpty)
    // the floor is still adopted (checkpoint v10 proves the prefix
    // was committed) — history is not silently empty
    assert(t.history().count() >= 1)
    // THE hazard this pins: files added after the retention horizon
    // must stay protected even though the surviving entries are
    // non-contiguous — under a contiguous-run referenced set, v11+'s
    // adds would be unreferenced and vacuum would delete LIVE data
    assert(t.vacuum(retainVersion = 12, minAgeMs = 0).isEmpty)
    assert(t.read().count() === 140)
  }

  test("zombie txn writer: an already-recorded (app, version) aborts the write") {
    val (t, _) = mkTable()
    t.append(df(0 until 5), Some(("appZ", 7L)))
    assert(t.txnVersion("appZ") === Some(7L))
    // the same batch committed again (the zombie-attempt shape, past
    // any caller-side entry guard): the engine itself must refuse —
    // swapping the identical marker and landing the rows twice is the
    // exactly-once failure
    intercept[graft.ops.TxTable.TxnAlreadyApplied](
      t.append(df(0 until 5), Some(("appZ", 7L))))
    assert(t.read().count() === 5)
    // a LOWER version too (stale zombie of an older batch)
    intercept[graft.ops.TxTable.TxnAlreadyApplied](
      t.append(df(0 until 5), Some(("appZ", 6L))))
    // a fresh version proceeds
    t.append(df(5 until 8), Some(("appZ", 8L)))
    assert(t.read().count() === 8)
  }

  test("CDF crosses a merge-evolve commit (pre-merge rows null-pad)") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    val before = t.snapshot().version
    Seq((2L, 222L, "U2", "fresh"), (9L, 900L, "I9", "fresh"))
      .toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("txsql_cdf_evo_src")
    sql.run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`$p` t " +
        "USING txsql_cdf_evo_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    // the add side carries the WIDENED schema, the removed files the
    // pre-merge one: the feed must align (null-pad) and diff, never
    // die on a column-count mismatch — and a rewrite-carried row
    // (k=0, unchanged) must not surface as a change
    val feed = t.readChanges(before).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[String]("extra"))).toSet
    assert(feed === Set(
      ("insert", 2L, "fresh"), ("insert", 9L, "fresh"),
      ("delete", 2L, null)))
    // batch CDF reader over the same window agrees (it calls
    // readChanges eagerly — the reported permanent-failure path)
    val viaReader = spark.read.format("txtable").option("path", p)
      .option("readChangeFeed", "true")
      .option("startingVersion", (before + 1).toString).load()
    assert(viaReader.where(col("_change_type") === "insert").count() === 2)
    assert(viaReader.where(col("_change_type") === "delete").count() === 1)
  }

  test("CREATE OR REPLACE TABLE resets content and engine-owned specs") {
    import graft.plans.TxSqlParser
    import spark.implicits._
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-repl-").toString + "/t"
    try {
      // plain REPLACE TABLE refuses when the table does not exist
      val e = intercept[Exception](run(
        s"REPLACE TABLE graft_tx_repl (k BIGINT) USING txtable " +
          s"LOCATION '$loc'"))
      assert(e.getMessage.contains("does not exist"))
      // CREATE OR REPLACE creates fresh, specs land
      run("CREATE OR REPLACE TABLE graft_tx_repl " +
        "(uid BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 5 INCREMENT BY 2), name STRING) " +
        s"USING txtable LOCATION '$loc'")
      val t = TxTable(spark, loc)
      assert(t.identityColumns.keySet === Set("uid"))
      spark.sql(
        "INSERT INTO graft_tx_repl (name) VALUES ('a'), ('b')")
      assert(spark.table("graft_tx_repl").select("uid")
        .as[Long].collect().sorted.toSeq === Seq(5L, 7L))
      val preReplace = t.snapshot().version
      // REPLACE over the same location: content resets, the identity
      // contract is REPLACED by the new definition's generated column
      run("CREATE OR REPLACE TABLE graft_tx_repl " +
        "(k BIGINT, y INT GENERATED ALWAYS AS (CAST(k % 10 AS INT))) " +
        s"USING txtable LOCATION '$loc'")
      assert(t.identityColumns.isEmpty)
      assert(t.generatedColumns.keySet === Set("y"))
      assert(spark.table("graft_tx_repl").count() === 0)
      spark.sql("INSERT INTO graft_tx_repl (k) VALUES (42)")
      assert(spark.table("graft_tx_repl").collect().map(r =>
        (r.getLong(0), r.getInt(1))).toSeq === Seq((42L, 2)))
      // history stayed time-travelable across the replace
      assert(t.readAt(preReplace).count() === 2)
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_repl")
  }

  test("CREATE OR REPLACE TABLE ... AS SELECT lands as one replace commit") {
    import graft.plans.TxSqlParser
    import spark.implicits._
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-rtas-").toString + "/t"
    try {
      // plain REPLACE ... AS SELECT refuses without existence
      val e = intercept[Exception](run(
        "REPLACE TABLE graft_tx_rtas USING txtable " +
          s"LOCATION '$loc' AS SELECT 1L AS k"))
      assert(e.getMessage.contains("does not exist"))
      // CREATE OR REPLACE ... AS SELECT creates fresh (external)
      run("CREATE OR REPLACE TABLE graft_tx_rtas USING txtable " +
        s"LOCATION '$loc' AS " +
        "SELECT id AS k, id * 10 AS v FROM range(5)")
      val t = TxTable(spark, loc)
      assert(spark.table("graft_tx_rtas").count() === 5)
      val v0 = t.snapshot().version
      // replace with a different query: ONE replace commit at the
      // same location, history time-travelable
      run("CREATE OR REPLACE TABLE graft_tx_rtas USING txtable " +
        s"LOCATION '$loc' AS " +
        "SELECT id AS k, CAST(id AS STRING) AS tag FROM range(3)")
      assert(t.snapshot().version === v0 + 1)
      assert(t.history().where(col("version") === v0 + 1)
        .select("action").as[String].head() === "replace")
      assert(spark.table("graft_tx_rtas").columns.toSeq ===
        Seq("k", "tag"))
      assert(spark.table("graft_tx_rtas").count() === 3)
      assert(t.readAt(v0).count() === 5)
      // partitioned RTAS replace: hive layout + later INSERT partitions
      // (string partition VALUES stay non-numeric — path inference
      // types numeric-looking values as int, the hive-layout caveat
      // shared with the plain CTAS face)
      run("CREATE OR REPLACE TABLE graft_tx_rtas USING txtable " +
        s"PARTITIONED BY (par) LOCATION '$loc' AS " +
        "SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'ev' ELSE 'od' END " +
        "AS par FROM range(6)")
      assert(t.snapshot().files.forall(_.contains("par=")),
        s"RTAS did not lay out partitions: ${t.snapshot().files}")
      spark.sql("INSERT INTO graft_tx_rtas SELECT 100L, 'zz'")
      assert(t.snapshot().files.exists(_.contains("par=zz")),
        "post-RTAS INSERT lost the partition layout")
      assert(spark.table("graft_tx_rtas").count() === 7)
      // RTAS with CLUSTER BY declares the clustering
      run("CREATE OR REPLACE TABLE graft_tx_rtas USING txtable " +
        s"CLUSTER BY (k, v2) LOCATION '$loc' AS " +
        "SELECT id AS k, id * 2 AS v2 FROM range(8)")
      assert(t.property("txtable.clusterBy") === Some("k,v2"))
      assert(spark.table("graft_tx_rtas").count() === 8)
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_rtas")
  }

  test("managed RTAS evaluates the query BEFORE dropping; failure keeps data") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    try {
      // MANAGED table (no LOCATION): the drop deletes the directory.
      // A leaked dir from an aborted earlier run must not poison the
      // managed CTAS (LOCATION_ALREADY_EXISTS)
      spark.sql("DROP TABLE IF EXISTS graft_tx_mng")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File("/tmp/graft_warehouse/graft_tx_mng"))
      spark.sql("CREATE TABLE graft_tx_mng USING txtable AS " +
        "SELECT id AS k, id * 10 AS v FROM range(6)")
      assert(spark.table("graft_tx_mng").count() === 6)
      // SELF-REFERENCING replace: the query reads the table being
      // replaced — it must evaluate against the OLD content before
      // anything drops
      run("CREATE OR REPLACE TABLE graft_tx_mng USING txtable AS " +
        "SELECT k, v FROM graft_tx_mng WHERE k >= 3")
      assert(spark.table("graft_tx_mng").orderBy("k")
        .collect().map(_.getLong(0)).toSeq === Seq(3L, 4L, 5L))
      // a query that FAILS AT EXECUTION must leave the table intact
      intercept[Exception](run(
        "CREATE OR REPLACE TABLE graft_tx_mng USING txtable AS " +
          "SELECT CAST(raise_error('boom') AS BIGINT) AS k, " +
          "CAST(1 AS BIGINT) AS v"))
      assert(spark.table("graft_tx_mng").count() === 3,
        "a failing replacement query must not destroy the table")
      // the replaced table stays MANAGED: DROP reclaims its directory
      // (an external-ified replacement would leak it and poison the
      // next managed CREATE of the same name)
      spark.sql("DROP TABLE graft_tx_mng")
      assert(!new java.io.File("/tmp/graft_warehouse/graft_tx_mng")
        .exists(), "managed RTAS must keep the table managed")
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_mng")
  }

  test("RTAS query may reference txtable paths; temp view never shadows DDL") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val (src, srcPath) = mkTable()
    src.append(df(0 until 7))
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-rtref-").toString + "/t"
    try {
      // the RTAS query reads a PATH-addressed txtable: the reference
      // rides inside the command's raw plan and must still rewrite
      run("CREATE OR REPLACE TABLE graft_tx_rtref USING txtable " +
        s"LOCATION '$loc' AS " +
        s"SELECT k, v FROM txtable.`$srcPath` WHERE k < 3")
      assert(spark.table("graft_tx_rtref").count() === 3)
      // a TEMP VIEW shadowing a name must not no-op CREATE IF NOT
      // EXISTS (the real table must land) …
      spark.range(1).createOrReplaceTempView("graft_tx_shadow")
      val loc2 = java.nio.file.Files
        .createTempDirectory("graft-txsql-shadow-").toString + "/t"
      run("CREATE TABLE IF NOT EXISTS graft_tx_shadow " +
        "(uid BIGINT GENERATED ALWAYS AS IDENTITY, name STRING) " +
        s"USING txtable LOCATION '$loc2'")
      val shadowT = TxTable(spark, loc2)
      assert(shadowT.identityColumns.keySet === Set("uid"),
        "a temp view shadowing the name must not no-op the CREATE")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_tx_rtref")
      spark.catalog.dropTempView("graft_tx_shadow")
      spark.sql("DROP TABLE IF EXISTS graft_tx_shadow")
    }
  }

  test("CTAS CLUSTER BY declares; OPTIMIZE on a dataless clustered table no-ops") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-ctascl-").toString + "/t"
    val loc2 = java.nio.file.Files
      .createTempDirectory("graft-txsql-empcl-").toString + "/t"
    try {
      run("CREATE TABLE graft_tx_ctascl USING txtable CLUSTER BY (k, v) " +
        s"LOCATION '$loc' AS SELECT id AS k, id * 2 AS v FROM range(9)")
      val t = TxTable(spark, loc)
      assert(t.property("txtable.clusterBy") === Some("k,v"))
      assert(spark.table("graft_tx_ctascl").count() === 9)
      assert(sql.run(s"OPTIMIZE txtable.`$loc`")
        .head().getString(1) === "compact")
      // dataless clustered table: bare OPTIMIZE is a clean no-op, not
      // an unresolved-column crash
      run("CREATE TABLE graft_tx_empcl (k BIGINT, v BIGINT) " +
        s"USING txtable CLUSTER BY (k, v) LOCATION '$loc2'")
      assert(sql.run(s"OPTIMIZE txtable.`$loc2`").count() === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_tx_ctascl")
      spark.sql("DROP TABLE IF EXISTS graft_tx_empcl")
    }
  }

  test("CDF crosses evolve + deletion vectors + spanning rewrite") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    // widen: later files carry `extra`, the original does not
    t.appendEvolve(Seq((10L, 100L, "E", "wide"))
      .toDF("k", "v", "tag", "extra"))
    // merge-on-read delete puts ACTIVE VECTORS in play
    t.deleteVectorBetween("k", 1L, 2L)
    val before = t.snapshot().version
    // a rewrite whose touched files span BOTH schemas: the feed's
    // DV-branch reads must footer-merge, or `extra` silently vanishes
    // from one side and the diff emits phantom rows
    t.updateBetween("k", 0L, 20L, Map("v" -> (col("v") + lit(1L))))
    val feed = t.readChanges(before).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Long]("v"), r.getAs[String]("extra")))
    // live rows 0,3,4,5 (narrow) and 10 (wide) each update: one
    // delete+insert pair per row, extra preserved where it existed
    val inserts = feed.filter(_._1 == "insert").map(x => (x._2, x._4)).toSet
    val deletes = feed.filter(_._1 == "delete").map(x => (x._2, x._4)).toSet
    assert(inserts === Set((0L, null), (3L, null), (4L, null),
      (5L, null), (10L, "wide")))
    assert(deletes === Set((0L, null), (3L, null), (4L, null),
      (5L, null), (10L, "wide")))
    assert(feed.filter(_._1 == "insert").forall(x => x._3 % 10 == 1),
      "updated rows must carry v+1")
  }

  test("IF NOT EXISTS with specs no-ops for a 3-part qualified name") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-ine3-").toString + "/t"
    val stmt = "CREATE TABLE IF NOT EXISTS " +
      "spark_catalog.default.graft_tx_ine3 " +
      "(uid BIGINT GENERATED ALWAYS AS IDENTITY, name STRING) " +
      s"USING txtable LOCATION '$loc'"
    try {
      run(stmt)
      val t = TxTable(spark, loc)
      val v = t.snapshot().version
      // re-run under the FULLY QUALIFIED name: whole-statement no-op —
      // no 'already declared' error, no extra commit
      run(stmt)
      assert(t.snapshot().version === v)
      assert(t.identityColumns.keySet === Set("uid"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_ine3")
  }

  test("declarative clustering: CLUSTER BY declared once, bare OPTIMIZE reclusters") {
    import graft.plans.TxSqlParser
    import spark.implicits._
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-clst-").toString + "/t"
    try {
      // CREATE TABLE … CLUSTER BY persists the declared column set
      run("CREATE TABLE graft_tx_clst (k BIGINT, v BIGINT, tag STRING) " +
        s"USING txtable CLUSTER BY (k, v) LOCATION '$loc'")
      val t = TxTable(spark, loc)
      assert(t.property("txtable.clusterBy") === Some("k,v"))
      // scattered inserts: interleaved key ranges across small files
      (0 until 4).foreach { b =>
        t.append((0 until 100).map { i =>
          val k = (i * 7 + b) % 400; (k.toLong, k.toLong * 3, s"b$b")
        }.toDF("k", "v", "tag"))
      }
      val rowsBefore = t.read().collect().toSet
      // bare OPTIMIZE picks up the DECLARED columns: the commit is a
      // compact whose rewritten files carry narrow disjoint k-ranges
      val res = sql.run(s"OPTIMIZE txtable.`$loc`")
      assert(res.head().getString(1) === "compact")
      assert(t.read().collect().toSet === rowsBefore)
      // declared-clustered layout: the compact commit's logged k-stats
      // show per-file spans far below the full [0,399] range (every
      // pre-OPTIMIZE file spanned nearly all of it)
      val v = t.snapshot().version
      val statsFile = new java.io.File(s"$loc/_log",
        f"$v%020d.stats.tsv")
      assert(statsFile.isFile, s"missing stats sidecar for v$v")
      val spans = scala.io.Source.fromFile(statsFile).getLines()
        .map(_.split("\t")).filter(a => a(1) == "k")
        .map(a => (a(3).toLong, a(4).toLong)).toSeq
      assert(spans.length > 1)
      assert(spans.forall { case (lo, hi) => hi - lo < 300 },
        s"file spans not clustered: $spans")
      // ALTER … CLUSTER BY NONE clears the declaration: bare OPTIMIZE
      // falls back to bin-packing (action still compact, but the
      // property is gone)
      sql.run(s"ALTER TABLE txtable.`$loc` CLUSTER BY NONE")
      assert(t.property("txtable.clusterBy") === None)
      // ALTER … CLUSTER BY re-declares (the retrofit path)
      sql.run(s"ALTER TABLE txtable.`$loc` CLUSTER BY (v, k)")
      assert(t.property("txtable.clusterBy") === Some("v,k"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_clst")
  }

  test("bare OPTIMIZE on a clustered table is INCREMENTAL (liquid clustering)") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    t.append(df(100 until 200))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    def dataFiles(): Set[String] = t.snapshot().files.toSet
    // first bare OPTIMIZE: no watermark yet -> FULL recluster, and the
    // watermark property lands atomically in the same commit
    val r1 = sql.run(s"OPTIMIZE txtable.`$p`")
    assert(r1.head().getString(1) === "compact")
    val clustered = dataFiles()
    val vAfterFull = t.snapshot().version
    assert(t.property("txtable.lastRecluster") ===
      Some(vAfterFull.toString))
    // OPTIMIZE again immediately: ZERO files rewritten — a clean no-op
    // with no commit churn, not a full re-sort of the world
    assert(sql.run(s"OPTIMIZE txtable.`$p`").count() === 0)
    assert(t.snapshot().version === vAfterFull)
    assert(dataFiles() === clustered, "a no-op OPTIMIZE must not touch files")
    // new data lands: OPTIMIZE rewrites ONLY the new files — the
    // clustered set survives by IDENTITY
    t.append(df(200 until 260))
    val fresh = dataFiles() -- clustered
    assert(fresh.nonEmpty)
    val r3 = sql.run(s"OPTIMIZE txtable.`$p`")
    assert(r3.head().getString(1) === "compact")
    val c3 = t.commitLog.last
    val removedData = c3.remove.filterNot(TxTable.isMetaToken).toSet
    assert(removedData === fresh.map(_.stripPrefix(s"$p/")),
      s"incremental OPTIMIZE must rewrite exactly the new files; " +
        s"removed $removedData")
    assert(clustered.subsetOf(dataFiles()),
      "previously clustered files must survive untouched")
    assert(t.read().count() === 260)
    assert(t.property("txtable.lastRecluster") ===
      Some(t.snapshot().version.toString))
    // the incremental window's output is z-ordered too: its logged
    // k-stats span stays narrow relative to the full key range
    // (the window held keys 200..259)
    val stats = new java.io.File(s"$p/_log",
      f"${t.snapshot().version}%020d.stats.tsv")
    assert(stats.isFile)
    val kSpans = scala.io.Source.fromFile(stats).getLines()
      .map(_.split("\t")).filter(a => a(1) == "k")
      .map(a => (a(3).toLong, a(4).toLong)).toSeq
    assert(kSpans.forall { case (lo, hi) => lo >= 200L && hi <= 259L })
    // an explicit ZORDER BY statement still forces the FULL re-sort
    sql.run(s"OPTIMIZE txtable.`$p` ZORDER BY (k, v)")
    assert((dataFiles() intersect clustered).isEmpty,
      "explicit ZORDER BY must rewrite the whole table")
    assert(t.read().count() === 260)
  }

  test("OPTIMIZE FULL forces the full recluster and re-arms the watermark") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 40))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    sql.run(s"OPTIMIZE txtable.`$p`") // full (first) + watermark
    val clustered = t.snapshot().files.toSet
    // bare OPTIMIZE is now a no-op; FULL still re-sorts the world
    assert(sql.run(s"OPTIMIZE txtable.`$p`").count() === 0)
    val r = sql.run(s"OPTIMIZE txtable.`$p` FULL")
    assert(r.head().getString(1) === "compact")
    assert((t.snapshot().files.toSet intersect clustered).isEmpty,
      "FULL must rewrite every file")
    assert(t.read().count() === 40)
    // the watermark advanced with it: bare OPTIMIZE is a no-op again
    assert(t.property("txtable.lastRecluster") ===
      Some(t.snapshot().version.toString))
    assert(sql.run(s"OPTIMIZE txtable.`$p`").count() === 0)
    // FULL on an unclustered table refuses with direction
    val (u, q) = mkTable()
    u.append(df(0 until 5))
    val e = intercept[Exception](sql.run(s"OPTIMIZE txtable.`$q` FULL"))
    assert(e.getMessage.contains("CLUSTER BY"))
  }

  test("a concurrent append can never slip under the recluster watermark") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 40))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    sql.run(s"OPTIMIZE txtable.`$p`") // full recluster + watermark
    t.append(df(100 until 120))       // fresh window
    // mid-recluster, a SECOND writer lands an append between the base
    // snapshot and the commit: stamping the watermark at commit
    // version would put the interloper's files at-or-below it without
    // ever rewriting them — they'd escape every future incremental
    // run. The engine must RESTART selection against the new head.
    val w = TxTable(spark, p)
    var fired = false
    t.beforeDmlCommitHook = () => {
      if (!fired) {
        fired = true
        w.append(df(200 until 230))
      }
    }
    // drive the engine method directly: the hook lives on THIS
    // instance (the SQL face resolves its own)
    try t.compactZOrderedIncremental(Seq("k", "v"))
    finally t.beforeDmlCommitHook = () => ()
    assert(fired, "the race seam never fired")
    // the induction invariant holds: every active data file sits at
    // or below the watermark only if a recluster rewrote it — i.e.
    // nothing added after the watermark's own commit remains, and the
    // interloper's rows were swept into the rewrite
    val watermark = t.property("txtable.lastRecluster").get.toLong
    // no APPEND-committed file below the watermark may still be
    // active: by the induction invariant each one was rewritten by a
    // recluster — the pre-fix bug left the interloper's files active
    // below the watermark, unrewritten forever
    val preWatermarkAppendAdds = t.commitLog
      .filter(c => c.action == "append" && c.version < watermark)
      .flatMap(_.add).filterNot(TxTable.isMetaToken).toSet
    val active = t.snapshot().files.map(_.stripPrefix(s"$p/")).toSet
    assert((active intersect preWatermarkAppendAdds).isEmpty,
      "an interleaved append's files escaped the recluster watermark")
    assert(t.read().count() === 40 + 20 + 30)
    // and the NEXT bare OPTIMIZE is a clean no-op — nothing escaped
    assert(sql.run(s"OPTIMIZE txtable.`$p`").count() === 0)
  }

  test("column DEFAULT values: ADD COLUMN DEFAULT, SET/DROP DEFAULT, time travel") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    // ADD COLUMN … DEFAULT: one evolve commit, old rows READ the
    // default (exists default), no rewrite
    val r = sql.run(
      s"ALTER TABLE txtable.`$p` ADD COLUMN src STRING DEFAULT 'legacy'")
    assert(r.head().getString(1) === "evolve")
    val evolveV = t.snapshot().version
    assert(t.read().where(col("src") === "legacy").count() === 10)
    // a write omitting the column fills the CURRENT default
    t.append(df(10 until 15).drop("nothing"))
    assert(t.read().where(col("k") === 12L).head()
      .getAs[String]("src") === "legacy")
    // a write supplying the column keeps its values
    t.append(df(15 until 20).withColumn("src", lit("explicit")))
    assert(t.read().where(col("src") === "explicit").count() === 5)
    // an EXPLICIT NULL into the exists-defaulted column refuses
    // loudly — a stored NULL would silently read back as the default
    // forever (reads are total by contract), so the write fails and
    // nothing lands
    intercept[Exception](t.append(
      df(95 until 97).withColumn("src", lit(null).cast("string"))))
    assert(t.read().count() === 20)
    // the CURRENT default stays a live EXPRESSION (evaluated per
    // write, like SET DEFAULT's); only the EXISTS default froze to
    // the DDL-time literal
    assert(t.property("txtable.default.src")
      .contains("CAST(('legacy') AS STRING)"))
    assert(t.property("txtable.existsDefault.src").contains("'legacy'"))
    // SET DEFAULT changes FUTURE fills; prior rows keep theirs
    sql.run(s"ALTER TABLE txtable.`$p` ALTER COLUMN src " +
      "SET DEFAULT concat('fresh', '')")
    t.append(df(20 until 25))
    assert(t.read().where(col("src") === "fresh").count() === 5)
    assert(t.read().where(col("src") === "legacy").count() === 15)
    // DROP DEFAULT: an omitting write now refuses (schema guard);
    // the exists default keeps filling the pre-evolve rows on read
    sql.run(s"ALTER TABLE txtable.`$p` ALTER COLUMN src DROP DEFAULT")
    intercept[Exception](t.append(df(25 until 30)))
    assert(t.read().where(col("src") === "legacy").count() === 15)
    // time travel BELOW the evolve serves the pre-default schema
    assert(!t.readAt(evolveV - 1).columns.contains("src"))
    assert(t.readAt(evolveV).where(col("src") === "legacy").count() === 10)
    // RENAME carries both declarations atomically; reads still fill
    t.renameColumn("src", "origin")
    assert(t.read().where(col("origin") === "legacy").count() === 15)
    assert(t.properties.keys.count(_.contains("origin")) === 1,
      "exists default must follow the rename") // current was dropped
    // non-constant/ill-typed defaults refuse at DDL time
    val e1 = intercept[Exception](sql.run(
      s"ALTER TABLE txtable.`$p` ADD COLUMN bad BIGINT DEFAULT k + 1"))
    assert(e1.getMessage.contains("constant"))
    intercept[Exception](sql.run(
      s"ALTER TABLE txtable.`$p` ADD COLUMN bad DATE DEFAULT 'nope'"))
    // the CHANGE FEED serves the exists default exactly like read():
    // a window straddling the evolve backfills pre-evolve inserts, so
    // an incremental consumer converges to the full recompute
    val feed = t.readChanges(-1L)
      .where(col("_change_type") === "insert")
    assert(feed.where(col("origin").isNull).count() === 0,
      "CDF must serve exists defaults, not physical NULLs")
    assert(feed.where(col("origin") === "legacy").count() === 15)
  }

  test("CREATE TABLE column DDL: DEFAULT and NOT NULL land as engine specs") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt))
    val loc = Files.createTempDirectory("graft-ddl-dflt-").toString + "/t"
    try {
      run("CREATE TABLE graft_ddl_dflt (k BIGINT NOT NULL, " +
        "v BIGINT, src STRING DEFAULT 'seed') " +
        s"USING txtable LOCATION '$loc'")
      val t = TxTable(spark, loc)
      // the declared default is a live write-side fill from row one
      run("INSERT INTO graft_ddl_dflt (k, v) SELECT 1L, 10L")
      assert(spark.table("graft_ddl_dflt").head()
        .getAs[String]("src") === "seed")
      // a supplied value wins over the default
      run("INSERT INTO graft_ddl_dflt SELECT 2L, 20L, 'explicit'")
      assert(spark.table("graft_ddl_dflt")
        .where(col("k") === 2L).head().getAs[String]("src") === "explicit")
      // NOT NULL is ENFORCED (as an engine CHECK), not just recorded
      assert(t.constraints.contains("k_not_null"))
      intercept[Exception](run(
        "INSERT INTO graft_ddl_dflt SELECT CAST(NULL AS BIGINT), 9L, 'x'"))
      assert(spark.table("graft_ddl_dflt").count() === 2)
      // REPLACE TABLE resets the default like every engine-owned spec
      run("CREATE OR REPLACE TABLE graft_ddl_dflt (k BIGINT, " +
        s"note STRING DEFAULT 'r2') USING txtable LOCATION '$loc'")
      assert(t.properties.keys.count(_.contains("src")) === 0,
        "the old definition's default must not survive the replace")
      run("INSERT INTO graft_ddl_dflt (k) SELECT 7L")
      assert(spark.table("graft_ddl_dflt").head()
        .getAs[String]("note") === "r2")
      // a column name outside [A-Za-z0-9_-] still lands an enforced
      // (name-sanitized, backtick-quoted) NOT NULL instead of killing
      // the CREATE after its catalog entry landed
      run("CREATE TABLE graft_ddl_q (`my col` BIGINT NOT NULL, " +
        s"v BIGINT) USING txtable LOCATION '${loc}q'")
      assert(TxTable(spark, s"${loc}q").constraints
        .contains("my_col_not_null"))
      intercept[Exception](run(
        "INSERT INTO graft_ddl_q SELECT CAST(NULL AS BIGINT), 1"))
      assert(spark.table("graft_ddl_q").count() === 0)
      // sanitized-name COLLISION (`a b` and `a_b` both mangle to
      // a_b_not_null): the second constraint disambiguates with a
      // hash instead of failing the CREATE after the catalog entry
      // landed — BOTH columns stay enforced
      run("CREATE TABLE graft_ddl_coll (`a b` BIGINT NOT NULL, " +
        s"a_b BIGINT NOT NULL) USING txtable LOCATION '${loc}c'")
      val cts = TxTable(spark, s"${loc}c").constraints
      assert(cts.size === 2 && cts.contains("a_b_not_null"))
      intercept[Exception](run(
        "INSERT INTO graft_ddl_coll SELECT CAST(NULL AS BIGINT), 1"))
      intercept[Exception](run(
        "INSERT INTO graft_ddl_coll SELECT 1, CAST(NULL AS BIGINT)"))
      assert(spark.table("graft_ddl_coll").count() === 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ddl_dflt")
      spark.sql("DROP TABLE IF EXISTS graft_ddl_q")
      spark.sql("DROP TABLE IF EXISTS graft_ddl_coll")
    }
  }

  test("defaults and engine-computed columns exclude each other") {
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    sql.run(s"ALTER TABLE txtable.`$p` ADD COLUMN d BIGINT DEFAULT 7")
    // a defaulted column cannot become generated
    val e1 = intercept[Exception](t.addGeneratedColumn("d", "k * 2"))
    assert(e1.getMessage.contains("DEFAULT"))
    // a generated column cannot take a default
    val (u, _) = mkTable()
    u.addGeneratedColumn("g", "k * 2") // dataless declare-ahead
    u.append(df(0 until 5))
    val e2 = intercept[Exception](u.setColumnDefault("g", "5"))
    assert(e2.getMessage.contains("engine-computed"))
    // identity vs a declare-ahead default on a dataless table
    val (w, _) = mkTable()
    w.setColumnDefaultDeclared("id", "7",
      org.apache.spark.sql.types.LongType)
    val e3 = intercept[Exception](w.addIdentityColumn("id"))
    assert(e3.getMessage.contains("DEFAULT"))
    // after DROP DEFAULT only the exists default remains (read-side
    // backfill, deliberately retained) — it must NOT bar the column
    // from becoming generated: the fill conflict is current-only
    sql.run(s"ALTER TABLE txtable.`$p` ALTER COLUMN d DROP DEFAULT")
    t.addGeneratedColumn("d", "7") // existing rows all read 7: valid
    assert(t.generatedColumns.contains("d"))
  }

  test("a dropped column's DEFAULT declarations retire with it") {
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    sql.run(s"ALTER TABLE txtable.`$p` ADD COLUMN flag BIGINT DEFAULT 7")
    assert(t.properties.keys.count(_.contains("flag")) === 2)
    sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN flag")
    assert(t.properties.keys.count(_.contains("flag")) === 0,
      "stale default tokens must not survive the drop")
    assert(!t.read().columns.contains("flag"))
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: incremental maintenance via SQL") {
    val dir = Files.createTempDirectory("graft-mv-sql-").toString
    val base = TxTable(spark, s"$dir/base")
    base.append(df(0 until 30).withColumn("g", col("k") % 3))
    val create = sql.run(
      s"CREATE MATERIALIZED VIEW txtable.`$dir/mv` AS " +
        "SELECT g, COUNT(*) AS n_rows, SUM(v) AS v_sum " +
        s"FROM txtable.`$dir/base` GROUP BY g")
    assert(create.count() === 1, "CREATE populates (one refresh commit)")
    val mv = TxTable(spark, s"$dir/mv")
    assert(mv.read().count() === 3)
    def vSum(g: Long): Long =
      mv.read().where(col("g") === g).head().getAs[Long]("v_sum")
    assert(vSum(0L) === (0 until 30 by 3).map(_ * 10L).sum)
    // mixed DML on the base, then REFRESH folds ONLY the CDF window
    base.append(df(30 until 40).withColumn("g", col("k") % 3))
    base.deleteVectorWhere("k", 3L)
    sql.run(s"UPDATE txtable.`$dir/base` SET v = v + 1000 WHERE k = 4")
    val r = sql.run(s"REFRESH MATERIALIZED VIEW txtable.`$dir/mv`")
    assert(r.head().getString(1).startsWith("mv-refresh-"))
    val expect = (0 until 40).filter(_ != 3)
      .map(k => (k % 3).toLong -> (if (k == 4) k * 10L + 1000 else k * 10L))
      .groupBy(_._1).view.mapValues(vs => (vs.size.toLong, vs.map(_._2).sum))
    expect.foreach { case (g, (n, s)) =>
      val row = mv.read().where(col("g") === g).head()
      assert(row.getAs[Long]("n_rows") === n, s"g=$g n_rows")
      assert(row.getAs[Long]("v_sum") === s, s"g=$g v_sum")
    }
    // already current: a second REFRESH is a clean no-op
    assert(sql.run(s"REFRESH MATERIALIZED VIEW txtable.`$dir/mv`")
      .count() === 0)
    // the definition survives as metadata: a FRESH session-equivalent
    // (new TxSql, no shared state) still refreshes incrementally
    base.append(df(40 until 45).withColumn("g", col("k") % 3))
    assert(TxSql(spark).run(s"REFRESH MATERIALIZED VIEW txtable.`$dir/mv`")
      .count() === 1)
    assert(mv.read().agg(sum("n_rows")).head().getLong(0) === 44L)
  }

  test("DROP MATERIALIZED VIEW removes storage, registration, catalog entry — and only MVs") {
    graft.functions.VectorExpressions.register(spark)
    val dir = Files.createTempDirectory("graft-mv-drop-").toString
    val base = TxTable(spark, s"$dir/base")
    base.append(df(0 until 20).withColumn("g", col("k") % 2))
    sql.run(s"CREATE MATERIALIZED VIEW txtable.`$dir/mv` AS " +
      s"SELECT g, COUNT(*) AS n_rows FROM txtable.`$dir/base` GROUP BY g")
    // the fresh view answers the matching aggregate (rewrite armed)
    val routed = base.read().groupBy("g").agg(count(lit(1)).as("c"))
    assert(routed.inputFiles.exists(_.contains(s"$dir/mv")))
    sql.run(s"DROP MATERIALIZED VIEW txtable.`$dir/mv`")
    assert(!new java.io.File(s"$dir/mv").exists, "storage removed")
    // rewrite disarmed; the base answers directly and is untouched
    val after = base.read().groupBy("g").agg(count(lit(1)).as("c"))
    assert(!after.inputFiles.exists(_.contains(s"$dir/mv")))
    assert(after.agg(sum(col("c"))).head().getLong(0) === 20L)
    // a non-MV target refuses loudly — DROP must never delete a TABLE
    val e = intercept[Exception](
      sql.run(s"DROP MATERIALIZED VIEW txtable.`$dir/base`"))
    assert(e.getMessage.contains("not a materialized view"))
    assert(base.read().count() === 20L)
    // catalog-named: the entry drops with the view
    spark.sql("DROP TABLE IF EXISTS graft_mv_dropper")
    sql.run("CREATE MATERIALIZED VIEW graft_mv_dropper AS " +
      s"SELECT g, COUNT(*) AS n_rows FROM txtable.`$dir/base` GROUP BY g")
    assert(spark.table("graft_mv_dropper").count() === 2L)
    sql.run("DROP MATERIALIZED VIEW graft_mv_dropper")
    assert(!spark.catalog.tableExists("graft_mv_dropper"))
  }

  test("CREATE MATERIALIZED VIEW refuses what is not maintainable") {
    val dir = Files.createTempDirectory("graft-mv-ref-").toString
    val base = TxTable(spark, s"$dir/base")
    base.append(df(0 until 10))
    def refuse(select: String, needle: String): Unit = {
      val e = intercept[Exception](sql.run(
        s"CREATE MATERIALIZED VIEW txtable.`$dir/mv` AS $select"))
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"got: ${e.getMessage}")
    }
    val from = s"FROM txtable.`$dir/base`"
    // MIN/MAX (bounded recompute under deletes), AVG (backing sum +
    // non-null count), and STDDEV/VARIANCE (backing sum-of-squares,
    // r17) are maintainable — what still refuses: distinct-sensitive
    // aggregates, expressions, wrong alias discipline
    refuse(s"SELECT k, COUNT(*) AS n_rows, STDDEV(v) AS v_sd $from GROUP BY k",
      "v_stddev") // maintainable since r17, but the alias is the contract
    // COUNT(DISTINCT) is maintainable since r17 (pair-count aux
    // table) — but the alias is the contract, the argument must be a
    // single non-grouping column, and OTHER distinct forms still refuse
    refuse(s"SELECT k, COUNT(*) AS n_rows, COUNT(DISTINCT v) AS v_nd " +
      s"$from GROUP BY k", "v_dcnt")
    refuse(s"SELECT k, COUNT(*) AS n_rows, COUNT(DISTINCT k) AS k_dcnt " +
      s"$from GROUP BY k", "constant-per-group")
    refuse(s"SELECT k, COUNT(*) AS n_rows, COUNT(DISTINCT v + 1) AS x " +
      s"$from GROUP BY k", "single base column")
    refuse(s"SELECT k, COUNT(*) AS n_rows, SUM(DISTINCT v) AS v_sum " +
      s"$from GROUP BY k", "not incrementally maintainable")
    refuse(s"SELECT k, COUNT(*) AS n_rows, STDDEV(DISTINCT v) AS v_stddev " +
      s"$from GROUP BY k", "not incrementally maintainable")
    refuse(s"SELECT k, COUNT(*) AS n_rows, VARIANCE(v + 1) AS v_var " +
      s"$from GROUP BY k", "single base column")
    // expression SUMs are maintainable (r17) — but only deterministic
    // ones, resolved against the base at CREATE
    refuse(s"SELECT k, COUNT(*) AS n_rows, SUM(v * rand()) AS jitter " +
      s"$from GROUP BY k", "non-deterministic")
    refuse(s"SELECT k, COUNT(*) AS n_rows, SUM(no_such + 1) AS x " +
      s"$from GROUP BY k", "does not resolve")
    refuse(s"SELECT k, COUNT(*) AS n_rows, MAX(v) AS wrong $from GROUP BY k",
      "v_max")
    refuse(s"SELECT k, COUNT(*) AS n_rows, MIN(v + 1) AS v_min " +
      s"$from GROUP BY k", "single base column")
    refuse(s"SELECT k, COUNT(*) AS n_rows, AVG(v) AS mean $from GROUP BY k",
      "v_avg")
    refuse(s"SELECT k, SUM(v) AS v_sum $from GROUP BY k", "COUNT(*)")
    refuse(s"SELECT k, COUNT(*) AS cnt, SUM(v) AS v_sum $from GROUP BY k",
      "n_rows")
    refuse(s"SELECT k, COUNT(*) AS n_rows, SUM(v) AS total $from GROUP BY k",
      "v_sum")
    refuse(s"SELECT COUNT(*) AS n_rows $from", "GROUP BY")
    refuse(s"SELECT k, v FROM txtable.`$dir/base`", "grouped aggregate")
    // a second CREATE with a DIFFERENT definition refuses; the SAME
    // definition is idempotent (the crash-repair contract: rerunning
    // the statement completes a half-created MV)
    sql.run(s"CREATE MATERIALIZED VIEW txtable.`$dir/mv` AS " +
      s"SELECT k, COUNT(*) AS n_rows $from GROUP BY k")
    refuse(s"SELECT k, COUNT(*) AS n_rows, SUM(v) AS v_sum $from GROUP BY k",
      "different definition")
    sql.run(s"CREATE MATERIALIZED VIEW txtable.`$dir/mv` AS " +
      s"SELECT k, COUNT(*) AS n_rows $from GROUP BY k") // same: no-op
    assert(TxTable(spark, s"$dir/mv").read().count() === 10)
    // REFRESH on a non-MV txtable refuses with direction
    val e = intercept[Exception](sql.run(
      s"REFRESH MATERIALIZED VIEW txtable.`$dir/base`"))
    assert(e.getMessage.contains("not a materialized view"))
  }

  test("catalog-named MATERIALIZED VIEW: CREATE populates, entry reads, REFRESH folds") {
    val dir = Files.createTempDirectory("graft-mv-cat-").toString
    val base = TxTable(spark, s"$dir/base")
    base.append(df(0 until 20).withColumn("g", col("k") % 2))
    // the catalog MV lands at the warehouse default path: clear any
    // residue from a prior run of this very test
    spark.sql("DROP TABLE IF EXISTS graft_mv_cat")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "graft_mv_cat")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    if (wh.exists()) rm(wh)
    try {
      sql.run("CREATE MATERIALIZED VIEW graft_mv_cat AS " +
        "SELECT g, COUNT(*) AS n_rows, SUM(v) AS v_sum " +
        s"FROM txtable.`$dir/base` GROUP BY g")
      assert(spark.table("graft_mv_cat").count() === 2)
      base.append(df(20 until 30).withColumn("g", col("k") % 2))
      assert(sql.run("REFRESH MATERIALIZED VIEW graft_mv_cat").count() === 1)
      // the catalog cache was invalidated by the refresh
      assert(spark.table("graft_mv_cat")
        .agg(sum("n_rows")).head().getLong(0) === 30L)
      // GROUP BY ordinal resolves through the SELECT list
      sql.run(s"CREATE MATERIALIZED VIEW txtable.`$dir/mv2` AS " +
        "SELECT g, COUNT(*) AS n_rows " +
        s"FROM txtable.`$dir/base` GROUP BY 1")
      assert(TxTable(spark, s"$dir/mv2").read().count() === 2)
    } finally spark.sql("DROP TABLE IF EXISTS graft_mv_cat")
  }

  test("bare OPTIMIZE retires deletion vectors its rewrite makes inert") {
    val (t, p) = mkTable()
    t.append(df(0 until 40))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    sql.run(s"OPTIMIZE txtable.`$p`") // full recluster + watermark
    t.append(df(100 until 120))       // fresh window
    t.deleteVectorWhere("k", 105L)    // vector over the FRESH file only
    assert(t.snapshot().dvs.size === 1)
    assert(sql.run(s"OPTIMIZE txtable.`$p`")
      .head().getString(1) === "compact")
    // the rewrite read the vector APPLIED (delete materialized), so
    // the vector must retire with its target — pre-fix, inert dv
    // tokens accumulated in the active set on every bare OPTIMIZE of
    // a DV-bearing CLUSTER BY table, and VACUUM could never reclaim
    // the dv files
    assert(t.snapshot().dvs.isEmpty,
      "an inert deletion vector must leave the active set with its target")
    assert(t.read().count() === 59)
    assert(t.read().where(col("k") === 105L).count() === 0)

    // a vector over a BELOW-WATERMARK (unselected) file must STAY —
    // its deletes there are still live
    t.append(df(200 until 220))
    t.deleteVectorWhere("k", 5L)   // targets a clustered file
    t.deleteVectorWhere("k", 210L) // targets the fresh file
    assert(t.snapshot().dvs.size === 2)
    sql.run(s"OPTIMIZE txtable.`$p`")
    assert(t.snapshot().dvs.size === 1,
      "only the vector whose every target was rewritten retires")
    assert(t.read().count() === 77)
    assert(t.read().where(col("k").isin(5L, 210L)).count() === 0)
    // OPTIMIZE FULL (whole-table rewrite) retires the remainder
    sql.run(s"OPTIMIZE txtable.`$p` FULL")
    assert(t.snapshot().dvs.isEmpty)
    assert(t.read().count() === 77)
    assert(t.read().where(col("k") === 5L).count() === 0)
  }

  test("RENAME COLUMN carries the clusterBy declaration atomically") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 30))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    val vBefore = t.snapshot().version
    t.renameColumn("k", "key")
    // ONE commit: the property swap rode the rename atomically
    assert(t.snapshot().version === vBefore + 1)
    assert(t.property("txtable.clusterBy") === Some("key,v"))
    // bare OPTIMIZE resolves the renamed clustering column fine
    assert(sql.run(s"OPTIMIZE txtable.`$p`")
      .head().getString(1) === "compact")
    t.append(df(50 until 60).withColumnRenamed("k", "key"))
    assert(sql.run(s"OPTIMIZE txtable.`$p`")
      .head().getString(1) === "compact")
    assert(t.read().count() === 40)
    // the engine-level dropColumn refuses a clustering column too —
    // the API is not a bypass around the SQL guard
    val e = intercept[Exception](t.dropColumn("v"))
    assert(e.getMessage.contains("clustering"))
    assert(t.read().columns.contains("v"))
  }

  test("recluster stragglers: smallBytes folds undersized clustered files in") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 50))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    sql.run(s"OPTIMIZE txtable.`$p`") // full recluster, watermark set
    val clustered = t.snapshot().files.toSet
    // without the straggler property, new data reclusters alone
    // (proven above); with it, undersized clustered files fold into
    // the same rewrite — the device that keeps a trickle-ingest
    // clustered table from accreting one small file per OPTIMIZE
    sql.run(s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES " +
      "('txtable.recluster.smallBytes'='1000000000')")
    t.append(df(50 until 60))
    val r = sql.run(s"OPTIMIZE txtable.`$p`")
    assert(r.head().getString(1) === "compact")
    val removed = t.commitLog.last.remove
      .filterNot(TxTable.isMetaToken).map(n => s"$p/$n").toSet
    assert(clustered.subsetOf(removed),
      "undersized clustered stragglers must fold into the rewrite")
    assert(t.read().count() === 60)
    // and with NOTHING new since the watermark, stragglers alone do
    // not trigger a rewrite — OPTIMIZE stays a no-op
    assert(sql.run(s"OPTIMIZE txtable.`$p`").count() === 0)
  }

  test("table_changes TVF and VERSION AS OF resolve over catalog names") {
    import graft.plans.TxSqlParser
    import spark.implicits._
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt))
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-tvf-").toString + "/t"
    try {
      run("CREATE TABLE graft_tx_tvf (k BIGINT, v BIGINT) " +
        s"USING txtable LOCATION '$loc'").collect()
      spark.sql("INSERT INTO graft_tx_tvf VALUES (1, 10), (2, 20)")
      spark.sql("INSERT INTO graft_tx_tvf VALUES (3, 30)")
      val t = TxTable(spark, loc)
      sql.run(s"UPDATE txtable.`$loc` SET v = CAST(99 AS BIGINT) " +
        "WHERE k = 1")
      // time travel over the CATALOG name (v1 relations refuse this
      // through Spark's own analyzer — the parser resolves the path)
      assert(run("SELECT COUNT(*) AS n FROM graft_tx_tvf VERSION AS OF 0")
        .head().getLong(0) === 2L)
      // CDF as a TVF over the catalog name: the inclusive window (1,2)
      // holds the second INSERT and the UPDATE's delete+insert pair
      val feed = run(
        "SELECT _change_type, k, v FROM table_changes('graft_tx_tvf', 1, 2)")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(feed === Set(("insert", 3L, 30L),
        ("insert", 1L, 99L), ("delete", 1L, 10L)))
      // composes inside a bigger query (joins/filters — it is a
      // relation, not a statement)
      assert(run("SELECT COUNT(*) AS n FROM " +
        "table_changes('graft_tx_tvf', 1) WHERE _change_type = 'insert'")
        .head().getLong(0) === 2L)
      // the path form works too
      assert(run(s"SELECT COUNT(*) AS n FROM " +
        s"table_changes('txtable.`$loc`', 0, 0)")
        .head().getLong(0) === 2L)
      // TIMESTAMP bounds ride the reader's own explicit-UTC parser: a
      // window spanning all of history yields the initial snapshot as
      // inserts plus every change (2+1 inserts, then the update's
      // delete+insert pair = 5 rows)
      assert(run("SELECT COUNT(*) AS n FROM table_changes(" +
        "'graft_tx_tvf', '1970-01-01 00:00:00', '2100-01-01 00:00:00')")
        .head().getLong(0) === 5L)
      // a non-tx target falls through untouched: Spark's own
      // unresolved-TVF error fires, never a half-claimed rewrite (so a
      // different provider's table_changes could still resolve it)
      val e = intercept[Exception](run(
        "SELECT * FROM table_changes('not_a_table', 0)").collect())
      assert(e.getMessage.toLowerCase.contains("table_changes"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_tvf")
  }

  test("table property consumption is case-insensitive like SET dedup") {
    val (t, p) = mkTable()
    t.append(df(0 until 3))
    // a case-variant key is accepted by SET (dedup is case-insensitive)
    sql.run(s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES " +
      "('TxTable.LogRetentionVersions' = '3')")
    // … so consumption must find it the same way
    assert(t.property("txtable.logRetentionVersions") === Some("3"))
    assert(t.property("TXTABLE.LOGRETENTIONVERSIONS") === Some("3"))
    assert(t.property("txtable.nope") === None)
    // re-SET under another casing swaps the token (one live key)
    sql.run(s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES " +
      "('txtable.logretentionversions' = '5')")
    assert(t.property("txtable.logRetentionVersions") === Some("5"))
    assert(t.properties.size === 1)
  }

  test("CREATE TABLE IF NOT EXISTS with specs is whole-statement idempotent") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    val loc = java.nio.file.Files
      .createTempDirectory("graft-txsql-ine-").toString + "/t"
    val stmt = "CREATE TABLE IF NOT EXISTS graft_tx_ine " +
      "(uid BIGINT GENERATED ALWAYS AS IDENTITY, name STRING) " +
      s"USING txtable LOCATION '$loc'"
    try {
      org.apache.spark.sql.graft.ColumnShim
        .ofRows(spark, parser.parsePlan(stmt)).collect()
      val t = graft.ops.TxTable(spark, loc)
      val v = t.snapshot().version
      // rerun (the bootstrap-script idiom): NOTHING fires — no
      // 'already declared' error, no extra commit
      org.apache.spark.sql.graft.ColumnShim
        .ofRows(spark, parser.parsePlan(stmt)).collect()
      assert(t.snapshot().version === v)
      assert(t.identityColumns.keySet === Set("uid"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_ine")
  }

  test("COPY INTO loads only unrecorded files; rerun is a no-op") {
    import spark.implicits._
    val (t, p) = mkTable()
    val src = java.nio.file.Files
      .createTempDirectory("graft-cpsrc-").toString + "/in"
    df(0 until 10).repartition(2).write.parquet(src)
    val stmt = s"COPY INTO txtable.`$p` FROM '$src' FILEFORMAT = PARQUET"
    assert(sql.run(stmt).head().getString(1) === "copy")
    assert(t.read().count() === 10)
    // rerun: the ledger already records every file — no commit at all
    val v = t.snapshot().version
    assert(sql.run(stmt).count() === 0)
    assert(t.snapshot().version === v)
    assert(t.read().count() === 10)
    // late-arriving files load, already-recorded ones do not re-load
    df(10 until 15).coalesce(1).write.mode("append").parquet(src)
    sql.run(stmt)
    assert(t.read().count() === 15)
    assert(t.read().select("k").distinct().count() === 15)
    // a drifted producer refuses loudly (same guard as append)
    val src2 = java.nio.file.Files
      .createTempDirectory("graft-cpsrc2-").toString + "/in"
    Seq((1, "x")).toDF("other", "shape").write.parquet(src2)
    intercept[Exception](sql.run(
      s"COPY INTO txtable.`$p` FROM '$src2' FILEFORMAT = PARQUET"))
    // the streaming source consumes copy commits like appends
    val q = spark.readStream.format("txtable").option("path", p)
      .load().writeStream.format("memory").queryName("cpstream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cpstream").count() === 15)
    } finally q.stop()
  }

  test("TBLPROPERTIES: set/unset/show; OPTIMIZE honors log retention") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 10))
    sql.run(s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES " +
      "('owner' = 'ingest-team', 'txtable.logRetentionVersions' = '3')")
    assert(t.properties === Map("owner" -> "ingest-team",
      "txtable.logRetentionVersions" -> "3"))
    // upsert semantics: re-setting a key swaps its token
    sql.run(s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES " +
      "('owner' = 'platform')")
    assert(t.properties("owner") === "platform")
    val shown = sql.run(s"SHOW TBLPROPERTIES txtable.`$p`")
      .as[(String, String)].collect().toMap
    assert(shown === t.properties)
    sql.run(s"ALTER TABLE txtable.`$p` UNSET TBLPROPERTIES ('owner')")
    assert(t.properties.keySet === Set("txtable.logRetentionVersions"))
    // a malformed (unquoted) pair refuses — never silently dropped
    val em = intercept[Exception](sql.run(
      s"ALTER TABLE txtable.`$p` SET TBLPROPERTIES ('a'='1', b='2')"))
    assert(em.getMessage.contains("TBLPROPERTIES"))
    assert(!t.properties.contains("a"))
    // property commits are content-neutral: reads unchanged, CDF and
    // streams silent about them
    assert(t.read().count() === 10)
    // window (0, head] holds only the three property commits
    assert(t.readChanges(0L).count() === 0)
    // OPTIMIZE honors the retention property: with a backdated log
    // and enough commits for a checkpoint, the cut happens
    (0 until 12).foreach(i =>
      t.append(df(100 + i * 10 until 100 + i * 10 + 10)))
    Option(new java.io.File(s"$p/_log").listFiles())
      .getOrElse(Array.empty[java.io.File]).foreach { f =>
        f.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
      }
    sql.run(s"OPTIMIZE txtable.`$p`")
    val e = intercept[Exception](t.readAt(0L))
    assert(e.getMessage.contains("cleaned"))
    assert(t.read().count() === 130)
  }

  test("CLEANUP LOG RETAIN n VERSIONS cuts the log; below-cut travel fails loudly") {
    import spark.implicits._
    val (t, p) = mkTable()
    // 14 commits → a checkpoint exists at v10 (interval 10, v>0 gate)
    (0 until 14).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    assert(t.snapshot().version === 13L)
    // backdate the log so the age guard admits the cut
    Option(new java.io.File(s"$p/_log").listFiles())
      .getOrElse(Array.empty[java.io.File]).foreach { f =>
        f.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
      }
    val deleted = sql.run(s"CLEANUP LOG txtable.`$p` RETAIN 3 VERSIONS")
      .select("deleted_log_file").as[String].collect()
    assert(deleted.nonEmpty)
    // head reads and post-cut time travel still work
    assert(t.read().count() === 140)
    val cut = 10L // newest checkpoint <= head - retain + 1 = 11
    assert(t.readAt(cut).count() === (cut + 1) * 10)
    // below the cut: LOUD failure, never a silently-empty table
    val e = intercept[Exception](t.readAt(cut - 1))
    assert(e.getMessage.contains("cleaned"))
  }

  test("RESTORE TIMESTAMP AS OF parses in UTC, not the host zone") {
    val (t, p) = mkTable()
    t.append(df(0 until 5)) // v0
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(df(5 until 9)) // v1
    val utcStr = java.time.Instant.ofEpochMilli(mid)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .toString.replace('T', ' ')
    // under a non-UTC host default zone, a Timestamp.valueOf parse
    // would read this wall-clock as Tokyo time (mid − 9h) and find no
    // commit at all; the explicit-UTC parse is host-independent
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      sql.run(s"RESTORE TABLE txtable.`$p` TO TIMESTAMP AS OF '$utcStr'")
    } finally java.util.TimeZone.setDefault(prev)
    assert(t.read().count() === 5)
  }

  test("ADD/DROP IDENTITY COLUMN via SQL") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 4))
    sql.run(s"ALTER TABLE txtable.`$p` ADD IDENTITY COLUMN rid " +
      "START WITH 1000 STEP 2")
    t.append(Seq((50L, 500L, "n1"), (51L, 510L, "n2"))
      .toDF("k", "v", "tag"))
    assert(t.read().where(col("rid").isNotNull)
      .select("rid").as[Long].collect().sorted.toSeq ===
      Seq(1000L, 1002L))
    assert(t.identityColumns === Map("rid" -> ((1000L, 2L, 1002L))))
    sql.run(s"ALTER TABLE txtable.`$p` DROP IDENTITY COLUMN rid")
    assert(t.identityColumns.isEmpty)
    // defaults: START WITH 1 STEP 1
    val (u, q) = mkTable()
    sql.run(s"ALTER TABLE txtable.`$q` ADD IDENTITY COLUMN n")
    u.append(Seq((1L, 1L, "a")).toDF("k", "v", "tag"))
    assert(u.read().select("n").as[Long].head() === 1L)
    // SQL INSERT INTO mentions every column — a NULL identity slot
    // means DEFAULT (engine allocates); a real value refuses
    val parser = new graft.plans.TxSqlParser(spark,
      spark.sessionState.sqlParser)
    org.apache.spark.sql.graft.ColumnShim.ofRows(spark, parser.parsePlan(
      s"INSERT INTO txtable.`$q` " +
        "SELECT 2L, 2L, 'b', CAST(NULL AS BIGINT)")).collect()
    assert(u.read().where(col("k") === 2L).select("n")
      .as[Long].head() === 2L)
    val ei = intercept[Exception](
      org.apache.spark.sql.graft.ColumnShim.ofRows(spark,
        parser.parsePlan(s"INSERT INTO txtable.`$q` " +
          "SELECT 3L, 3L, 'c', 999L")).collect())
    assert(ei.getMessage.contains("IDENTITY"))
  }

  test("REPLACE TABLE refuses a non-txtable target (provider guard)") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    try {
      spark.sql("DROP TABLE IF EXISTS graft_tx_othpv")
      spark.sql(
        "CREATE TABLE graft_tx_othpv USING parquet AS SELECT 1L AS k")
      // plain REPLACE over another provider's MANAGED table would
      // silently drop it AND delete its data directory — must refuse,
      // same guard the RTAS path already had
      val e = intercept[Exception](run(
        "REPLACE TABLE graft_tx_othpv (k BIGINT, " +
          "y INT GENERATED ALWAYS AS (CAST(k AS INT))) USING txtable"))
      assert(e.getMessage.contains("not a txtable table"))
      // the target survived untouched
      assert(spark.table("graft_tx_othpv").count() === 1)
      assert(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "graft_tx_othpv")).provider.exists(_.equalsIgnoreCase("parquet")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_othpv")
  }

  test("CTAS IF NOT EXISTS + CLUSTER BY over an existing table is a full no-op") {
    import graft.plans.TxSqlParser
    val parser = new TxSqlParser(spark, spark.sessionState.sqlParser)
    def run(stmt: String) = org.apache.spark.sql.graft.ColumnShim
      .ofRows(spark, parser.parsePlan(stmt)).collect()
    val loc = Files.createTempDirectory("graft-txsql-ineccl-").toString + "/t"
    try {
      run("CREATE TABLE graft_tx_ineccl USING txtable CLUSTER BY (k, v) " +
        s"LOCATION '$loc' AS SELECT id AS k, id * 2 AS v FROM range(4)")
      val t = TxTable(spark, loc)
      assert(t.property("txtable.clusterBy") === Some("k,v"))
      val head = t.snapshot().version
      // IF NOT EXISTS over the existing table: the inner CTAS no-ops —
      // the clusterBy property must not mutate either
      run("CREATE TABLE IF NOT EXISTS graft_tx_ineccl USING txtable " +
        s"CLUSTER BY (v) LOCATION '$loc' AS " +
        "SELECT id AS k, id * 2 AS v FROM range(99)")
      assert(t.property("txtable.clusterBy") === Some("k,v"),
        "a no-op CTAS must not overwrite the declared clustering")
      assert(t.snapshot().version === head)
      assert(spark.table("graft_tx_ineccl").count() === 4)
    } finally spark.sql("DROP TABLE IF EXISTS graft_tx_ineccl")
  }

  test("DROP COLUMN refuses a declared clustering column") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 6))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY (k, v)")
    // dropping a clustering column would wedge every later bare
    // OPTIMIZE on an unresolvable column — refuse at the DDL
    val e = intercept[Exception](
      sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN v"))
    assert(e.getMessage.contains("clustering"))
    assert(t.read().columns.contains("v"))
    // case-variant spelling is the same column
    val e2 = intercept[Exception](
      sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN V"))
    assert(e2.getMessage.contains("clustering"))
    // non-clustering columns still drop; after CLUSTER BY NONE the
    // former clustering column drops too
    sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN tag")
    assert(!t.read().columns.contains("tag"))
    sql.run(s"ALTER TABLE txtable.`$p` CLUSTER BY NONE")
    sql.run(s"ALTER TABLE txtable.`$p` DROP COLUMN v")
    assert(t.read().columns.toSeq === Seq("k"))
  }

  test("backtick-quoted paths with spaces survive the regex routes") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sqlsp-").toString
    val p = s"$base/my table"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.format("txtable")
      .option("path", p).mode("append").save()
    assert(sql.run(s"DESCRIBE HISTORY txtable.`$p`").count() === 1)
    assert(sql.run(s"OPTIMIZE txtable.`$p`").columns.toSeq ===
      Seq("version", "action", "files_added", "files_removed"))
    sql.run(s"ALTER TABLE txtable.`$p` ADD CONSTRAINT pos CHECK (v >= 0)")
    sql.run(s"ALTER TABLE txtable.`$p` DROP CONSTRAINT pos")
    sql.run(s"RESTORE TABLE txtable.`$p` TO VERSION AS OF 0")
    assert(TxTable(spark, p).read().count() === 2)
  }
}
