package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.TxTable

/** Row-level DML over the transactional table: copy-on-write UPDATE
  * ([[graft.ops.TxTable.updateBetween]]) and predicate overwrite
  * ([[graft.ops.TxTable.replaceBetween]], Delta's `replaceWhere`).
  * Both are stats-pruned rewrites — only files whose logged [min,max]
  * range overlaps the predicate are read or rewritten — and both
  * oracle queries check the ROW ALGEBRA (exactly the predicated rows
  * changed, everything else carried bit-identical) against a DuckDB
  * CASE/UNION re-derivation over the raw parquet; `TxTableSpec` pins
  * the protocol side (file identity, CDF net-diffs, DV interaction,
  * CHECK enforcement, the out-of-scope refusal).
  */
object TxDmlQueries {

  /** Seed a throwaway TxTable with `customer` and return it. */
  private def seeded(s: SparkSession, d: String, tag: String,
      df: DataFrame): TxTable = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-").toString
    val t = TxTable(s, s"$dir/t")
    t.append(df)
    t
  }

  // ----------------------------------------------------------------- K22
  /** UPDATE WHERE key range: balances in the range get a flat credit
    * and a segment re-tag; rows outside (and NULL-keyed rows, were
    * there any) are carried unchanged. The oracle's CASE expression is
    * the declarative statement of the same row algebra — hash equality
    * proves the rewrite touched exactly the predicated rows. The BENCH
    * variant seeds once untimed and times the update machinery (prune
    * → rewrite → commit → read), the number that matters before anyone
    * scales the DML path. */
  private def runUpdate(t: TxTable): DataFrame = {
    t.updateBetween("c_custkey", 100L, 500L, Map(
      "c_acctbal" -> round(col("c_acctbal") + 1000.0, 2),
      "c_mktsegment" -> lit("UPDATED")))
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txUpdateWhere = GraftQuery(
    "k22_tx_update_where",
    (s, d) => runUpdate(seeded(s, d, "txupd", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 100 AND 500
                       THEN ROUND(c_acctbal + 1000.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            CASE WHEN c_custkey BETWEEN 100 AND 500
                 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
            FROM customer"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txupd-bench", Tables.customer(s, d))
      () => runUpdate(t)
    }))

  // ----------------------------------------------------------------- K23
  /** REPLACE WHERE key range — the idempotent-backfill shape: orders
    * in the key range are recomputed (rebated price, re-tagged
    * status) and atomically swapped in; every other row, including
    * non-matching rows that share files with matching ones, is
    * carried. Rerunning the same backfill converges (spec-pinned);
    * here the oracle checks the single-run row algebra. */
  private def backfill(t: TxTable): DataFrame =
    t.read().where(col("o_orderkey").between(1000L, 5000L))
      .withColumn("o_totalprice", round(col("o_totalprice") - 10000.0, 2))
      .withColumn("o_orderstatus", lit("R"))

  private def runReplace(t: TxTable): DataFrame = {
    t.replaceBetween(backfill(t), "o_orderkey", 1000L, 5000L)
    t.read().select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  private val txReplaceWhere = GraftQuery(
    "k23_tx_replace_where",
    (s, d) => runReplace(seeded(s, d, "txrepl", Tables.orders(s, d))),
    Some("""SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey BETWEEN 1000 AND 5000
                 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
            ROUND(CASE WHEN o_orderkey BETWEEN 1000 AND 5000
                       THEN ROUND(o_totalprice - 10000.0, 2)
                       ELSE o_totalprice END, 2) AS o_totalprice
            FROM orders"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txrepl-bench", Tables.orders(s, d))
      () => runReplace(t)
    }))

  // ----------------------------------------------------------------- K24
  /** COLUMN MAPPING ([[graft.ops.TxTable.renameColumn]], Delta 'name'
    * mode): the segment column is renamed METADATA-ONLY (no file
    * rewritten — `TxTableSpec` pins file identity), then the table
    * keeps working under the new name across every path the query
    * exercises: an APPEND written with the new logical name (physical
    * name on disk stays the original), a stats-pruned UPDATE keyed on
    * the renamed column's table, and the final read. The oracle is the
    * same pipeline as plain SQL column aliasing — hash equality proves
    * logical↔physical translation is lossless end to end. Benched via
    * the two-stage build: seed + rename + append run once untimed (a
    * rename is an O(1) metadata commit and cannot re-run — the old
    * name is gone); the thunk times the part that scales, the
    * stats-pruned UPDATE + mapped read over the renamed table. */
  private val txRenameColumn = GraftQuery(
    "k24_tx_rename_column",
    (s, d) => {
      val customer = Tables.customer(s, d)
      val t = seeded(s, d, "txren", customer)
      t.renameColumn("c_mktsegment", "segment")
      val keyShift = customer
        .agg(max(col("c_custkey"))).head().getLong(0) + 1L
      val extra = customer.where(col("c_acctbal") < 0)
        .select((col("c_custkey") + keyShift).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          lit("NEWSEG").as("segment"))
      t.append(extra)
      t.updateBetween("c_custkey", 1L, 50L,
        Map("segment" -> lit("VIP")))
      t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("segment"))
    },
    Some("""WITH extra AS (SELECT c_custkey
                     + (SELECT MAX(c_custkey) FROM customer) + 1
                     AS c_custkey, c_name, c_nationkey, c_acctbal,
                     'NEWSEG' AS segment
                   FROM customer WHERE c_acctbal < 0),
            allr AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                      c_mktsegment AS segment FROM customer
                     UNION ALL SELECT * FROM extra)
            SELECT c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal,
                   CASE WHEN c_custkey BETWEEN 1 AND 50
                        THEN 'VIP' ELSE segment END AS segment
            FROM allr"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val customer = Tables.customer(s, d)
      val t = seeded(s, d, "txren-bench", customer)
      t.renameColumn("c_mktsegment", "segment")
      val keyShift = customer
        .agg(max(col("c_custkey"))).head().getLong(0) + 1L
      t.append(customer.where(col("c_acctbal") < 0)
        .select((col("c_custkey") + keyShift).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          lit("NEWSEG").as("segment")))
      () => {
        t.updateBetween("c_custkey", 1L, 50L,
          Map("segment" -> lit("VIP")))
        t.read().select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("segment"))
      }
    }))

  // ----------------------------------------------------------------- K25
  /** The transactional table through Spark's STANDARD batch reader
    * (`spark.read.format("txtable")`, the `USING txtable` SQL face):
    * one update lands, then the relation reads BOTH the head and the
    * `versionAsOf`-0 time-travel view and unions them under a tag —
    * proving the relation surfaces the same snapshots as the
    * programmatic API through the plain reader path (filter pushdown →
    * stats pruning is spec-pinned in `TxBatchRelationSpec` with a
    * corrupt-file skip proof). */
  private val txSqlRead = GraftQuery(
    "k25_tx_sql_read",
    (s, d) => {
      val t = seeded(s, d, "txsql", Tables.customer(s, d))
      t.updateBetween("c_custkey", 100L, 500L,
        Map("c_acctbal" -> round(col("c_acctbal") + 1000.0, 2)))
      val p = t.tableDir
      def rel = s.read.format("txtable").option("path", p)
      val head = rel.load().withColumn("tag", lit("head"))
      val v0 = rel.option("versionAsOf", "0").load()
        .withColumn("tag", lit("v0"))
      head.unionByName(v0)
        .select(col("tag"), col("c_custkey"), col("c_name"),
          col("c_nationkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("c_mktsegment"))
    },
    Some("""SELECT 'head' AS tag, c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 100 AND 500
                       THEN ROUND(c_acctbal + 1000.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            c_mktsegment
            FROM customer
            UNION ALL
            SELECT 'v0' AS tag, c_custkey, c_name, c_nationkey,
            ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
            FROM customer"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txsql-bench", Tables.customer(s, d))
      t.updateBetween("c_custkey", 100L, 500L,
        Map("c_acctbal" -> round(col("c_acctbal") + 1000.0, 2)))
      val p = t.tableDir
      () => {
        def rel = s.read.format("txtable").option("path", p)
        rel.load().withColumn("tag", lit("head"))
          .unionByName(rel.option("versionAsOf", "0").load()
            .withColumn("tag", lit("v0")))
          .select(col("tag"), col("c_custkey"), col("c_name"),
            col("c_nationkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
            col("c_mktsegment"))
      }
    }))

  // ----------------------------------------------------------------- K26
  /** GENERATED COLUMNS ([[graft.ops.TxTable.addGeneratedColumn]],
    * Delta's GENERATED ALWAYS AS): `o_year` is declared derived from
    * the order timestamp after the schema-defining first append; a
    * second key-shifted batch then OMITS the column entirely and the
    * engine computes it at write time. The oracle re-derives `year()`
    * for every row of both batches — a write path that skipped
    * generation (null year) or mis-derived it breaks the hash. The
    * supplied-but-wrong refusal and the generated-partition-key path
    * are `TxTableSpec`-pinned. */
  private val txGeneratedCols = GraftQuery(
    "k26_tx_generated_cols",
    (s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val withYear = orders.withColumn("o_year", year(col("o_orderdate")))
      val t = seeded(s, d, "txgen", withYear)
      t.addGeneratedColumn("o_year", "year(o_orderdate)")
      val keyShift = orders.agg(max(col("o_orderkey")))
        .head().getLong(0) + 1L
      // the second batch carries NO o_year — the table computes it
      t.append(orders.where(col("o_custkey") % 10 === 0)
        .select((col("o_orderkey") + keyShift).as("o_orderkey"),
          col("o_custkey"), col("o_orderdate")))
      t.read().select(col("o_orderkey"), col("o_custkey"),
        col("o_year"))
    },
    Some("""SELECT o_orderkey, o_custkey,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year
            FROM orders
            UNION ALL
            SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders) + 1
                     AS o_orderkey, o_custkey,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year
            FROM orders WHERE o_custkey % 10 = 0"""),
    bench = false,
    // timed region = an OVERWRITE that OMITS the generated column
    // entirely (the engine computes it for every row) + the read-back —
    // the gencol write path at full-table scale, re-runnable because
    // overwrite is idempotent over the frozen source
    benchBuild = Some((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val t = seeded(s, d, "txgen-bench",
        orders.withColumn("o_year", year(col("o_orderdate"))))
      t.addGeneratedColumn("o_year", "year(o_orderdate)")
      val keyShift = orders.agg(max(col("o_orderkey")))
        .head().getLong(0) + 1L
      val unionNoYear = orders.unionByName(
        orders.where(col("o_custkey") % 10 === 0)
          .select((col("o_orderkey") + keyShift).as("o_orderkey"),
            col("o_custkey"), col("o_orderdate")))
      () => {
        t.overwrite(unionNoYear)
        t.read().select(col("o_orderkey"), col("o_custkey"),
          col("o_year"))
      }
    }))

  // ----------------------------------------------------------------- K27
  /** MERGE INTO as SQL TEXT ([[graft.ops.TxSql]]): the full three-
    * clause CDC-apply shape — conditional UPDATE SET *, conditional
    * DELETE, INSERT * — parsed by Spark's own parser and dispatched
    * onto the same stats-pruned `TxTable.merge` machinery as the k16
    * Scala-API query. The source is a temp view (update candidates
    * with adjusted balances, delete candidates by key range, and
    * key-shifted fresh rows); the oracle re-derives all four row
    * fates declaratively. Hash equality proves the SQL-text path —
    * identifier resolution, clause translation, ON-key extraction —
    * is lossless down to the engine. */
  /** Merge source frozen on the IMMUTABLE input table (not the
    * TxTable's evolving content): the bench thunk re-runs the merge,
    * and a source re-derived from the merged table would compound —
    * each run inserting a fresh key-shifted batch. */
  private def mergeSource(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val keyShift = c.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    val upd = c.where(col("c_custkey").between(100L, 500L))
      .withColumn("c_acctbal", round(col("c_acctbal") + 1000.0, 2))
      .withColumn("c_mktsegment", lit("MRG"))
    val del = c.where(col("c_custkey").between(501L, 540L))
    val ins = c.where(col("c_custkey") <= 50L)
      .withColumn("c_custkey", col("c_custkey") + keyShift)
      .withColumn("c_mktsegment", lit("NEW"))
    upd.unionByName(del).unionByName(ins)
  }

  private def runSqlMerge(s: SparkSession, d: String, t: TxTable): DataFrame = {
    mergeSource(s, d).createOrReplaceTempView("graft_k27_src")
    graft.ops.TxSql(s).run(
      s"MERGE INTO txtable.`${t.tableDir}` AS t USING graft_k27_src s " +
        "ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED AND s.c_custkey > 500 THEN DELETE " +
        "WHEN MATCHED AND s.c_custkey <= 500 THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txSqlMerge = GraftQuery(
    "k27_tx_sql_merge",
    (s, d) => runSqlMerge(s, d,
      seeded(s, d, "txsqlmrg", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 100 AND 500
                       THEN ROUND(c_acctbal + 1000.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            CASE WHEN c_custkey BETWEEN 100 AND 500
                 THEN 'MRG' ELSE c_mktsegment END AS c_mktsegment
            FROM customer WHERE c_custkey NOT BETWEEN 501 AND 540
            UNION ALL
            SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1
                     AS c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal,
                   'NEW' AS c_mktsegment
            FROM customer WHERE c_custkey <= 50"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txsqlmrg-bench", Tables.customer(s, d))
      () => runSqlMerge(s, d, t)
    }))

  // ----------------------------------------------------------------- K28
  /** UPDATE as SQL TEXT: a compound WHERE (range conjunct + extra
    * predicate) whose BETWEEN conjunct drives the same stats pruning
    * as the programmatic `updateBetween`, while the full predicate
    * applies exactly — [[graft.ops.TxPredicates]] bounds extraction
    * end to end through the parser. */
  private def runSqlUpdate(s: SparkSession, t: TxTable): DataFrame = {
    graft.ops.TxSql(s).run(
      s"UPDATE txtable.`${t.tableDir}` " +
        "SET c_acctbal = round(c_acctbal + 500.0, 2), " +
        "c_mktsegment = 'SQLUPD' " +
        "WHERE c_custkey BETWEEN 200 AND 800 AND c_nationkey < 13")
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txSqlUpdate = GraftQuery(
    "k28_tx_sql_update",
    (s, d) => runSqlUpdate(s, seeded(s, d, "txsqlupd", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 200 AND 800
                        AND c_nationkey < 13
                       THEN ROUND(c_acctbal + 500.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            CASE WHEN c_custkey BETWEEN 200 AND 800 AND c_nationkey < 13
                 THEN 'SQLUPD' ELSE c_mktsegment END AS c_mktsegment
            FROM customer"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txsqlupd-bench", Tables.customer(s, d))
      () => runSqlUpdate(s, t)
    }))

  // ----------------------------------------------------------------- K29
  /** DELETE as SQL TEXT with a DISJUNCTIVE predicate — the shape the
    * BETWEEN-only programmatic API cannot express: no bounds are
    * extractable (an OR constrains no single column), so every file
    * is a candidate and the exact predicate decides row fates; the
    * oracle keeps exactly the complement. */
  private def runSqlDelete(s: SparkSession, t: TxTable): DataFrame = {
    graft.ops.TxSql(s).run(
      s"DELETE FROM txtable.`${t.tableDir}` " +
        "WHERE c_custkey % 9 = 0 OR c_acctbal < -900.0")
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txSqlDelete = GraftQuery(
    "k29_tx_sql_delete",
    (s, d) => runSqlDelete(s, seeded(s, d, "txsqldel", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
            FROM customer
            WHERE NOT (c_custkey % 9 = 0 OR c_acctbal < -900.0)"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txsqldel-bench", Tables.customer(s, d))
      () => runSqlDelete(s, t)
    }))

  // ----------------------------------------------------------------- K32
  /** CONVERT TO TXTABLE ([[graft.ops.TxTable.convert]], Delta's
    * `CONVERT TO DELTA`): a plain parquet directory written by
    * ordinary Spark is adopted IN PLACE — no byte rewritten, footers
    * mined for stats at the one `convert` commit — and is immediately
    * transactional: the very next operation is a stats-pruned DELETE
    * over the adopted files. The oracle keeps the delete's exact
    * complement; hash equality proves adoption read every original
    * row and the post-convert DML machinery behaves identically to a
    * natively-written table's. */
  private def seedConverted(s: SparkSession, d: String): TxTable = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txconv-").toString + "/t"
    Tables.customer(s, d).write.parquet(dir)
    TxTable.convert(s, dir)
  }

  private def runConvert(t: TxTable): DataFrame = {
    t.deleteBetween("c_custkey", 700L, 900L)
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txConvert = GraftQuery(
    "k32_tx_convert",
    (s, d) => runConvert(seedConverted(s, d)),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
            FROM customer
            WHERE c_custkey NOT BETWEEN 700 AND 900"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seedConverted(s, d)
      () => runConvert(t)
    }))

  // ----------------------------------------------------------------- K31
  /** The FULL SQL MERGE clause surface in one statement: column-level
    * `UPDATE SET c = expr` (unassigned columns keep target values),
    * `INSERT (cols) VALUES (…)`, and `WHEN NOT MATCHED BY SOURCE …
    * DELETE` — the last of which makes every target row a candidate
    * (full-table rewrite, pruning disabled by design). The source is
    * a DIFFERENTLY-SHAPED frame (key + delta), legal because both
    * write clauses are column-level. The oracle derives all four row
    * fates declaratively; hash equality proves assignment targeting,
    * SQL NULL-fill on unassigned insert columns, and the
    * NOT-MATCHED-BY-SOURCE fate split. */
  private def runSqlMergeFull(s: SparkSession, d: String,
      t: TxTable): DataFrame = {
    val c = Tables.customer(s, d)
    val keyShift = c.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    c.where(col("c_custkey").between(100L, 600L))
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") + 50.0, 2).as("delta"))
      .unionByName(c.where(col("c_custkey") <= 30L)
        .select((col("c_custkey") + keyShift).as("k"),
          round(col("c_acctbal") + 50.0, 2).as("delta")))
      .createOrReplaceTempView("graft_k31_src")
    graft.ops.TxSql(s).run(
      s"MERGE INTO txtable.`${t.tableDir}` AS t USING graft_k31_src s " +
        "ON t.c_custkey = s.k " +
        "WHEN MATCHED THEN UPDATE SET " +
        "  c_acctbal = round(s.delta + 10.0, 2), c_mktsegment = 'UP' " +
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal, c_mktsegment) " +
        "  VALUES (s.k, round(s.delta, 2), 'INS') " +
        "WHEN NOT MATCHED BY SOURCE AND t.c_custkey > 1200 THEN DELETE")
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
  }

  private val txSqlMergeFull = GraftQuery(
    "k31_tx_sql_merge_full",
    (s, d) => runSqlMergeFull(s, d,
      seeded(s, d, "txsqlmrgf", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 100 AND 600
                       THEN ROUND(ROUND(c_acctbal + 50.0, 2) + 10.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            CASE WHEN c_custkey BETWEEN 100 AND 600
                 THEN 'UP' ELSE c_mktsegment END AS c_mktsegment
            FROM customer
            WHERE NOT (c_custkey > 1200
                       AND c_custkey NOT BETWEEN 100 AND 600)
            UNION ALL
            SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1
                     AS c_custkey,
                   CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS INTEGER) AS c_nationkey,
                   ROUND(ROUND(ROUND(c_acctbal + 50.0, 2), 2), 2)
                     AS c_acctbal,
                   'INS' AS c_mktsegment
            FROM customer WHERE c_custkey <= 30"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txsqlmrgf-bench", Tables.customer(s, d))
      () => runSqlMergeFull(s, d, t)
    }))

  // ----------------------------------------------------------------- K30
  /** GENERATED-PARTITION PRUNING — Delta's headline use of generated
    * columns: orders land hive-partitioned on `o_year`, declared
    * `GENERATED ALWAYS AS year(o_orderdate)`; the query then bounds
    * ONLY the base date column and the engine derives the partition
    * bound itself ([[graft.ops.TxTable]]'s `derivedBounds` via the
    * monotone-shape recognizer), so untouched years contribute zero
    * I/O — not even a listing. The oracle filters the raw table the
    * declarative way; `TxTableSpec` pins the FILE identity of the
    * pruned set (only the bounded years' partitions survive). */
  private def seedGenPart(s: SparkSession, d: String): TxTable = {
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val t = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-txgpp-").toString
      TxTable(s, s"$dir/t")
    }
    t.appendPartitioned(
      orders.withColumn("o_year", year(col("o_orderdate"))), "o_year")
    t.addGeneratedColumn("o_year", "year(o_orderdate)")
    t
  }

  private def runGenPart(t: TxTable): DataFrame =
    t.readBetween("o_orderdate",
        java.sql.Date.valueOf("1996-03-01"),
        java.sql.Date.valueOf("1997-05-31"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_year"))

  private val txGenPartitionPrune = GraftQuery(
    "k30_tx_generated_partition_prune",
    (s, d) => runGenPart(seedGenPart(s, d)),
    Some("""SELECT o_orderkey, o_custkey, o_orderdate,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year
            FROM orders
            WHERE o_orderdate BETWEEN DATE '1996-03-01'
                                  AND DATE '1997-05-31'"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seedGenPart(s, d)
      () => runGenPart(t)
    }))

  // ----------------------------------------------------------------- K33
  /** MULTI-KEY hive partitioning — the reference's own fact layout
    * shape (etl.py:71-74 partitions the immigration fact by THREE
    * keys, entry_year/entry_month/port_code): orders land under
    * two-level `o_year=/o_month=/` directories in one atomic commit,
    * a copy-on-write DELETE bounded on the BASE date column rewrites
    * only the files whose logged stats overlap (untouched leaves are
    * carried byte-identical — `TxTableSpec` pins file identity and
    * layout preservation through DML), and the final read selects the
    * whole `o_year=1996` SUBTREE from the manifest alone: every month
    * leaf under it, zero listing and zero footer I/O for other years.
    * The oracle re-derives the surviving rows declaratively. */
  private def seedMultiKey(s: SparkSession, d: String): TxTable = {
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txmk-").toString
    val t = TxTable(s, s"$dir/t")
    t.appendPartitioned(orders, Seq("o_year", "o_month"))
    t
  }

  private def runMultiKey(t: TxTable): DataFrame = {
    t.deleteBetween("o_orderdate",
      java.sql.Date.valueOf("1996-01-01"),
      java.sql.Date.valueOf("1996-06-30"))
    t.readPartitions(Seq("o_year" -> 1996))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  private val txMultiKey = GraftQuery(
    "k33_tx_multikey_partition",
    (s, d) => runMultiKey(seedMultiKey(s, d)),
    Some("""SELECT o_orderkey, o_custkey, o_orderdate,
            ROUND(o_totalprice, 2) AS o_totalprice
            FROM orders
            WHERE year(o_orderdate) = 1996
              AND o_orderdate NOT BETWEEN DATE '1996-01-01'
                                      AND DATE '1996-06-30'"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seedMultiKey(s, d)
      () => runMultiKey(t)
    }))

  // ----------------------------------------------------------------- K34
  /** `ALTER TABLE … ADD COLUMNS` (Delta's schema-widening DDL) as SQL
    * text: the customer table gains two columns in one O(1) evolve
    * commit — no data byte rewritten, the new columns' only physical
    * existence is a zero-row carrier footer — then a batch CARRYING
    * the new columns appends, and the final read serves old rows with
    * SQL NULL in the new columns and new rows with their values. The
    * oracle derives the same union declaratively; hash equality
    * proves the widening is lossless for pre-existing data and the
    * null-fill semantics match ANSI. */
  private def widenAndAppend(s: SparkSession, d: String,
      t: TxTable): TxTable = {
    graft.ops.TxSql(s).run(s"ALTER TABLE txtable.`${t.tableDir}` " +
      "ADD COLUMNS (c_flag STRING, c_score DOUBLE)")
    val extra = Tables.customer(s, d)
      .where(col("c_custkey") <= 50L)
      .withColumn("c_custkey", col("c_custkey") + lit(100000L))
      .withColumn("c_flag", lit("NEW"))
      .withColumn("c_score", round(col("c_acctbal") + 1000.0, 2))
    t.append(extra)
    t
  }

  private def readWidened(t: TxTable): DataFrame =
    t.read().select(col("c_custkey"), col("c_name"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_flag"),
      round(col("c_score"), 2).as("c_score"))

  private val txAddColumns = GraftQuery(
    "k34_tx_add_columns",
    (s, d) => readWidened(widenAndAppend(s, d,
      seeded(s, d, "txaddc", Tables.customer(s, d)))),
    Some("""SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
                   CAST(NULL AS VARCHAR) AS c_flag,
                   CAST(NULL AS DOUBLE) AS c_score
            FROM customer
            UNION ALL
            SELECT c_custkey + 100000, c_name, ROUND(c_acctbal, 2),
                   'NEW', ROUND(ROUND(c_acctbal + 1000.0, 2), 2)
            FROM customer WHERE c_custkey <= 50"""),
    bench = false,
    // ADD COLUMNS cannot re-run (duplicate name refusal), so the
    // widen + append are BUILD; the thunk times the merged-footer
    // read path the widening turns on — the cost widening actually
    // adds to every later query
    benchBuild = Some((s, d) => {
      val t = widenAndAppend(s, d,
        seeded(s, d, "txaddc-bench", Tables.customer(s, d)))
      () => readWidened(t)
    }))

  // ----------------------------------------------------------------- K35
  /** `MERGE WITH SCHEMA EVOLUTION` (Delta's auto-widening MERGE): the
    * CDC feed gained a `c_loyalty` column the table lacks; the
    * keyword widens the target FIRST (one O(1) evolve commit — the
    * k34 machinery), then the star-clause merge lands the new
    * column's values for updated and inserted rows while carried
    * rows read SQL NULL. The oracle derives the same three row fates
    * declaratively; hash equality proves the widen+merge composition
    * is exactly a CASE/UNION over the raw table. */
  private def runMergeEvolve(s: SparkSession, d: String,
      t: TxTable): DataFrame = {
    val c = Tables.customer(s, d)
    val keyShift = c.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    val upd = c.where(col("c_custkey").between(200L, 700L))
      .withColumn("c_acctbal", round(col("c_acctbal") + 25.0, 2))
      .withColumn("c_loyalty", lit("GOLD"))
    val ins = c.where(col("c_custkey") <= 40L)
      .withColumn("c_custkey", col("c_custkey") + keyShift)
      .withColumn("c_acctbal", round(col("c_acctbal") + 25.0, 2))
      .withColumn("c_loyalty", lit("NEW"))
    upd.unionByName(ins).createOrReplaceTempView("graft_k35_src")
    graft.ops.TxSql(s).run(
      s"MERGE WITH SCHEMA EVOLUTION INTO txtable.`${t.tableDir}` t " +
        "USING graft_k35_src s ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"),
      col("c_loyalty"))
  }

  private val txMergeEvolve = GraftQuery(
    "k35_tx_merge_evolution",
    (s, d) => runMergeEvolve(s, d,
      seeded(s, d, "txevo", Tables.customer(s, d))),
    Some("""SELECT c_custkey, c_name, c_nationkey,
                   ROUND(CASE WHEN c_custkey BETWEEN 200 AND 700
                              THEN ROUND(c_acctbal + 25.0, 2)
                              ELSE c_acctbal END, 2) AS c_acctbal,
                   c_mktsegment,
                   CASE WHEN c_custkey BETWEEN 200 AND 700
                        THEN 'GOLD'
                        ELSE CAST(NULL AS VARCHAR) END AS c_loyalty
            FROM customer
            UNION ALL
            SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1,
                   c_name, c_nationkey,
                   ROUND(ROUND(c_acctbal + 25.0, 2), 2), c_mktsegment,
                   'NEW'
            FROM customer WHERE c_custkey <= 40"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seeded(s, d, "txevo-bench", Tables.customer(s, d))
      () => runMergeEvolve(s, d, t)
    }))

  // ----------------------------------------------------------------- K36
  /** IDENTITY COLUMNS (Delta's `GENERATED ALWAYS AS IDENTITY`): an
    * empty table declares `row_id` via SQL, then two append batches
    * land WITHOUT the column — the engine allocates `1..n` and
    * advances the token's high-water mark atomically with each
    * commit. Exact per-row values depend on partitioning order, so
    * the oracle checks the ALLOCATION INVARIANTS instead, which pin
    * the semantics completely for step 1: row count, distinct-id
    * count, min, max, and the arithmetic-series sum — together these
    * hold iff the ids are EXACTLY {1..n} with no gap, duplicate, or
    * overflow across the two commits. */
  private def seedIdentity(s: SparkSession, d: String): TxTable = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txid-").toString
    val t = TxTable(s, s"$dir/t")
    graft.ops.TxSql(s).run(
      s"ALTER TABLE txtable.`$dir/t` ADD IDENTITY COLUMN row_id")
    t.append(Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    t.append(Tables.customer(s, d)
      .where(col("c_custkey") <= 100L)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal")))
    t
  }

  private def runIdentity(t: TxTable): DataFrame =
    t.read().agg(
      count(lit(1)).cast("long").as("n_rows"),
      countDistinct(col("row_id")).as("n_ids"),
      min(col("row_id")).as("min_id"),
      max(col("row_id")).as("max_id"),
      sum(col("row_id")).as("sum_ids"))

  private val txIdentity = GraftQuery(
    "k36_tx_identity",
    (s, d) => runIdentity(seedIdentity(s, d)),
    Some("""WITH n AS (SELECT (SELECT COUNT(*) FROM customer) +
                              (SELECT COUNT(*) FROM customer
                               WHERE c_custkey <= 100) AS total)
            SELECT CAST(total AS BIGINT) AS n_rows,
                   CAST(total AS BIGINT) AS n_ids,
                   CAST(1 AS BIGINT) AS min_id,
                   CAST(total AS BIGINT) AS max_id,
                   CAST(total * (total + 1) / 2 AS BIGINT) AS sum_ids
            FROM n"""),
    bench = false,
    benchBuild = Some((s, d) => {
      val t = seedIdentity(s, d)
      () => runIdentity(t)
    }))

  // ----------------------------------------------------------------- K37
  /** NATIVE STREAMING SINK (`writeStream.format("txtable")`,
    * [[graft.sources.tx.DefaultSource.createSink]]): the customer base
    * is streamed INTO the table through the sink in append mode, then
    * a CDC change set (updated balances + key-shifted fresh rows)
    * streams through the sink's Update+mergeKeys mode — the
    * foreachBatch-free upsert path, each micro-batch one atomic commit
    * stamped with the query's (txnAppId, txnVersion) replay marker.
    * The oracle derives the same three row fates declaratively; hash
    * equality proves the whole streamed write path (schema threading,
    * batch re-planting, latest-wins merge) lands exactly the batch
    * semantics. Crash-replay and marker interleaving are spec-pinned
    * (`TxStreamSinkSpec`). */
  private def sinkChanges(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val keyShift = c.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    c.where(col("c_custkey").between(100L, 500L))
      .withColumn("c_acctbal", round(col("c_acctbal") + 1000.0, 2))
      .withColumn("c_mktsegment", lit("STRM"))
      .unionByName(c.where(col("c_custkey") <= 50L)
        .withColumn("c_custkey", col("c_custkey") + keyShift)
        .withColumn("c_mktsegment", lit("NEWS")))
  }

  private def streamInto(s: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, tableDir: String,
      mergeKeys: Option[String]): Unit = {
    val ck = java.nio.file.Files
      .createTempDirectory("graft-txsink-ck-").toString
    val base = s.readStream.schema(schema).parquet(inDir)
      .writeStream.format("txtable")
      .option("path", tableDir).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = mergeKeys match {
      case Some(k) =>
        // seqCol is REQUIRED in update mode; this change set is
        // unique per key, so any column is a valid ordering
        base.option("mergeKeys", k).option("seqCol", k)
          .outputMode("update").start()
      case None => base.start()
    }
    q.awaitTermination()
  }

  private def seedSink(s: SparkSession, d: String): TxTable = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-txsink-").toString
    val customer = Tables.customer(s, d)
    customer.write.parquet(s"$root/in_base")
    sinkChanges(s, d).write.parquet(s"$root/in_changes")
    streamInto(s, s"$root/in_base", customer.schema, s"$root/t", None)
    streamInto(s, s"$root/in_changes", customer.schema, s"$root/t",
      Some("c_custkey"))
    TxTable(s, s"$root/t")
  }

  private def readSink(t: TxTable): DataFrame =
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))

  private val txStreamSink = GraftQuery(
    "k37_tx_stream_sink",
    (s, d) => readSink(seedSink(s, d)),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(CASE WHEN c_custkey BETWEEN 100 AND 500
                       THEN ROUND(c_acctbal + 1000.0, 2)
                       ELSE c_acctbal END, 2) AS c_acctbal,
            CASE WHEN c_custkey BETWEEN 100 AND 500
                 THEN 'STRM' ELSE c_mktsegment END AS c_mktsegment
            FROM customer
            UNION ALL
            SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1
                     AS c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal,
                   'NEWS' AS c_mktsegment
            FROM customer WHERE c_custkey <= 50"""),
    bench = false,
    // timed region = the CDC change set streamed through the sink's
    // Update+mergeKeys path (a fresh checkpoint per run so the
    // replay marker never skips the work; re-upserting the same
    // change set is content-idempotent) + the read-back
    benchBuild = Some((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-txsink-bench-").toString
      val customer = Tables.customer(s, d)
      customer.write.parquet(s"$root/in_base")
      sinkChanges(s, d).write.parquet(s"$root/in_changes")
      streamInto(s, s"$root/in_base", customer.schema, s"$root/t", None)
      val t = TxTable(s, s"$root/t")
      () => {
        streamInto(s, s"$root/in_changes", customer.schema, s"$root/t",
          Some("c_custkey"))
        readSink(t)
      }
    }))

  // ----------------------------------------------------------------- K39
  /** COPY INTO ([[graft.ops.TxTable.copyInto]], Delta's idempotent
    * scheduled-ingest statement): the customer extract lands in a drop
    * directory and is COPY'd in; a second extract (key-shifted subset)
    * arrives LATER in the same directory and a second COPY loads ONLY
    * the new files — the first batch's files are in the table's `cp-`
    * ledger and re-loading them would duplicate every row. The oracle
    * is the plain union of the two extracts, so hash equality IS the
    * idempotence proof: one spurious re-load and the row multiset
    * diverges. */
  private def seedCopy(s: SparkSession, d: String): TxTable = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-txcopy-").toString
    val src = s"$root/in"
    val customer = Tables.customer(s, d)
    customer.write.parquet(src)
    val t = TxTable(s, s"$root/t")
    val stmt = s"COPY INTO txtable.`$root/t` FROM '$src' " +
      "FILEFORMAT = PARQUET"
    graft.ops.TxSql(s).run(stmt)
    // the late extract arrives in the SAME drop directory
    val keyShift = customer.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    customer.where(col("c_custkey") <= 60L)
      .withColumn("c_custkey", col("c_custkey") + keyShift)
      .withColumn("c_mktsegment", lit("LATE"))
      .write.mode("append").parquet(src)
    graft.ops.TxSql(s).run(stmt)
    t
  }

  private def readCopied(t: TxTable): DataFrame =
    t.read().select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))

  private val txCopyInto = GraftQuery(
    "k39_tx_copy_into",
    (s, d) => readCopied(seedCopy(s, d)),
    Some("""SELECT c_custkey, c_name, c_nationkey,
            ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
            FROM customer
            UNION ALL
            SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1
                     AS c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal,
                   'LATE' AS c_mktsegment
            FROM customer WHERE c_custkey <= 60"""),
    bench = false,
    // timed region = BOTH COPY passes into a fresh table per run (the
    // second probing a ledger that already holds the base files) + the
    // read-back; the extracts are pre-written once, so every run does
    // the same real ingest work and reads back the build's exact rows
    benchBuild = Some((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-txcopy-bench-").toString
      val customer = Tables.customer(s, d)
      customer.write.parquet(s"$root/in_base")
      val keyShift =
        customer.agg(max(col("c_custkey"))).head().getLong(0) + 1L
      customer.where(col("c_custkey") <= 60L)
        .withColumn("c_custkey", col("c_custkey") + keyShift)
        .withColumn("c_mktsegment", lit("LATE"))
        .write.parquet(s"$root/in_late")
      var run = 0L
      () => {
        run += 1L
        val tbl = s"$root/t$run"
        graft.ops.TxSql(s).run(s"COPY INTO txtable.`$tbl` " +
          s"FROM '$root/in_base' FILEFORMAT = PARQUET")
        graft.ops.TxSql(s).run(s"COPY INTO txtable.`$tbl` " +
          s"FROM '$root/in_late' FILEFORMAT = PARQUET")
        readCopied(TxTable(s, tbl))
      }
    }))

  // ------------------------------------------------------------- SCD2
  /** Slowly-Changing-Dimension Type 2 batch apply
    * ([[graft.ops.Scd2]]): the customer dimension is initialized as
    * version-1 SCD2 state, then one batch lands carrying (a) CHANGED
    * rows — spend-adjusted balances for active buyers, (b) NEW keys —
    * shifted past the live key range, and (c) UNCHANGED rows —
    * no-order customers resubmitted verbatim, which must NOT open a
    * new version. The oracle re-derives all four row fates (carried /
    * closed / opened / new-chain) declaratively; hash equality proves
    * the version chains, validity stamps, and current flags all landed
    * on exactly the right rows. */
  private val scd2Apply = GraftQuery(
    "x_scd2_apply",
    (s, d) => {
      val customer = Tables.customer(s, d)
      val agg = Tables.orders(s, d).groupBy("o_custkey")
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("n"))
      val changed = customer
        .join(broadcast(agg), col("c_custkey") === col("o_custkey"))
        .where(col("n") > 3)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("total") - 800000.0, 2).as("c_acctbal"),
          lit("SCD").as("c_mktsegment"))
      val keyShift = customer
        .agg(max(col("c_custkey"))).head().getLong(0) + 1L
      val fresh = customer
        .join(broadcast(agg), col("c_custkey") === col("o_custkey"))
        .where(col("n") <= 2)
        .select((col("c_custkey") + keyShift).as("c_custkey"),
          col("c_name"), col("c_nationkey"),
          round(col("total") - 800000.0, 2).as("c_acctbal"),
          lit("SCD").as("c_mktsegment"))
      val unchanged = customer.join(Tables.orders(s, d),
        col("c_custkey") === col("o_custkey"), "left_anti")
      val updates = changed.unionByName(fresh).unionByName(unchanged)
      val state = graft.ops.Scd2.init(customer, version = 1L)
      // pinned for Scd2's two reads; the pin lives as long as the
      // returned plan
      graft.ops.Scd2(state, graft.ops.Checkpoints.pin(updates),
          Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"), version = 2L)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"),
          col("_valid_from"), col("_valid_to"),
          col("_current").cast("int").as("_current"))
    },
    Some("""WITH agg AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total,
                   COUNT(*) AS n FROM orders GROUP BY o_custkey),
            chg AS (SELECT c_custkey, c_name, c_nationkey,
                     ROUND(total - 800000.0, 2) AS c_acctbal,
                     'SCD' AS c_mktsegment
                    FROM customer JOIN agg ON c_custkey = o_custkey
                    WHERE n > 3),
            ins AS (SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer)
                      + 1 AS c_custkey, c_name, c_nationkey,
                     ROUND(total - 800000.0, 2) AS c_acctbal,
                     'SCD' AS c_mktsegment
                    FROM customer JOIN agg ON c_custkey = o_custkey
                    WHERE n <= 2),
            unch AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                      c_mktsegment FROM customer
                     WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)),
            src AS (SELECT * FROM chg UNION ALL SELECT * FROM ins
                    UNION ALL SELECT * FROM unch),
            diff AS (SELECT t.c_custkey FROM customer t
                     JOIN src s ON t.c_custkey = s.c_custkey
                     WHERE t.c_acctbal IS DISTINCT FROM s.c_acctbal
                        OR t.c_mktsegment IS DISTINCT FROM s.c_mktsegment)
            -- carried: open rows not hit by a differing update
            SELECT c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment,
                   CAST(1 AS BIGINT) AS _valid_from,
                   CAST(NULL AS BIGINT) AS _valid_to,
                   1 AS _current
            FROM customer WHERE c_custkey NOT IN (SELECT * FROM diff)
            UNION ALL
            -- closed: the differing keys' old rows, sealed at v2
            SELECT c_custkey, c_name, c_nationkey,
                   ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment,
                   CAST(1 AS BIGINT) AS _valid_from,
                   CAST(2 AS BIGINT) AS _valid_to, 0 AS _current
            FROM customer WHERE c_custkey IN (SELECT * FROM diff)
            UNION ALL
            -- opened: differing keys' new version + brand-new chains
            SELECT s.c_custkey, s.c_name, s.c_nationkey,
                   ROUND(s.c_acctbal, 2) AS c_acctbal, s.c_mktsegment,
                   CAST(2 AS BIGINT) AS _valid_from,
                   CAST(NULL AS BIGINT) AS _valid_to,
                   1 AS _current
            FROM src s
            WHERE s.c_custkey IN (SELECT * FROM diff)
               OR s.c_custkey NOT IN (SELECT c_custkey FROM customer)"""))

  // ----------------------------------------------------------------- K40
  /** Optimistic-concurrency REBASE under a racing writer
    * ([[graft.ops.TxTable]]'s lost-CAS rebase): mid-DELETE, a second
    * handle appends a stats-disjoint batch through the commit-time
    * seam, so the delete LOSES its commit race. The engine proves the
    * winner commutes (its files' logged stats cannot match the delete
    * predicate) and re-commits the already-staged rewrite at the new
    * head — the `require` fails the query loudly if it re-derived
    * instead. The oracle replays the serial semantics relationally:
    * base rows outside the deleted range UNION ALL the winner's batch.
    * Scale shape: the loser pays O(race-window log entries) driver
    * work instead of re-running a full rewrite per lost race — the
    * property that lets bulk DML land under a steady streaming-append
    * writer. */
  private val txConcurrentRebase = GraftQuery(
    "k40_tx_concurrent_rebase",
    (s, d) => {
      val customer = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val t = seeded(s, d, "txreb", customer)
      val w = TxTable(s, t.location)
      val late = customer.where(col("c_custkey") <= 50L)
        .withColumn("c_custkey", col("c_custkey") + lit(10000000L))
      var fired = false
      t.beforeDmlCommitHook = () => {
        if (!fired) { fired = true; w.append(late) }
      }
      try t.deleteBetween("c_custkey", 100L, 200L)
      finally t.beforeDmlCommitHook = () => ()
      require(fired, "the race seam never fired")
      require(t.lastRewriteStagings == 1,
        "expected the lost race to REBASE the staged rewrite " +
          s"(stats-disjoint winner); it re-derived " +
          s"${t.lastRewriteStagings} times")
      t.read().groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_custkey")).as("key_sum"))
    },
    Some("""WITH final AS (
              SELECT c_custkey, c_mktsegment FROM customer
              WHERE c_custkey NOT BETWEEN 100 AND 200
              UNION ALL
              SELECT c_custkey + 10000000, c_mktsegment FROM customer
              WHERE c_custkey <= 50)
            SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c_custkey) AS BIGINT) AS key_sum
            FROM final GROUP BY 1"""),
    bench = false,
    // timed region = one delete that loses its race to a concurrent
    // append and rebases, plus the read-back — the contention cost a
    // deployment pays when bulk DML runs under a live ingest writer;
    // ranges and batches advance per run so every rewrite is real
    benchBuild = Some((s, d) => {
      val customer = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val t = seeded(s, d, "txreb-bench", customer)
      val w = TxTable(s, t.location)
      var run = 0L
      () => {
        run += 1L
        // run 1 IS the canonical query (delete [100,200], one shifted
        // batch) so the timed plan equals the verified one; later runs
        // advance both so every rewrite and append is fresh work
        val late = customer.where(col("c_custkey") <= 50L)
          .withColumn("c_custkey",
            col("c_custkey") + lit(10000000L * run))
        var fired = false
        t.beforeDmlCommitHook = () => {
          if (!fired) { fired = true; w.append(late) }
        }
        try t.deleteBetween("c_custkey",
          100L + (run - 1L) * 300L, 200L + (run - 1L) * 300L)
        finally t.beforeDmlCommitHook = () => ()
        t.read().groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum(col("c_custkey")).as("key_sum"))
      }
    }))

  // ----------------------------------------------------------------- K41
  /** CROSS-PROCESS lost-race rebase: k40's contention shape, but the
    * winning append lands from a REAL second JVM
    * ([[graft.tools.MpWorker]] spawned on this JVM's classpath), so the
    * commit race is arbitrated by [[graft.ops.LogStore.HardLink]]'s
    * create-if-absent syscall across process boundaries — the
    * deployment shape the ACID claim is about, with nothing shared but
    * the filesystem. Mid-DELETE, the child process appends 50
    * stats-disjoint rows and steals the staged version; the loser must
    * prove non-interference from the winner's logged stats and
    * re-commit its staged rewrite at the new head (the `require` fails
    * the query loudly if it re-derived). The oracle replays the serial
    * semantics: base rows outside the deleted range UNION ALL the
    * child's deterministic batch. Untimed (`bench=false`): the JVM
    * spawn is test scaffolding, not engine cost — k40's benchBuild
    * already times the rebase machinery itself. */
  private val txCrossProcessRebase = GraftQuery(
    "k41_tx_crossproc_rebase",
    (s, d) => {
      val customer = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        col("c_nationkey").cast("int").as("c_nationkey"))
      val t = seeded(s, d, "txmp", customer)
      var fired = false
      t.beforeDmlCommitHook = () => {
        if (!fired) {
          fired = true
          val p = graft.tools.MpWorker.spawn(Seq("append",
            t.location, "9000000", "9000049", "0", "1"))
          require(p.waitFor(180,
            java.util.concurrent.TimeUnit.SECONDS) &&
            p.exitValue() == 0,
            s"cross-process appender failed (exit ${p.exitValue()})")
        }
      }
      try t.deleteBetween("c_custkey", 100L, 199L)
      finally t.beforeDmlCommitHook = () => ()
      require(fired, "the race seam never fired")
      require(t.lastRewriteStagings == 1,
        "expected the cross-process lost race to REBASE the staged " +
          s"rewrite; it re-derived ${t.lastRewriteStagings} times")
      t.read()
    },
    Some("""SELECT c_custkey, c_name, CAST(c_nationkey AS INT) AS c_nationkey
            FROM customer WHERE c_custkey NOT BETWEEN 100 AND 199
            UNION ALL
            SELECT 9000000 + i AS c_custkey,
                   'w-' || CAST(9000000 + i AS VARCHAR) AS c_name,
                   CAST((9000000 + i) % 5 AS INT) AS c_nationkey
            FROM range(50) t(i)"""),
    bench = false)

  def queries: Seq[GraftQuery] =
    Seq(txUpdateWhere, txReplaceWhere, txRenameColumn, txSqlRead,
      txGeneratedCols, txSqlMerge, txSqlUpdate, txSqlDelete,
      txSqlMergeFull, txGenPartitionPrune, txConvert, txMultiKey,
      txAddColumns, txMergeEvolve, txIdentity, txStreamSink, txCopyInto,
      txConcurrentRebase, txCrossProcessRebase, scd2Apply)
}
