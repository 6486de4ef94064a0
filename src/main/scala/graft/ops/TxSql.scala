package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnShim

/** SQL-TEXT face for the transactional table — the statements a
  * Delta user types, dispatched onto the existing [[TxTable]] engine
  * paths (the reference drives everything through `spark.sql`,
  * `etl.py:284-324`; a Delta-shaped table whose DML is Scala-API-only
  * is API-complete but not user-complete):
  *
  * {{{
  * val sql = TxSql(spark)
  * sql.run("MERGE INTO txtable.`/data/t` AS t USING updates s " +
  *         "ON t.k = s.k " +
  *         "WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET * " +
  *         "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
  *         "WHEN NOT MATCHED THEN INSERT *")
  * sql.run("UPDATE tbl SET bal = bal + 10 WHERE k BETWEEN 5 AND 9")
  * sql.run("DELETE FROM tbl WHERE k % 7 = 0")
  * sql.run("DESCRIBE HISTORY tbl")           // DESCRIBE DETAIL too
  * sql.run("OPTIMIZE tbl")
  * sql.run("OPTIMIZE tbl ZORDER BY (k, ts)")
  * sql.run("VACUUM tbl RETAIN 3 VERSIONS")   // or RETAIN 168 HOURS
  * sql.run("RESTORE TABLE tbl TO VERSION AS OF 3")
  * sql.run("RESTORE TABLE tbl TO TIMESTAMP AS OF '2026-01-01 00:00:00'")
  * sql.run("ALTER TABLE tbl ADD CONSTRAINT pos CHECK (bal >= 0)")
  * sql.run("ALTER TABLE tbl DROP CONSTRAINT pos")
  * sql.run("ALTER TABLE tbl ADD COLUMNS (score DOUBLE, note STRING)")
  * sql.run("ALTER TABLE tbl RENAME COLUMN bal TO balance")
  * sql.run("ALTER TABLE tbl DROP COLUMN note")
  * sql.run("ALTER TABLE tbl ADD GENERATED COLUMN y AS (year(d))")
  * sql.run("ALTER TABLE tbl ADD IDENTITY COLUMN id START WITH 1 STEP 1")
  * }}}
  *
  * Statements are parsed by SPARK'S OWN PARSER (`parsePlan` yields
  * `MergeIntoTable` / `UpdateTable` / `DeleteFromTable` — full ANSI
  * grammar, quoting, expression syntax for free), then the parsed
  * pieces are translated onto `TxTable.merge` / `updateCore` /
  * `deleteCore`, so SQL text and the programmatic API run the SAME
  * commit machinery: stats-pruned rewrites, CHECK + generated-column
  * enforcement, optimistic retries. `DESCRIBE HISTORY` / `OPTIMIZE` /
  * `VACUUM … RETAIN n VERSIONS` are Delta grammar, not Spark's — a
  * regex layer routes them before the parser. Anything else falls
  * through to `spark.sql`, so this is a strict superset entry point.
  *
  * Table references resolve two ways, both Delta's shapes:
  * `txtable.`&#96;/path&#96;`` addresses a table by location;
  * a bare identifier looks up a catalog table created with
  * `CREATE TABLE t USING txtable LOCATION …` (the k25 face).
  *
  * DML statements return a ONE-ROW summary frame (commit version,
  * action, file counts) — the table itself is read back through any
  * of the read faces. Supported MERGE clauses mirror the engine's
  * full surface: `UPDATE SET *` or column-level `UPDATE SET c = …`
  * (unassigned columns keep the target value), `DELETE`, `INSERT *`
  * or `INSERT (cols) VALUES (…)` (unassigned columns null-fill at
  * the table's types), and `WHEN NOT MATCHED BY SOURCE … UPDATE /
  * DELETE` (t.*-only, full-table candidates) — each kind at most
  * once, with arbitrary AND-ed conditions; SQL clause ORDER is
  * honored (a row matching an earlier DELETE clause is deleted even
  * if a later UPDATE clause also matches — expressed by conjoining
  * the negation, since the engine's fixed order evaluates UPDATE
  * first).
  *
  * Scale shape: zero new data-path code — every statement lands on
  * the same pruned rewrites the Scala API uses; the face itself is
  * driver-side parsing, O(statement length).
  */
final class TxSql(spark: SparkSession) {
  import TxSql._

  def run(sql: String): DataFrame = {
    val s = sql.trim.stripSuffix(";").trim
    s match {
      case DescribeHistoryRe(ident) => resolve(ident).history()
      case DescribeDetailRe(ident)  => resolve(ident).fileDetails()
      case ZOrderWhereRe(ident, where, colList) => mutating(ident) { t =>
        // OPTIMIZE t WHERE part = v ZORDER BY (a, b) — incremental
        // clustering: recluster ONLY the matching leaves
        t.compactZOrderedWhere(zorderCols(colList),
            partitionEqualities(where)) match {
          case Some(c) => summary(c)
          case None    => summary0()
        }
      }
      case ZOrderRe(ident, colList) => mutating(ident) { t =>
        summary(t.compactZOrdered(zorderCols(colList)))
      }
      case OptimizeFullRe(ident) => mutating(ident) { t =>
        // OPTIMIZE t FULL — force the full recluster a bare OPTIMIZE
        // no longer does (Delta's form for re-sorting after changing
        // the clustering columns); stamps the watermark like any
        // recluster, so the next bare OPTIMIZE is incremental again
        val declared = TxSql.declaredClusterCols(t)
        require(declared.nonEmpty,
          s"OPTIMIZE FULL applies to CLUSTER BY tables only — " +
            s"$ident declares no clustering (use ALTER TABLE … " +
            "CLUSTER BY first, or bare OPTIMIZE to bin-pack)")
        val res =
          if (t.snapshot().files.isEmpty) None
          else t.compactZOrderedIncremental(TxSql.zdims(declared),
            force = true)
        // FULL is maintenance like the bare form: property-driven log
        // retention fires here too
        tpRetention(t)
        res match {
          case Some(c) => summary(c)
          case None    => summary0()
        }
      }
      case OptimizeRe(ident, where) => mutating(ident) { t =>
        // OPTIMIZE t [WHERE part = v [AND …]] — Delta's
        // partition-scoped maintenance: only matching leaves repack
        val filter: Seq[(String, Any)] =
          if (where == null) Nil else partitionEqualities(where)
        // DECLARED clustering (CREATE/ALTER … CLUSTER BY — Delta's
        // liquid-clustering entry point): a bare OPTIMIZE reclusters
        // INCREMENTALLY on the declared columns — only files added
        // since the last recluster rewrite (plus undersized
        // stragglers when `txtable.recluster.smallBytes` is set),
        // never the whole table; an explicit ZORDER BY statement
        // (matched above) still forces a full re-sort, and a WHERE
        // still scopes to its leaves. One declared column rides the
        // documented duplicate-dimension idiom (a plain
        // range-clustered sort).
        val declared = TxSql.declaredClusterCols(t)
        val res =
          if (declared.nonEmpty && t.snapshot().files.nonEmpty) {
            val dims = TxSql.zdims(declared)
            if (filter.nonEmpty) t.compactZOrderedWhere(dims, filter)
            else t.compactZOrderedIncremental(dims,
              smallBytes = t.property("txtable.recluster.smallBytes")
                .flatMap(v => scala.util.Try(v.toLong).toOption)
                .getOrElse(0L))
          } else if (declared.nonEmpty) None // dataless: clean no-op
          else t.compactBinPack(partitionFilter = filter)
        // retention properties honored at OPTIMIZE time (Delta drives
        // log retention from table properties the same way): a set
        // `txtable.logRetentionVersions` cuts the log through
        // [[TxTable.cleanupLog]] — age guard intact, so young entries
        // are never touched
        tpRetention(t)
        res match {
          case Some(c) => summary(c)
          case None    => summary0()
        }
      }
      case UnsetTblPropsRe(ident, keys) => mutating(ident) { t =>
        val re = "'([^']*)'".r
        val ks = re.findAllMatchIn(keys).map(_.group(1)).toSeq
        // a malformed entry must refuse, never silently vanish: after
        // removing every well-formed key, only separators may remain
        require(ks.nonEmpty &&
          re.replaceAllIn(keys, "").matches("[\\s,]*"),
          s"UNSET TBLPROPERTIES needs quoted keys ('k', …); got: $keys")
        summary(t.unsetProperties(ks))
      }
      case SetTblPropsRe(ident, pairs) => mutating(ident) { t =>
        val re = "'([^']*)'\\s*=\\s*'([^']*)'".r
        val kvs = re.findAllMatchIn(pairs)
          .map(m => m.group(1) -> m.group(2)).toMap
        // same strictness: an unquoted pair (b=2) silently dropping
        // would mean e.g. a mistyped retention setting never engaging
        require(kvs.nonEmpty &&
          re.replaceAllIn(pairs, "").matches("[\\s,]*"),
          s"SET TBLPROPERTIES needs 'key'='value' pairs; got: $pairs")
        summary(t.setProperties(kvs))
      }
      case ShowTblPropsRe(ident) =>
        val sq = spark; import sq.implicits._
        resolve(ident).properties.toSeq.sortBy(_._1)
          .toDF("key", "value")
      case VacuumRe(ident, n, unit, dry) => mutating(ident) { t =>
        val sq = spark; import sq.implicits._
        // DRY RUN (Delta's grammar): the identical walk and guards,
        // returning the would-be list while deleting nothing
        val dryRun = dry != null
        // RETAIN omitted → Delta's default retention, 168 hours
        val names =
          if (n != null && unit.equalsIgnoreCase("VERSIONS")) {
            val head = t.snapshot().version
            t.vacuum(math.max(0L, head - (n.toLong - 1)),
              dryRun = dryRun)
          } else {
            // RETAIN n HOURS (Delta's grammar): the horizon is the
            // newest version at or before now−n hours; if the whole
            // log is younger, horizon 0 keeps every snapshot and the
            // age guard protects the rest
            val ageMs =
              (if (n != null) n.toLong else 168L) * 3600L * 1000L
            val cutoff = System.currentTimeMillis() - ageMs
            val horizon =
              try t.versionAsOf(cutoff) catch { case NonFatal(_) => 0L }
            t.vacuum(horizon, minAgeMs = ageMs, dryRun = dryRun)
          }
        names.toDF("reclaimed_file")
      }
      // CLEANUP LOG t RETAIN n VERSIONS — the SQL face of
      // [[TxTable.cleanupLog]] (Delta drives the same retention via
      // the logRetentionDuration table property): cut the log at the
      // newest checkpoint that keeps >= n versions resolvable, with
      // surviving stats consolidated and the age guard intact. Time
      // travel below the cut fails loudly from then on.
      case CleanupLogRe(ident, n) => mutating(ident) { t =>
        val sq = spark; import sq.implicits._
        t.cleanupLog(n.toLong).toDF("deleted_log_file")
      }
      case RestoreRe(ident, v) =>
        mutating(ident)(t => summary(t.restore(v.toLong)))
      case RestoreTsRe(ident, ts) => mutating(ident) { t =>
        // explicit-UTC parse (the session zone): Timestamp.valueOf
        // reads the JVM DEFAULT zone, which on a non-UTC host would
        // shift the restore target by the zone offset
        summary(t.restore(t.versionAsOf(TxTable.parseTsUtc(ts))))
      }
      case AddConstraintRe(ident, name, expr) =>
        mutating(ident)(t => summary(t.addConstraint(name, expr.trim)))
      case DropConstraintRe(ident, name) =>
        mutating(ident)(t => summary(t.dropConstraint(name)))
      case AddGeneratedRe(ident, name, expr) =>
        mutating(ident)(t => summary(
          t.addGeneratedColumn(unquote(name), expr.trim)))
      case DropGeneratedRe(ident, name) =>
        mutating(ident)(t => summary(t.dropGeneratedColumn(unquote(name))))
      case AddIdentityRe(ident, name, start, step) =>
        mutating(ident)(t => summary(t.addIdentityColumn(unquote(name),
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L))))
      case DropIdentityRe(ident, name) =>
        mutating(ident)(t => summary(t.dropIdentityColumn(unquote(name))))
      case AlterClusterByNoneRe(ident) =>
        mutating(ident)(t =>
          summary(t.unsetProperties(Seq("txtable.clusterBy"))))
      case AlterClusterByRe(ident, colList) => mutating(ident) { t =>
        val cols = colList.split(",").map(c => unquote(c.trim))
          .filter(_.nonEmpty).toSeq
        require(cols.nonEmpty,
          s"CLUSTER BY needs at least one column; got: $colList")
        summary(t.setProperties(
          Map("txtable.clusterBy" -> cols.mkString(","))))
      }
      // column DEFAULTs (Delta's default values): ADD COLUMN … DEFAULT
      // binds an exists+current default in one evolve commit; ALTER
      // COLUMN … SET/DROP DEFAULT touches only the current (write-side)
      // default of an existing column
      case AddColumnDefaultRe(ident, cname, ctype, dflt) =>
        mutating(ident)(t => summary(t.addColumnWithDefault(
          unquote(cname),
          org.apache.spark.sql.types.DataType.fromDDL(ctype.trim),
          dflt.trim)))
      case SetDefaultRe(ident, cname, dflt) =>
        mutating(ident)(t =>
          summary(t.setColumnDefault(unquote(cname), dflt.trim)))
      case DropDefaultRe(ident, cname) =>
        mutating(ident)(t => summary(t.dropColumnDefault(unquote(cname))))
      case AddColumnsRe(ident, ddl) =>
        mutating(ident)(t => summary(t.addColumns(
          org.apache.spark.sql.types.StructType.fromDDL(ddl.trim))))
      case RenameColumnRe(ident, from, to) =>
        mutating(ident)(t => summary(
          t.renameColumn(unquote(from), unquote(to))))
      case DropColumnRe(ident, name) =>
        mutating(ident) { t =>
          // a declared clustering column can't be dropped (Delta
          // blocks this too): bare OPTIMIZE would fail resolving it
          // on every later run — refuse here, at the DDL
          val col = unquote(name)
          val clusterCols = TxSql.declaredClusterCols(t)
          require(!clusterCols.exists(_.equalsIgnoreCase(col)),
            s"cannot drop column $col: it is a declared clustering " +
              s"column (CLUSTER BY ${clusterCols.mkString(", ")}); " +
              "run ALTER TABLE … CLUSTER BY NONE (or re-declare " +
              "without it) first")
          summary(t.dropColumn(col))
        }
      // COPY INTO t FROM 'dir' FILEFORMAT = PARQUET [PATTERN = '*.pq']
      // — Delta's idempotent scheduled-ingest statement; a rerun loads
      // only files the table's cp- ledger does not yet record
      case CopyIntoRe(ident, src, fmt, pattern) => mutating(ident) { t =>
        t.copyInto(src, fmt.toLowerCase,
          Option(pattern).getOrElse("*")) match {
          case Some(c) => summary(c)
          case None    => summary0()
        }
      }
      // both targets are freshly-created 1-commit tables, so head ==
      // first — resolved through the bounded path, never a full-log
      // parse (the last commitLog consumer on a user-triggered path)
      // CREATE MATERIALIZED VIEW mv AS SELECT g…, COUNT(*) AS n_rows
      // [, SUM(c) AS c_sum…] FROM base GROUP BY g… — the SQL face of
      // [[MaterializedView]] (Delta Live Tables / Snowflake shape):
      // the definition persists as table properties ON the MV's own
      // TxTable, the initial population is the first refresh commit,
      // and REFRESH MATERIALIZED VIEW folds only the base's CDF
      // window since the last refresh. Maintainable aggregates:
      // COUNT(*), SUM, AVG, STDDEV, and VARIANCE (signed-foldable
      // homomorphisms — AVG maintains a backing sum + non-null count,
      // the moments add a sum-of-squares, and the derived values
      // materialize at refresh) plus MIN/MAX (insert-window fold;
      // delete-bearing windows recompute only the touched groups from
      // the base — bounded, never a full rescan) and COUNT(DISTINCT c)
      // (exact, deletes included, via a hidden per-column aux table of
      // signed (group, value) pair counts). Anything else (SUM/AVG
      // DISTINCT above all) refuses loudly at CREATE time.
      case CreateMvRe(ident, select) => runCreateMv(ident, select)
      case RefreshMvRe(ident) => mutating(ident) { t =>
        val commit =
          if (t.property("txtable.mv.join.left").isDefined)
            openJoinMv(t).refresh()
          else {
            val mv = openMv(t)
            // a refresh (from ANY session) re-arms the transparent
            // rewrite (single-table views only — join views are
            // read directly)
            graft.plans.MvRegistry.register(spark, t.tableDir)
            mv.refresh()
          }
        commit match {
          case Some(c) => summary(c)
          case None    => summary0()
        }
      }
      case DropMvRe(ident) => runDropMv(ident)
      case ConvertRe(path) =>
        val t = TxTable.convert(spark, unquote(path.trim))
        summary(t.headCommit)
      case CloneRe(dst, src, version) =>
        val v = Option(version).map(_.toLong).getOrElse(Long.MaxValue)
        val c = resolve(src).cloneTo(unquote(dst.trim), v)
        summary(c.headCommit)
      case _ =>
        // DML detection goes through the NON-INJECTED catalyst parser:
        // under [[graft.plans.TxSqlParser]] injection the session's
        // parser routes txtable DML back to a TxSqlStatement command
        // whose execution calls run() again — parsing with the raw
        // grammar here is what terminates that loop. Statements the
        // raw parser rejects (SET, ADD JAR, …) fall through to
        // spark.sql like any non-DML text.
        val parsed =
          try Some(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parsePlan(s))
          catch { case _: Exception => None }
        parsed match {
          case Some(d: DeleteFromTable) => runDelete(d)
          case Some(u: UpdateTable)     => runUpdate(u)
          case Some(m: MergeIntoTable)  => runMerge(m)
          case _                        => spark.sql(sql)
        }
    }
  }

  private def unquote(ident: String): String =
    ident.stripPrefix("`").stripSuffix("`")

  /** Run `body` on the resolved table, then — for CATALOG-named
    * targets — invalidate Spark's cached relation: `FindDataSourceTable`
    * caches the batch relation (whose head read is pinned at relation
    * creation), so without this a `spark.table("t")` after SQL DML
    * would keep serving the pre-DML version until a manual
    * `refreshTable`. Path-addressed `txtable.`&#96;p&#96; targets skip
    * it — every read builds a fresh relation and is already live. */
  private def mutating(ident: String)(body: TxTable => DataFrame)
      : DataFrame = {
    val parts =
      spark.sessionState.sqlParser.parseMultipartIdentifier(ident.trim)
    val r = body(resolveParts(parts))
    refreshCatalog(parts)
    r
  }

  private[graft] def refreshCatalog(parts: Seq[String]): Unit = parts match {
    case Seq(p, _) if p.equalsIgnoreCase("txtable") => ()
    case Seq(t0) =>
      try spark.sessionState.catalog.refreshTable(TableIdentifier(t0))
      catch { case NonFatal(_) => () }
    case Seq(db, t0) =>
      try spark.sessionState.catalog
        .refreshTable(TableIdentifier(t0, Some(db)))
      catch { case NonFatal(_) => () }
    case Seq(cat, db, t0) if cat.equalsIgnoreCase("spark_catalog") =>
      try spark.sessionState.catalog
        .refreshTable(TableIdentifier(t0, Some(db)))
      catch { case NonFatal(_) => () }
    case _ => ()
  }

  // ------------------------------------------------------------ DELETE
  private def runDelete(d: DeleteFromTable): DataFrame = {
    val (t, names, parts) = target(d.table)
    val cond = unqualify(
      Option(d.condition).getOrElse(Literal(true)), names)
    val r = summary(t.deleteCore(
      TxPredicates.bounds(cond), ColumnShim.column(cond)))
    refreshCatalog(parts)
    r
  }

  // ------------------------------------------------------------ UPDATE
  private def runUpdate(u: UpdateTable): DataFrame = {
    val (t, names, parts) = target(u.table)
    val cond = unqualify(
      u.condition.getOrElse(Literal(true)), names)
    val set: Map[String, Column] = u.assignments.map { a =>
      val key = a.key match {
        case attr: UnresolvedAttribute => attr.nameParts.last
        case other => sys.error(
          s"UPDATE assignment key must be a column, got: ${other.sql}")
      }
      key -> ColumnShim.column(unqualify(a.value, names))
    }.toMap
    val r = summary(t.updateCore(
      TxPredicates.bounds(cond), ColumnShim.column(cond), set))
    refreshCatalog(parts)
    r
  }

  // ------------------------------------------------------------- MERGE
  private def runMerge(m: MergeIntoTable): DataFrame = {
    val (t, tnames, tparts) = target(m.targetTable)
    val (srcDf, snames) = source(m.sourceTable)
    // column inventories for the NOT MATCHED BY SOURCE guard: a BARE
    // name that exists only in the source is as meaningless there as a
    // qualified one (resolves across the join, reads NULL) — both
    // schemas are known at translation time, so refuse it too
    lazy val tcols = t.read().columns.map(_.toLowerCase).toSet
    lazy val scols = srcDf.columns.map(_.toLowerCase).toSet

    // ON: every conjunct must be a target-column = source-column
    // equality (both sides alias-qualified; names may differ —
    // `ON t.id = s.customer_id` pairs positionally). Arbitrary ON
    // expressions would need a different physical strategy; refuse
    // loudly.
    val keyPairs: Seq[(String, String)] =
      conjuncts(m.mergeCondition).map { e =>
        def side(x: Expression): Option[(Boolean, String)] = x match {
          case a: UnresolvedAttribute if a.nameParts.size >= 2 =>
            val q = a.nameParts.dropRight(1).last.toLowerCase
            if (tnames.contains(q)) Some((true, a.nameParts.last))
            else if (snames.contains(q)) Some((false, a.nameParts.last))
            else None
          case _ => None
        }
        e match {
          case EqualTo(l, r) =>
            (side(l), side(r)) match {
              case (Some((true, a)), Some((false, b))) => (a, b)
              case (Some((false, a)), Some((true, b))) => (b, a)
              case _ => sys.error(
                s"MERGE ON condition must be AND-ed equalities of the " +
                  s"form target.col = source.col (both sides " +
                  s"alias-qualified); got: ${e.sql}")
            }
          case other => sys.error(
            s"MERGE ON condition must be AND-ed equalities; got: " +
              other.sql)
        }
      }

    // MERGE … WITH SCHEMA EVOLUTION (Delta's auto-widening): source
    // columns the target lacks widen the table IN THE MERGE'S OWN
    // COMMIT (`TxTable.merge(widenBy = …)` stages the zero-row carrier
    // with the rewrite, one atomic `merge-evolve` entry), so
    // `UPDATE SET *` / `INSERT *` land the new columns' values and a
    // merge that FAILS any check leaves the schema untouched — Delta's
    // one-commit contract, spec-pinned ("failed evolving merge leaves
    // the schema unchanged"). Source key columns paired to
    // differently-named target keys are join plumbing, not payload —
    // excluded. Without the keyword, an extra source column under star
    // clauses still refuses (the engine's schema guard), Delta's own
    // contract.
    val widenBy: org.apache.spark.sql.types.StructType =
      if (!m.withSchemaEvolution)
        new org.apache.spark.sql.types.StructType()
      else {
        val pairedAway = keyPairs.collect {
          case (tk, sk) if !tk.equalsIgnoreCase(sk) => sk.toLowerCase
        }.toSet
        org.apache.spark.sql.types.StructType(
          srcDf.schema.fields.filterNot(f =>
            tcols.contains(f.name.toLowerCase) ||
              pairedAway.contains(f.name.toLowerCase)))
      }

    def clause(c: Option[Expression]): Column =
      c.map(x => ColumnShim.column(remap(x, tnames, snames)))
        .getOrElse(lit(true))
    def assigns(as: Seq[Assignment]): Map[String, Column] =
      as.map { a =>
        val key = a.key match {
          case attr: UnresolvedAttribute => attr.nameParts.last
          case other => sys.error(
            s"MERGE assignment key must be a column, got: ${other.sql}")
        }
        key -> ColumnShim.column(remap(a.value, tnames, snames))
      }.toMap
    // NOT MATCHED BY SOURCE clauses act on rows with NO source match:
    // a source reference there could only read nulls — refuse loudly
    // like Delta does instead of silently null-driving the clause
    def noSourceRefs(e: Expression, what: String): Expression = {
      val r = remap(e, tnames, snames)
      val srcRef = r.collectFirst {
        case a: UnresolvedAttribute
            if a.nameParts.headOption.contains("s") &&
              a.nameParts.size >= 2 => a
        case a: UnresolvedAttribute
            if a.nameParts.size == 1 &&
              !tcols.contains(a.nameParts.head.toLowerCase) &&
              scols.contains(a.nameParts.head.toLowerCase) => a
      }
      require(srcRef.isEmpty,
        s"WHEN NOT MATCHED BY SOURCE $what references the source " +
          s"(${srcRef.map(_.sql).getOrElse("")}): such rows have no " +
          "source match — only t.* is meaningful")
      r
    }

    // WHEN MATCHED: at most one UPDATE (star or column-level SET) and
    // one DELETE. SQL evaluates clauses in ORDER; the engine evaluates
    // UPDATE before DELETE, so a DELETE clause appearing FIRST must
    // shadow the update — conjoin its negation.
    var upd: Option[Column] = None
    var updSet: Option[Map[String, Column]] = None
    var del: Option[Column] = None
    var delBeforeUpd = false
    m.matchedActions.foreach {
      case UpdateStarAction(c) =>
        require(upd.isEmpty, "at most one WHEN MATCHED … UPDATE clause")
        upd = Some(clause(c))
        if (del.isDefined) delBeforeUpd = true
      case UpdateAction(c, as, _) =>
        require(upd.isEmpty, "at most one WHEN MATCHED … UPDATE clause")
        upd = Some(clause(c))
        updSet = Some(assigns(as))
        if (del.isDefined) delBeforeUpd = true
      case DeleteAction(c) =>
        require(del.isEmpty, "at most one WHEN MATCHED … DELETE clause")
        del = Some(clause(c))
      case other => sys.error(s"unsupported WHEN MATCHED action: $other")
    }
    val updAdjusted = (upd, del) match {
      case (Some(u), Some(d)) if delBeforeUpd =>
        Some(u && !org.apache.spark.sql.functions.coalesce(d, lit(false)))
      case _ => upd
    }
    var ins: Option[Column] = None
    var insVals: Option[Map[String, Column]] = None
    m.notMatchedActions.foreach {
      case InsertStarAction(c) =>
        require(ins.isEmpty, "at most one WHEN NOT MATCHED clause")
        ins = Some(clause(c))
      case InsertAction(c, as) =>
        require(ins.isEmpty, "at most one WHEN NOT MATCHED clause")
        ins = Some(clause(c))
        insVals = Some(assigns(as))
      case other => sys.error(s"unsupported WHEN NOT MATCHED action: $other")
    }
    // WHEN NOT MATCHED BY SOURCE: one UPDATE (column-level only — a
    // star has no source row to take) and one DELETE, SQL order
    // honored like the matched pair
    var nmsUpd: Option[(Column, Map[String, Column])] = None
    var nmsDel: Option[Column] = None
    var nmsDelFirst = false
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(c, as, _) =>
        require(nmsUpd.isEmpty,
          "at most one WHEN NOT MATCHED BY SOURCE … UPDATE clause")
        val cond = c.map(noSourceRefs(_, "condition")).getOrElse(Literal(true))
        val sets = as.map { a =>
          val key = a.key match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => sys.error(
              s"MERGE assignment key must be a column, got: ${other.sql}")
          }
          key -> ColumnShim.column(noSourceRefs(a.value, "assignment"))
        }.toMap
        nmsUpd = Some((ColumnShim.column(cond), sets))
        if (nmsDel.isDefined) nmsDelFirst = true
      case DeleteAction(c) =>
        require(nmsDel.isEmpty,
          "at most one WHEN NOT MATCHED BY SOURCE … DELETE clause")
        nmsDel = Some(ColumnShim.column(
          c.map(noSourceRefs(_, "condition")).getOrElse(Literal(true))))
      case other =>
        sys.error(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    val nmsUpdAdjusted = (nmsUpd, nmsDel) match {
      case (Some((u, sets)), Some(d)) if nmsDelFirst =>
        Some((u && !org.apache.spark.sql.functions.coalesce(d, lit(false)),
          sets))
      case _ => nmsUpd
    }
    val r = summary(t.merge(srcDf, keyPairs.map(_._1), updAdjusted, del,
      ins, updateSet = updSet, insertValues = insVals,
      whenNotMatchedBySourceUpdate = nmsUpdAdjusted,
      whenNotMatchedBySourceDelete = nmsDel,
      sourceKeys = keyPairs.map(_._2), widenBy = widenBy))
    refreshCatalog(tparts)
    r
  }

  // ---------------------------------------------- materialized views
  /** `CREATE MATERIALIZED VIEW mv AS SELECT …` (see [[run]]): parse
    * the definition with Spark's parser, validate maintainability,
    * persist the definition as table properties on the MV's own
    * TxTable, populate (the first refresh commit), and — for a
    * catalog-named MV — create the catalog entry. */
  private def runCreateMv(ident: String, select: String): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.types.IntegerType
    val plan = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parsePlan(select.trim)
    val agg = plan match {
      case a: Aggregate => a
      case _ => sys.error(
        "CREATE MATERIALIZED VIEW requires AS SELECT … FROM <base> " +
          "GROUP BY … — a grouped aggregate over one table or over " +
          "one INNER equi-join of two tables (unions and deeper join " +
          "trees are not incrementally maintainable here)")
    }
    agg.child match {
      case join: Join => return runCreateJoinMv(ident, agg, join)
      case _          => ()
    }
    def rel(p: LogicalPlan): Seq[String] = p match {
      case SubqueryAlias(_, child) => rel(child)
      case r: UnresolvedRelation   => r.multipartIdentifier
      case other => sys.error(
        "materialized view base must be a plain table reference, " +
          s"got: ${other.nodeName}")
    }
    val baseParts = rel(agg.child)
    def byOrdinal(i: Int): String = {
      require(i >= 1 && i <= agg.aggregateExpressions.size,
        s"GROUP BY ordinal $i out of range")
      agg.aggregateExpressions(i - 1) match {
        case a: UnresolvedAttribute => a.nameParts.last
        case other => sys.error(
          s"GROUP BY ordinal $i names a non-column item: ${other.sql}")
      }
    }
    val groupCols: Seq[String] = agg.groupingExpressions.map {
      case a: UnresolvedAttribute => a.nameParts.last
      case org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal(i) =>
        byOrdinal(i)
      case Literal(i: Int, IntegerType) => byOrdinal(i)
      case other => sys.error(
        "materialized view GROUP BY supports plain columns; got: " +
          other.sql)
    }
    require(groupCols.nonEmpty,
      "materialized view needs at least one GROUP BY column")
    val groupSet = groupCols.map(_.toLowerCase).toSet
    def isCountStar(f: UnresolvedFunction): Boolean =
      f.arguments.isEmpty || (f.arguments match {
        case Seq(_: UnresolvedStar) => true
        case Seq(Literal(v, _))     => v != null
        case _                      => false
      })
    var sawCount = false
    val sums = Seq.newBuilder[String]
    val mins = Seq.newBuilder[String]
    val maxs = Seq.newBuilder[String]
    val avgs = Seq.newBuilder[String]
    val stds = Seq.newBuilder[String]
    val vars = Seq.newBuilder[String]
    val dcnts = Seq.newBuilder[String]
    val exprSums = Seq.newBuilder[(String, String)]
    val notMaintainable = "not incrementally maintainable: %s — " +
      "maintained aggregates are COUNT(*) AS n_rows, SUM(col) AS " +
      "col_sum, MIN(col) AS col_min, MAX(col) AS col_max, AVG(col) " +
      "AS col_avg, STDDEV(col) AS col_stddev, VARIANCE(col) AS " +
      "col_var, and COUNT(DISTINCT col) AS col_dcnt " +
      "(AVG/STDDEV/VARIANCE maintain backing sum, " +
      "sum-of-squares, and non-null count — sample semantics; MIN/MAX " +
      "under a delete-bearing window recompute only the touched " +
      "groups from the base; COUNT DISTINCT maintains a hidden aux " +
      "table of signed (group, value) pair counts — exact, deletes " +
      "included). Other DISTINCT aggregates (SUM/AVG DISTINCT) are " +
      "genuinely non-foldable and always refuse"
    def oneCol(f: UnresolvedFunction, al: Alias, suffix: String,
        into: scala.collection.mutable.Builder[String, Seq[String]])
        : Unit = f.arguments match {
      case Seq(a: UnresolvedAttribute) =>
        val c = a.nameParts.last
        require(al.name.equalsIgnoreCase(c + suffix),
          s"${f.nameParts.last.toUpperCase}($c) must alias $c$suffix " +
            s"(the maintained column name); got: ${al.name}")
        into += c
        ()
      case _ => sys.error(s"${f.nameParts.last.toUpperCase} over a " +
        "single base column only; got: " + al.child.sql)
    }
    agg.aggregateExpressions.foreach {
      case a: UnresolvedAttribute =>
        require(groupSet.contains(a.nameParts.last.toLowerCase),
          s"SELECT item ${a.nameParts.last} is neither a GROUP BY " +
            "column nor an aggregate")
      case al: Alias => al.child match {
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("count") &&
              !f.isDistinct && isCountStar(f) =>
          require(al.name.equalsIgnoreCase(MaterializedView.NRows),
            s"COUNT(*) must alias ${MaterializedView.NRows} (the " +
              s"maintained row-count column); got: ${al.name}")
          sawCount = true
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("count") &&
              f.isDistinct =>
          f.arguments match {
            case Seq(a: UnresolvedAttribute) =>
              val c = a.nameParts.last
              require(!groupSet.contains(c.toLowerCase),
                s"COUNT(DISTINCT $c) over grouping column $c is " +
                  "constant-per-group — not a maintainable view column")
              oneCol(f, al, "_dcnt", dcnts)
            case _ => sys.error(
              "COUNT(DISTINCT) over a single base column only; got: " +
                al.child.sql)
          }
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("sum") &&
              !f.isDistinct =>
          f.arguments match {
            case Seq(_: UnresolvedAttribute) => oneCol(f, al, "_sum", sums)
            case Seq(e) =>
              // SUM over a scalar EXPRESSION (SUM(a*b), SUM(CASE …)):
              // the expression evaluates per CDF row before the signed
              // fold, so it maintains exactly like a plain SUM. Alias
              // is the stored column name; determinism is validated
              // against the resolved base below (a rand()-bearing
              // expression would silently drift under deletes).
              require(!al.name.equalsIgnoreCase(MaterializedView.NRows),
                s"SUM expression alias must not shadow ${MaterializedView.NRows}")
              exprSums += ((al.name, e.sql))
              ()
            case _ => sys.error(
              "SUM takes exactly one argument; got: " + al.child.sql)
          }
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("min") &&
              !f.isDistinct =>
          oneCol(f, al, "_min", mins)
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("max") &&
              !f.isDistinct =>
          oneCol(f, al, "_max", maxs)
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("avg") &&
              !f.isDistinct =>
          oneCol(f, al, "_avg", avgs)
        case f: UnresolvedFunction
            if (f.nameParts.last.equalsIgnoreCase("stddev") ||
              f.nameParts.last.equalsIgnoreCase("stddev_samp")) &&
              !f.isDistinct =>
          oneCol(f, al, "_stddev", stds)
        case f: UnresolvedFunction
            if (f.nameParts.last.equalsIgnoreCase("variance") ||
              f.nameParts.last.equalsIgnoreCase("var_samp")) &&
              !f.isDistinct =>
          oneCol(f, al, "_var", vars)
        case other => sys.error(notMaintainable.format(other.sql))
      }
      case other => sys.error(notMaintainable.format(other.sql))
    }
    require(sawCount,
      s"the SELECT must include COUNT(*) AS ${MaterializedView.NRows} " +
        "— the maintained row count is what empties groups under deletes")
    val base = resolveParts(baseParts)
    // expression SUMs: resolve each against the base NOW (CREATE is the
    // loud place — an unresolvable column or a non-deterministic
    // expression must refuse here, not at the first refresh) and refuse
    // non-determinism: the state folds the expression per CDF row, so a
    // rand()-class expression would evaluate DIFFERENTLY on a delete
    // row than it did on the insert it retracts — silent drift.
    val exprSumList = exprSums.result()
    exprSumList.foreach { case (alias, sql) =>
      val analyzed =
        try base.read().selectExpr(sql)
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.analyzed
        catch { case scala.util.control.NonFatal(e) => sys.error(
          s"SUM expression for $alias does not resolve against the " +
            s"base table: ${e.getMessage}") }
      require(analyzed.expressions.forall(_.deterministic),
        s"SUM expression for $alias is non-deterministic ($sql) — " +
          "not incrementally maintainable: a delete's retraction would " +
          "re-evaluate it to a different value than the insert it undoes")
    }
    val (mvParts, mvDir, catalogName) = resolveMvIdent(ident)
    def quoted = quotedParts(mvParts)
    val mvT = TxTable(spark, mvDir)
    // CREATE is IDEMPOTENT over its own definition: the statement is
    // three steps (definition properties, populate, catalog entry) and
    // a crash between any two must be repairable by RERUNNING it — a
    // location holding exactly this definition resumes (the refresh
    // below no-ops when already current, the catalog entry re-lands);
    // any OTHER content at the location refuses loudly.
    val definition = Map(
      "txtable.mv.base" -> base.tableDir,
      "txtable.mv.groupBy" -> groupCols.mkString(","),
      "txtable.mv.sums" -> sums.result().mkString(","),
      "txtable.mv.mins" -> mins.result().mkString(","),
      "txtable.mv.maxs" -> maxs.result().mkString(","),
      "txtable.mv.avgs" -> avgs.result().mkString(","),
      "txtable.mv.stds" -> stds.result().mkString(","),
      "txtable.mv.vars" -> vars.result().mkString(","),
      "txtable.mv.dcnts" -> dcnts.result().mkString(","),
      // alias U+0001 exprSql, entries joined by U+0002 — the tp- token
      // is base64 either way, and SQL text cannot contain control chars
      "txtable.mv.exprSums" -> exprSumList
        .map { case (n, e) => n + "\u0001" + e }.mkString("\u0002"))
    materializeMvAt(mvT, mvDir, catalogName, mvParts, quoted,
      definition) { dir =>
      val commit = MaterializedView(spark, base, dir,
        groupCols, sums.result(), mins.result(), maxs.result(),
        avgs.result(), stds.result(), vars.result(), exprSumList,
        dcnts.result()).refresh()
      // arm the transparent rewrite: matching aggregates over the base
      // now route onto this view while it is fresh (plans.MvRewrite)
      graft.plans.MvRegistry.register(spark, dir)
      commit
    }
  }

  private def quotedParts(parts: Seq[String]): String =
    parts.map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** Resolve a CREATE MATERIALIZED VIEW identifier to its storage
    * location: a `txtable.`path`` form is path-addressed; anything
    * else is a catalog name landing at the warehouse default path
    * (and must not already exist). */
  private def resolveMvIdent(ident: String)
      : (Seq[String], String, Boolean) = {
    val mvParts = spark.sessionState.sqlParser
      .parseMultipartIdentifier(ident.trim)
    def quoted = quotedParts(mvParts)
    mvParts match {
      case Seq(p, path) if p.equalsIgnoreCase("txtable") =>
        (mvParts, path, false)
      case _ =>
        val id = mvParts match {
          case Seq(t0)     => TableIdentifier(t0)
          case Seq(db, t0) => TableIdentifier(t0, Some(db))
          case Seq(cat, db, t0) if cat.equalsIgnoreCase("spark_catalog") =>
            TableIdentifier(t0, Some(db))
          case _ => sys.error(s"cannot resolve ${mvParts.mkString(".")}")
        }
        require(!(try spark.sessionState.catalog.tableExists(id)
          catch { case _: Exception => false }),
          s"CREATE MATERIALIZED VIEW: $quoted already exists")
        (mvParts,
          spark.sessionState.catalog.defaultTablePath(id).getPath, true)
    }
  }

  /** Shared CREATE tail for both MV shapes (single-table and join):
    * persist — or idempotently re-verify — the definition properties
    * at the location, run the populating refresh, land the catalog
    * entry when named. */
  private def materializeMvAt(mvT: TxTable, mvDir: String,
      catalogName: Boolean, mvParts: Seq[String], quoted: => String,
      definition: Map[String, String])(
      populate: String => Option[TxTable.Commit]): DataFrame = {
    val existing = mvT.snapshot().version >= 0
    if (existing) {
      val have = mvT.properties
      // an empty-valued key absent from an older view's properties is
      // the same definition (dcnts joined the map after vars did)
      require(definition.forall { case (k, v) =>
        have.get(k).contains(v) || (v.isEmpty && !have.contains(k)) },
        s"materialized view location $mvDir already holds a table " +
          "with a different definition (or not a materialized view)")
    } else
      // the definition IS table metadata: refreshes (this session or
      // any later one) rebuild the view object from these properties
      mvT.setProperties(definition)
    val commit = populate(mvDir)
    if (catalogName) {
      spark.sql(s"CREATE TABLE $quoted USING txtable " +
        s"OPTIONS (path '$mvDir')")
      refreshCatalog(mvParts)
    }
    commit.map(summary).getOrElse(summary0())
  }

  /** `CREATE MATERIALIZED VIEW mv AS SELECT … FROM a JOIN b ON …
    * GROUP BY …` — the star-schema rollup face of
    * [[MaterializedJoinView]]: an INNER equi-join of two TxTables
    * under COUNT(*)/SUM aggregates, maintained EXACTLY through the
    * delta-join identity (ΔA⋈B₀ + A₁⋈ΔB). MIN/MAX/AVG/DISTINCT over
    * a join refuse loudly (extrema would need a bounded recompute
    * over the JOIN — a different machine); group and summed columns
    * are plain names each resolving to exactly one side. */
  private def runCreateJoinMv(ident: String, agg: Aggregate,
      join: Join): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.Alias
    require(join.joinType == org.apache.spark.sql.catalyst.plans.Inner,
      "materialized join view supports INNER JOIN only; got: " +
        join.joinType.sql)
    val cond = join.condition.getOrElse(sys.error(
      "materialized join view needs an ON equi-join condition"))
    def relAlias(p: LogicalPlan): (Seq[String], Option[String]) =
      p match {
        case SubqueryAlias(id, child) =>
          (relAlias(child)._1, Some(id.name.toLowerCase))
        case r: UnresolvedRelation => (r.multipartIdentifier, None)
        case other => sys.error(
          "materialized join view sides must be plain table " +
            s"references, got: ${other.nodeName}")
      }
    val (lParts, lAlias) = relAlias(join.left)
    val (rParts, rAlias) = relAlias(join.right)
    val lt = resolveParts(lParts)
    val rt = resolveParts(rParts)
    val lSchema = lt.read().columns.map(_.toLowerCase).toSet
    val rSchema = rt.read().columns.map(_.toLowerCase).toSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(x, y) => conjuncts(x) ++ conjuncts(y)
      case other     => Seq(other)
    }
    // a join-key reference lands on its side by alias/table qualifier
    // first, schema containment second — ambiguity refuses loudly
    def side(a0: UnresolvedAttribute): Either[String, String] = {
      val c = a0.nameParts.last
      a0.nameParts.init.lastOption.map(_.toLowerCase) match {
        case Some(q)
            if lAlias.contains(q) || lParts.last.toLowerCase == q =>
          Left(c)
        case Some(q)
            if rAlias.contains(q) || rParts.last.toLowerCase == q =>
          Right(c)
        case Some(q) =>
          sys.error(s"join key qualifier $q matches neither side")
        case None =>
          val (inL, inR) =
            (lSchema.contains(c.toLowerCase), rSchema.contains(c.toLowerCase))
          if (inL && inR)
            sys.error(s"join key $c is ambiguous — qualify it")
          else if (inL) Left(c)
          else if (inR) Right(c)
          else sys.error(s"join key $c exists on neither side")
      }
    }
    val keyPairs: Seq[(String, String)] = conjuncts(cond).map {
      case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
        (side(x), side(y)) match {
          case (Left(lk), Right(rk)) => (lk, rk)
          case (Right(rk), Left(lk)) => (lk, rk)
          case _ => sys.error(
            "each ON conjunct must pair one column from each side")
        }
      case other => sys.error(
        "materialized join view ON supports conjunctions of column " +
          s"equalities only; got: ${other.sql}")
    }
    val groupCols: Seq[String] = agg.groupingExpressions.map {
      case a0: UnresolvedAttribute => a0.nameParts.last
      case other => sys.error(
        "materialized join view GROUP BY supports plain columns; " +
          s"got: ${other.sql}")
    }
    require(groupCols.nonEmpty,
      "materialized join view needs at least one GROUP BY column")
    def isCountStar(f: UnresolvedFunction): Boolean =
      f.arguments.isEmpty || (f.arguments match {
        case Seq(_: UnresolvedStar) => true
        case Seq(Literal(v, _))     => v != null
        case _                      => false
      })
    var sawCount = false
    val sums = Seq.newBuilder[String]
    val groupSet = groupCols.map(_.toLowerCase).toSet
    agg.aggregateExpressions.foreach {
      case a0: UnresolvedAttribute =>
        require(groupSet.contains(a0.nameParts.last.toLowerCase),
          s"SELECT item ${a0.nameParts.last} is neither a GROUP BY " +
            "column nor an aggregate")
      case al: Alias => al.child match {
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("count") &&
              !f.isDistinct && isCountStar(f) =>
          require(al.name.equalsIgnoreCase(MaterializedView.NRows),
            s"COUNT(*) must alias ${MaterializedView.NRows}; got: " +
              al.name)
          sawCount = true
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("sum") &&
              !f.isDistinct =>
          f.arguments match {
            case Seq(a0: UnresolvedAttribute) =>
              val c = a0.nameParts.last
              require(al.name.equalsIgnoreCase(c + "_sum"),
                s"SUM($c) must alias ${c}_sum; got: ${al.name}")
              sums += c
              ()
            case _ => sys.error(
              "join view SUM takes a single plain column; got: " +
                al.child.sql)
          }
        case other => sys.error(
          "materialized join view maintains COUNT(*) AS n_rows and " +
            "SUM(col) AS col_sum — the signed-foldable class; " +
            "MIN/MAX/AVG/DISTINCT over a join are not maintained. " +
            s"Got: ${other.sql}")
      }
      case other => sys.error(
        "materialized join view maintains COUNT(*) AS n_rows and " +
          s"SUM(col) AS col_sum; got: ${other.sql}")
    }
    require(sawCount,
      s"the SELECT must include COUNT(*) AS ${MaterializedView.NRows} " +
        "— the maintained row count is what empties groups under deletes")
    val (mvParts, mvDir, catalogName) = resolveMvIdent(ident)
    def quoted = quotedParts(mvParts)
    val definition = Map(
      "txtable.mv.join.left" -> lt.tableDir,
      "txtable.mv.join.right" -> rt.tableDir,
      "txtable.mv.join.leftKeys" -> keyPairs.map(_._1).mkString(","),
      "txtable.mv.join.rightKeys" -> keyPairs.map(_._2).mkString(","),
      "txtable.mv.groupBy" -> groupCols.mkString(","),
      "txtable.mv.sums" -> sums.result().mkString(","))
    materializeMvAt(TxTable(spark, mvDir), mvDir, catalogName, mvParts,
      quoted, definition) { dir =>
      // the class validates side-resolution of every referenced
      // column (exists on exactly one side) at first use
      MaterializedJoinView(spark, lt, rt, dir, groupCols,
        sums.result(), keyPairs.map(_._1), keyPairs.map(_._2)).refresh()
    }
  }

  /** Rebuild the [[MaterializedJoinView]] object from the definition
    * properties a CREATE persisted on the MV's table. */
  private def openJoinMv(t: TxTable): MaterializedJoinView = {
    def csv(k: String): Seq[String] = t.property(k).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    val l = t.property("txtable.mv.join.left").getOrElse(sys.error(
      s"not a materialized join view: ${t.tableDir}"))
    val r = t.property("txtable.mv.join.right").get
    MaterializedJoinView(spark, TxTable(spark, l), TxTable(spark, r),
      t.tableDir, csv("txtable.mv.groupBy"), csv("txtable.mv.sums"),
      csv("txtable.mv.join.leftKeys"), csv("txtable.mv.join.rightKeys"))
  }

  /** DROP MATERIALIZED VIEW: the view is DERIVED state — rebuildable
    * by re-running its CREATE over the base — so dropping removes the
    * rewrite registration, the catalog entry (when named), and the
    * storage. Refuses loudly on a non-MV target: a DROP that silently
    * deleted a base TABLE would be the disaster case, and the
    * `txtable.mv.base` definition property is the authoritative
    * is-an-MV marker. */
  private def runDropMv(ident: String): DataFrame = {
    val parts = spark.sessionState.sqlParser
      .parseMultipartIdentifier(ident.trim)
    val t = resolveParts(parts)
    require(t.property("txtable.mv.base").isDefined ||
      t.property("txtable.mv.join.left").isDefined,
      "DROP MATERIALIZED VIEW target is not a materialized view " +
        s"(no txtable.mv.base / txtable.mv.join.left property): " +
        t.tableDir)
    graft.plans.MvRegistry.unregister(spark, t.tableDir)
    parts match {
      case Seq(p, _) if p.equalsIgnoreCase("txtable") => ()
      case _ =>
        def q(s: String) = "`" + s.replace("`", "``") + "`"
        spark.sql(s"DROP TABLE IF EXISTS ${parts.map(q).mkString(".")}")
        ()
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(t.tableDir))
    summary0()
  }

  /** Rebuild the [[MaterializedView]] object from the definition
    * properties a CREATE persisted on the MV's table. */
  private def openMv(t: TxTable): MaterializedView = {
    val baseLoc = t.property("txtable.mv.base").getOrElse(sys.error(
      "REFRESH MATERIALIZED VIEW target is not a materialized view " +
        s"(no txtable.mv.base property): ${t.tableDir}"))
    def csv(k: String): Seq[String] = t.property(k).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    val exprSums = t.property("txtable.mv.exprSums").toSeq
      .flatMap(_.split("\u0002")).filter(_.nonEmpty).map { entry =>
        val i = entry.indexOf('\u0001')
        (entry.take(i), entry.drop(i + 1))
      }
    MaterializedView(spark, TxTable(spark, baseLoc), t.tableDir,
      csv("txtable.mv.groupBy"), csv("txtable.mv.sums"),
      csv("txtable.mv.mins"), csv("txtable.mv.maxs"),
      csv("txtable.mv.avgs"), csv("txtable.mv.stds"),
      csv("txtable.mv.vars"), exprSums, csv("txtable.mv.dcnts"))
  }

  // ------------------------------------------------- reference helpers
  /** Unwrap a DML target to its TxTable plus the lowercase names
    * (alias and table identifier tail) its columns may be qualified
    * with, plus the raw identifier parts (for post-write catalog
    * cache invalidation). */
  private def target(p: LogicalPlan)
      : (TxTable, Set[String], Seq[String]) = p match {
    case SubqueryAlias(id, child) =>
      val (t, names, parts) = target(child)
      (t, names + id.name.toLowerCase, parts)
    case r: UnresolvedRelation =>
      (resolveParts(r.multipartIdentifier),
        Set(r.multipartIdentifier.last.toLowerCase),
        r.multipartIdentifier)
    case other => sys.error(
      "DML target must be a plain table reference, got: " +
        other.nodeName)
  }

  /** Resolve a MERGE source — a table/view reference or an arbitrary
    * subquery — to a DataFrame plus its qualifier names. A
    * `txtable.`&#96;path&#96; source short-circuits to the table's own
    * read (the catalog would otherwise look for a database named
    * txtable). */
  private def source(p: LogicalPlan): (DataFrame, Set[String]) = p match {
    case SubqueryAlias(id, child) =>
      val (df, names) = source(child)
      (df, names + id.name.toLowerCase)
    case r: UnresolvedRelation
        if r.multipartIdentifier.size == 2 &&
          r.multipartIdentifier.head.equalsIgnoreCase("txtable") =>
      (TxTable(spark, r.multipartIdentifier.last).read(),
        Set(r.multipartIdentifier.last.toLowerCase))
    case r: UnresolvedRelation =>
      (ColumnShim.ofRows(spark, r),
        Set(r.multipartIdentifier.last.toLowerCase))
    case other => (ColumnShim.ofRows(spark, other), Set.empty)
  }

  /** A bare or qualified identifier string → TxTable. */
  private def resolve(ident: String): TxTable =
    resolveParts(
      spark.sessionState.sqlParser.parseMultipartIdentifier(ident.trim))

  private[graft] def resolveParts(parts: Seq[String]): TxTable = parts match {
    case Seq(p, path) if p.equalsIgnoreCase("txtable") =>
      TxTable(spark, path)
    case _ =>
      val id = parts match {
        case Seq(t0)     => TableIdentifier(t0)
        case Seq(db, t0) => TableIdentifier(t0, Some(db))
        // fully qualified session-catalog name (spark_catalog.db.t)
        case Seq(cat, db, t0) if cat.equalsIgnoreCase("spark_catalog") =>
          TableIdentifier(t0, Some(db))
        case _ => sys.error(
          s"cannot resolve table ${parts.mkString(".")}: use " +
            "txtable.`/path` or a catalog table name")
      }
      val meta = spark.sessionState.catalog.getTableMetadata(id)
      require(meta.provider.exists(_.equalsIgnoreCase("txtable")),
        s"${parts.mkString(".")} is not a txtable table (provider: " +
          s"${meta.provider.getOrElse("none")})")
      val path = meta.storage.properties
        .map { case (k, v) => k.toLowerCase -> v }.get("path")
        .orElse(meta.storage.locationUri.map(_.getPath))
        .getOrElse(sys.error(
          s"${parts.mkString(".")} has neither a path option nor a " +
            "location"))
      TxTable(spark, path)
  }

  /** Strip qualifiers that name the statement's own table/alias so
    * predicates and assignment values resolve against the bare-column
    * rewrite frames (`WHERE t.k = 5` ≡ `WHERE k = 5`). */
  private def unqualify(e: Expression, names: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute
          if a.nameParts.size >= 2 &&
            names.contains(a.nameParts.dropRight(1).last.toLowerCase) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }

  /** Requalify clause-condition attributes onto the engine's merge
    * aliases: target-qualified → `t.col`, source-qualified → `s.col`,
    * bare names left for the analyzer (unique across the join or a
    * loud ambiguity error — never a silent wrong side). */
  private def remap(e: Expression, tnames: Set[String],
      snames: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.size >= 2 =>
        val q = a.nameParts.dropRight(1).last.toLowerCase
        if (tnames.contains(q)) UnresolvedAttribute(Seq("t", a.nameParts.last))
        else if (snames.contains(q))
          UnresolvedAttribute(Seq("s", a.nameParts.last))
        else a
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x         => Seq(x)
  }

  /** A parsed literal's SCALA value (`Literal.value` is the Catalyst
    * internal form — UTF8String for strings, days-int for dates). */
  private def scalaLiteral(l: Literal): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value, l.dataType)

  /** Parse a ZORDER BY column list; the >=2 arity is also enforced by
    * the engine methods — this copy exists for the friendlier
    * statement-level message. */
  private def zorderCols(colList: String): Seq[String] = {
    val cols = colList.split(",").map(c => unquote(c.trim))
      .filter(_.nonEmpty).toSeq
    require(cols.length >= 2,
      s"OPTIMIZE … ZORDER BY needs at least two columns " +
        s"(one-key clustering is a plain sort); got ${cols.length}")
    cols
  }

  /** Parse an OPTIMIZE WHERE clause: AND-ed `col = literal` partition
    * equalities, anything else refuses loudly. */
  private def partitionEqualities(where: String): Seq[(String, Any)] =
    conjuncts(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(where)).map {
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        a.nameParts.last -> scalaLiteral(l)
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        a.nameParts.last -> scalaLiteral(l)
      case other => sys.error(
        "OPTIMIZE WHERE supports AND-ed partition equalities " +
          s"(col = literal); got: ${other.sql}")
    }

  /** Honor retention table properties (best-effort, loud on a
    * malformed value): `txtable.logRetentionVersions` → cleanupLog. */
  private def tpRetention(t: TxTable): Unit =
    t.property("txtable.logRetentionVersions").foreach { v =>
      val n =
        try v.toLong
        catch { case _: NumberFormatException => sys.error(
          s"txtable.logRetentionVersions must be a version count: $v") }
      t.cleanupLog(n); ()
    }

  private def summary(c: TxTable.Commit): DataFrame = {
    val sq = spark; import sq.implicits._
    Seq((c.version, c.action, c.add.size.toLong, c.remove.size.toLong))
      .toDF("version", "action", "files_added", "files_removed")
  }

  private def summary0(): DataFrame = {
    val sq = spark; import sq.implicits._
    Seq.empty[(Long, String, Long, Long)]
      .toDF("version", "action", "files_added", "files_removed")
  }
}

object TxSql {
  def apply(spark: SparkSession): TxSql = new TxSql(spark)

  /** The table's declared clustering columns (`CLUSTER BY` — the
    * `txtable.clusterBy` property), parsed in ONE place. */
  private[ops] def declaredClusterCols(t: TxTable): Seq[String] =
    t.property("txtable.clusterBy").toSeq
      .flatMap(TxTable.parseClusterCols)

  /** One declared column rides the documented duplicate-dimension
    * idiom (a plain range-clustered sort) — shared by the bare and
    * FULL OPTIMIZE forms. */
  private[ops] def zdims(declared: Seq[String]): Seq[String] =
    if (declared.size == 1) Seq(declared.head, declared.head)
    else declared

  // ----- result schemas, mirrored 1:1 from the frames run() builds —
  // the parser-injected command ([[graft.plans.TxSqlStatement]])
  // declares its output from these, so `spark.sql("MERGE INTO …")`
  // returns typed rows without executing at plan time
  import org.apache.spark.sql.types._
  private[graft] val SummarySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("action", StringType),
    StructField("files_added", LongType, nullable = false),
    StructField("files_removed", LongType, nullable = false)))
  private[graft] val HistorySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("action", StringType),
    StructField("timestamp", TimestampType),
    StructField("n_added", IntegerType, nullable = false),
    StructField("n_added_dvs", IntegerType, nullable = false),
    StructField("n_removed", IntegerType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("rm_bytes", LongType, nullable = false)))
  private[graft] val DetailSchema = StructType(Seq(
    StructField("file", StringType), StructField("kind", StringType),
    StructField("bytes", LongType, nullable = false),
    StructField("partition", StringType)))
  private[graft] val VacuumSchema =
    StructType(Seq(StructField("reclaimed_file", StringType)))
  private[graft] val CleanupSchema =
    StructType(Seq(StructField("deleted_log_file", StringType)))
  private[graft] val TblPropsSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  /** Is `parts` a transactional-table reference, WITHOUT side effects
    * (never opens/creates the table — safe to call at parse time for
    * every statement a session runs)? `txtable.`path`` is syntactic;
    * a catalog name checks the table's provider. */
  private[graft] def isTxParts(spark: SparkSession,
      parts: Seq[String]): Boolean = parts match {
    case Seq(p, _) if p.equalsIgnoreCase("txtable") => true
    case Seq(_) | Seq(_, _) | Seq(_, _, _) =>
      try {
        val id = parts match {
          case Seq(t0)     => TableIdentifier(t0)
          case Seq(db, t0) => TableIdentifier(t0, Some(db))
          case Seq(cat, db, t0)
              if cat.equalsIgnoreCase("spark_catalog") =>
            TableIdentifier(t0, Some(db))
          case _           => return false
        }
        spark.sessionState.catalog.getTableMetadata(id)
          .provider.exists(_.equalsIgnoreCase("txtable"))
      } catch { case NonFatal(_) => false }
    case _ => false
  }

  private def isTxIdent(spark: SparkSession, ident: String): Boolean =
    try isTxParts(spark,
      spark.sessionState.sqlParser.parseMultipartIdentifier(ident.trim))
    catch { case NonFatal(_) => false }

  /** If `sqlText` is one of the face's REGEX-ROUTED statements over a
    * transactional table, the schema its result will have — the
    * parse-time dispatch test for the injected parser. DML statements
    * are detected from the delegate-parsed plan instead (see
    * [[isDmlOnTx]]). */
  private[graft] def statementSchema(spark: SparkSession,
      sqlText: String): Option[StructType] = {
    val s = sqlText.trim.stripSuffix(";").trim
    def tx(id: String) = isTxIdent(spark, id)
    s match {
      case DescribeHistoryRe(id) if tx(id)      => Some(HistorySchema)
      case DescribeDetailRe(id) if tx(id)       => Some(DetailSchema)
      case ZOrderWhereRe(id, _, _) if tx(id)    => Some(SummarySchema)
      case ZOrderRe(id, _) if tx(id)            => Some(SummarySchema)
      case OptimizeFullRe(id) if tx(id)         => Some(SummarySchema)
      case OptimizeRe(id, _) if tx(id)          => Some(SummarySchema)
      case VacuumRe(id, _, _, _) if tx(id)      => Some(VacuumSchema)
      case CleanupLogRe(id, _) if tx(id)        => Some(CleanupSchema)
      case UnsetTblPropsRe(id, _) if tx(id)     => Some(SummarySchema)
      case SetTblPropsRe(id, _) if tx(id)       => Some(SummarySchema)
      case ShowTblPropsRe(id) if tx(id)         => Some(TblPropsSchema)
      case RestoreRe(id, _) if tx(id)           => Some(SummarySchema)
      case RestoreTsRe(id, _) if tx(id)         => Some(SummarySchema)
      case AddConstraintRe(id, _, _) if tx(id)  => Some(SummarySchema)
      case DropConstraintRe(id, _) if tx(id)    => Some(SummarySchema)
      case AddGeneratedRe(id, _, _) if tx(id)   => Some(SummarySchema)
      case DropGeneratedRe(id, _) if tx(id)     => Some(SummarySchema)
      case AddIdentityRe(id, _, _, _) if tx(id) => Some(SummarySchema)
      case DropIdentityRe(id, _) if tx(id)      => Some(SummarySchema)
      case AlterClusterByNoneRe(id) if tx(id)   => Some(SummarySchema)
      case AlterClusterByRe(id, _) if tx(id)    => Some(SummarySchema)
      case AddColumnDefaultRe(id, _, _, _) if tx(id) => Some(SummarySchema)
      case SetDefaultRe(id, _, _) if tx(id)     => Some(SummarySchema)
      case DropDefaultRe(id, _) if tx(id)       => Some(SummarySchema)
      case AddColumnsRe(id, _) if tx(id)        => Some(SummarySchema)
      case RenameColumnRe(id, _, _) if tx(id)   => Some(SummarySchema)
      case DropColumnRe(id, _) if tx(id)        => Some(SummarySchema)
      case CopyIntoRe(id, _, _, _) if tx(id)    => Some(SummarySchema)
      case ConvertRe(_)                         => Some(SummarySchema)
      case CloneRe(_, src, _) if tx(src)        => Some(SummarySchema)
      // our grammar either way (Spark has no MV DDL): CREATE routes
      // unconditionally; REFRESH routes when the target resolves tx
      case CreateMvRe(_, _)                     => Some(SummarySchema)
      case RefreshMvRe(id) if tx(id)            => Some(SummarySchema)
      case DropMvRe(id) if tx(id)               => Some(SummarySchema)
      case _                                    => None
    }
  }

  /** Is `plan` a MERGE/UPDATE/DELETE whose target is a transactional
    * table? */
  private[graft] def isDmlOnTx(spark: SparkSession,
      plan: LogicalPlan): Boolean = {
    def rel(p: LogicalPlan): Option[Seq[String]] = p match {
      case SubqueryAlias(_, child) => rel(child)
      case r: UnresolvedRelation   => Some(r.multipartIdentifier)
      case _                       => None
    }
    val target = plan match {
      case d: DeleteFromTable => rel(d.table)
      case u: UpdateTable     => rel(u.table)
      case m: MergeIntoTable  => rel(m.targetTable)
      case _                  => None
    }
    target.exists(isTxParts(spark, _))
  }

  // Delta-grammar statements Spark's parser does not know (or whose
  // v2-command plans would demand a full catalog plugin) — routed by
  // regex BEFORE parsePlan. Identifiers may be quoted/qualified; the
  // captured table text goes through parseMultipartIdentifier. The
  // GENERATED patterns precede the plain-column ones in the match
  // order above, or `DROP GENERATED COLUMN c` would parse as dropping
  // a column named GENERATED.
  private val DescribeHistoryRe =
    """(?is)DESCRIBE\s+HISTORY\s+(.+)""".r
  private val DescribeDetailRe =
    """(?is)DESCRIBE\s+DETAIL\s+(.+)""".r
  // identifier atom: backtick-quoted segments are ATOMIC — a path
  // with spaces (txtable.`/data/my table`) must not truncate at the
  // space (it would target the wrong text); bare chars may not
  // include a backtick so an unterminated quote can't half-match
  private val Id = """((?:`[^`]*`|[^\s`])+)"""
  // OPTIMIZE t [WHERE <partition equalities>] — bin-packing, optionally
  // scoped to matching partition leaves (Delta's OPTIMIZE WHERE)
  // OPTIMIZE t FULL — Delta's liquid-clustering escape hatch: force a
  // full recluster of a CLUSTER BY table (bare OPTIMIZE is
  // incremental), advancing the watermark like any recluster
  private val OptimizeFullRe =
    s"""(?is)OPTIMIZE\\s+$Id\\s+FULL""".r

  private val OptimizeRe =
    s"""(?is)OPTIMIZE\\s+$Id(?:\\s+WHERE\\s+(.+))?""".r
  // OPTIMIZE t ZORDER BY (a, b) — Delta's multi-dimensional
  // clustering, dispatched onto the 2-D Morton compaction
  private val ZOrderRe =
    s"""(?is)OPTIMIZE\\s+$Id\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)""".r
  // OPTIMIZE t WHERE part = v ZORDER BY (a, b) — incremental
  // clustering scoped to the matching partition leaves; matched
  // BEFORE ZOrderRe/OptimizeRe, whose greedy groups would swallow it
  private val ZOrderWhereRe =
    s"""(?is)OPTIMIZE\\s+$Id\\s+WHERE\\s+(.+?)\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\)""".r
  // VACUUM t [RETAIN n VERSIONS|HOURS] [DRY RUN] — RETAIN omitted
  // defaults to Delta's 168-hour retention; DRY RUN lists, never deletes
  private val VacuumRe =
    s"""(?is)VACUUM\\s+$Id(?:\\s+RETAIN\\s+(\\d+)\\s+(VERSIONS|HOURS))?(\\s+DRY\\s+RUN)?""".r
  // CLEANUP LOG t RETAIN n VERSIONS — log-retention DDL (see run())
  private val CleanupLogRe =
    s"""(?is)CLEANUP\\s+LOG\\s+$Id\\s+RETAIN\\s+(\\d+)\\s+VERSIONS""".r
  // TBLPROPERTIES family — key/value metadata tokens; UNSET precedes
  // SET in the match (its text contains "SET TBLPROPERTIES")
  private val SetTblPropsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)""".r
  private val UnsetTblPropsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+UNSET\\s+TBLPROPERTIES(?:\\s+IF\\s+EXISTS)?\\s*\\((.+)\\)""".r
  private val ShowTblPropsRe =
    s"""(?is)SHOW\\s+TBLPROPERTIES\\s+$Id""".r
  private val RestoreRe =
    s"""(?is)RESTORE\\s+TABLE\\s+$Id\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)""".r
  private val RestoreTsRe =
    s"""(?is)RESTORE\\s+TABLE\\s+$Id\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'""".r
  private val AddConstraintRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+CONSTRAINT\\s+([A-Za-z0-9_-]+)\\s+CHECK\\s*\\((.+)\\)""".r
  private val DropConstraintRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+CONSTRAINT\\s+([A-Za-z0-9_-]+)""".r
  private val AddGeneratedRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+GENERATED\\s+COLUMN\\s+$Id\\s+AS\\s*\\((.+)\\)""".r
  private val DropGeneratedRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+GENERATED\\s+COLUMN\\s+$Id""".r
  // ALTER TABLE t ADD IDENTITY COLUMN c [START WITH n] [STEP n] —
  // GENERATED ALWAYS AS IDENTITY: engine-allocated BIGINT, appends
  // must omit the column (TxTable.addIdentityColumn)
  private val AddIdentityRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+IDENTITY\\s+COLUMN\\s+$Id(?:\\s+START\\s+WITH\\s+(-?\\d+))?(?:\\s+STEP\\s+(-?\\d+))?""".r
  // ALTER TABLE t CLUSTER BY (a, b) / CLUSTER BY NONE — DECLARATIVE
  // clustering (Delta's liquid-clustering entry point): the column
  // set persists as the `txtable.clusterBy` table property; a bare
  // OPTIMIZE then reclusters on it (scoped WHERE still composes)
  private val AlterClusterByNoneRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+CLUSTER\\s+BY\\s+NONE""".r
  private val AlterClusterByRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+CLUSTER\\s+BY\\s*\\(([^)]+)\\)""".r
  private val DropIdentityRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+IDENTITY\\s+COLUMN\\s+$Id""".r
  // ALTER TABLE t ADD COLUMNS (c1 TYPE, c2 TYPE …) — Delta's
  // schema-widening DDL, dispatched onto TxTable.addColumns (an
  // O(1) evolve commit; parenthesized DDL column list, parsed by
  // StructType.fromDDL so nested/array/map types all work)
  // ALTER TABLE t ADD COLUMN c TYPE DEFAULT expr / ALTER COLUMN c
  // SET DEFAULT expr / DROP DEFAULT — column default values (see run())
  private val AddColumnDefaultRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+COLUMN\\s+$Id\\s+([A-Za-z0-9_<>,()\\s]+?)\\s+DEFAULT\\s+(.+)""".r
  private val SetDefaultRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ALTER\\s+COLUMN\\s+$Id\\s+SET\\s+DEFAULT\\s+(.+)""".r
  private val DropDefaultRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ALTER\\s+COLUMN\\s+$Id\\s+DROP\\s+DEFAULT""".r
  private val AddColumnsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+COLUMNS?\\s*\\((.+)\\)""".r
  private val RenameColumnRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+RENAME\\s+COLUMN\\s+$Id\\s+TO\\s+$Id""".r
  private val DropColumnRe =
    s"""(?is)ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+COLUMN\\s+$Id""".r
  // CREATE MATERIALIZED VIEW mv AS SELECT … FROM base GROUP BY … /
  // REFRESH MATERIALIZED VIEW mv — incrementally maintained aggregate
  // views over a transactional base (see run())
  private val CreateMvRe =
    s"""(?is)CREATE\\s+MATERIALIZED\\s+VIEW\\s+$Id\\s+AS\\s+(SELECT\\s.+)""".r
  private val RefreshMvRe =
    s"""(?is)REFRESH\\s+MATERIALIZED\\s+VIEW\\s+$Id""".r
  private val DropMvRe =
    s"""(?is)DROP\\s+MATERIALIZED\\s+VIEW\\s+$Id""".r
  // CONVERT TO TXTABLE parquet.`/dir` — adopt a plain-parquet
  // directory in place (Delta's CONVERT TO DELTA shape)
  private val ConvertRe =
    """(?is)CONVERT\s+TO\s+TXTABLE\s+parquet\.(.+)""".r
  // COPY INTO t FROM 'dir' FILEFORMAT = FMT [PATTERN = 'glob']
  private val CopyIntoRe =
    s"""(?is)COPY\\s+INTO\\s+$Id\\s+FROM\\s+'([^']+)'\\s+FILEFORMAT\\s*=\\s*(\\w+)(?:\\s+PATTERN\\s*=\\s*'([^']+)')?""".r
  // CREATE TABLE txtable.`/dst` SHALLOW CLONE <src> [VERSION AS OF n]
  private val CloneRe =
    s"""(?is)CREATE\\s+TABLE\\s+txtable\\.$Id\\s+SHALLOW\\s+CLONE\\s+$Id(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?""".r
}
