package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.TxSql

/** Parser injection that makes PLAIN `spark.sql(…)` speak the
  * transactional table's DML/DDL dialect — the last step from
  * "SQL face exists" to "a Delta user's code runs unchanged":
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *   …
  * spark.sql("MERGE INTO txtable.`/data/t` t USING u s ON t.k = s.k " +
  *           "WHEN MATCHED THEN UPDATE SET *")      // just works
  * spark.sql("DESCRIBE HISTORY txtable.`/data/t`").show()
  * spark.sql("SELECT * FROM txtable.`/data/t` VERSION AS OF 3")
  * spark.sql("INSERT INTO txtable.`/data/t` SELECT ...")
  * }}}
  *
  * Dispatch is conservative and parse-time-cheap: the Delta-grammar
  * statements (DESCRIBE HISTORY / OPTIMIZE / VACUUM / RESTORE / the
  * ALTER family) route only when their table reference RESOLVES to a
  * transactional table (`txtable.`path`` syntactically, catalog names
  * by provider lookup — never opening the table); MERGE/UPDATE/DELETE
  * parse through the DELEGATE first and re-route only when the parsed
  * target is transactional. Everything else — including DML on
  * ordinary tables — returns the delegate's plan untouched, so the
  * injected parser is invisible outside the txtable surface.
  *
  * The routed plan is a [[TxSqlStatement]] leaf command: execution
  * happens at command run time through [[graft.ops.TxSql]] (the same
  * translation the programmatic face uses), with the result schema
  * declared at PLAN time from the statement shape so `spark.sql`
  * returns a normally-typed DataFrame. */
class TxSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    TxSql.statementSchema(session, sqlText) match {
      case Some(schema) => TxSqlStatement(sqlText, schema)
      case None =>
        val plan = delegate.parsePlan(sqlText)
        plan match {
          case (_: DeleteFromTable | _: UpdateTable | _: MergeIntoTable)
              if TxSql.isDmlOnTx(session, plan) =>
            TxSqlStatement(sqlText, TxSql.SummarySchema)
          case p => rewriteTxRelations(p)
        }
    }

  /** Replace `txtable.`&#96;path&#96;`` references anywhere in a query —
    * including under `VERSION AS OF` / `TIMESTAMP AS OF` — with the
    * resolved batch relation, so plain `spark.sql("SELECT * FROM
    * txtable.`&#96;/p&#96;` VERSION AS OF 3")` and `INSERT INTO
    * txtable.`&#96;/p&#96;` SELECT …` work without a catalog entry
    * (Delta's `delta.`&#96;path&#96;`` device). Top-down so the
    * time-travel wrapper sees its child before the bare-relation rule
    * consumes it; every other relation is untouched. */
  private def rewriteTxRelations(p: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.Literal
    def txPath(x: LogicalPlan): Option[String] = x match {
      case r: UnresolvedRelation
          if r.multipartIdentifier.size == 2 &&
            r.multipartIdentifier.head.equalsIgnoreCase("txtable") =>
        Some(r.multipartIdentifier.last)
      case _ => None
    }
    def reader(path: String, version: Option[String],
        ts: Option[org.apache.spark.sql.catalyst.expressions.Expression])
        : LogicalPlan = {
      var r = session.read.format("txtable").option("path", path)
      version.foreach(v => r = r.option("versionAsOf", v))
      ts.foreach {
        case Literal(v, org.apache.spark.sql.types.TimestampType) =>
          // typed literal carries epoch MICROS; the option speaks millis
          r = r.option("timestampAsOf",
            (v.asInstanceOf[Long] / 1000L).toString)
        case Literal(v, _) if v != null =>
          r = r.option("timestampAsOf", v.toString)
        case other => sys.error(
          s"txtable TIMESTAMP AS OF must be a literal, got: ${other.sql}")
      }
      r.load().queryExecution.analyzed
    }
    // a CATALOG-NAMED transactional table under time travel or the
    // table_changes TVF: resolve the entry's location (provider-gated,
    // parse-time-cheap — isTxParts never opens the table) so the SQL
    // forms Delta users type work over names, not just paths
    def txCatalogPath(x: LogicalPlan): Option[String] = x match {
      case r: UnresolvedRelation
          if !r.multipartIdentifier.head.equalsIgnoreCase("txtable") &&
            TxSql.isTxParts(session, r.multipartIdentifier) =>
        try Some(TxSql(session)
          .resolveParts(r.multipartIdentifier).location)
        catch { case NonFatal(_) => None }
      case _ => None
    }
    p.transformDown {
      // INSERT's target is a constructor FIELD, not a child — a plain
      // tree transform never visits it
      case ins: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
          if txPath(ins.table).isDefined =>
        ins.copy(table = reader(txPath(ins.table).get, None, None))
      case tt: RelationTimeTravel if txPath(tt.relation).isDefined =>
        reader(txPath(tt.relation).get, tt.version, tt.timestamp)
      // SELECT … FROM cat_table VERSION AS OF n / TIMESTAMP AS OF ts —
      // Spark's analyzer refuses time travel on v1 relations, so the
      // catalog name resolves to its location here instead
      case tt: RelationTimeTravel if txCatalogPath(tt.relation).isDefined =>
        reader(txCatalogPath(tt.relation).get, tt.version, tt.timestamp)
      case r: UnresolvedRelation if txPath(r).isDefined =>
        reader(txPath(r).get, None, None)
      // table_changes('t' | 'txtable.`/p`', from [, to]) — Delta's CDF
      // table-valued function: rewrites to the batch CDF reader over
      // the resolved location (inclusive-inclusive version window,
      // Delta's contract; versions as longs, bounds as timestamps via
      // the reader's own option parser). Fires ONLY when the first
      // argument resolves to a transactional table — any other target
      // falls through untouched, so a different provider's (or a
      // user-registered) table_changes still gets its own resolution
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.length == 1 &&
            tvf.name.head.equalsIgnoreCase("table_changes") &&
            tableChangesTarget(tvf.functionArgs).isDefined =>
        tableChanges(tableChangesTarget(tvf.functionArgs).get,
          tvf.functionArgs)
      // CTAS + CLUSTER BY: the declared column set must persist like
      // the plain CREATE's — wrap so the property lands after the CTAS
      case ctas: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect
          if (ctas.tableSpec match {
            case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
              u.provider.exists(_.equalsIgnoreCase("txtable"))
            case _ => false
          }) && clusterColsOf(ctas.partitioning).nonEmpty =>
        val parts = ctas.name match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
            u.nameParts
          case other => sys.error(
            s"unexpected CTAS name plan: ${other.nodeName}")
        }
        TxCtasWithCluster(
          rewriteTxRelations(ctas.copy(
            partitioning = stripClusterBy(ctas.partitioning))),
          parts, clusterColsOf(ctas.partitioning), ctas.ignoreIfExists)
      case ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable
          if isTxCreate(ct) &&
            (ct.columns.exists(c => c.identityColumnSpec.isDefined ||
              c.generationExpression.isDefined ||
              c.defaultValue.isDefined || !c.nullable) ||
              clusterColsOf(ct.partitioning).nonEmpty) =>
        specCreate(ct)
      // Spark's session catalog refuses REPLACE TABLE on v1 providers
      // outright — route txtable REPLACE onto the engine (and never
      // silently drop identity/generated specs the definition carries)
      case rt: org.apache.spark.sql.catalyst.plans.logical.ReplaceTable
          if isTxReplace(rt) =>
        specReplace(rt)
      case rtas: org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect
          if (rtas.tableSpec match {
            case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
              u.provider.exists(_.equalsIgnoreCase("txtable"))
            case _ => false
          }) =>
        specReplaceAsSelect(rtas)
      case ctas => rewritePartitionedCtas(ctas)
    }
  }

  /** Is this CreateTable's provider the transactional table? */
  private def isTxCreate(
      ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable): Boolean =
    ct.tableSpec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
        u.provider.exists(_.equalsIgnoreCase("txtable"))
      case _ => false
    }

  /** `CREATE TABLE t (id BIGINT GENERATED ALWAYS AS IDENTITY
    * [(START WITH n INCREMENT BY m)], y INT GENERATED ALWAYS AS
    * (year(d)), …) USING txtable LOCATION p` — Delta's PRIMARY
    * surface for BOTH column-spec families (the ALTER forms are the
    * retrofit path). Spark's parser delivers the specs on the
    * `ColumnDefinition`; a DSv1 provider would silently drop them, so
    * the plan is rewritten to (a) the same CREATE with the specs
    * STRIPPED (the columns keep their types in the declared schema —
    * empty reads serve them) and (b) follow-up
    * `addIdentityColumn`/`addGeneratedColumn` calls per spec, all run
    * by one command. `GENERATED BY DEFAULT` (caller-supplied values
    * allowed) contradicts the engine's ALWAYS-only allocation
    * contract and refuses loudly at parse time, as does a generation
    * expression referencing a column the CREATE does not declare. */
  /** Pull identity/generated specs off `columns` (with the parse-time
    * validations) and return them plus the spec-STRIPPED definitions —
    * shared by the CREATE and REPLACE interceptions. */
  private def extractSpecs(
      columns: Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition])
      : (Seq[(String, Long, Long)], Seq[(String, String)],
         Seq[(String, String, String)], Seq[String],
         Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // `c T DEFAULT expr` — declared write-side defaults (no exists
    // default: a freshly created table has no pre-existing rows to
    // backfill); `c T NOT NULL` — enforced as an engine CHECK
    // constraint, since a DSv1 provider otherwise silently drops the
    // nullability promise the catalog records
    val dflts = columns.collect {
      case c if c.defaultValue.isDefined =>
        (c.name, c.defaultValue.get.originalSQL, c.dataType.sql)
    }
    val notNulls = columns.collect { case c if !c.nullable => c.name }
    val ids = columns.collect {
      case c if c.identityColumnSpec.isDefined =>
        val s = c.identityColumnSpec.get
        require(!s.isAllowExplicitInsert,
          s"column ${c.name}: GENERATED BY DEFAULT AS IDENTITY is not " +
            "supported — identity columns are GENERATED ALWAYS " +
            "(engine-allocated)")
        require(c.dataType == org.apache.spark.sql.types.LongType,
          s"identity column ${c.name} must be BIGINT, got " +
            c.dataType.sql)
        (c.name, s.getStart, s.getStep)
    }
    val declared = columns.map(_.name.toLowerCase).toSet
    val gens = columns.collect {
      case c if c.generationExpression.isDefined =>
        val e = c.generationExpression.get
        // catch a typo'd base column AT CREATE TIME — on the dataless
        // table the engine-side validation is vacuous by design
        val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(e).collect {
            case a: UnresolvedAttribute => a.nameParts.head.toLowerCase
          }
        val unknown = refs.filterNot(declared.contains).distinct
        require(unknown.isEmpty,
          s"generated column ${c.name}: expression references " +
            s"${unknown.mkString(", ")}, not declared by this CREATE")
        (c.name, e)
    }
    val cleaned = columns.map { c =>
      var c2 = c
      if (c2.identityColumnSpec.isDefined)
        c2 = c2.copy(identityColumnSpec = None)
      if (c2.generationExpression.isDefined)
        c2 = c2.copy(generationExpression = None)
      if (c2.defaultValue.isDefined)
        c2 = c2.copy(defaultValue = None)
      c2
    }
    (ids, gens, dflts, notNulls, cleaned)
  }

  /** `[CREATE OR] REPLACE TABLE … USING txtable [PARTITIONED BY …|
    * CLUSTER BY …] [LOCATION …] AS SELECT …` → [[TxReplaceAsSelect]].
    * An EXTERNAL replace lands as one `replace` commit at the
    * location (history stays time-travelable); a MANAGED replace
    * follows Spark's own managed-drop semantics (the old directory
    * goes with the entry). */
  private def specReplaceAsSelect(
      rtas: org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect)
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
    val parts = rtas.name match {
      case u: UnresolvedIdentifier => u.nameParts
      case other => sys.error(
        s"unexpected REPLACE TABLE name plan: ${other.nodeName}")
    }
    val spec = rtas.tableSpec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec => u
      case other => sys.error(
        s"unexpected REPLACE TABLE spec: ${other.getClass.getName}")
    }
    val partCols = stripClusterBy(rtas.partitioning).map { tr =>
      val refs = tr.references
      if (tr.name == "identity" && refs.length == 1 &&
          refs(0).fieldNames.length == 1) refs(0).fieldNames.head
      else sys.error(
        s"txtable supports only PARTITIONED BY (column…); got: " +
          tr.describe)
    }
    // the query rides as a raw FIELD of the leaf command — rewrite its
    // own txtable.`path` / time-travel / table_changes references NOW,
    // or transformDown never reaches them and they die unresolved
    TxReplaceAsSelect(rewriteTxRelations(rtas.query), parts,
      spec.location, partCols,
      clusterColsOf(rtas.partitioning), rtas.orCreate)
  }

  /** The resolved table location IFF `args` head is a literal naming a
    * transactional table — None leaves the TVF to other resolution. */
  private def tableChangesTarget(
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    args.headOption.flatMap {
      case Literal(v, _) if v != null =>
        try {
          val parts = session.sessionState.sqlParser
            .parseMultipartIdentifier(v.toString)
          if (TxSql.isTxParts(session, parts))
            Some(TxSql(session).resolveParts(parts).location)
          else None
        } catch { case NonFatal(_) => None }
      case _ => None
    }
  }

  /** `table_changes(ident, from [, to])` → the batch CDF reader over
    * the resolved table location. `ident` is a string literal naming a
    * catalog table or a `txtable.`path`` reference; window bounds are
    * integer literals (versions) or string literals (timestamps,
    * explicit-UTC — the reader's own parser). */
  private def tableChanges(path: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(args.length == 2 || args.length == 3,
      s"table_changes(table, from[, to]) takes 2 or 3 arguments; " +
        s"got ${args.length}")
    def str(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): String = e match {
      case Literal(v, _) if v != null => v.toString
      case other => sys.error(
        s"table_changes $what must be a literal, got: ${other.sql}")
    }
    def isTs(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e match {
        case Literal(_, org.apache.spark.sql.types.StringType) => true
        case _ => false
      }
    var r = session.read.format("txtable").option("path", path)
      .option("readChangeFeed", "true")
    r = if (isTs(args(1)))
      r.option("startingTimestamp", str(args(1), "from"))
    else r.option("startingVersion", str(args(1), "from"))
    if (args.length == 3)
      r = if (isTs(args(2)))
        r.option("endingTimestamp", str(args(2), "to"))
      else r.option("endingVersion", str(args(2), "to"))
    r.load().queryExecution.analyzed
  }

  /** Declared clustering columns (`CLUSTER BY (a, b)` — Delta's
    * liquid-clustering DDL): Spark parses the clause into a
    * [[org.apache.spark.sql.connector.expressions.ClusterByTransform]]
    * riding the partitioning list. Top-level columns only. */
  private def clusterColsOf(
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Seq[String] =
    partitioning.collect {
      case org.apache.spark.sql.connector.expressions
          .ClusterByTransform(refs) =>
        refs.map { r =>
          require(r.fieldNames.length == 1,
            s"txtable CLUSTER BY supports top-level columns only; " +
              s"got: ${r.describe}")
          r.fieldNames.head
        }
    }.flatten

  private def stripClusterBy(
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Seq[org.apache.spark.sql.connector.expressions.Transform] =
    partitioning.filterNot(_.isInstanceOf[
      org.apache.spark.sql.connector.expressions.ClusterByTransform])

  /** Is this ReplaceTable's provider the transactional table? */
  private def isTxReplace(
      rt: org.apache.spark.sql.catalyst.plans.logical.ReplaceTable): Boolean =
    rt.tableSpec match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec =>
        u.provider.exists(_.equalsIgnoreCase("txtable"))
      case _ => false
    }

  /** `[CREATE OR] REPLACE TABLE … USING txtable` → [[TxReplaceWithSpecs]]:
    * the spec-stripped definition re-lands through the ordinary CREATE
    * path after the old entry drops, prior content is replaced by one
    * `replace` commit (history stays time-travelable), and the
    * identity/generated declarations are RESET to the new definition's
    * specs — never silently dropped. */
  private def specReplace(
      rt: org.apache.spark.sql.catalyst.plans.logical.ReplaceTable)
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
    val (ids, gens, dflts, notNulls, cleaned) = extractSpecs(rt.columns)
    val ct = org.apache.spark.sql.catalyst.plans.logical.CreateTable(
      rt.name, cleaned, stripClusterBy(rt.partitioning), rt.tableSpec,
      ignoreIfExists = false)
    val parts = rt.name match {
      case u: UnresolvedIdentifier => u.nameParts
      case other => sys.error(
        s"unexpected REPLACE TABLE name plan: ${other.nodeName}")
    }
    val declared = StructType(cleaned.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType,
        c.nullable)))
    TxReplaceWithSpecs(rewritePartitionedCtas(ct), parts, ids, gens,
      rt.orCreate, declared, clusterColsOf(rt.partitioning),
      dflts, notNulls)
  }

  private def specCreate(
      ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable)
      : LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
    val (ids, gens, dflts, notNulls, cleanedCols) =
      extractSpecs(ct.columns)
    val cleaned = ct.copy(columns = cleanedCols,
      partitioning = stripClusterBy(ct.partitioning))
    val parts = ct.name match {
      case u: UnresolvedIdentifier => u.nameParts
      case other => sys.error(
        s"unexpected CREATE TABLE name plan: ${other.nodeName}")
    }
    TxCreateWithSpecs(rewritePartitionedCtas(cleaned), parts, ids, gens,
      ct.ignoreIfExists, clusterColsOf(ct.partitioning), dflts, notNulls)
  }

  /** `CREATE TABLE … USING txtable PARTITIONED BY (…) AS SELECT`:
    * Spark's DSv1 CTAS path drops `PARTITIONED BY` before the
    * provider ever sees it (the provider receives only the OPTIONS
    * map), which would silently write a FLAT layout under a catalog
    * entry claiming a partitioned one. Rewrite the plan to carry the
    * keys as the provider's `__partition_columns` option (the same
    * channel `DataFrameWriter.partitionBy` uses) and strip the
    * `partitioning` clause — like Delta, the table's own log is the
    * layout's source of truth, not the catalog. Identity transforms
    * only; bucket/days/… refuse loudly rather than silently flatten. */
  private def rewritePartitionedCtas(p: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{CreateTable, CreateTableAsSelect, OptionList, UnresolvedTableSpec}
    def txSpec(s: Any): Option[UnresolvedTableSpec] = s match {
      case u: UnresolvedTableSpec
          if u.provider.exists(_.equalsIgnoreCase("txtable")) => Some(u)
      case _ => None
    }
    def colsOf(partitioning: Seq[
        org.apache.spark.sql.connector.expressions.Transform]) =
      partitioning.map { tr =>
        val refs = tr.references
        if (tr.name == "identity" && refs.length == 1 &&
            refs(0).fieldNames.length == 1) refs(0).fieldNames.head
        else sys.error(
          s"txtable supports only PARTITIONED BY (column…); got: " +
            tr.describe)
      }
    def withOpt(spec: UnresolvedTableSpec, cols: Seq[String]) = {
      val json = cols.map(c =>
        "\"" + c.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
      spec.copy(optionExpression = OptionList(
        spec.optionExpression.options :+
          ("__partition_columns" ->
            org.apache.spark.sql.catalyst.expressions.Literal(json))))
    }
    p match {
      case ctas: CreateTableAsSelect if ctas.partitioning.nonEmpty &&
          txSpec(ctas.tableSpec).isDefined =>
        ctas.copy(partitioning = Nil,
          tableSpec = withOpt(txSpec(ctas.tableSpec).get,
            colsOf(ctas.partitioning)))
      // plain CREATE: record the keys as the option so the relation's
      // INSERT path partitions the first batch (catalog partitioning
      // would be dropped before a DSv1 provider anyway)
      case ct: CreateTable if ct.partitioning.nonEmpty &&
          txSpec(ct.tableSpec).isDefined =>
        ct.copy(partitioning = Nil,
          tableSpec = withOpt(txSpec(ct.tableSpec).get,
            colsOf(ct.partitioning)))
      case other => other
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** A txtable SQL statement as a leaf command: runs the [[TxSql]]
  * translation when the command executes, returning its rows under
  * the schema the parser declared. Driver-side work plus whatever
  * distributed jobs the dispatched engine path runs — identical cost
  * to calling `TxSql(spark).run(text)` directly. */
case class TxSqlStatement(sqlText: String, resultSchema: StructType)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(resultSchema)

  override def run(sparkSession: SparkSession): Seq[Row] =
    TxSql(sparkSession).run(sqlText).collect().toIndexedSeq
}

/** CREATE TABLE with identity and/or generated column specs, as one
  * command: run the spec-stripped CREATE (the ordinary catalog path),
  * then record each declaration on the fresh table — the columns are
  * engine-owned/derived from the table's first commit on, before any
  * data can land without allocation or enforcement. `inner` is a
  * constructor FIELD, not a child: it is a raw parsed plan that must
  * not be analyzed until this command executes it. */
case class TxCreateWithSpecs(inner: LogicalPlan,
    nameParts: Seq[String], ids: Seq[(String, Long, Long)],
    gens: Seq[(String, String)] = Nil,
    ignoreIfExists: Boolean = false,
    clusterBy: Seq[String] = Nil,
    dflts: Seq[(String, String, String)] = Nil,
    notNulls: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(sparkSession: SparkSession): Seq[Row] = {
    // CREATE TABLE IF NOT EXISTS on an existing table is a WHOLE-
    // STATEMENT no-op (the idempotent bootstrap-script idiom): the
    // inner CREATE would no-op, and the follow-up declarations must
    // not fire either — re-running would error "already declared",
    // and a pre-existing table created WITHOUT the specs must not
    // have its write contract changed by a statement that does
    // nothing. Without IF NOT EXISTS the inner CREATE refuses itself.
    if (ignoreIfExists) {
      // resolve existence via the MULTIPART identifier (a qualified
      // 3-part name must hit the same whole-statement no-op) against
      // PERMANENT tables only — a temp view shadowing the name must
      // not make the CREATE silently vanish
      if (TxSqlParser.realTableExists(sparkSession, nameParts))
        return Nil
    }
    org.apache.spark.sql.graft.ColumnShim
      .ofRows(sparkSession, inner).collect()
    val t = TxSql(sparkSession).resolveParts(nameParts)
    gens.foreach { case (n, e) => t.addGeneratedColumn(n, e) }
    ids.foreach { case (n, start, step) =>
      t.addIdentityColumn(n, start, step)
    }
    // `c T DEFAULT expr` — the write-side fill, declared ahead of
    // content with the DDL's own type; `c T NOT NULL` — enforced as a
    // CHECK constraint on every future write (the catalog's
    // nullability flag alone enforces nothing through DSv1)
    dflts.foreach { case (n, e, dt) =>
      t.setColumnDefaultDeclared(n, e,
        org.apache.spark.sql.types.DataType.fromDDL(dt))
    }
    notNulls.foreach(n => TxSqlParser.notNullConstraint(t, n))
    if (clusterBy.nonEmpty)
      t.setProperties(Map("txtable.clusterBy" -> clusterBy.mkString(",")))
    // the declaration commits landed AFTER the catalog entry: drop any
    // cached relation so the first read resolves the token-bearing head
    TxSql(sparkSession).refreshCatalog(nameParts)
    Nil
  }
}

object TxSqlParser {
  /** Backtick-quote one identifier part for a multipart name string. */
  private[plans] def quoteIdent(p: String): String =
    "`" + p.replace("`", "``") + "`"

  /** The PERMANENT-table identifier for 1/2/3-part session-catalog
    * names (None = unresolvable shape). */
  private[plans] def tableId(parts: Seq[String]): Option[TableIdentifier] =
    parts match {
      case Seq(t0) => Some(TableIdentifier(t0))
      case Seq(db, t0) => Some(TableIdentifier(t0, Some(db)))
      case Seq(cat, db, t0) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t0, Some(db)))
      case _ => None
    }

  /** Does a PERMANENT table exist under `parts`? `spark.catalog
    * .tableExists` also matches TEMP VIEWS — a temp view shadowing the
    * name must not make CREATE IF NOT EXISTS silently no-op, nor make
    * REPLACE TABLE drop the wrong object. */
  private[plans] def realTableExists(spark: SparkSession,
      parts: Seq[String]): Boolean =
    tableId(parts).exists(id =>
      try spark.sessionState.catalog.tableExists(id)
      catch { case _: Exception => false })

  /** Enforce a declared NOT NULL as an engine CHECK constraint. The
    * constraint NAME sanitizes to the engine's `[A-Za-z0-9_-]+` rule
    * and the EXPRESSION backtick-quotes the column, so a column name
    * with spaces/punctuation cannot kill the CREATE after its catalog
    * entry already landed. Sanitization can COLLIDE (`a b` and `a_b`
    * both map to `a_b_not_null`) — the exact half-created-table
    * failure the mangling exists to prevent — so a name already taken
    * disambiguates with a short hash of the RAW column. */
  private[plans] def notNullConstraint(t: graft.ops.TxTable,
      column: String): Unit = {
    val safe = column.map(c =>
      if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')
    val base = s"${safe}_not_null"
    val name =
      if (!t.constraints.contains(base)) base
      else f"${safe}_${column.hashCode & 0xffffff}%06x_not_null"
    t.addConstraint(name,
      s"`${column.replace("`", "``")}` IS NOT NULL")
    ()
  }

  /** Drop the PERMANENT table directly through the session catalog —
    * never through `DROP TABLE` SQL text, whose name resolution a
    * temp view can shadow. Managed tables lose their directory here,
    * Spark's own contract. */
  private[plans] def dropRealTable(spark: SparkSession,
      parts: Seq[String]): Unit =
    tableId(parts).foreach(id => spark.sessionState.catalog
      .dropTable(id, ignoreIfNotExists = true, purge = false))
}

/** `[CREATE OR] REPLACE TABLE … USING txtable`, as one command.
  * Spark's session catalog refuses REPLACE TABLE on v1 providers, so
  * the parser routes the plan here with Delta's semantics: the catalog
  * entry is re-created from the new definition, prior CONTENT at the
  * location is replaced by one `replace` commit — history stays
  * time-travelable, unlike a DROP+CREATE of the log itself — and the
  * engine-owned column declarations (identity / generated /
  * constraints) are RESET to the new definition's specs. Plain
  * `REPLACE TABLE` (no OR CREATE) requires the table to exist, same
  * as Spark's own contract. */
case class TxReplaceWithSpecs(inner: LogicalPlan, nameParts: Seq[String],
    ids: Seq[(String, Long, Long)], gens: Seq[(String, String)],
    orCreate: Boolean, declared: StructType,
    clusterBy: Seq[String] = Nil,
    dflts: Seq[(String, String, String)] = Nil,
    notNulls: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(sparkSession: SparkSession): Seq[Row] = {
    val quoted = nameParts.map(TxSqlParser.quoteIdent).mkString(".")
    val exists = TxSqlParser.realTableExists(sparkSession, nameParts)
    require(exists || orCreate,
      s"REPLACE TABLE: $quoted does not exist " +
        "(use CREATE OR REPLACE TABLE to create-or-replace)")
    // external DROP removes only the entry — the location's log and
    // data files survive for the time-travelable replace below
    if (exists) {
      // same guard as the RTAS path: REPLACE over another provider's
      // table would silently drop it (and a MANAGED one's data dir)
      TxSqlParser.tableId(nameParts)
        .map(sparkSession.sessionState.catalog.getTableMetadata)
        .foreach(m => require(
          m.provider.exists(_.equalsIgnoreCase("txtable")),
          s"REPLACE TABLE target $quoted is not a txtable table " +
            s"(provider: ${m.provider.getOrElse("none")})"))
      TxSqlParser.dropRealTable(sparkSession, nameParts)
    }
    org.apache.spark.sql.graft.ColumnShim
      .ofRows(sparkSession, inner).collect()
    val t = TxSql(sparkSession).resolveParts(nameParts)
    if (t.snapshot().version >= 0) {
      // the location held a prior table: reset the engine-owned
      // declarations (the new definition's specs re-land below), then
      // replace the content under the DECLARED schema
      t.identityColumns.keys.toSeq.sorted.foreach(n =>
        t.dropIdentityColumn(n))
      t.generatedColumns.keys.toSeq.sorted.foreach(n =>
        t.dropGeneratedColumn(n))
      t.constraints.keys.toSeq.sorted.foreach(n => t.dropConstraint(n))
      if (t.property("txtable.clusterBy").isDefined)
        t.unsetProperties(Seq("txtable.clusterBy"))
      // stale column-DEFAULT declarations reset like every other
      // engine-owned spec — the new definition's defaults re-land below
      val staleDflts = t.properties.keys
        .filter(k => graft.ops.TxTable.defaultKeyCol(k).isDefined).toSeq
      if (staleDflts.nonEmpty) t.unsetProperties(staleDflts.sorted)
      if (t.snapshot().files.nonEmpty)
        t.overwriteAs("replace", sparkSession.createDataFrame(
          java.util.Collections.emptyList[Row](), declared))
    }
    gens.foreach { case (n, e) => t.addGeneratedColumn(n, e) }
    ids.foreach { case (n, start, step) =>
      t.addIdentityColumn(n, start, step)
    }
    dflts.foreach { case (n, e, dt) =>
      t.setColumnDefaultDeclared(n, e,
        org.apache.spark.sql.types.DataType.fromDDL(dt))
    }
    notNulls.foreach(n => TxSqlParser.notNullConstraint(t, n))
    if (clusterBy.nonEmpty)
      t.setProperties(Map("txtable.clusterBy" -> clusterBy.mkString(",")))
    TxSql(sparkSession).refreshCatalog(nameParts)
    Nil
  }
}

/** `[CREATE OR] REPLACE TABLE … USING txtable … AS SELECT`, as one
  * command. The query is a constructor FIELD (raw parsed plan),
  * analyzed only when the command runs. Semantics follow the plain
  * REPLACE: an EXTERNAL target (LOCATION given, or the existing entry
  * is external) lands the query result as ONE `replace` commit at the
  * location — prior versions stay time-travelable — and then swaps
  * the catalog entry; a MANAGED target follows Spark's own semantics
  * (DROP removes the managed directory, the result lands as the fresh
  * table's first commit). The re-created entry addresses the data by
  * path, so it reads as an external table thereafter. */
case class TxReplaceAsSelect(query: LogicalPlan, nameParts: Seq[String],
    location: Option[String], partitionCols: Seq[String],
    clusterBy: Seq[String], orCreate: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val quoted = nameParts.map(TxSqlParser.quoteIdent).mkString(".")
    val id = nameParts match {
      case Seq(t0) => TableIdentifier(t0)
      case Seq(db, t0) => TableIdentifier(t0, Some(db))
      case Seq(cat, db, t0) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t0, Some(db))
      case _ => sys.error(
        s"cannot resolve ${nameParts.mkString(".")}")
    }
    val exists = TxSqlParser.realTableExists(sparkSession, nameParts)
    require(exists || orCreate,
      s"REPLACE TABLE: $quoted does not exist " +
        "(use CREATE OR REPLACE TABLE to create-or-replace)")
    val oldMeta =
      if (exists)
        Some(sparkSession.sessionState.catalog.getTableMetadata(id))
      else None
    oldMeta.foreach(m => require(
      m.provider.exists(_.equalsIgnoreCase("txtable")),
      s"REPLACE … AS SELECT target $quoted is not a txtable table " +
        s"(provider: ${m.provider.getOrElse("none")})"))
    val external = location.isDefined ||
      oldMeta.exists(_.tableType == CatalogTableType.EXTERNAL)
    val loc = location
      .orElse(oldMeta.flatMap(_.storage.locationUri.map(_.getPath)))
      .getOrElse(sparkSession.sessionState.catalog
        .defaultTablePath(id).getPath)
    val df = org.apache.spark.sql.graft.ColumnShim
      .ofRows(sparkSession, query)
    def land(t: graft.ops.TxTable, d: org.apache.spark.sql.DataFrame)
        : Unit =
      if (t.snapshot().version >= 0) {
        // prior table at the location: reset engine-owned
        // declarations, then replace content in ONE commit
        t.identityColumns.keys.toSeq.sorted.foreach(n =>
          t.dropIdentityColumn(n))
        t.generatedColumns.keys.toSeq.sorted.foreach(n =>
          t.dropGeneratedColumn(n))
        t.constraints.keys.toSeq.sorted.foreach(n =>
          t.dropConstraint(n))
        if (t.property("txtable.clusterBy").isDefined)
          t.unsetProperties(Seq("txtable.clusterBy"))
        t.overwriteAs("replace", d, layout = partitionCols)
        ()
      } else if (partitionCols.nonEmpty) {
        t.appendPartitioned(d, partitionCols); ()
      } else { t.append(d); () }
    if (external) {
      // write FIRST — the replace commit is the atomic step; the
      // catalog swap afterward is metadata-only
      land(graft.ops.TxTable(sparkSession, loc), df)
      if (exists) TxSqlParser.dropRealTable(sparkSession, nameParts)
      val partOpt =
        if (partitionCols.isEmpty) ""
        else {
          val json = partitionCols.map(c =>
            "\"" + c.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
            .mkString("[", ",", "]")
          s", `__partition_columns` '$json'"
        }
      sparkSession.sql(s"CREATE TABLE $quoted USING txtable " +
        s"OPTIONS (path '$loc'$partOpt)")
    } else {
      // managed: the drop deletes the directory, so MATERIALIZE the
      // replacement FIRST — the query may read the very table being
      // replaced, and a failing query must never destroy data. The
      // pinned blocks release even when the write throws. Landing goes
      // through saveAsTable so the re-created table stays MANAGED
      // (DROP keeps reclaiming its directory) and partitionBy rides
      // the writer's own channel — no parser dependence
      graft.ops.Checkpoints.using(df) { pinned =>
        pinned.count() // force evaluation before anything drops
        if (exists) TxSqlParser.dropRealTable(sparkSession, nameParts)
        var w = pinned.write.format("txtable")
        if (partitionCols.nonEmpty)
          w = w.partitionBy(partitionCols: _*)
        w.saveAsTable(quoted)
      }
    }
    if (clusterBy.nonEmpty)
      TxSql(sparkSession).resolveParts(nameParts).setProperties(
        Map("txtable.clusterBy" -> clusterBy.mkString(",")))
    TxSql(sparkSession).refreshCatalog(nameParts)
    Nil
  }
}

/** CTAS + `CLUSTER BY`: run the (cluster-stripped) CTAS through the
  * ordinary provider path, then persist the declared column set as the
  * `txtable.clusterBy` property — same contract as the plain CREATE's
  * declarative clustering. */
case class TxCtasWithCluster(inner: LogicalPlan,
    nameParts: Seq[String], clusterBy: Seq[String],
    ignoreIfExists: Boolean = false)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(sparkSession: SparkSession): Seq[Row] = {
    // IF NOT EXISTS over an existing table no-ops the inner CTAS —
    // the clusterBy property of the untouched table must not change
    val preExisting = ignoreIfExists &&
      TxSqlParser.realTableExists(sparkSession, nameParts)
    org.apache.spark.sql.graft.ColumnShim
      .ofRows(sparkSession, inner).collect()
    if (!preExisting) {
      TxSql(sparkSession).resolveParts(nameParts).setProperties(
        Map("txtable.clusterBy" -> clusterBy.mkString(",")))
      TxSql(sparkSession).refreshCatalog(nameParts)
    }
    Nil
  }
}
