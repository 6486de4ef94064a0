package graft.sources.tx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, PrunedFilteredScan, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ops.TxTable

/** [[graft.ops.TxTable]] as a Structured Streaming SOURCE —
  * `spark.readStream.format("graft.sources.tx").option("path", dir)` —
  * the read-side twin of `EventStreams.txCdcApplySink`: a pipeline can
  * now both LAND results transactionally and TAIL a transactional
  * table incrementally, the same loop Delta's streaming reader closes.
  *
  * Semantics (same contract as Delta's default streaming read):
  *  - offsets are COMMIT VERSIONS; micro-batch (from, to] emits exactly
  *    the rows the append commits in that window added. Exactly-once
  *    falls out of the log's immutability: a replayed batch re-reads
  *    the same committed versions, never a prefix of one;
  *  - compaction commits are content-neutral and silently skipped;
  *  - any other rewrite (overwrite / upsert / delete / restore) FAILS
  *    the stream by default — an append-only reader silently dropping
  *    a rewrite would un-count rows downstream. Opt in to
  *    `skipChangeCommits=true` (Delta's option of the same name) to
  *    ignore rewrites, or `readChangeFeed=true` to consume EVERY
  *    commit as row-level changes (`_change_type` /
  *    `_commit_version` columns): the initial snapshot arrives as
  *    inserts, appends as inserts, deletion-vector commits as the
  *    exact rows the vector killed, rewrites as their net
  *    delete+insert diff — batch CDF semantics, streamed;
  *  - `startingVersion` (Delta's streaming option) skips the initial
  *    snapshot and consumes commits from that version INCLUSIVE —
  *    mid-log starts work; a start below the vacuum/retention horizon
  *    fails loudly on the first missing file, never silently;
  *  - per-trigger admission is bounded by `maxCommitsPerTrigger`
  *    (commit count) and/or `maxBytesPerTrigger` (sum of the window
  *    commits' added-file sizes — commits vary wildly in size, so
  *    only the byte cap bounds batch COST; one over-cap commit is
  *    still admitted alone rather than stalling);
  *  - vacuuming files out of an unread window fails loudly (shared
  *    retention contract with restore/readChanges).
  *
  * Scale shape: `getOffset` is a driver-side log listing (O(checkpoint
  * interval) reads); each batch plans a plain parquet scan over ONLY
  * the new files — column pruning and predicate pushdown apply as in
  * any batch read, and no state is kept beyond the engine's own offset
  * checkpoint. */
final class DefaultSource extends StreamSourceProvider with DataSourceRegister
    with RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSinkProvider {

  override def shortName(): String = "txtable"

  // ---------------------------------------------------- streaming sink
  /** Structured Streaming SINK — `df.writeStream.format("txtable")
    * .option("path", dir)`: every micro-batch lands as ONE atomic
    * commit, with Delta's `(txnAppId, txnVersion)` idempotence riding
    * the commit log ([[TxTable.encodeTxn]]): the sink stamps each
    * commit with (appId, batchId) atomically with the data, and
    * `addBatch` SKIPS a batch whose id the table already records — a
    * crash between the table commit and the engine's offset write
    * replays the batch, and the replay re-emits NOTHING. `appId`
    * defaults to the query's `checkpointLocation` (the identity that
    * survives restarts); override with `txnAppId` when several queries
    * share a checkpoint convention or none is set.
    *
    * Modes:
    *  - Append (default): each batch appends;
    *    `writeStream.partitionBy(cols…)` builds/extends the hive
    *    layout, and identity tables allocate per batch;
    *  - Update + `mergeKeys=k1,k2` (+ optional `seqCol`): each batch is
    *    collapsed to its LAST change per key (`max_by` over `seqCol`
    *    when given — a batch can carry several updates per key) and
    *    applied latest-wins through the STATS-PRUNED [[TxTable.merge]]
    *    (update matched, insert unmatched) — the foreachBatch-free
    *    CDC-apply sink whose per-trigger rewrite is bounded by the
    *    files the batch's key range touches, never the table;
    *  - Complete: each batch atomically overwrites the table (the
    *    aggregate-snapshot shape).
    *
    * Scale shape: per trigger exactly the work of the equivalent batch
    * write — an append stages only the batch's rows; the upsert is the
    * stats-pruned rewrite. No sink-private state: the replay marker IS
    * a log token, so restart recovery costs one snapshot resolution. */
  override def createSink(ctx: SQLContext, params: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val o = opts(params)
    // trailing-slash-normalized: '/ck' and '/ck/' are the same
    // checkpoint, and a restart under the other spelling must keep
    // the same replay identity (prefer an explicit txnAppId when the
    // checkpoint path spelling can vary further, e.g. relative paths)
    val sinkTable = table(ctx, params)
    val appId = o.get("txnappid")
      .orElse(o.get("checkpointlocation").map { ck =>
        val id = ck.replaceAll("/+$", "")
        // compat: earlier releases derived the identity with a SINGLE
        // stripSuffix("/") — a checkpoint path ending in two-plus
        // slashes got a different appId. A job resuming such a
        // checkpoint must keep its old replay identity, or its last
        // committed batch re-applies across the upgrade: when the
        // new-form marker is absent but the old-form one exists, keep
        // the old id.
        val legacy = ck.stripSuffix("/")
        if (legacy != id && sinkTable.snapshot().version >= 0 &&
            sinkTable.txnVersion(id).isEmpty &&
            sinkTable.txnVersion(legacy).nonEmpty) legacy else id
      })
      .getOrElse(throw new IllegalArgumentException(
        "the txtable sink needs a transaction identity for exactly-once " +
          "replay protection: set option 'txnAppId' (or a " +
          "'checkpointLocation', which is used as the default identity)"))
    val mergeKeys = o.get("mergekeys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val seqCol = o.get("seqcol")
    if (outputMode == OutputMode.Update()) {
      require(mergeKeys.nonEmpty,
        "txtable sink in Update mode needs option 'mergeKeys' " +
          "(comma-separated upsert key columns)")
      // REQUIRED, not optional: a CDC stream routinely delivers two
      // changes for one key in one trigger, and without an ordering
      // column the merge's duplicate-key refusal would fail the batch
      // — which the engine then re-delivers forever (an unrecoverable
      // poison pill, since the replay guard only skips COMMITTED
      // batches). Demanding the ordering up front turns that runtime
      // wedge into a start-time message.
      require(seqCol.isDefined,
        "txtable sink in Update mode needs option 'seqCol' (the " +
          "column ordering changes per key — each batch keeps its " +
          "LAST change; without one, a batch carrying two changes " +
          "for a key could never be applied or skipped)")
    } else {
      require(mergeKeys.isEmpty,
        "option 'mergeKeys' implies Update (upsert) mode — " +
          s"got $outputMode")
      require(seqCol.isEmpty,
        "option 'seqCol' only applies with 'mergeKeys'")
    }
    new TxTableSink(sinkTable, appId, outputMode, mergeKeys,
      seqCol, partitionColumns)
  }

  // ------------------------------------------------------- batch read
  /** BATCH read — `spark.read.format("txtable").option("path", dir)` /
    * `CREATE TABLE t USING txtable OPTIONS (path ...)`: the standard
    * reader and SQL face of the table. Options `versionAsOf` (commit
    * version) and `timestampAsOf` (epoch millis or
    * 'yyyy-MM-dd HH:mm:ss[.f...]') time-travel exactly like the
    * programmatic `readAt`/`readAsOfTimestamp`. The relation is a
    * `PrunedFilteredScan`: pushed comparison filters become logged
    * min/max STATS PRUNING (per-column candidate sets intersect —
    * the same `pruneFiles` machinery as `readWhere`), so a narrow SQL
    * predicate over a z-ordered table opens a handful of files through
    * the plain `spark.sql` path too. Pruning is conservative-only and
    * every filter is left to Spark to re-apply (`unhandledFilters`
    * default), so results are exactly the unpruned read's.
    *
    * CACHING CAVEAT (catalog-named tables): Spark's
    * `FindDataSourceTable` caches the resolved relation, so
    * `spark.table("t")` serves the version PINNED at first resolution
    * until `spark.catalog.refreshTable("t")` — after an external
    * commit, refresh to see it. [[graft.ops.TxSql]] DML/DDL refreshes
    * the cache for catalog-named targets it just wrote;
    * path-addressed `txtable.`&#96;p&#96; reads build a fresh relation
    * per statement and are always live. */
  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    relation(ctx, parameters, None)

  /** [[SchemaRelationProvider]] face: a DECLARED schema lets
    * `CREATE TABLE t (cols…) USING txtable LOCATION p` target an
    * empty/not-yet-existing directory (Delta's create-then-insert
    * flow) — the declared schema serves until the first commit gives
    * the table real footers; on a non-empty table the actual schema
    * wins and Spark's own create-path check compares the two. */
  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation =
    relation(ctx, parameters, Some(schema))

  private def relation(ctx: SQLContext, parameters: Map[String, String],
      userSchema: Option[StructType]): BaseRelation = {
    val o = opts(parameters)
    val t = table(ctx, parameters)
    if (o.get("readchangefeed").exists(_.toBoolean))
      return cdfRelation(ctx, t, o, userSchema)
    require(!(o.contains("versionasof") && o.contains("timestampasof")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // head reads PIN the version resolved HERE, where the relation's
    // schema is captured — passing Long.MaxValue down to buildScan
    // would re-resolve at every scan, so a commit landing between
    // relation creation and scan (or between two scans of one query)
    // could serve data from a different version than the schema, or
    // mixed versions across scans
    val head = t.snapshot()
    val version: Long = o.get("versionasof").map(_.toLong)
      .orElse(o.get("timestampasof").map(s =>
        t.versionAsOf(TxTable.parseTsUtc(s))))
      .getOrElse(head.version)
    // ONE snapshot resolution for the whole relation: the empty check
    // and sizeInBytes below used to replay the log independently
    val pinnedSnap =
      if (version == head.version) head else t.snapshotAt(version)
    // dataless table + declared schema: a zero-row frame under that
    // schema (scans included) until the first DATA commit lands.
    // Keyed on the snapshot's FILE list, not version < 0: a fresh
    // CREATE-with-identity table already carries a metadata-only
    // declaration commit (v0, zero files) and must still serve the
    // declared schema, or INSERT resolution sees zero columns.
    val emptyDeclared = userSchema.isDefined &&
      (version < 0 || pinnedSnap.files.isEmpty)
    def emptyBase = ctx.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](), userSchema.get)
    val base0 = if (emptyDeclared) emptyBase else t.readPruned(version, Nil)
    // catalog reads arrive through the SchemaRelationProvider face and
    // Spark REQUIRES relation.schema == the catalog's stored schema —
    // an ORDER-sensitive check. File column order can legitimately
    // drift from the declared order (identity allocation appends its
    // column after the batch's), so present the declared order when
    // the name sets agree; a genuine name/type drift still surfaces
    // through Spark's own loud mismatch.
    val base = userSchema match {
      case Some(us) if !emptyDeclared &&
          us.fieldNames.length == base0.columns.length &&
          us.fieldNames.map(_.toLowerCase).toSet ==
            base0.columns.map(_.toLowerCase).toSet =>
        base0.select(us.fieldNames.toIndexedSeq
          .map(org.apache.spark.sql.functions.col): _*)
      case _ => base0
    }
    // partition keys recorded at CREATE time (the injected parser
    // moves PARTITIONED BY into the table's options — see the write
    // side) govern inserts through this relation too, so
    // `CREATE TABLE … PARTITIONED BY` + `INSERT INTO` builds the
    // hive layout from the first batch
    val insertPartCols: Seq[String] = o.get("__partition_columns")
      .toSeq.flatMap(
        org.apache.spark.sql.execution.datasources.DataSourceUtils
          .decodePartitioningColumns)
    // InsertableRelation gives the SQL face INSERT INTO / INSERT
    // OVERWRITE (each one atomic commit at the CURRENT head — inserts
    // are writes, never pinned to the relation's read version)
    new BaseRelation with PrunedFilteredScan with InsertableRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = base.schema
      override def needConversion: Boolean = false
      // accurate size unlocks AUTO-BROADCAST: BaseRelation's default
      // is spark.sql.defaultSizeInBytes (effectively infinite), so a
      // small txtable dimension joined to a big fact would ALWAYS
      // sort-merge — the single worst silent plan at scale. One lazy
      // driver-side stat pass over the pinned snapshot's files per
      // resolved relation (the local-FS LogStore cost shape; an
      // object-store backend reads sizes off the same listing that
      // returns names).
      // File.length() is 0 for a MISSING file, and a near-zero sum
      // would flip a large table into a doomed auto-broadcast — the
      // inverse of the problem this solves. Any unreadable file
      // (pinned old version raced by vacuum, non-local path) falls
      // back to the planner's conservative default instead.
      override lazy val sizeInBytes: Long =
        if (emptyDeclared) 0L
        else {
          // one stat per file: length() == 0 already marks a missing
          // file (the isFile pre-pass doubled the syscalls)
          val lens = pinnedSnap.files
            .map(f => new java.io.File(f).length())
          if (lens.forall(_ > 0L)) lens.sum
          else super.sizeInBytes
        }
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        doInsert(data, overwrite)
        // this relation was resolved (and version-pinned) BEFORE the
        // write; Spark's FindDataSourceTable cache would keep serving
        // it to every later catalog read of the same name, so `INSERT
        // INTO t` + `SELECT FROM t` would silently read pre-insert
        // data. The relation does not know its catalog name — drop the
        // whole relation cache (driver-side, re-resolution is
        // checkpoint-bounded log reads; plain-path INSERTs are rare)
        ctx.sparkSession.sessionState.catalog.invalidateAllCachedTables()
      }
      private def doInsert(data: DataFrame, overwrite: Boolean): Unit = {
        // SQL INSERT must mention every relation column, identity and
        // generated columns included — an ALL-NULL engine-owned column
        // means "not supplied" (DEFAULT semantics) and is dropped so
        // the engine allocates (identity) or computes (generated); any
        // real value falls through to the engine's loud
        // GENERATED-ALWAYS refusal / null-safe equality enforcement.
        // DEFAULTED columns get the same treatment: `INSERT INTO t
        // (k, v)` reaches the relation with the omitted column
        // null-padded by Spark's column-list resolution, so an
        // all-NULL defaulted column is "not supplied" and drops —
        // the engine's write-side fill then computes the default.
        // KNOWN TRADE (same as identity/generated): after Spark's
        // resolution, omission and an EXPLICITLY all-NULL batch are
        // indistinguishable here, so `INSERT … VALUES (1, NULL)`
        // alone fills the default; Delta distinguishes via
        // analyzer-side schema metadata a v1 relation never sees.
        // For EXISTS-defaulted columns (ADD COLUMN … DEFAULT) the
        // substitution is read-contract-CONSISTENT, not divergent:
        // the engine rejects explicit NULL writes there (NULL is
        // unrepresentable — reads are total), so the filled value is
        // exactly what any stored NULL would have read back as. For
        // current-only defaults (SET DEFAULT) mixed batches keep
        // their NULLs and store them honestly.
        // The probe also costs defaulted tables the identity path's
        // pin + one count-aggregate pass per insert — the price of
        // making SQL DEFAULT work at all through DSv1
        val dfltCols = t.properties.keys.collect {
          case k if k.startsWith(graft.ops.TxTable.DefaultPrefix) =>
            k.stripPrefix(graft.ops.TxTable.DefaultPrefix)
        }.toSet
        val idCols = (t.identityColumns.keySet ++
            t.generatedColumns.keySet ++ dfltCols)
          .intersect(data.columns.toSet).toSeq.sorted
        if (idCols.isEmpty) {
          if (overwrite) {
            t.overwriteAs("overwrite", data, layout = insertPartCols); ()
          } else if (insertPartCols.nonEmpty) {
            t.appendPartitioned(data, insertPartCols); ()
          } else { t.append(data); () }
        } else {
          // PIN the batch before the null-count probe: probing and
          // writing from two evaluations of the same query would let a
          // non-deterministic insert be all-NULL in the probe but
          // non-NULL in the write (or vice versa), flipping between
          // DEFAULT allocation and the GENERATED-ALWAYS refusal
          // mid-statement — both passes must see ONE materialization
          // (the same discipline as appendWithIdentity's pin)
          graft.ops.Checkpoints.using(data) { pinned =>
            val nn = pinned.agg(
              org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.col(idCols.head)),
              idCols.tail.map(c =>
                org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.col(c))): _*).head()
            val allNull = idCols.zipWithIndex
              .filter { case (_, i) => nn.getLong(i) == 0L }.map(_._1)
            val cleaned = pinned.drop(allNull: _*)
            if (overwrite) {
              t.overwriteAs("overwrite", cleaned, layout = insertPartCols); ()
            } else if (insertPartCols.nonEmpty) {
              t.appendPartitioned(cleaned, insertPartCols); ()
            } else { t.append(cleaned); () }
          }
        }
      }
      override def buildScan(requiredColumns: Array[String],
          filters: Array[Filter]): RDD[Row] = {
        // comparison filters -> [lo, hi] bounds per column; strict
        // comparisons use their inclusive envelope (conservative)
        val bounds = filters.toSeq.collect {
          case EqualTo(a, v)            => (a, Option(v), Option(v))
          case GreaterThan(a, v)        => (a, Option(v), None)
          case GreaterThanOrEqual(a, v) => (a, Option(v), None)
          case LessThan(a, v)           => (a, None, Option(v))
          case LessThanOrEqual(a, v)    => (a, None, Option(v))
          // IN gets its conservative [min, max] envelope — without it
          // `k IN (3, 5)` opened every file while `k = 3` pruned.
          // NaN/Infinity values can't feed the BigDecimal ordering
          // below — such a list falls through to an unpruned scan
          case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) &&
              (vs.forall {
                case d: java.lang.Double => !d.isNaN && !d.isInfinite
                case f: java.lang.Float  => !f.isNaN && !f.isInfinite
                case n => n.isInstanceOf[Number]
              } ||
                vs.forall(_.isInstanceOf[String])) =>
            if (vs.head.isInstanceOf[String]) {
              val ss = vs.map(_.asInstanceOf[String])
              (a, Option(ss.min: Any), Option(ss.max: Any))
            } else {
              val ds = vs.map(v => BigDecimal(v.toString))
              (a, Option(vs(ds.indexOf(ds.min))),
                Option(vs(ds.indexOf(ds.max))))
            }
        }
        val pruned =
          if (emptyDeclared) emptyBase else t.readPruned(version, bounds)
        // file-level pruning above is only HALF the skipping: the
        // filters must also reach the INNER parquet plan, where
        // Catalyst pushes them into the scan and row-group min/max
        // skipping engages within each candidate file (a 1 GiB file
        // whose stats overlap still skips most of its row groups).
        // Translating a SUBSET is safe — Spark re-evaluates every
        // filter above this scan regardless.
        import org.apache.spark.sql.functions.{col, lit}
        val pushed = filters.toSeq.flatMap {
          case EqualTo(a, v)            => Some(col(a) === lit(v))
          case GreaterThan(a, v)        => Some(col(a) > lit(v))
          case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
          case LessThan(a, v)           => Some(col(a) < lit(v))
          case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
          case IsNotNull(a)             => Some(col(a).isNotNull)
          case IsNull(a)                => Some(col(a).isNull)
          case In(a, vs)                => Some(col(a).isin(
            vs.toIndexedSeq: _*))
          case _                        => None
        }.reduceOption(_ && _)
        val filtered = pushed.map(pruned.where).getOrElse(pruned)
        val projected =
          if (requiredColumns.isEmpty) filtered.select()
          else filtered.select(requiredColumns.toIndexedSeq
            .map(org.apache.spark.sql.functions.col): _*)
        projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
      }
    }
  }

  /** BATCH CHANGE DATA FEED — the reader options Delta users replicate
    * tables with:
    *
    * {{{
    * spark.read.format("txtable").option("path", dir)
    *   .option("readChangeFeed", "true")
    *   .option("startingVersion", "1")          // inclusive; required
    *   .option("endingVersion", "7")            // inclusive; optional
    *   .load()                                  // …, _change_type, _commit_version
    * }}}
    *
    * `startingTimestamp` / `endingTimestamp` (epoch millis or
    * 'yyyy-MM-dd[ HH:mm:ss]', read as UTC — the session zone) resolve
    * to the first commit at-or-after / last commit at-or-before.
    * Rows are [[TxTable.readChanges]]'s net row-level changes over the
    * inclusive version window: appends as inserts, DV commits as the
    * exact killed rows, rewrites as their delete+insert diff. This
    * option surface IS the engine's SQL-adjacent batch CDF face (the
    * documented choice over a `table_changes` TVF: it composes with
    * `CREATE TABLE … USING txtable` catalog entries and needs no
    * analyzer extension); the STREAMING `readChangeFeed` option on
    * `readStream` is the continuous twin. */
  private def cdfRelation(ctx: SQLContext, t: TxTable,
      o: Map[String, String], userSchema: Option[StructType]): BaseRelation = {
    require(userSchema.isEmpty,
      "readChangeFeed derives its schema from the feed; do not pass one")
    require(!o.contains("versionasof") && !o.contains("timestampasof"),
      "readChangeFeed and versionAsOf/timestampAsOf are mutually " +
        "exclusive (the feed is a version WINDOW, not a snapshot)")
    require(!(o.contains("startingversion") && o.contains("startingtimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    require(!(o.contains("endingversion") && o.contains("endingtimestamp")),
      "endingVersion and endingTimestamp are mutually exclusive")
    val start: Long = o.get("startingversion").map(_.toLong)
      .orElse(o.get("startingtimestamp").map(s =>
        t.versionSince(TxTable.parseTsUtc(s))))
      .getOrElse(throw new IllegalArgumentException(
        "readChangeFeed needs 'startingVersion' or 'startingTimestamp' " +
          "(batch CDF reads a window, never an implicit full history)"))
    require(start >= 0, s"startingVersion must be >= 0, got $start")
    val end: Long = o.get("endingversion").map(_.toLong)
      .orElse(o.get("endingtimestamp").map(s =>
        t.versionAsOf(TxTable.parseTsUtc(s))))
      .getOrElse(Long.MaxValue)
    require(end >= start,
      s"endingVersion $end is below startingVersion $start")
    // readChanges is exclusive-from / inclusive-to; the option pair is
    // inclusive-inclusive (Delta's contract)
    val df = t.readChanges(start - 1, end)
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }
  }

  /** BATCH write — `df.write.format("txtable").mode(...).save()`:
    * Append commits through `TxTable.append` (schema-guarded,
    * constraint-enforced, stats-logged), Overwrite through
    * `TxTable.overwrite`; ErrorIfExists refuses a non-empty table,
    * Ignore is a no-op on one. Every mode lands as ONE atomic commit.
    *
    * `df.write.partitionBy(cols…)` reaches this provider as Spark's
    * `__partition_columns` option (a JSON name array) and dispatches
    * onto the hive-layout write paths — the files nest
    * `c1=v1/c2=v2/…` and every manifest/path pruning surface applies.
    * SQL `CREATE TABLE … USING txtable PARTITIONED BY (…) AS SELECT`
    * does NOT pass partitioning into a DSv1 provider; the injected
    * parser ([[graft.plans.TxSqlParser]]) rewrites such CTAS plans to
    * carry the same option, so under `GraftExtensions` the SQL face
    * partitions too (without the extension, spell it
    * `OPTIONS ('__partition_columns'='["c"]')`). */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val t = table(ctx, parameters)
    val partCols: Seq[String] = opts(parameters)
      .get("__partition_columns").toSeq.flatMap(
        org.apache.spark.sql.execution.datasources.DataSourceUtils
          .decodePartitioningColumns)
    def append(): Unit =
      if (partCols.nonEmpty) { t.appendPartitioned(data, partCols); () }
      else { t.append(data); () }
    val empty = t.snapshot().version < 0
    mode match {
      case SaveMode.Append => append()
      case SaveMode.Overwrite =>
        t.overwriteAs("overwrite", data, layout = partCols)
      case SaveMode.ErrorIfExists =>
        require(empty, s"table already exists (use mode Append/Overwrite)")
        append()
      case SaveMode.Ignore => if (empty) append()
    }
    createRelation(ctx, parameters)
  }

  private def opts(params: Map[String, String]): Map[String, String] =
    params.map { case (k, v) => k.toLowerCase -> v }

  private def table(ctx: SQLContext, params: Map[String, String]): TxTable = {
    val raw = opts(params).getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))
    // catalog tables hand the LOCATION down as a file: URI — the local
    // log store wants a filesystem path
    val path =
      if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
    TxTable(ctx.sparkSession, path)
  }

  override def sourceSchema(
      ctx: SQLContext, schema: Option[StructType], providerName: String,
      params: Map[String, String]): (String, StructType) = {
    val t = table(ctx, params)
    val snap = t.snapshot()
    require(snap.files.nonEmpty,
      "cannot infer the stream schema from an empty table: commit data " +
        "first (the schema is read from the snapshot's parquet footers)")
    // LOGICAL schema: a renamed column streams under its current name.
    // Resolved through the memoized path — the full-relation plan just
    // for columns is an O(active files) listing
    val base = t.logicalSchema(snap)
    // `readStream.table("t")` relays the CATALOG's recorded schema as
    // a user schema — often EMPTY (path-addressed entries defer their
    // schema to the relation), which means "infer", and otherwise
    // accepted when it agrees with the snapshot (name -> type,
    // nullability ignored: the catalog and the footers disagree on it
    // freely). A CONTRADICTORY schema still refuses: the snapshot is
    // the truth, silently streaming under a stale catalog shape would
    // mis-type columns downstream.
    schema.filter(_.nonEmpty).foreach { s =>
      def shape(st: StructType) =
        st.fields.map(f => (f.name.toLowerCase, f.dataType.sql)).toSeq
      require(shape(s) == shape(base),
        "the txtable source derives its schema from the table's " +
          s"snapshot ($base); the provided schema disagrees: $s")
    }
    val withCdc =
      if (opts(params).get("readchangefeed").exists(_.toBoolean))
        TxTableSource.cdcSchema(base)
      else base
    (shortName(), withCdc)
  }

  override def createSource(
      ctx: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, params: Map[String, String]): Source = {
    val o = opts(params)
    def positive(key: String): Option[Long] = o.get(key).map { v =>
      val n = v.toLong
      require(n > 0, s"$key must be positive, got $n")
      n
    }
    val cdc = o.get("readchangefeed").exists(_.toBoolean)
    val skip = o.get("skipchangecommits").exists(_.toBoolean)
    require(!(cdc && skip),
      "readChangeFeed consumes every commit as row-level changes; " +
        "skipChangeCommits would contradict that — pick one")
    val startV = o.get("startingversion").map { v =>
      val n = v.toLong
      require(n >= 0, s"startingVersion must be >= 0, got $n")
      n
    }
    new TxTableSource(ctx, table(ctx, params),
      skipChangeCommits = skip,
      maxCommitsPerTrigger = positive("maxcommitspertrigger"),
      maxBytesPerTrigger = positive("maxbytespertrigger"),
      readChangeFeed = cdc,
      startingVersion = startV)
  }
}

object TxTableSource {
  /** The change-feed stream schema: the table's columns plus
    * [[graft.ops.TxTable.readChanges]]'s `_change_type` /
    * `_commit_version` tags. The tags are never null in practice, but
    * they are DECLARED nullable: the batch frames forwarded into the
    * stream are built from unions/diffs whose inferred nullability
    * varies by window shape, and a declared-non-nullable schema over a
    * nullable batch column is a runtime analysis error, not a safety
    * win. */
  private[tx] def cdcSchema(base: StructType): StructType =
    StructType(base.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true))
}

final class TxTableSource(
    ctx: SQLContext, t: TxTable, skipChangeCommits: Boolean,
    maxCommitsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    readChangeFeed: Boolean = false,
    startingVersion: Option[Long] = None)
    extends Source {

  private val spark = ctx.sparkSession

  override val schema: StructType = {
    // LOGICAL names, matching both [[DefaultSource.sourceSchema]] and
    // the frames getBatch emits (which are toLogical'd) — the raw
    // physical-name read would disagree on a pre-renamed table — and
    // memoized, never an O(active files) relation plan
    val base = t.logicalSchema(t.snapshot())
    if (readChangeFeed) TxTableSource.cdcSchema(base) else base
  }

  /** Highest version this source has already handed to the engine —
    * the base the per-trigger rate limit counts from. Volatile, not
    * persisted: on restart the engine replays its own checkpointed
    * batch first (`getBatch` re-seeds this), so the cap is a SOFT
    * throughput bound exactly like Delta's `maxFilesPerTrigger`, never
    * a correctness device. */
  @volatile private var servedThrough: Option[Long] = None

  /** The base version the NEXT window counts from: what the engine has
    * consumed, else `startingVersion - 1` (Delta's streaming
    * `startingVersion` skips the initial snapshot and consumes commits
    * from that version INCLUSIVE — mid-log starts included; a vacuumed
    * window then fails loudly on its missing files, never silently),
    * else None = the initial-snapshot contract. */
  private def baseVersion: Option[Long] =
    servedThrough.orElse(startingVersion.map(_ - 1))

  /** Head version, capped by the admission limits when rate limiting
    * is on (Delta's `maxFilesPerTrigger` / `maxBytesPerTrigger` option
    * pair, in this log's units):
    *
    *  - `maxCommitsPerTrigger` bounds the window to that many commits;
    *  - `maxBytesPerTrigger` walks the pending commits accumulating
    *    the byte totals RECORDED IN THEIR LOG ENTRIES
    *    ([[graft.ops.TxTable.Commit.bytes]] / `rmBytes`, stamped at
    *    commit time) — O(pending commits) driver-side log reads
    *    ([[graft.ops.TxTable.commitsBetween]] reads only the window's
    *    entries, never a replay from version 0), zero data-file stats,
    *    so the walk survives vacuumed files and costs no object-store
    *    round trips — and cuts the window before the commit that would
    *    exceed the cap, stopping the walk right there. A commit's
    *    CHARGE matches what its batch actually reads: added bytes in
    *    append mode, added + removed bytes in `readChangeFeed` mode
    *    (reconstructing a rewrite's row-level diff reads the removed
    *    files too), and zero for compaction commits, which every mode
    *    skips without reading a byte — charging them would over-
    *    throttle a stream around each compaction. A legacy entry
    *    without a recorded size is treated as cap-exhausting (admitted
    *    alone if first, else deferred): an unknown size must never be
    *    admitted as free. Commits vary wildly in size, so a
    *    commit-count cap alone does not bound batch COST; the byte cap
    *    does. At least one commit is always admitted — a single
    *    over-cap commit must pass, or the stream stalls forever.
    *
    * Bounding a micro-batch keeps its scan, its downstream state
    * update, and its sink transaction sized to O(cap) no matter how
    * far behind the stream falls — without it, a consumer catching up
    * on a week of backlog plans ONE batch over the whole backlog. The
    * initial snapshot batch is intentionally uncapped: it reads one
    * coherent version, not a commit window. */
  override def getOffset: Option[V1Offset] = {
    val v = t.snapshot().version
    if (v < 0) None
    else {
      val capped = baseVersion match {
        case Some(p) =>
          val byCommits = maxCommitsPerTrigger.map(m => p + m)
          val byBytes = maxBytesPerTrigger.map { cap =>
            var acc = 0L
            var last = p
            var open = true
            var admitted = false
            // LAZY: entry reads stop at cap exhaustion — the eager
            // window read made week-long catch-ups quadratic
            val it = t.commitsIterator(p, v)
            while (open && it.hasNext) {
              val c = it.next()
              if (c.action == "compact" || c.action == "constraint") {
                // content-neutral in every mode — every getBatch path
                // skips compaction and metadata-only constraint commits
                // without reading a byte, so they ride along free
                // instead of throttling the stream around them
                last = c.version
              } else {
                // charge what the BATCH will read: CDC diffs a rewrite
                // against its removed files, so the charge is add +
                // remove bytes there; append mode reads added files
                // only. Either total unknown → cap-exhausting. A
                // remove list holding only metadata tokens (an
                // identity append's high-water swap) is not a rewrite.
                val needRm = readChangeFeed &&
                  c.remove.exists(!TxTable.isMetaToken(_))
                val known = c.bytes >= 0 && (!needRm || c.rmBytes >= 0)
                val cost =
                  if (!known) cap
                  else if (needRm) c.bytes + c.rmBytes
                  else c.bytes
                if (!admitted) {
                  // always admit the first pending non-compact commit,
                  // whatever its size — then close the window if it
                  // already fills (or is of unknown, i.e. potentially
                  // unbounded, size)
                  admitted = true
                  last = c.version
                  acc = cost
                  if (acc >= cap) open = false
                } else if (known && cost <= cap - acc) {
                  acc += cost; last = c.version
                } else open = false
              }
            }
            last
          }
          (Seq(v) ++ byCommits ++ byBytes).min
        case None => v
      }
      if (capped <= baseVersion.getOrElse(-1L)) {
        // head is ahead of the base yet not one commit could be
        // admitted: the walk hit a MISSING entry at base+1 (the
        // always-admit-first rule advances past any live entry, so
        // only a cleaned log stops it). Silence here would stall the
        // stream forever while looking idle.
        require(v <= baseVersion.getOrElse(-1L),
          s"streaming offset walk stuck at v${baseVersion.getOrElse(-1L)} " +
            s"with head v$v: commit entries missing from the log " +
            "(cleaned by cleanupLog, or startingVersion below the " +
            "retention floor?) — restart from a fresh checkpoint or a " +
            "resolvable startingVersion")
        None
      } else Some(LongOffset(capped))
    }
  }

  private def ver(o: V1Offset): Long = o match {
    case LongOffset(v)          => v
    case SerializedOffset(json) => json.trim.toLong
    case other                  => other.json.trim.toLong
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    servedThrough = Some(math.max(ver(end), servedThrough.getOrElse(-1L)))
    // `startingVersion` replaces the initial-snapshot batch with a
    // window from that version INCLUSIVE (Delta's streaming option of
    // the same name): the first engine call arrives with start=None,
    // and the option supplies the missing base
    val s0: Option[Long] =
      start.map(ver).orElse(startingVersion.map(_ - 1))
    val batch = (s0, readChangeFeed) match {
      case (None, false) =>
        // Initial batch: the FULL SNAPSHOT as of the first offset —
        // Delta's streaming-read contract, deletion vectors applied
        // (readAt reads CONTENT). Pre-stream history may hold any
        // commit shape (overwrites, deletes, restores); only
        // post-start commits must be append-only. Deterministic on
        // replay: the engine re-calls with the same `end` version.
        t.readAt(ver(end))
      case (None, true) =>
        // CDC initial batch: the starting snapshot surfaces as inserts
        // at the start version (Delta's readChangeFeed startingVersion
        // contract), so a consumer building a replica from the stream
        // alone sees base + changes.
        t.readAt(ver(end))
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
          .withColumn("_commit_version", org.apache.spark.sql.functions.lit(ver(end)))
      case (Some(s), true) =>
        // CDC window: [[TxTable.readChanges]] reconstructs each
        // commit's NET row changes — appends as inserts, DELETION
        // VECTOR commits as row-level deletes (the exact rows the new
        // vector killed, once), rewrites as their delete+insert
        // diff. Nothing fails and nothing is skipped wholesale: this
        // closes the batch-CDF vs stream gap for merge-on-read
        // deletes. Deterministic on replay — the feed is a pure
        // function of the immutable log window. (Schema alignment
        // happens uniformly below.)
        t.readChanges(s, ver(end))
      case (Some(s), false) =>
        val window = t.commitsBetween(s, ver(end))
        // a short window means LOG ENTRIES are gone (cleanupLog below
        // an unread offset): serving the truncated window would
        // silently skip committed rows forever — the same loudness
        // contract as vacuumed data files
        require(window.size == ver(end) - s,
          s"streaming window (v$s, v${ver(end)}]: commit entries " +
            "missing from the log (cleaned by cleanupLog?) — restart " +
            "the stream from a fresh checkpoint or a resolvable " +
            "startingVersion")
        val files = window.flatMap { c =>
          c.action match {
            // a COPY INTO commit is an append whose add list also
            // carries the cp- source-file ledger — same token-filtered
            // consumption
            case "append" | "copy" =>
              // identity appends carry their high-water token swap in
              // the add/remove lists — tokens are log entries, not
              // files to scan
              t.resolveFiles(c.add.filterNot(TxTable.isMetaToken),
                s"streaming batch v${c.version}")
            // compaction is content-identical; constraint,
            // identity-declaration, and table-property commits are
            // metadata-only — none adds rows to the stream
            case "compact" | "constraint" | "identity" | "properties" |
                "gencol" | "protocol" =>
              // gencol declarations and protocol upgrades are token-only
              // commits too — erroring on them would poison-pill every
              // running stream over an ALTERed table
              Nil
            case other =>
              if (skipChangeCommits) Nil
              else sys.error(
                s"streaming read hit a '$other' commit at v${c.version}: " +
                  "this source is append-only past its starting snapshot. " +
                  "Set skipChangeCommits=true to ignore rewrites, " +
                  "readChangeFeed=true to consume them as row-level " +
                  "changes, or use readChanges() in batch for the full CDF.")
          }
        }
        // appended files carry PHYSICAL names: surface them under the
        // head's logical names (identical on never-renamed tables; a
        // rename mid-stream fails the stream above, so head ==
        // start-of-stream mapping on the live path)
        if (files.isEmpty) spark.createDataFrame(
          java.util.Collections.emptyList[Row](), schema)
        else t.toLogical(
          spark.read.option("basePath", t.tableDir).parquet(files: _*),
          t.snapshot())
    }
    // align EVERY branch to the fixed stream schema: the V1 engine
    // rebinds source attributes to the returned plan's output BY
    // POSITION, so a legally order-permuted append (guardSchema's
    // contract is name -> type, order free) or a window whose files
    // omit an evolved column would otherwise swap or crash — absent
    // columns null-fill, matching the merged-footer read semantics
    val have = batch.columns.toSet
    val aligned = batch.select(schema.fields.toSeq.map { f =>
      if (have.contains(f.name))
        org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.lit(null)
        .cast(f.dataType).as(f.name)
    }: _*)
    org.apache.spark.sql.graft.StreamingShim.asStreaming(aligned)
  }

  override def commit(end: V1Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The v1 sink behind [[DefaultSource.createSink]]. Stateless beyond
  * the table handle: replay detection reads the table's own `txn-`
  * marker, never sink memory — so it survives process death, which is
  * the whole point. */
final class TxTableSink(
    t: TxTable, appId: String, mode: OutputMode,
    mergeKeys: Seq[String], seqCol: Option[String],
    partitionCols: Seq[String]) extends Sink {

  /** Backtick-quote an identifier for SQL-text fragments. */
  private def q(c: String): String = "`" + c.replace("`", "``") + "`"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // replay guard: the engine re-delivers the last batch after a
    // crash between the table commit and its own offset write; the
    // marker committed WITH that batch's data answers "already
    // landed?" exactly (monotone batch ids per app, Delta's contract)
    if (t.txnVersion(appId).exists(_ >= batchId)) return
    val txn = Some((appId, batchId))
    // a ZOMBIE attempt of the same query can commit this batch between
    // the guard above and our commit: the engine-side txnSwap aborts
    // with TxnAlreadyApplied at commit time — the batch landed, skip
    try doAddBatch(batchId, data, txn)
    catch { case _: graft.ops.TxTable.TxnAlreadyApplied => () }
    maybeAutoCompact()
  }

  /** Post-commit AUTO-COMPACTION (Delta's `autoOptimize.autoCompact`):
    * a streaming sink is THE small-file generator — one-plus files per
    * trigger, thousands per day — and waiting for a human to run
    * OPTIMIZE is how tables die. When the table property
    * `txtable.autoCompact` is 'true', each batch checks (driver-side)
    * whether at least `txtable.autoCompact.minFiles` (default 50)
    * active files sit below `txtable.autoCompact.targetBytes`
    * (default 128 MiB), and
    * if so runs the partition-aware bin-pack, which rewrites ONLY the
    * qualifying small files, leaf by leaf. Best-effort by design: a
    * lost race or failure is swallowed — the data batch is already
    * committed and replay-protected; compaction is maintenance, never
    * a reason to fail a stream. Downstream is safe because compaction
    * commits are content-neutral to both the change feed and the
    * streaming source (they skip `compact` actions).
    *
    * Cost shape: data files are IMMUTABLE under content-unique names,
    * so sizes memoize perfectly — each file is statted at most once
    * over the sink's lifetime. The steady-state per-trigger cost is
    * O(new files in the batch) stat calls, never O(active files): a
    * long-lived sink over a 100k-file table pays for its own trigger's
    * handful of files, not a 100k-stat walk per batch. */
  private val sizeMemo = scala.collection.mutable.HashMap.empty[String, Long]
  private def sizeOf(f: String): Long = sizeMemo.getOrElseUpdate(f, {
    TxTableSink.statCalls.incrementAndGet()
    new java.io.File(f).length()
  })
  private def maybeAutoCompact(): Unit =
    try {
      // ONE snapshot-backed properties read per trigger (each
      // t.property call would replay the log again), consumed
      // case-insensitively: SET TBLPROPERTIES dedups keys that way,
      // so a case-variant key must still engage
      val props = t.properties
      def prop(k: String): Option[String] = {
        val kl = k.toLowerCase
        props.collectFirst { case (pk, v) if pk.toLowerCase == kl => v }
      }
      if (prop("txtable.autoCompact").exists(_.equalsIgnoreCase("true"))) {
        val target = prop("txtable.autoCompact.targetBytes")
          .map(_.toLong).getOrElse(128L * 1024 * 1024)
        val minFiles = prop("txtable.autoCompact.minFiles")
          .map(_.toInt).getOrElse(50)
        val files = t.snapshot().files
        val small = files.count { f =>
          val len = sizeOf(f)
          len > 0 && len < target
        }
        if (small >= minFiles) { t.compactBinPack(target); () }
        // keep the memo bounded by the LIVE set regardless of who
        // rewrote files (this sink's compaction, an external
        // OPTIMIZE, merge-mode rewrites) — without the prune, a
        // long-lived sink leaks one entry per historical file name
        if (sizeMemo.size > files.size * 2 + 64) {
          val live = t.snapshot().files.toSet
          sizeMemo.filterInPlace { case (k, _) => live.contains(k) }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def doAddBatch(batchId: Long, data: DataFrame,
      txn: Option[(String, Long)]): Unit = {
    // re-plant the streaming plan as a batch frame (ForeachBatchSink's
    // own device) — the table's writers execute it as ordinary batch
    val batch = org.apache.spark.sql.graft.StreamingShim.asBatch(data)
    if (mode == OutputMode.Update()) {
      import org.apache.spark.sql.functions.{col, expr}
      val cols = batch.columns
      val latest = seqCol match {
        case None => batch
        case Some(sc) => batch
          .groupBy(mergeKeys.map(col): _*)
          // backtick-quote every identifier: a reserved-word or
          // spaced/hyphenated column name must not wedge the stream
          // at expr-parse time (the poison pill the seqCol requirement
          // exists to prevent)
          .agg(expr(s"max_by(struct(${cols.map(q).mkString(", ")}), " +
            s"${q(sc)})").as("__r"))
          .select(cols.toSeq.map(c => col("__r").getField(c).as(c)): _*)
      }
      // pin: the merge evaluates the source several times (dup probe,
      // bounds agg, join) — one materialization for all passes
      // STATS-PRUNED latest-wins: update every matched row, insert
      // every unmatched one. merge() bounds the rewrite to files whose
      // logged key ranges overlap the batch — per-trigger cost is
      // O(touched files), where a full upsert would rewrite the WHOLE
      // table every micro-batch (the difference between a CDC sink
      // that scales to 100 TB and one that does not)
      graft.ops.Checkpoints.using(latest) { pinned =>
        t.merge(pinned, mergeKeys,
          whenMatchedUpdate =
            Some(org.apache.spark.sql.functions.lit(true)),
          whenNotMatchedInsert =
            Some(org.apache.spark.sql.functions.lit(true)),
          txn = txn)
        ()
      }
    } else if (mode == OutputMode.Complete()) {
      t.overwriteAs("overwrite", batch, layout = partitionCols,
        txn = txn); ()
    } else {
      if (partitionCols.nonEmpty) {
        t.appendPartitioned(batch, partitionCols, txn); ()
      } else { t.append(batch, txn); () }
    }
  }

  override def toString: String = s"TxTableSink[${t.tableDir}]"
}

object TxTableSink {
  /** Spec seam: real filesystem stat calls issued by the auto-compact
    * size walk across every sink instance (memo misses only). Data
    * files are immutable under content-unique names, so steady-state
    * growth per trigger must be O(new files in the batch), never
    * O(active files) — the spec counts this. */
  private[graft] val statCalls =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
