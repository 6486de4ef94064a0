package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, concat, count, element_at, expr, lit, monotonically_increasing_id, not, raise_error, row_number, spark_partition_id, struct, substring_index, to_json, when}

/** Transactional parquet table — the no-jar answer to the Delta/Iceberg
  * row of the survey: a versioned COMMIT LOG over plain parquet data
  * files, giving single-table ACID with snapshot isolation and
  * optimistic concurrency. The protocol is the public core of the
  * log-structured table formats (Delta's PROTOCOL.md / the Iceberg
  * spec, reduced to one table + one filesystem):
  *
  *  - data files are written FIRST, under content-unique names; they
  *    are invisible until a commit references them, so a crashed writer
  *    leaves garbage bytes, never a torn table;
  *  - a commit is the ATOMIC creation of `_log/<version>.json`,
  *    delegated to a pluggable [[LogStore]] — the protocol's ONLY
  *    storage-system-dependent step. On POSIX filesystems the default
  *    [[LogStore.HardLink]] writes the entry to a temp name and claims
  *    the version via `Files.createLink` (the hard-link syscall fails
  *    with EEXIST atomically — the filesystem's compare-and-swap); on
  *    object stores, which have NO atomic filesystem op,
  *    [[LogStore.ConditionalWrite]] issues one conditional PUT
  *    (`If-None-Match: *`) that the store arbitrates. Losing the race
  *    means another writer owns that version: re-read the log and
  *    retry — an append rebases as-is, a rewrite re-derives from the
  *    new head (optimistic concurrency, run by the one commit loop
  *    [[TxTable.optimistic]]). Readers can never observe a
  *    half-written entry: the LogStore contract requires full content
  *    to be visible the instant the path is;
  *  - a snapshot is the replay of log entries 0..N: active files =
  *    all adds minus all removes. Readers resolve a snapshot once and
  *    read ONLY its files — concurrent commits never tear a running
  *    query (snapshot isolation); old versions stay readable (time
  *    travel) until [[TxTable.vacuum]] reclaims unreferenced files;
  *  - rewrite actions (overwrite / upsert / compaction) remove the
  *    files they logically replace and add their rewrite in ONE log
  *    entry — atomically, by the same CAS.
  *
  * Scale shape: the log is driver-side JSON a few hundred bytes per
  * commit; every data operation is an ordinary distributed Spark job
  * over the snapshot's parquet files. Nothing row-scale ever passes
  * through the driver. Replay cost is bounded by CHECKPOINTS: every
  * [[TxTable.CheckpointInterval]] commits the winner also writes
  * `_log/<version>.ckpt.json` holding the fully-replayed active file
  * list, and snapshot resolution starts from the newest checkpoint at
  * or below the requested version — O(interval) log reads per
  * snapshot no matter how long the table lives (the same device as
  * Delta's `_last_checkpoint`). Checkpoints are pure accelerators:
  * best-effort, atomically linked like commits, and a missing or
  * torn one just falls back to full replay.
  */
object TxTable {

  /** Write a replay checkpoint every this-many commits. */
  val CheckpointInterval = 10

  /** Above this many inventory entries a checkpoint's file list moves
    * out of the CAS'd JSON header into a PARQUET SIDECAR
    * (`<version>.ckpt.parquet/`) — columnar, compressed, splittable,
    * read back as a distributed scan instead of a driver-side
    * multi-MB JSON parse (Delta's parquet checkpoints, the same
    * trade). `private[ops] var` ONLY so specs can force the sidecar
    * path on small tables; production leaves the default. */
  private[ops] var CheckpointParquetThreshold: Int = 10000

  /** Rows per parquet checkpoint part — bounds any single task's
    * share of a 100k-file inventory read. */
  val CheckpointParquetPartRows: Int = 100000

  /** VACUUM distribution gates — `private[ops] var` ONLY so specs can
    * force the distributed paths on small layouts; production keeps
    * the defaults (a flat or few-leaf table pays no job overhead). */
  private[ops] var VacuumDistributeMinDirs: Int = 8
  private[ops] var VacuumDistributeMinDeletes: Int = 2048

  /** Is `n` a file VACUUM may reclaim? Any parquet file in the
    * table's layout, not just engine-named ones: a CONVERTED table's
    * adopted files keep their original names, and a rewrite must be
    * able to retire them too (Delta's VACUUM reclaims any
    * unreferenced file the same way). */
  private[ops] def isReclaimableName(n: String): Boolean =
    n.startsWith("data-") || n.startsWith("dv-") ||
      (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))

  /** Recursive (rel-name, mtime) walk of one `col=value` subtree —
    * STATIC so VACUUM's distributed form can run it inside Spark
    * tasks (pure java.io, no table handle in the closure). */
  private[ops] def walkDataTree(d: java.io.File,
      prefix: String): Seq[(String, Long)] = {
    val kids = Option(d.listFiles())
      .getOrElse(Array.empty[java.io.File])
    kids.filter(f => f.isFile && isReclaimableName(f.getName))
      .map(f => (s"$prefix${f.getName}", f.lastModified())).toSeq ++
      kids.filter(f => f.isDirectory && f.getName.contains("="))
        .toSeq.flatMap(sub =>
          walkDataTree(sub, s"$prefix${sub.getName}/"))
  }


  /** `bytes` = total on-disk size of `add`'s files and `rmBytes` = of
    * `remove`'s files, both recorded AT COMMIT TIME so consumers can
    * reason about a commit's cost without ever stat-ing data files
    * (which may be vacuumed, or live on an object store where a
    * per-file stat is a round trip). `rmBytes` is what lets a CDC
    * consumer bound a rewrite's batch cost: reconstructing the
    * row-level diff reads the removed files too, so add-bytes alone
    * under-counts. -1 = unknown, for entries written before the field
    * existed or whose stat failed mid-commit: a byte-capped reader
    * treats unknown as cap-exhausting, never as free. */
  final case class Commit(
      version: Long, action: String,
      add: Seq[String], remove: Seq[String], ts: Long,
      bytes: Long = -1L, rmBytes: Long = -1L)

  /** `files` = active DATA files; `dvs` = active DELETION-VECTOR files
    * (merge-on-read deletes — see [[TxTable.deleteVectorBetween]]).
    * Both are absolute paths. `cts` = active CHECK-constraint tokens
    * (`ct-…`, see [[TxTable.encodeCt]]) — log entries, never files. */
  final case class Snapshot(version: Long, files: Seq[String],
      dvs: Seq[String], base: String, merged: Boolean = false,
      cts: Seq[String] = Nil, cms: Seq[String] = Nil) {
    /** RAW read of the data files — deletion vectors NOT applied (used
      * for schema resolution and wherever `dvs` is known empty; the
      * table's own read methods apply them). `basePath` keeps
      * hive-style `col=value` path segments parsing as partition
      * columns when files are read by explicit list; harmless for flat
      * tables. `merged` is set when the active history holds a
      * schema-evolving append ([[TxTable.appendEvolve]]): the scan then
      * union-merges file footers so columns absent from older files
      * read as null — the per-file footer reads (a Spark job) are the
      * documented cost of evolving without a log-recorded schema (Delta
      * records the schema in the log to skip them). An unevolved table
      * reads under one footer, decoded on the driver ([[scan]]). */
    def read(spark: SparkSession): DataFrame =
      if (files.isEmpty) spark.emptyDataFrame
      else scan(spark, files, Some(base), merged)
  }

  /** The one read of engine-written parquet `files`. For a file list
    * Spark infers the schema in a Spark job even when it merges
    * nothing: the job decodes the one footer it samples, the first of
    * the list sorted by path (`ParquetUtils.splitFiles`). Unless
    * `merged`, this decodes that same footer on the driver, with the
    * decode Spark's inference task runs, and passes it as the schema,
    * so the read plans without a job; partition columns under
    * `basePath` are still inferred from the paths. A `merged` list
    * (it may straddle a schema evolution) keeps Spark's all-footer
    * inference. A footer that cannot be decoded (its file deleted
    * under the snapshot, say) leaves the read to Spark, which reports
    * it as it always has. */
  private def scan(spark: SparkSession, files: Seq[String],
      basePath: Option[String] = None,
      merged: Boolean = false): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    val sampled =
      if (merged || files.isEmpty) None
      else try {
        val c = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            c.parquetReaderRespectUnknownTypeAnnotation)
        val path = files.min
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(
          new Path(path), footer(spark.sessionState.newHadoopConf(), path)),
          converter))
      } catch { case scala.util.control.NonFatal(_) => None }
    sampled.fold(reader.option("mergeSchema", merged.toString))(
      reader.schema).parquet(files: _*)
  }

  /** `path`'s parquet footer, opened with `conf`'s read options: the
    * one-argument `ParquetFileReader.open` builds its options from a
    * fresh Hadoop `Configuration`, re-parsing the XML defaults on
    * every open (7-9 ms a footer against 0.2-0.3 ms here, C1, 4 cores). */
  private def footer(conf: Configuration, path: String): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(new Path(path), conf)
    val options = HadoopReadOptions.builder(conf).build()
    val reader = ParquetFileReader.open(in, options)
    try reader.getFooter finally reader.close()
  }

  /** One commit attempt: the entry's action and add/remove lists, the
    * stats sidecar lines of its data files, and the files this attempt
    * staged for itself (discarded if it loses the race). */
  private final case class Proposal(action: String, add: Seq[String],
      remove: Seq[String] = Nil, stats: Seq[String] = Nil,
      staged: Seq[String] = Nil)

  /** A staging that may outlive a lost race ([[TxTable.restaging]]): its
    * files, whether it still holds at a later head, and the proposal it
    * makes at a head. */
  private final case class Staged(files: Seq[String],
      holds: Snapshot => Boolean, propose: Snapshot => Proposal)

  /** Where [[TxTable.stage]] lays its part files out under the table
    * root: like `base`'s files, hive-partitioned on the given physical
    * columns (Nil: flat), or inside one existing leaf directory (""
    * the flat root) with that leaf's path columns dropped. */
  private sealed trait Placement
  private final case class AsBase(base: Snapshot) extends Placement
  private final case class PartitionedBy(cols: Seq[String])
      extends Placement
  private final case class IntoLeaf(leaf: String) extends Placement

  /** Is `rel` (a table-relative name, possibly partition-qualified) a
    * deletion-vector file? DV files flow through the commit log's
    * add/remove lists exactly like data files — the name prefix is the
    * only discriminator, so the log format never changed for them. */
  private[graft] def isDvName(rel: String): Boolean =
    rel.substring(rel.lastIndexOf('/') + 1).startsWith("dv-")

  /** Is `rel` a CHECK-constraint token? Constraints ride the commit
    * log's add/remove lists exactly like DV files — zero log-format
    * change — but never exist on disk; the reserved prefix partitions
    * them out of file replay. */
  private[ops] def isCtName(rel: String): Boolean = rel.startsWith("ct-")

  /** Constraint token: `ct-<name>.<base64url(expr)>`. base64url's
    * alphabet (A-Za-z0-9-_) contains neither the log codec's forbidden
    * characters nor '.', so the first '.' after the name is an
    * unambiguous separator and the token survives the JSON list
    * round-trip untouched. */
  private[ops] def encodeCt(name: String, expression: String): String =
    "ct-" + name + "." + java.util.Base64.getUrlEncoder.withoutPadding()
      .encodeToString(expression.getBytes(StandardCharsets.UTF_8))

  private[ops] def decodeCt(token: String): (String, String) = {
    val body = token.stripPrefix("ct-")
    val i = body.indexOf('.')
    (body.take(i), new String(
      java.util.Base64.getUrlDecoder.decode(body.drop(i + 1)),
      StandardCharsets.UTF_8))
  }

  // -------------------------------------------- column-mapping tokens
  /** COLUMN MAPPING rides the commit log exactly like constraints:
    * metadata tokens in the add/remove lists, zero log-format change.
    * `cm-<b64(logical)>.<b64(physical)>` records that logical column
    * name → on-disk (parquet) column name; `cmx-<b64(physical)>` is a
    * tombstone for a DROPPED physical column (still present in old
    * files, excluded from every read). Physical names never change
    * after a column is born — a RENAME is a pure metadata commit, the
    * Delta column-mapping ('name' mode) design that makes renaming a
    * column on a 100 TB table an O(1) operation instead of a rewrite. */
  private[ops] def isCmName(rel: String): Boolean = rel.startsWith("cm-")
  private[ops] def isCmxName(rel: String): Boolean = rel.startsWith("cmx-")

  private def b64(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding()
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s),
      StandardCharsets.UTF_8)

  private[ops] def encodeCm(logical: String, physical: String): String =
    "cm-" + b64(logical) + "." + b64(physical)

  private[ops] def decodeCm(token: String): (String, String) = {
    val body = token.stripPrefix("cm-")
    val i = body.indexOf('.')
    (unb64(body.take(i)), unb64(body.drop(i + 1)))
  }

  private[ops] def encodeCmx(physical: String): String =
    "cmx-" + b64(physical)

  private[ops] def decodeCmx(token: String): String =
    unb64(token.stripPrefix("cmx-"))

  // ------------------------------------------------ protocol versions
  /** PROTOCOL VERSIONING (Delta's minReaderVersion/minWriterVersion):
    * a `pv-<reader>.<writer>` log token records the minimum engine
    * capabilities the table's active features require; absent = (1, 1).
    * An engine whose caps fall short REFUSES loudly (read-side at
    * snapshot resolution, write-side at commit) instead of silently
    * misreading a feature it does not know — the contract that lets a
    * table format evolve under live mixed-version fleets. Column
    * mapping is the first gated feature: rename/drop auto-upgrade the
    * table to (2, 2) in the same atomic commit, because a v1 reader
    * ignoring mapping tokens would resurface renamed/dropped physical
    * columns. */
  val CurrentReader = 2
  // writer 3 = identity columns (allocation-aware appends); writer 2 =
  // column mapping + generated columns; reader 2 = column mapping
  val CurrentWriter = 3

  private[ops] def isPvName(rel: String): Boolean = rel.startsWith("pv-")

  /** GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS`): a
    * `gc-<b64(name)>.<b64(expr)>` token records that column `name` is
    * derived by `expr`. An append may OMIT the column — the engine
    * computes it at write time — and a batch that supplies it is
    * ENFORCED equal (null-safe) to the expression, so the invariant
    * can never drift. The canonical use is a derived partition key
    * (`event_date` from a timestamp): writers never hand-compute it
    * inconsistently, readers prune on it. */
  private[ops] def isGcName(rel: String): Boolean = rel.startsWith("gc-")

  private[ops] def encodeGc(name: String, expression: String): String =
    "gc-" + b64(name) + "." + b64(expression)

  private[ops] def decodeGc(token: String): (String, String) = {
    val body = token.stripPrefix("gc-")
    val i = body.indexOf('.')
    (unb64(body.take(i)), unb64(body.drop(i + 1)))
  }

  /** IDENTITY COLUMNS (Delta's `GENERATED ALWAYS AS IDENTITY`): an
    * `id-<b64(name)>.<start>.<step>.<highWater>` token records that
    * column `name` is engine-allocated: appends must OMIT it (ALWAYS
    * semantics — a supplied value is refused loudly), the engine
    * assigns `highWater + step, highWater + 2·step, …` and swaps the
    * token's new high-water IN THE SAME COMMIT as the data, so
    * allocation rides the commit CAS: a lost race re-reads the
    * winner's high-water and renumbers before retrying — uniqueness
    * without a lock, Delta's identity-high-water-mark device. Values
    * are unique and increasing, NOT guaranteed consecutive across
    * concurrent writers (also Delta's contract). */
  private[ops] def isIdName(rel: String): Boolean = rel.startsWith("id-")

  private[ops] def encodeId(name: String, start: Long, step: Long,
      highWater: Long): String =
    "id-" + b64(name) + s".$start.$step.$highWater"

  private[ops] def decodeId(token: String)
      : (String, Long, Long, Long) = {
    val body = token.stripPrefix("id-")
    val i = body.indexOf('.')
    val parts = body.drop(i + 1).split('.')
    (unb64(body.take(i)), parts(0).toLong, parts(1).toLong,
      parts(2).toLong)
  }

  /** TRANSACTION MARKERS (Delta's SetTransaction / `txnAppId` +
    * `txnVersion` idempotent-writes device): a
    * `txn-<b64(appId)>.<version>` token records the highest
    * application-chosen version `appId` has committed to this table.
    * A write carrying a txn identity swaps its app's token IN THE SAME
    * COMMIT as the data, so "did batch N land?" is answered by the log
    * itself — the streaming sink ([[graft.sources.tx.DefaultSource]])
    * skips a replayed micro-batch whose version is already recorded,
    * which is what makes a crash between the table commit and the
    * engine's offset write re-emit NOTHING. One token per app;
    * interleaved apps never disturb each other's marker. */
  private[graft] def isTxnName(rel: String): Boolean =
    rel.startsWith("txn-")

  private[graft] def encodeTxn(appId: String, version: Long): String =
    "txn-" + b64(appId) + s".$version"

  private[graft] def decodeTxn(token: String): (String, Long) = {
    val body = token.stripPrefix("txn-")
    val i = body.indexOf('.')
    (unb64(body.take(i)), body.drop(i + 1).toLong)
  }

  /** TABLE PROPERTIES (Delta's TBLPROPERTIES): a
    * `tp-<b64(key)>.<b64(value)>` token records one key → value pair.
    * Properties are advisory metadata the engine itself may honor
    * (e.g. `txtable.logRetentionVersions` drives [[cleanupLog]] at
    * OPTIMIZE time) and users query/pipe through tooling; they ride
    * the log like every other token — O(1) metadata commits, cloned
    * with the table, checkpoint-compacted. */
  private[ops] def isTpName(rel: String): Boolean = rel.startsWith("tp-")

  private[ops] def encodeTp(key: String, value: String): String =
    "tp-" + b64(key) + "." + b64(value)

  private[ops] def decodeTp(token: String): (String, String) = {
    val body = token.stripPrefix("tp-")
    val i = body.indexOf('.')
    (unb64(body.take(i)), unb64(body.drop(i + 1)))
  }

  /** COPY-INTO ledger (Delta's `COPY INTO` idempotence): a
    * `cp-<b64(source file path)>` token records that the source file
    * was already loaded into this table. The tokens commit ATOMICALLY
    * with the loaded content, so "which files are in?" is answered by
    * the log itself — a rerun of the same COPY (the scheduled-ingest
    * crash-retry shape) loads exactly the not-yet-recorded files,
    * never a duplicate row. One token per loaded file — the same
    * order as the data-file names the log already carries. */
  private[ops] def isCpName(rel: String): Boolean = rel.startsWith("cp-")

  private[ops] def encodeCp(path: String): String = "cp-" + b64(path)

  private[ops] def decodeCp(token: String): String =
    unb64(token.stripPrefix("cp-"))

  /** The `txtable.clusterBy` property value's column list — the ONE
    * parse every consumer (SQL face, engine-level DDL guards, the
    * rename swap) shares. */
  private[ops] def parseClusterCols(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** COLUMN DEFAULTS (Delta's default-values feature), carried on the
    * existing table-property tokens — no new token kind, no protocol
    * bump, checkpoint/clone/interop support for free:
    *  - `txtable.default.<col>` — the CURRENT default: a write that
    *    omits the column computes this expression at write time
    *    (compute-or-accept, like generated columns; an expression,
    *    so `current_date()` evaluates per insert);
    *  - `txtable.existsDefault.<col>` — the EXISTS default: bound to
    *    a LITERAL once at `ADD COLUMN … DEFAULT` time and applied on
    *    READ to rows physically lacking the column (files written
    *    before the evolve), so old rows surface the declared default
    *    instead of NULL. `ALTER COLUMN … SET/DROP DEFAULT` touches
    *    only the current default, Delta's own contract. */
  private[graft] val DefaultPrefix = "txtable.default."
  private[graft] val ExistsDefaultPrefix = "txtable.existsDefault."

  /** The column a default property key names, if it is one. */
  private[graft] def defaultKeyCol(k: String): Option[String] =
    if (k.startsWith(DefaultPrefix)) Some(k.stripPrefix(DefaultPrefix))
    else if (k.startsWith(ExistsDefaultPrefix))
      Some(k.stripPrefix(ExistsDefaultPrefix))
    else None

  /** Is `rel` ANY metadata token (constraint, column mapping, dropped
    * column, protocol version, generated column, identity column,
    * transaction marker, table property, copy-into ledger entry)?
    * The one predicate every consumer that wants DATA+DV files must
    * filter with — clone commits in particular carry the full token
    * set in their add list, so a consumer filtering only some
    * prefixes breaks on clones of tables that ever used the other
    * features. */
  private[graft] def isMetaToken(rel: String): Boolean =
    isCtName(rel) || isCmName(rel) || isCmxName(rel) ||
      isPvName(rel) || isGcName(rel) || isIdName(rel) ||
      isTxnName(rel) || isTpName(rel) || isCpName(rel)

  private[ops] def encodePv(reader: Int, writer: Int): String =
    s"pv-$reader.$writer"

  private[ops] def decodePv(token: String): (Int, Int) = {
    val body = token.stripPrefix("pv-")
    val i = body.indexOf('.')
    (body.take(i).toInt, body.drop(i + 1).toInt)
  }

  /** Thrown when a txn-carrying write finds its (appId, version)
    * already recorded at commit time — the batch landed through
    * another writer (zombie attempt); the caller must NOT retry. */
  final class TxnAlreadyApplied(val appId: String, val version: Long,
      val recorded: Long) extends RuntimeException(
    s"transaction ($appId, $version) already applied " +
      s"(recorded version $recorded) — a concurrent writer of the " +
      "same app committed this batch")

  /** Open (or initialize) a transactional table rooted at `dir`, with
    * the default POSIX hard-link commit CAS ([[LogStore.HardLink]]). */
  def apply(spark: SparkSession, dir: String): TxTable =
    apply(spark, dir, LogStore.HardLink)

  /** CONVERT an existing PLAIN-PARQUET directory into a transactional
    * table IN PLACE (Delta's `CONVERT TO DELTA`, the migration
    * headline): no byte is rewritten — one `convert` commit adopts
    * every parquet file at its existing name (flat files and one
    * level of hive `col=value/` partitions), mining their footers for
    * the same per-file min/max stats a staged write would log, so
    * data skipping works from version 0. From then on the directory
    * IS a TxTable: appends, DML, time travel, streaming tails, and
    * vacuum (which reclaims adopted-name files exactly like
    * engine-named ones once a rewrite retires them) all apply.
    * Refused on a directory that already has a commit log. */
  def convert(spark: SparkSession, dir: String,
      store: LogStore = LogStore.HardLink): TxTable = {
    val t = apply(spark, dir, store)
    t.convertInPlace()
    t
  }

  /** Open (or initialize) a transactional table whose commit CAS runs
    * through `store` — [[LogStore.HardLink]] on POSIX filesystems, a
    * [[LogStore.ConditionalWrite]] over the store's conditional-PUT API
    * on object stores. The rest of the protocol is store-agnostic. */
  def apply(spark: SparkSession, dir: String, store: LogStore): TxTable = {
    Files.createDirectories(Paths.get(dir, "_log"))
    new TxTable(spark, dir.stripSuffix("/"), store)
  }

  /** Parse a user-facing wall-clock string to epoch millis with an
    * EXPLICIT UTC interpretation: epoch millis pass through; otherwise
    * 'yyyy-MM-dd[ HH:mm:ss[.f…]]' is read as UTC. Every engine session
    * pins `spark.sql.session.timeZone=UTC` and commit timestamps are
    * epoch millis, so parsing via the JVM DEFAULT zone
    * (`java.sql.Timestamp.valueOf`) would shift time-travel / restore /
    * change-feed targets by the host's zone offset on any non-UTC
    * machine — the shared parser removes that host dependence. */
  private[graft] def parseTsUtc(s: String): Long =
    try s.trim.toLong
    catch { case _: NumberFormatException =>
      val t = s.trim.replace(' ', 'T')
      val ldt =
        if (t.contains("T")) java.time.LocalDateTime.parse(t)
        else java.time.LocalDate.parse(t).atStartOfDay()
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Minimal JSON codec for [[Commit]] — the log is OUR OWN output;
    * fields are longs, a known action enum, and UUID-based file names
    * (never containing quotes or brackets). */
  private[ops] def render(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"version":${c.version},"action":"${c.action}",""" +
      s""""add":${arr(c.add)},"remove":${arr(c.remove)},"ts":${c.ts},""" +
      s""""bytes":${c.bytes},"rmBytes":${c.rmBytes}}"""
  }

  private[ops] def parse(s: String): Commit = {
    def fail(k: String) = sys.error(s"log entry missing $k: $s")
    def long(k: String): Long =
      ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s)
        .getOrElse(fail(k)).group(1).toLong
    // absent in entries written before the field existed → unknown
    def longOr(k: String, default: Long): Long =
      ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(default)
    def str(k: String): String =
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(s)
        .getOrElse(fail(k)).group(1)
    def list(k: String): Seq[String] = {
      val body = ("\"" + k + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(s)
        .getOrElse(fail(k)).group(1)
      "\"([^\"]*)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    Commit(long("version"), str("action"), list("add"), list("remove"),
      long("ts"), longOr("bytes", -1L), longOr("rmBytes", -1L))
  }
}

final class TxTable private (spark: SparkSession, dir: String,
    store: LogStore) {
  import TxTable._

  /** The table's root directory (Delta's `location`). */
  def location: String = dir

  private def logDir = s"$dir/_log"

  private def logFile(v: Long): File = new File(f"$logDir/$v%020d.json")

  private def ckptFile(v: Long): File =
    new File(f"$logDir/$v%020d.ckpt.json")

  /** Instrumentation seams (per-instance, test-only consumers): every
    * full `_log` directory LIST and every log-entry read counts here,
    * so specs can pin the bounded-resolution contract ("a head resolve
    * on a pointered table does ZERO listings and O(interval) entry
    * reads") instead of trusting the comment. */
  private[ops] val logListings = new java.util.concurrent.atomic.AtomicLong
  private[ops] val entryReads = new java.util.concurrent.atomic.AtomicLong

  private def readEntry(f: File): Commit = {
    entryReads.incrementAndGet()
    parse(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
  }

  /** (commit entries, checkpoint entries), each (version, file) sorted.
    * An O(total commits) directory LIST — on an object store, an O(n)
    * LIST call per invocation. Hot paths (head resolution, incremental
    * log walks) avoid this entirely via [[lastCheckpointVersion]] +
    * [[probeEntries]]; what remains on this path is genuinely
    * whole-history work (history(), versionAsOf, retention cleanup). */
  private def listLog(): (Seq[(Long, File)], Seq[(Long, File)]) = {
    logListings.incrementAndGet()
    val fs = Option(new File(logDir).listFiles())
      .getOrElse(Array.empty[File]).toSeq
    def versions(suffix: String) = fs
      .filter(f => f.getName.length == 20 + suffix.length &&
        f.getName.endsWith(suffix) &&
        f.getName.take(20).forall(_.isDigit))
      .map(f => (f.getName.take(20).toLong, f)).sortBy(_._1)
    (versions(".json"), versions(".ckpt.json"))
  }

  // ------------------------------------- bounded log resolution
  /** `_log/_last_checkpoint` — Delta's pointer file: names the newest
    * checkpoint so readers start there instead of LISTing the whole
    * `_log` directory. Pure accelerator: best-effort, overwritten
    * monotonically after each checkpoint, and a torn/stale/missing
    * pointer just falls back to the full listing. */
  private def lastCkptPtr = new File(logDir, "_last_checkpoint")

  /** The pointer's checkpoint version, validated against the named
    * checkpoint entry actually existing (a pointer written moments
    * before a retention cleanup deleted its target must not be
    * trusted). None → caller takes the full-listing path. */
  private def lastCheckpointVersion(): Option[Long] =
    try {
      if (!lastCkptPtr.isFile) None
      else "\"version\":(\\d+)".r
        .findFirstMatchIn(new String(
          Files.readAllBytes(lastCkptPtr.toPath), StandardCharsets.UTF_8))
        .map(_.group(1).toLong)
        .filter(v => ckptFile(v).isFile)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Advance the pointer to checkpoint `v` (temp + atomic rename —
    * readers see old or new, never torn). Monotone: a slow writer
    * finishing an OLDER checkpoint after a newer one landed must not
    * regress the pointer. Best-effort like the checkpoint itself. */
  private def writeLastCkptPtr(v: Long): Unit =
    try if (lastCheckpointVersion().forall(_ < v)) {
      val tmp = new File(logDir, s".tmp-ptr-${java.util.UUID.randomUUID()}")
      Files.write(tmp.toPath,
        s"""{"version":$v}""".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.toPath, lastCkptPtr.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Commit entries `[startV, maxV]` probed BY NAME, stopping at the
    * first gap — O(run length) existence checks and zero directory
    * listings, which is what keeps head resolution and incremental log
    * walks O(pending) on a table with a million-commit history (the
    * listing itself was the last O(history) term; replay was already
    * checkpoint-bounded). Contiguity is inherent: a gap stops the
    * probe, exactly the `takeWhile` the listing paths apply. */
  private def probeEntries(startV: Long, maxV: Long): Seq[(Long, File)] = {
    val buf = Vector.newBuilder[(Long, File)]
    var v = startV
    var hit = true
    while (hit && v <= maxV) {
      val f = logFile(v)
      if (f.isFile) { buf += ((v, f)); v += 1 } else hit = false
    }
    buf.result()
  }

  /** Available commit history replay list (vacuum + checkpoint
    * fallback), oldest surviving entry first: on a log-retention-
    * cleaned table ([[cleanupLog]]) the run starts at the retention
    * floor instead of 0 — still contiguous from its own head, so a
    * mid-log gap (a commit not yet landed) still truncates.
    *
    * A missing prefix is adopted as a retention floor ONLY when a
    * CHECKPOINT at or above the oldest surviving entry exists: a
    * checkpoint is written strictly after its commit, so its presence
    * PROVES every version below it was once committed — the prefix
    * was deleted (cleanupLog, whose age guard may legitimately leave
    * the oldest survivor below the cut), not not-yet-committed. An
    * eventually-consistent listing surfacing v1 before v0 on a young
    * (checkpoint-less) table keeps the old contiguity rule: replay is
    * empty — never a wrong floor that would mislead history() or
    * versionAsOf. */
  private def commits(): Seq[Commit] = {
    val (cfs, ckpts) = listLog()
    val parsed = cfs.map { case (_, f) => readEntry(f) }
    val start = parsed.headOption.map(_.version).getOrElse(0L)
    if (start > 0L && !ckpts.exists(_._1 >= start)) Nil
    else parsed.zipWithIndex
      .takeWhile { case (c, i) => c.version == start + i }.map(_._1)
  }

  /** Full parsed commit log, oldest first — an O(history) listing +
    * replay; no user-triggered path may consume this (use
    * [[headCommit]] / [[commitsBetween]] / [[history]] instead). Kept
    * only for test assertions on short logs. */
  private[ops] def commitLog: Seq[Commit] = commits()

  /** The head commit ENTRY through the BOUNDED path: one snapshot
    * resolve (pointer + probe) plus one entry read — never a full-log
    * parse. The head entry always survives retention cleanup
    * ([[cleanupLog]] cuts strictly below its checkpoint), so the read
    * cannot gap. */
  private[ops] def headCommit: Commit = {
    val v = snapshot().version
    require(v >= 0, s"no commits in $logDir")
    readEntry(logFile(v))
  }

  /** Latest committed snapshot (version -1 = empty table). */
  def snapshot(): Snapshot = snapshotAt(Long.MaxValue)

  /** Time travel: the table as of `version` (inclusive). Resolution
    * starts from the newest checkpoint ≤ `version` when one exists, so
    * the log-read cost is O(CheckpointInterval), not O(history) — and
    * when the `_last_checkpoint` pointer covers the request, even the
    * directory LISTING is skipped: the run of entries past the
    * checkpoint is probed by name, O(interval) existence checks total
    * (the pointer trails the head by at most one interval). Time
    * travel BELOW the pointer takes the full listing — inherently a
    * history walk, and never on an ingest/read hot path. */
  def snapshotAt(version: Long): Snapshot = {
    def viaListing(): Snapshot = {
      val (cfs, ckpts) = listLog()
      val ck = ckpts.filter(_._1 <= version).lastOption
        .map { case (v, _) => readCkpt(v) }
      // log-retention guard: with no usable checkpoint and the v0
      // entry gone ([[cleanupLog]]), replay from scratch is
      // impossible — fail LOUDLY instead of resolving an empty table
      // for a version that once existed
      require(ck.isDefined || cfs.isEmpty || cfs.head._1 == 0L,
        s"cannot resolve version $version: the log was cleaned below " +
          s"v${(cfs.map(_._1) ++ ckpts.map(_._1)).min} (cleanupLog) — " +
          "earliest resolvable version is the oldest surviving checkpoint")
      // a checkpoint is only ever written after its commit exists, so
      // contiguity restarts at ck.version + 1
      val startV = ck.map(_.version + 1).getOrElse(0L)
      val tail = cfs
        .filter { case (v, _) => v >= startV && v <= version }
        .map { case (_, f) => readEntry(f) }
      val cs = tail.zipWithIndex
        .takeWhile { case (c, i) => c.version == startV + i }.map(_._1)
      buildSnapshot(ck, cs)
    }
    lastCheckpointVersion().filter(_ <= version) match {
      case Some(pv) =>
        afterPointerReadHook() // test seam: interleave a cleanup here
        // bounded path: zero listings — the pointer's checkpoint plus
        // a name-probed contiguous run above it. A concurrent cleanup
        // can delete the (stale) pointer's checkpoint or a probed
        // entry BETWEEN its existence check and the read — that read
        // throws, and the listing path (anchored at the newest
        // SURVIVING checkpoint) is the answer, not a crash.
        val fast =
          try {
            val ck = readCkpt(pv)
            val cs = probeEntries(pv + 1, version)
              .map { case (_, f) => readEntry(f) }
            Some(buildSnapshot(Some(ck), cs))
          } catch {
            // NoSuchFile/torn reads, and a parquet sidecar dir deleted
            // under the listing or the scan of its part files
            case _: java.io.IOException |
                _: java.io.UncheckedIOException |
                _: org.apache.spark.sql.AnalysisException => None
          }
        fast match {
          // anti-stale guard: cleanupLog advances the pointer BEFORE
          // deleting entries, so a probe that stopped short of the
          // requested version at a DELETION gap (a stale pointer read
          // racing a cleanup) always leaves the on-disk pointer ahead
          // of the probe's result — re-read it and fall back to the
          // listing path. Stopping AT the requested version is a
          // clean time travel, never a gap.
          case Some(snap) if !(snap.version < version &&
              lastCheckpointVersion().exists(_ > snap.version)) => snap
          case _ => viaListing()
        }
      case None => viaListing()
    }
  }

  /** Hydrated checkpoint entry at `v`: the header JSON, with a parquet
    * sidecar's inventory loaded back in (order-preserving) when the
    * header points at one. Memoized by version — checkpoint files are
    * immutable once CAS'd, so the memo can never serve a stale answer;
    * it's what keeps a busy committer from re-reading a 100k-file
    * inventory on every retry-loop resolve. */
  /** Test seam: fired between the bounded path's pointer read and its
    * probe, so specs can interleave a concurrent cleanup
    * deterministically (the anti-stale guard's race window). */
  private[ops] var afterPointerReadHook: () => Unit = () => ()

  @volatile private var ckptMemo: (Long, Commit) = (Long.MinValue, null)
  private def readCkpt(v: Long): Commit = {
    val memo = ckptMemo
    if (memo._1 == v) return memo._2
    val header = readEntry(ckptFile(v))
    val hydrated = header.add match {
      case Seq(ref) if ref.startsWith("pqref:") =>
        val sq = spark
        import sq.implicits._
        val sidecar = new File(logDir, ref.stripPrefix("pqref:"))
        // a sidecar deleted under the fast path fails it like a torn read
        val parts = Option(sidecar.listFiles()).getOrElse(
          throw new java.io.FileNotFoundException(sidecar.getPath)).toSeq
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("."))
        val inv = scan(spark, parts.map(_.getPath))
          .select("i", "n").as[(Long, String)]
          .collect().sortBy(_._1).map(_._2).toSeq
        header.copy(add = inv)
      case _ => header
    }
    ckptMemo = (v, hydrated)
    hydrated
  }

  private def buildSnapshot(ck: Option[Commit], cs: Seq[Commit]): Snapshot = {
    val active = cs.foldLeft(ck.map(_.add.toVector).getOrElse(Vector.empty)) {
      (files, c) => files.filterNot(c.remove.contains) ++ c.add
    }
    val (ctRel, rest0) = active.partition(isCtName)
    // cm-/cmx-/pv-/gc- metadata tokens share the `cms` list (all
    // replay, checkpoint, and clone machinery carries them for free)
    val (cmRel, fileRel) = rest0.partition(isMetaToken)
    val (dvRel, dataRel) = fileRel.partition(isDvName)
    // evolved-schema marker survives checkpointing: the checkpoint
    // entry's action records whether any evolve preceded it
    val evolved = ck.exists(_.action == "ckpt-evolve") ||
      cs.exists(c => c.action == "evolve" || c.action == "clone-evolve" ||
        c.action == "merge-evolve")
    // READ-side protocol gate: an engine below the table's recorded
    // reader requirement must not resolve a snapshot at all — every
    // operation funnels through here, so nothing can silently misread
    // a gated feature
    val rmin = cmRel.find(isPvName).map(t => decodePv(t)._1).getOrElse(1)
    require(rmin <= readerCap,
      s"table requires reader protocol version $rmin; this engine " +
        s"supports $readerCap — upgrade the engine to read this table")
    val snap = Snapshot(
      cs.lastOption.map(_.version)
        .orElse(ck.map(_.version)).getOrElse(-1L),
      dataRel.map(f => s"$dir/$f"), dvRel.map(f => s"$dir/$f"), dir,
      merged = evolved, cts = ctRel, cms = cmRel)
    // memo for tryCommit's write gate: the committer resolved this very
    // snapshot moments ago in its retry loop — a stale/raced entry only
    // costs one re-resolve, never a wrong answer
    protoMemo = (snap.version, protocolOf(snap)._2)
    // same flow for the in-commit-timestamp floor (tryCommit's prev)
    cs.lastOption.foreach(c2 => tsMemo = (c2.version, c2.ts))
    // advisory memo for maybeCheckpoint's widened-interval skip —
    // reading the property THERE would cost a full snapshot resolve
    // per skipped base-interval candidate; the committer always
    // resolves its head right before committing, so this is fresh
    seenCkptInterval = cmRel.filter(isTpName).map(decodeTp)
      .collectFirst { case (k, v)
          if k.equalsIgnoreCase("txtable.checkpointInterval") => v }
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(0L)
    snap
  }

  @volatile private var protoMemo: (Long, Int) = (Long.MinValue, 1)

  /** Engine capability caps — `private[ops]` mutable ONLY so the spec
    * can impersonate an older engine; production code never writes
    * them. */
  private[ops] var readerCap: Int = TxTable.CurrentReader
  private[ops] var writerCap: Int = TxTable.CurrentWriter

  /** The (minReader, minWriter) protocol requirement of snapshot `s`;
    * (1, 1) when the table never needed more. */
  def protocolOf(s: Snapshot): (Int, Int) =
    s.cms.find(TxTable.isPvName).map(TxTable.decodePv).getOrElse((1, 1))

  /** The head snapshot's protocol requirement. */
  def protocol: (Int, Int) = protocolOf(snapshot())

  /** Raise the table's recorded protocol requirement (metadata-only
    * commit, action `protocol`). Refused: downgrades, no-ops, and
    * requirements beyond this engine's own capabilities (a writer must
    * never demand what it cannot itself do). Feature DDL that needs a
    * gate (column mapping) upgrades automatically in its own commit —
    * this is the explicit form for operators preparing a fleet
    * migration. */
  def upgradeProtocol(minReader: Int, minWriter: Int): Commit = {
    require(minReader <= TxTable.CurrentReader &&
      minWriter <= TxTable.CurrentWriter,
      s"cannot require ($minReader, $minWriter): this engine itself " +
        s"supports only (${TxTable.CurrentReader}, ${TxTable.CurrentWriter})")
    commitLoop("upgradeProtocol") { head =>
      val (r0, w0) = protocolOf(head)
      require(minReader >= r0 && minWriter >= w0,
        s"protocol downgrade refused: table requires ($r0, $w0)")
      require(minReader > r0 || minWriter > w0,
        s"table already requires ($r0, $w0)")
      Proposal("protocol", Seq(TxTable.encodePv(minReader, minWriter)),
        head.cms.filter(TxTable.isPvName))
    }
  }

  /** DESCRIBE HISTORY: one row per commit, newest first — version,
    * action, timestamp, add/remove file counts and recorded byte
    * totals. Driver-side log reads rendered as a DataFrame so history
    * is queryable/joinable like any table (Delta's `history()`);
    * file-name scale, never row scale. */
  def history(): DataFrame = {
    import spark.implicits._
    commits().sortBy(-_.version)
      .map(c => (c.version, c.action,
        new java.sql.Timestamp(c.ts),
        c.add.count(!isDvName(_)), c.add.count(isDvName),
        c.remove.size, c.bytes, c.rmBytes))
      .toDF("version", "action", "timestamp",
        "n_added", "n_added_dvs", "n_removed", "bytes", "rm_bytes")
  }

  /** Snapshot file inventory (Delta's `DESCRIBE DETAIL` file listing):
    * one row per ACTIVE file of the head snapshot — table-relative
    * name, kind (data | dv), on-disk size (-1 if the stat fails: the
    * file may live remote), and the partition value for
    * hive-partitioned names. Driver-side stat of active files only,
    * the same cost class as the manifest reads. */
  def fileDetails(): DataFrame = {
    import spark.implicits._
    val s = snapshot()
    def row(full: String, kind: String) = {
      val rel = full.stripPrefix(s"$dir/")
      val size =
        try Files.size(Paths.get(full))
        catch { case _: java.io.IOException => -1L }
      // FULL partition path for multi-key layouts (c1=v1/c2=v2)
      val part =
        if (rel.contains("/")) rel.take(rel.lastIndexOf('/')) else null
      (rel, kind, size, part)
    }
    (s.files.map(row(_, "data")) ++ s.dvs.map(row(_, "dv")))
      .toDF("file", "kind", "bytes", "partition")
  }

  // ------------------------------------------------- CHECK constraints
  /** Active CHECK constraints of the head snapshot, name → boolean SQL
    * expression. */
  def constraints: Map[String, String] = ctMap(snapshot())

  private def ctMap(s: Snapshot): Map[String, String] =
    s.cts.map(decodeCt).toMap

  /** ANSI CHECK semantics: a row VIOLATES iff the expression evaluates
    * to FALSE — NULL passes (unknown is not a violation), Delta's
    * CHECK-constraint contract. */
  private def violation(e: String): Column =
    not(coalesce(expr(e), lit(true)))

  /** Inline enforcement: wrap `df` so the WRITE JOB ITSELF fails on the
    * first violating row — a filter predicate that raises instead of
    * dropping. The check rides the normal write scan at zero extra
    * pass (Catalyst cannot prune a predicate away), the same inline
    * placement Delta uses; the error names the constraint and carries
    * the violating row as JSON. */
  private def enforced(df: DataFrame, cts: Map[String, String]): DataFrame =
    cts.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      d.filter(when(violation(e),
        raise_error(concat(
          lit(s"CHECK constraint '$n' ($e) violated by row "),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*)))))
        .otherwise(lit(true)))
    }

  /** Re-validate STAGED files when a constraint OR generated-column
    * declaration landed between staging (where [[enforced]] /
    * [[applyGenerated]] ran with the then-head's sets) and this commit
    * attempt — the TOCTOU-free retry-loop twin of [[guardSchema]].
    * Costs one scan of just the staged files, paid only in the rare
    * DDL-landed-concurrently race. A concurrently declared generated
    * column whose column the staged batch LACKS entirely is caught by
    * the schema guard instead (the declaration requires the column to
    * exist table-wide). */
  private def guardConstraints(base: Snapshot,
      enforcedCts: Map[String, String], files: Seq[String],
      enforcedGcs: Map[String, String] = Map.empty): Unit = {
    val missedCt = ctMap(base) -- enforcedCts.keys
    val missedGc = gcMap(base) -- enforcedGcs.keys
    if ((missedCt.nonEmpty || missedGc.nonEmpty) && files.nonEmpty) {
      // staged files carry PHYSICAL names; constraints speak logical
      val content = toLogical(
        scan(spark, files.map(n => s"$dir/$n"), Some(dir)), base)
      missedCt.foreach { case (n, e) =>
        require(content.where(violation(e)).limit(1).count() == 0L,
          s"CHECK constraint '$n' ($e) was added concurrently and the " +
            "staged rows violate it")
      }
      missedGc.foreach { case (n, e) =>
        if (content.columns.contains(n))
          require(content.where(!(col(n) <=> expr(e)))
              .limit(1).count() == 0L,
            s"generated column '$n' ($e) was declared concurrently and " +
              "the staged rows violate the equality")
      }
    }
  }

  /** ADD CONSTRAINT (Delta's `ALTER TABLE … ADD CONSTRAINT … CHECK`):
    * verifies the WHOLE current content satisfies `expression`, then
    * commits the constraint as a METADATA-ONLY log entry (action
    * `constraint`, the token in the add list, bytes 0 — streams and
    * the change feed ride through it silently). Every subsequent
    * append / overwrite / upsert / merge / restore enforces it; the
    * token replays with the log, so time travel scopes constraints to
    * their versions. Validation re-runs per retry against that
    * attempt's head: a concurrent append of violating rows either
    * lands first (and fails THIS validation) or second (and fails its
    * own write-path enforcement) — never both. */
  def addConstraint(name: String, expression: String): Commit = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"constraint name must be [A-Za-z0-9_-]+: '$name'")
    // syntactic guard up front: a malformed expression should fail the
    // ALTER, not every future writer
    spark.sessionState.sqlParser.parseExpression(expression)
    commitLoop("addConstraint") { base =>
      require(!ctMap(base).contains(name),
        s"constraint '$name' already exists: ${ctMap(base)(name)}")
      if (base.files.nonEmpty)
        require(readSnapshot(base).where(violation(expression))
            .limit(1).count() == 0L,
          s"cannot add CHECK constraint '$name' ($expression): existing " +
            "rows violate it")
      Proposal("constraint", Seq(encodeCt(name, expression)))
    }
  }

  /** DROP CONSTRAINT: metadata-only removal of the named constraint's
    * token; history keeps it, time travel before the drop still shows
    * it active. */
  def dropConstraint(name: String): Commit =
    commitLoop("dropConstraint") { base =>
      val token = base.cts.find(t => decodeCt(t)._1 == name)
      require(token.isDefined,
        s"no CHECK constraint '$name' (active: " +
          s"${ctMap(base).keys.toSeq.sorted.mkString(", ")})")
      Proposal("constraint", Nil, Seq(token.get))
    }

  /** Does expression `e` (a CHECK predicate or a generated-column
    * derivation) still ANALYZE against `df`'s schema with `without`
    * removed? A plain `df.drop(without).select(e)` probe is defeated by
    * the analyzer's missing-reference resolution (a projection may
    * reference columns its child dropped), so the probe frame is built
    * FRESH from the reduced schema — nothing upstream to resolve
    * through. The probe is a bare `select` (not the boolean
    * [[violation]] wrapper) so non-boolean generated-column
    * expressions probe identically: reference resolution, not typing,
    * is the question. */
  private def resolvesWithout(df: DataFrame, without: String,
      e: String): Boolean = {
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        df.schema.filterNot(_.name == without)))
    try { probe.select(expr(e)).schema; true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }
  }

  /** Shared rename/drop guard: refuse DDL on a column that IS a
    * declared generated column or that any generated-column expression
    * references — supported DDL must never leave the table
    * un-appendable (the gc expression would stop resolving, or the
    * dropped column would be resurrected by generation and trip the
    * schema guard). Mirrors the CHECK-constraint guard right above
    * each call site. */
  private def guardGcDdl(head: Snapshot, logicalDf: DataFrame,
      column: String, what: String): Unit = {
    val gcs = gcMap(head)
    require(!gcs.contains(column),
      s"'$column' is a generated column (${gcs.getOrElse(column, "")}) — " +
        s"dropGeneratedColumn first, then $what")
    gcs.foreach { case (n, e) =>
      require(resolvesWithout(logicalDf, column, e),
        s"generated column '$n' ($e) references '$column' — drop the " +
          s"generated-column declaration around the $what")
    }
    // identity tokens are keyed by LOGICAL name: a rename would orphan
    // the declaration (appends re-allocating the old name) and a drop
    // would resurrect the column on the next append — refuse both
    require(!identMap(head).contains(column),
      s"'$column' is an identity column — dropIdentityColumn first, " +
        s"then $what")
  }

  // ------------------------------------------------- column mapping DDL
  /** Active non-identity logical → physical column mapping (empty on
    * tables that never renamed). */
  def columnMapping: Map[String, String] = cmMap(snapshot())

  /** Physical names of dropped columns still present in old files. */
  def droppedColumns: Set[String] = cmDropped(snapshot())

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta column mapping,
    * 'name' mode): no file is read or rewritten — the commit records
    * `newName → <physical>` where the physical name is the column's
    * original on-disk name, fixed at birth. Every read surfaces the
    * physical column under its current logical name; every write
    * translates back, so all data files of the table agree on physical
    * names forever. Logged stats, bloom sidecars, and partition paths
    * all stay valid because they are keyed by the physical name.
    * Time travel to a pre-rename version sees the old name (the token
    * replays with the log). Refused when: `oldName` does not exist,
    * `newName` already exists, `newName` collides with a physical name
    * old files still carry, or an active CHECK constraint references
    * `oldName` (the expression would silently stop resolving). The
    * streaming source treats a rename like any non-append commit —
    * fail by default, `skipChangeCommits` to ride past. */
  def renameColumn(oldName: String, newName: String): Commit = {
    require(oldName != newName, s"rename to the same name: $oldName")
    commitLoop("renameColumn") { head =>
      require(head.files.nonEmpty, "cannot rename on an empty table")
      val logicalDf = toLogical(head.read(spark), head)
      val logical = logicalDf.schema.fieldNames.toSet
      require(logical.contains(oldName),
        s"no column '$oldName' (table has ${logical.toSeq.sorted
          .mkString(", ")})")
      require(!logical.contains(newName),
        s"column '$newName' already exists")
      val m = cmMap(head)
      val reserved = m.values.toSet ++ cmDropped(head)
      require(!reserved.contains(newName),
        s"'$newName' is a physical name old files still carry (a " +
          "renamed column's original name or a dropped column) — " +
          "pick another name")
      ctMap(head).foreach { case (n, e) =>
        require(resolvesWithout(logicalDf, oldName, e),
          s"CHECK constraint '$n' ($e) references '$oldName' — drop " +
            "or re-create the constraint around the rename")
      }
      guardGcDdl(head, logicalDf, oldName, "rename")
      val phys = m.getOrElse(oldName, oldName)
      val (pvAdd, pvRemove) = mappingUpgrade(head)
      // a DECLARED clustering column renames WITH the column — the
      // property-token swap rides the same atomic commit, so a bare
      // OPTIMIZE can never resolve a stale name (Delta renames
      // clustering columns transparently under column mapping)
      val clusterSwap = head.cms
        .filter(t => TxTable.isTpName(t) &&
          TxTable.decodeTp(t)._1.equalsIgnoreCase("txtable.clusterBy"))
        .flatMap { tok =>
          val (k, v) = TxTable.decodeTp(tok)
          val cols = TxTable.parseClusterCols(v)
          if (cols.exists(_.equalsIgnoreCase(oldName)))
            Some(tok -> TxTable.encodeTp(k, cols.map(c =>
              if (c.equalsIgnoreCase(oldName)) newName else c)
              .mkString(",")))
          else None
        }
      // column DEFAULT declarations rename WITH the column, same
      // atomic-swap contract as the clustering declaration
      val defaultSwap = head.cms
        .filter(t => TxTable.isTpName(t) &&
          TxTable.defaultKeyCol(TxTable.decodeTp(t)._1)
            .exists(_.equalsIgnoreCase(oldName)))
        .map { tok =>
          val (k, v) = TxTable.decodeTp(tok)
          val prefix =
            if (k.startsWith(TxTable.DefaultPrefix)) TxTable.DefaultPrefix
            else TxTable.ExistsDefaultPrefix
          tok -> TxTable.encodeTp(prefix + newName, v)
        }
      Proposal("rename",
        Seq(TxTable.encodeCm(newName, phys)) ++ pvAdd ++
          clusterSwap.map(_._2) ++ defaultSwap.map(_._2),
        m.get(oldName).map(_ => TxTable.encodeCm(oldName, phys)).toSeq ++
          pvRemove ++ clusterSwap.map(_._1) ++ defaultSwap.map(_._1))
    }
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the physical column stays
    * in every existing file (no rewrite — the 100 TB point of column
    * mapping) and a tombstone token excludes it from every read; the
    * bytes are reclaimed progressively as rewrites and compactions
    * churn the files. Re-introducing the same logical name later is
    * REFUSED by the evolve guard (old files would resurrect the
    * dropped data under it) — rename the new column instead. Refused
    * when the column does not exist, is the table's last column, or an
    * active CHECK constraint references it. */
  def dropColumn(name: String): Commit =
    commitLoop("dropColumn") { head =>
      require(head.files.nonEmpty, "cannot drop a column on an empty table")
      val logicalDf = toLogical(head.read(spark), head)
      val logical = logicalDf.schema.fieldNames.toSet
      require(logical.contains(name),
        s"no column '$name' (table has ${logical.toSeq.sorted
          .mkString(", ")})")
      require(logical.size >= 2, "cannot drop the table's last column")
      ctMap(head).foreach { case (n, e) =>
        require(resolvesWithout(logicalDf, name, e),
          s"CHECK constraint '$n' ($e) references '$name' — drop the " +
            "constraint first")
      }
      // engine-level twin of the SQL face's guard: dropping a declared
      // clustering column would wedge every later bare OPTIMIZE on an
      // unresolvable name (Delta blocks it too) — and the API must not
      // be a bypass around the DDL
      val clusterCols = tpMap(head)
        .collectFirst { case (k, v)
            if k.equalsIgnoreCase("txtable.clusterBy") => v }
        .toSeq.flatMap(TxTable.parseClusterCols)
      require(!clusterCols.exists(_.equalsIgnoreCase(name)),
        s"cannot drop column $name: it is a declared clustering " +
          s"column (CLUSTER BY ${clusterCols.mkString(", ")}); " +
          "clear or re-declare the clustering first")
      guardGcDdl(head, logicalDf, name, "drop")
      val m = cmMap(head)
      val phys = m.getOrElse(name, name)
      val (pvAdd, pvRemove) = mappingUpgrade(head)
      // the dropped column's DEFAULT declarations retire with it —
      // stale tokens would silently re-arm on an unrelated later
      // column of the same name
      val defaultDrop = head.cms.filter(t => TxTable.isTpName(t) &&
        TxTable.defaultKeyCol(TxTable.decodeTp(t)._1)
          .exists(_.equalsIgnoreCase(name)))
      Proposal("dropcol", Seq(TxTable.encodeCmx(phys)) ++ pvAdd,
        m.get(name).map(_ => TxTable.encodeCm(name, phys)).toSeq ++
          pvRemove ++ defaultDrop)
    }

  /** [[TxTable.convert]]'s work: adopt the directory's existing
    * parquet files under ONE atomic v0 commit. Discovery is a FULL
    * recursive walk through `col=value/` directories (any nesting
    * depth — multi-key hive layouts adopt wholesale), and it REFUSES
    * rather than subsets: a mixed-depth layout (flat files next to
    * partitioned ones, or partitions of different key sequences) and
    * any non-hive subdirectory holding parquet both abort before the
    * commit — a partial adoption would silently lose that data and a
    * mixed layout makes path-based partition inference ill-defined.
    * Names are kept verbatim — every read path takes explicit file
    * lists from the log, so nothing requires the engine's `data-`
    * prefix. */
  private[ops] def convertInPlace(): Unit = {
    val head = snapshot()
    require(head.version == -1L,
      s"$dir is already a transactional table (at v${head.version}) — " +
        "convert adopts only plain-parquet directories")
    val root = new File(dir)
    def adoptable(n: String) =
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    def isPartDir(f: File) =
      f.isDirectory && f.getName.indexOf('=') > 0 && visible(f.getName)
    def holdsParquet(d: File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty).exists(f =>
        (f.isFile && adoptable(f.getName)) ||
          (f.isDirectory && holdsParquet(f)))
    // (relative path, partition-key sequence its directories spell)
    def walk(d: File, cols: Seq[String], prefix: String)
        : Seq[(String, Seq[String])] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty)
      kids.filter(f => f.isDirectory && !isPartDir(f) &&
          visible(f.getName) && holdsParquet(f)).foreach { s =>
        sys.error(s"convert: $dir contains non-hive directory " +
          s"'$prefix${s.getName}/' holding parquet — it would be " +
          "silently skipped; move it out or rename it col=value")
      }
      kids.filter(f => f.isFile && adoptable(f.getName))
        .map(f => (s"$prefix${f.getName}", cols)).toSeq ++
        kids.filter(isPartDir).toSeq.flatMap { sub =>
          walk(sub, cols ++ partKey(sub.getName).map(_._1),
            s"$prefix${sub.getName}/")
        }
    }
    val found = walk(root, Nil, "")
    require(found.nonEmpty, s"no parquet files to convert in $dir")
    val layouts = found.map(_._2).distinct
    require(layouts.size == 1,
      s"convert: mixed-depth layout in $dir — files found under " +
        layouts.map(c => if (c.isEmpty) "<root>" else c.mkString("/"))
          .sorted.mkString("{", ", ", "}") +
        "; adopting a subset would silently lose data — normalize " +
        "the layout first")
    val rels = found.map(_._1).sorted
    // adopted names enter the commit log VERBATIM, where snapshot
    // replay classifies reserved prefixes as metadata tokens (ct-/cm-/
    // pv-/gc-/id-/txn- at the rel start) or deletion vectors (dv- on
    // the basename): a converted file named e.g. 'id-batch7.parquet'
    // would silently vanish from every read and then crash decodeId on
    // the next append — refuse loudly, mirroring the mixed-layout
    // refusal, instead of losing rows
    val reserved = rels.filter(r => isMetaToken(r) || isDvName(r))
    require(reserved.isEmpty,
      s"convert: ${reserved.size} file name(s) in $dir collide with the " +
        "log's reserved prefixes (ct-/cm-/cmx-/pv-/gc-/id-/txn- or a " +
        s"dv- basename) and would be misread as metadata: " +
        s"${reserved.take(3).mkString(", ")} — rename them first")
    val c = Commit(0L, "convert", rels, Nil, System.currentTimeMillis())
    require(tryCommit(c, fileStats(rels)._1).isDefined,
      s"conversion raced: another writer committed v0 to $dir")
  }

  def read(): DataFrame = readSnapshot(snapshot())

  def readAt(version: Long): DataFrame = readSnapshot(snapshotAt(version))

  /** Timestamp time travel: the newest version whose commit timestamp
    * is ≤ `ts` (Delta's `timestampAsOf` resolution, applied in VERSION
    * order so a wall-clock regression between racing writers still
    * resolves deterministically). Reads the log entries — file-name
    * scale, same cost class as [[commits]]. */
  def versionAsOf(ts: Long): Long = {
    val cs = commits().filter(_.ts <= ts)
    require(cs.nonEmpty,
      s"no commit at or before ts=$ts in $logDir — the table did not " +
        "exist yet at that time")
    cs.last.version
  }

  /** The EARLIEST version committed at or after wall-clock `ts` (epoch
    * millis) — how a change-feed `startingTimestamp` resolves (Delta's
    * contract: the feed starts at the first commit at or after the
    * timestamp), the mirror of [[versionAsOf]]'s newest-at-or-before. */
  def versionSince(ts: Long): Long = {
    val cs = commits().filter(_.ts >= ts)
    require(cs.nonEmpty,
      s"no commit at or after ts=$ts in $logDir — nothing changed " +
        "since that time")
    cs.head.version
  }

  /** The table's content as of wall-clock time `ts` (epoch millis). */
  def readAsOfTimestamp(ts: Long): DataFrame = readAt(versionAsOf(ts))

  // ------------------------------------------------- deletion vectors
  /** Read `files` (absolute paths) with the two DV-join key columns
    * attached: the table-relative file name and the row's ordinal in
    * that file — both from parquet's `_metadata` struct, produced by
    * the scan itself (no shuffle, no extra I/O). */
  /** `merged`: union-merge the listed files' footers — required when
    * the list may straddle a schema evolution (a single sampled footer
    * would silently drop the wider files' columns); costs one footer
    * read per listed file, so callers pass it only where the straddle
    * is possible (change-feed windows, merged snapshots). */
  private def withPos(files: Seq[String],
      merged: Boolean = false): DataFrame =
    scan(spark, files, Some(dir), merged)
      .withColumn("_dv_file",
        substring_index(col("_metadata.file_path"), s"$dir/", -1))
      .withColumn("_dv_pos", col("_metadata.row_index"))

  /** Drop the rows the deletion vectors mark deleted. The DV side is
    * broadcast: its size is bounded by the rows deleted since the last
    * compaction (compaction materializes deletions and retires the
    * vectors), the same smallness contract Delta's per-file bitmaps
    * rest on — so the anti-join is a map-side hash probe, never a
    * shuffle of the table. */
  private def antiDvs(df: DataFrame, dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) df
    else df.join(broadcast(scan(spark, dvs)),
      Seq("_dv_file", "_dv_pos"), "left_anti")

  /** The snapshot's CONTENT: data files with deletion vectors applied.
    * DV-free snapshots (the overwhelmingly common case) take the plain
    * scan path — plan shape identical to before DVs existed. With
    * vectors active, only the files a vector actually TOUCHES pay the
    * metadata-column anti-join; untouched files scan clean and union
    * back — the per-file scoping that makes Delta's DV reads cheap
    * (measured: the join leg costs ~3× a plain scan per row it
    * covers, so scoping it to the needle's files is what keeps a
    * 2k-row delete from taxing a whole-table read; SCALE.md, "Semantic
    * dedup + change data feed (round-6 additions)"). The
    * touched-file list is a driver-side read of the vectors — file-NAME
    * scale, the same cost class as the manifest pruning reads. */
  /** Memoized touched-file sets, keyed by the (immutable) dv file
    * list: vectors are never appended to in place — a new delete adds
    * a NEW dv file — so the key can never alias stale content. */
  @volatile private var touchedCache: Map[Seq[String], Set[String]] = Map.empty

  private def touchedFiles(dvs: Seq[String]): Set[String] =
    touchedCache.getOrElse(dvs, {
      val t = scan(spark, dvs)
        .select("_dv_file").distinct()
        .collect().map(_.getString(0)).toSet
      touchedCache = touchedCache.updated(dvs, t)
      t
    })

  // ---------------------------------------------------- column mapping
  /** Active logical → physical name map of `s` (non-identity entries
    * only; every unmapped column's physical name IS its logical name). */
  private def cmMap(s: Snapshot): Map[String, String] =
    s.cms.filter(TxTable.isCmName).map(TxTable.decodeCm).toMap

  /** Physical names of DROPPED columns: still present in old files,
    * excluded from every read. */
  private def cmDropped(s: Snapshot): Set[String] =
    s.cms.filter(TxTable.isCmxName).map(TxTable.decodeCmx).toSet

  /** A PHYSICAL frame (raw parquet column names) as its LOGICAL view
    * under `s`'s mapping: renamed physicals surface under their
    * logical names, dropped physicals disappear, everything else
    * (including non-table columns like CDF tags) passes through. A
    * zero-mapping table short-circuits to the frame itself — the
    * overwhelmingly common case pays nothing. */
  private[graft] def toLogical(df: DataFrame, s: Snapshot): DataFrame = {
    val m = cmMap(s)
    val dropped = cmDropped(s)
    if (m.isEmpty && dropped.isEmpty) df
    else {
      val inv = m.map(_.swap)
      df.select(df.columns.toIndexedSeq.flatMap { p =>
        if (dropped.contains(p)) None
        else Some(inv.get(p).map(l => col(p).as(l)).getOrElse(col(p)))
      }: _*)
    }
  }

  /** A LOGICAL frame renamed to its on-disk PHYSICAL column names —
    * applied immediately before every staged write, so ALL data files
    * of a table always agree on physical names whatever renames
    * happened logically. */
  private def toPhysical(df: DataFrame, s: Snapshot): DataFrame = {
    val m = cmMap(s)
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      m.get(c).map(p => col(c).as(p)).getOrElse(col(c))
    }: _*)
  }

  /** The physical (on-disk, stats-key) name of logical `column`. */
  private def physName(s: Snapshot, column: String): String =
    cmMap(s).getOrElse(column, column)

  /** Active generated-column definitions of `s`: name → expression. */
  private def gcMap(s: Snapshot): Map[String, String] =
    s.cms.filter(TxTable.isGcName).map(TxTable.decodeGc).toMap

  /** Apply `s`'s generated-column policy to an incoming LOGICAL batch:
    * absent generated columns are COMPUTED; present ones are ENFORCED
    * null-safe-equal to their expression via the same
    * raise-on-first-violation inline filter as CHECK constraints. */
  private def applyGenerated(df: DataFrame, s: Snapshot): DataFrame = {
    // CURRENT column defaults fill first: a write may omit a defaulted
    // column like it may omit a generated one (a supplied non-null
    // value is accepted as-is; only absence fills)
    val filled = defaultsOf(s, TxTable.DefaultPrefix).toSeq.sortBy(_._1)
      .foldLeft(df) { case (d, (n, e)) =>
        if (d.columns.exists(_.equalsIgnoreCase(n))) d
        else d.withColumn(n, expr(e))
      }
    // EXISTS-defaulted columns are TOTAL by the read contract: the
    // read-side coalesce backfills the null-fill of files written
    // before the ADD COLUMN … DEFAULT evolve, so a stored NULL is
    // indistinguishable from pre-evolve absence and would read back
    // as the default forever. Reject explicit NULLs loudly at write
    // time instead of silently rewriting them on read — NULL into a
    // column with only a CURRENT default (SET DEFAULT) stays legal
    // (no read-side coalesce there, the stored NULL reads honestly).
    val guarded = defaultsOf(s, TxTable.ExistsDefaultPrefix).toSeq
      .sortBy(_._1).foldLeft(filled) { case (d, (n, _)) =>
        d.columns.find(_.equalsIgnoreCase(n)) match {
          case None => d
          case Some(c) => d.filter(when(col(c).isNull,
            raise_error(lit(s"column '$c' carries an exists DEFAULT " +
              "(reads are total: pre-evolve rows backfill on read), so " +
              "an explicit NULL would silently read back as the " +
              "default — write the intended value, or use SET DEFAULT " +
              "on a plain column for write-side-only filling")))
            .otherwise(lit(true)))
        }
      }
    gcMap(s).toSeq.sortBy(_._1).foldLeft(guarded) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else d.filter(when(!(col(n) <=> expr(e)),
        raise_error(concat(
          lit(s"generated column '$n' must equal $e; violating row "),
          to_json(struct(d.columns.toIndexedSeq.map(col): _*)))))
        .otherwise(lit(true)))
    }
  }

  /** Declare `name` GENERATED ALWAYS AS `expression`. The column must
    * already exist in the schema with every existing row satisfying
    * the equality (validated here, like ADD CONSTRAINT) — from then on
    * appends may omit it (computed) or must match it (enforced).
    * Metadata-only commit, action `gencol`, which also raises the
    * table's WRITER protocol requirement to 2 when it still sits below
    * (the same auto-upgrade device as column mapping's, writer-side
    * only: a gc-unaware engine appending rows would silently violate
    * the generated invariant, while readers need no gc awareness —
    * Delta gates generated columns behind a writer version the same
    * way). */
  def addGeneratedColumn(name: String, expression: String): Commit = {
    spark.sessionState.sqlParser.parseExpression(expression)
    commitLoop("addGeneratedColumn") { head =>
      require(!gcMap(head).contains(name),
        s"generated column '$name' already declared: ${gcMap(head)(name)}")
      // the mirror of setColumnDefault's guard: a defaulted column
      // cannot also be engine-computed — the write-side fill and the
      // generation enforcement would fight over omitted batches. The
      // CURRENT default alone conflicts: a retained exists default
      // (read-side backfill of pre-evolve rows, which DROP DEFAULT
      // deliberately keeps) never touches writes and must not bar the
      // declaration forever.
      require(!head.cms.exists(t => TxTable.isTpName(t) && {
        val k = TxTable.decodeTp(t)._1
        k.startsWith(TxTable.DefaultPrefix) &&
          k.stripPrefix(TxTable.DefaultPrefix).equalsIgnoreCase(name)
      }),
        s"column '$name' declares a DEFAULT — drop it first (ALTER " +
          s"COLUMN $name DROP DEFAULT; a column added WITH a default " +
          "cannot become generated)")
      // DATALESS tables may declare ahead of content (the CREATE TABLE
      // column-spec flow — Delta's primary generated-column surface):
      // the existence/equality validation is vacuous with zero rows,
      // and the first append computes-or-enforces like any later one.
      // On a table WITH content the declaration must hold already.
      if (head.files.nonEmpty) {
        val content = readSnapshot(head)
        require(content.columns.contains(name),
          s"no column '$name' to declare generated (table has " +
            s"${content.columns.sorted.mkString(", ")})")
        require(content.where(!(col(name) <=> expr(expression)))
            .limit(1).count() == 0L,
          s"cannot declare '$name' generated as $expression: existing " +
            "rows violate the equality")
      }
      val (pvAdd, pvRemove) = gencolUpgrade(head)
      Proposal("gencol", Seq(TxTable.encodeGc(name, expression)) ++ pvAdd,
        pvRemove)
    }
  }

  /** Generated columns are protocol-gated WRITER-side at 2: the
    * pv-token swap a gencol commit must carry when the table still
    * sits below. Reader requirement is untouched — gc tokens govern
    * writes only; a v1 reader resolves and reads the data correctly. */
  private def gencolUpgrade(head: Snapshot): (Seq[String], Seq[String]) = {
    val (r0, w0) = protocolOf(head)
    if (w0 >= 2) (Nil, Nil)
    else (Seq(TxTable.encodePv(r0, 2)),
      head.cms.filter(TxTable.isPvName))
  }

  /** Remove a generated-column declaration (metadata-only); the column
    * itself stays, it just stops being computed/enforced. */
  def dropGeneratedColumn(name: String): Commit =
    commitLoop("dropGeneratedColumn") { head =>
      val token = head.cms.find(t =>
        TxTable.isGcName(t) && TxTable.decodeGc(t)._1 == name)
      require(token.isDefined,
        s"no generated column '$name' (declared: " +
          s"${gcMap(head).keys.toSeq.sorted.mkString(", ")})")
      Proposal("gencol", Nil, Seq(token.get))
    }

  // ------------------------------------------------- identity columns
  /** Active identity declarations: name → (start, step, highWater). */
  private def identMap(s: Snapshot): Map[String, (Long, Long, Long)] =
    s.cms.filter(TxTable.isIdName).map { t =>
      val (n, st, sp, hw) = TxTable.decodeId(t)
      n -> ((st, sp, hw))
    }.toMap

  /** Head-snapshot identity declarations, name → (start, step,
    * highWater) — the query face of the `id-` tokens. */
  def identityColumns: Map[String, (Long, Long, Long)] =
    identMap(snapshot())

  /** Highest transaction version recorded for `appId` (Delta's
    * `txnVersion`), or None if the app never wrote with a txn
    * identity — the replay-detection face of the `txn-` tokens. */
  def txnVersion(appId: String): Option[Long] =
    txnOf(snapshot(), appId)

  private def txnOf(s: Snapshot, appId: String): Option[Long] =
    s.cms.collectFirst {
      case t if TxTable.isTxnName(t) &&
        TxTable.decodeTxn(t)._1 == appId => TxTable.decodeTxn(t)._2
    }

  /** Head-snapshot table properties, key → value (the `tp-` tokens). */
  def properties: Map[String, String] = tpMap(snapshot())

  /** Case-INSENSITIVE property lookup. [[setProperties]] dedups keys
    * case-insensitively (a case-variant SET swaps out the old token),
    * so every consumer must match the same way — an exact-case lookup
    * would accept `TxTable.AutoCompact` at SET time yet silently never
    * engage it, the mistyped-retention failure mode the SQL face's
    * strictness guards against. */
  def property(key: String): Option[String] = {
    val k = key.toLowerCase
    properties.collectFirst { case (pk, v) if pk.toLowerCase == k => v }
  }

  private def tpMap(s: Snapshot): Map[String, String] =
    s.cms.filter(TxTable.isTpName).map(TxTable.decodeTp).toMap

  /** SET TBLPROPERTIES: upsert `kvs` as one metadata-only commit
    * (action `properties`) — existing keys' tokens swap out, other
    * keys untouched. Content-neutral everywhere: CDF-silent, streams
    * ride through, checkpoints carry the tokens. */
  def setProperties(kvs: Map[String, String]): Commit = {
    require(kvs.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    commitLoop("setProperties") { head =>
      val keysLower = kvs.keySet.map(_.toLowerCase)
      val stale = head.cms.filter(t => TxTable.isTpName(t) &&
        keysLower.contains(TxTable.decodeTp(t)._1.toLowerCase))
      Proposal("properties",
        kvs.toSeq.sortBy(_._1).map { case (k, v) =>
          TxTable.encodeTp(k, v) },
        stale)
    }
  }

  /** UNSET TBLPROPERTIES: drop `keys`' tokens (missing keys are a
    * no-op per key, like Spark's IF EXISTS form). */
  def unsetProperties(keys: Seq[String]): Commit = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    commitLoop("unsetProperties") { head =>
      val keysLower = keys.map(_.toLowerCase).toSet
      val stale = head.cms.filter(t => TxTable.isTpName(t) &&
        keysLower.contains(TxTable.decodeTp(t)._1.toLowerCase))
      Proposal("properties", Nil, stale)
    }
  }

  /** The (add, remove) token pair a `txn`-carrying commit must fold
    * into its lists: the app's fresh marker in, every stale marker of
    * the SAME app out (other apps' markers untouched). Computed per
    * attempt against that attempt's base so a lost CAS re-derives —
    * the swap rides the winning commit atomically with the data.
    *
    * If the base ALREADY records version >= v for the app, the batch
    * landed through another writer (a zombie attempt of the same
    * query committing between the caller's entry guard and this
    * attempt) — [[TxTable.TxnAlreadyApplied]] aborts the write instead
    * of swapping out the winner's identical marker and landing the
    * rows a SECOND time. Delta's SetTransaction fails the losing
    * writer the same way; the streaming sink catches it and skips. */
  private def txnSwap(base: Snapshot, txn: Option[(String, Long)])
      : (Seq[String], Seq[String]) = txn match {
    case None => (Nil, Nil)
    case Some((app, v)) =>
      require(app.nonEmpty, "txnAppId must be non-empty")
      txnOf(base, app).filter(_ >= v).foreach(recorded =>
        throw new TxTable.TxnAlreadyApplied(app, v, recorded))
      val stale = base.cms.filter(t =>
        TxTable.isTxnName(t) && TxTable.decodeTxn(t)._1 == app)
      (Seq(TxTable.encodeTxn(app, v)), stale)
  }

  /** Declare `name` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * STEP `step`): from this commit on, appends must OMIT the column —
    * the engine allocates `start, start+step, …` and advances the
    * token's high-water mark in the same atomic commit as each batch
    * (see [[TxTable.encodeId]]). The column must not exist yet (the
    * engine owns it from birth); on a non-empty table this commit also
    * stages the zero-row carrier footer (the [[addColumns]] device),
    * so pre-identity rows read SQL NULL. Raises the WRITER protocol
    * requirement to 3: an identity-unaware engine appending without
    * allocation would break uniqueness silently. Rewrite paths that
    * cannot allocate (overwrite, upsert, MERGE INSERT) refuse on
    * identity tables; DELETE/UPDATE/compaction carry rows and ids
    * unchanged. */
  def addIdentityColumn(name: String, start: Long = 1L,
      step: Long = 1L): Commit = {
    require(step != 0L, "identity step must be non-zero")
    commitLoop("addIdentityColumn") { head =>
      require(!identMap(head).contains(name),
        s"identity column '$name' already declared")
      require(!gcMap(head).contains(name),
        s"'$name' is a generated column — it cannot also be identity")
      // a declare-ahead DEFAULT on the same name would have the
      // write-side fill SUPPLY the column, tripping the identity
      // "writers cannot supply it" refusal on every omitted-column
      // append — the same mutual exclusion as generated columns
      require(!head.cms.exists(t => TxTable.isTpName(t) &&
        TxTable.defaultKeyCol(TxTable.decodeTp(t)._1)
          .exists(_.equalsIgnoreCase(name))),
        s"column '$name' declares a DEFAULT — an identity column is " +
          "engine-allocated (drop the default declaration first)")
      val carrier: Seq[String] =
        if (head.files.isEmpty) Nil
        else {
          val cur = toLogical(readSnapshot(head), head).schema
          require(!cur.fieldNames.map(_.toLowerCase)
              .contains(name.toLowerCase),
            s"column '$name' already exists — identity declarations " +
              "own their column from birth (pick a new name)")
          stageCarrier(head, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(name,
              org.apache.spark.sql.types.LongType))))
        }
      val (pvAdd, pvRemove) = identityUpgrade(head)
      Proposal(if (carrier.nonEmpty) "evolve" else "identity",
        carrier ++ Seq(TxTable.encodeId(name, start, step,
          start - step)) ++ pvAdd,
        pvRemove, staged = carrier)
    }
  }

  /** Identity is protocol-gated WRITER-side at 3 (generated columns
    * gate at 2): the pv-token swap the declaration carries when the
    * table still sits below. Readers are untouched — the ids are
    * ordinary BIGINT data. */
  private def identityUpgrade(head: Snapshot): (Seq[String], Seq[String]) = {
    val (r0, w0) = protocolOf(head)
    if (w0 >= 3) (Nil, Nil)
    else (Seq(TxTable.encodePv(r0, 3)),
      head.cms.filter(TxTable.isPvName))
  }

  /** Remove an identity declaration (metadata-only); the column and
    * its allocated values stay, it just stops being engine-owned. */
  def dropIdentityColumn(name: String): Commit =
    commitLoop("dropIdentityColumn") { head =>
      val token = head.cms.find(t =>
        TxTable.isIdName(t) && TxTable.decodeId(t)._1 == name)
      require(token.isDefined,
        s"no identity column '$name' (declared: " +
          s"${identMap(head).keys.toSeq.sorted.mkString(", ")})")
      Proposal("identity", Nil, Seq(token.get))
    }

  /** The append family on a table WITH identity columns: per outer
    * attempt, read the head's high-water marks, refuse user-supplied
    * identity values (ALWAYS semantics), allocate
    * `hw + step·(1..n)` over ONE pinned materialization (the count
    * pass and the staging write must see the same partitioning — the
    * [[DenseIds]] discipline: per-partition counts → driver-side
    * cumulative offsets → parallel local row numbers; no global
    * sort, no driver data traffic beyond |partitions| longs), stage,
    * and attempt ONE commit that swaps each token's advanced
    * high-water atomically with the data. A lost race renumbers from
    * the winner's high-water and restages — allocation uniqueness
    * rides the commit CAS, never a lock. */
  private def appendWithIdentity(df: DataFrame,
      evolve: Boolean, partitionCols: Seq[String],
      txn: Option[(String, Long)] = None): Commit = {
    import org.apache.spark.sql.expressions.Window
    commitLoop("identity append", BlindBudget) { head =>
      val cts = ctMap(head)
      val gcs = gcMap(head)
      val idm = identMap(head)
      val df1 = applyGenerated(df, head)
      // lowercased comparison, matching addIdentityColumn's own check:
      // under Spark's default case-insensitive resolution a batch
      // supplying 'ROW_ID' for identity column 'row_id' would pass a
      // case-sensitive guard and have its values silently replaced by
      // the withColumn below instead of refused loudly
      val batchLower = df1.columns.map(_.toLowerCase).toSet
      idm.keys.toSeq.sorted.foreach { n =>
        require(!batchLower.contains(n.toLowerCase),
          s"column '$n' is GENERATED ALWAYS AS IDENTITY — writers " +
            "cannot supply it (the engine allocates)")
      }
      val withPid = df1.withColumn("__pid", spark_partition_id())
      Checkpoints.using(withPid) { pinned =>
        val counts = pinned.groupBy("__pid")
          .agg(count(lit(1)).as("__n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val nParts = if (counts.isEmpty) 1 else counts.keys.max + 1
        val total = counts.values.sum
        val offsets = (0 until nParts).scanLeft(0L) {
          (acc, pid) => acc + counts.getOrElse(pid, 0L)
        }.toArray
        val offsetOf = element_at(
          array(offsets.toIndexedSeq.map(lit(_)): _*),
          col("__pid").cast("int") + 1)
        val w = Window.partitionBy("__pid")
          .orderBy(monotonically_increasing_id())
        var df2 = pinned
        idm.toSeq.sortBy(_._1).foreach { case (n, (_, sp, hw)) =>
          df2 = df2.withColumn(n,
            (lit(hw) + lit(sp) * (offsetOf + row_number().over(w)))
              .cast("long"))
        }
        df2 = df2.drop("__pid")
        if (evolve) guardSchemaEvolve(head, df2)
        else guardSchema(head, df2)
        val (staged, stats) = stage(toPhysical(enforced(df2, cts), head),
          if (partitionCols.isEmpty) AsBase(head)
          else PartitionedBy(partitionCols.map(physName(head, _))))
        guardConstraints(head, cts, staged, gcs)
        val tokenSwap = idm.toSeq.sortBy(_._1).map { case (n, (st, sp, hw)) =>
          (TxTable.encodeId(n, st, sp, hw + sp * total),
            TxTable.encodeId(n, st, sp, hw))
        }
        val (txnAdd, txnRm) = txnSwap(head, txn)
        Proposal(if (evolve) "evolve" else "append",
          staged ++ tokenSwap.map(_._1) ++ txnAdd,
          tokenSwap.map(_._2) ++ txnRm, stats, staged)
      }
    }
  }

  /** Active generated-column declarations of the head snapshot. */
  def generatedColumns: Map[String, String] = gcMap(snapshot())

  /** Column mapping is protocol-gated at (2, 2): the pv-token swap a
    * mapping DDL commit must carry when the table still sits below —
    * a v1 reader ignoring mapping tokens would resurface renamed and
    * dropped physical columns. */
  private def mappingUpgrade(head: Snapshot): (Seq[String], Seq[String]) = {
    val (r0, w0) = protocolOf(head)
    if (r0 >= 2 && w0 >= 2) (Nil, Nil)
    else (Seq(TxTable.encodePv(math.max(r0, 2), math.max(w0, 2))),
      head.cms.filter(TxTable.isPvName))
  }

  /** The snapshot's content under its LOGICAL schema, with EXISTS
    * defaults applied: a column added with `ADD COLUMN … DEFAULT`
    * coalesces its bound literal over the NULLs that files written
    * before the evolve null-fill in the merged read. One scan-side
    * projection per defaulted column — codegen'd, never a shuffle.
    * The coalesce is EXACT, not approximate: [[applyGenerated]]
    * rejects explicit NULL writes into exists-defaulted columns, so
    * every NULL the merged read surfaces genuinely is pre-evolve
    * null-fill (use SET DEFAULT on a plain column when NULL must stay
    * representable). */
  private def readSnapshot(s: Snapshot): DataFrame =
    applyExistsDefaults(toLogical(readSnapshotRaw(s), s), s)

  /** The exists-default coalesce over a LOGICAL frame (see
    * [[TxTable.ExistsDefaultPrefix]]) — shared by the snapshot read
    * and the change feed, so CDF consumers (incremental MVs included)
    * see exactly the values `read()` serves. Exists defaults are
    * immutable once declared (SET/DROP DEFAULT touch only the current
    * default; dropColumn retires them with the column), so applying a
    * single snapshot's map is version-exact. */
  private def applyExistsDefaults(df: DataFrame, s: Snapshot): DataFrame = {
    val xd = defaultsOf(s, TxTable.ExistsDefaultPrefix)
    if (xd.isEmpty) df
    else {
      val have = df.columns.map(_.toLowerCase).toSet
      xd.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
        if (!have.contains(n.toLowerCase)) d
        else d.withColumn(n, coalesce(col(n), expr(e)))
      }
    }
  }

  /** Active column defaults of `s` under `prefix`: column → expr. */
  private def defaultsOf(s: Snapshot, prefix: String): Map[String, String] =
    tpMap(s).collect { case (k, v) if k.startsWith(prefix) =>
      k.stripPrefix(prefix) -> v
    }

  /** [[readSnapshot]] BEFORE mapping translation: physical column
    * names, deletion vectors applied. */
  private def readSnapshotRaw(s: Snapshot): DataFrame =
    if (s.files.isEmpty || s.dvs.isEmpty) s.read(spark)
    else {
      val touched = touchedFiles(s.dvs)
      val (hit, clean) = s.files.partition(f =>
        touched.contains(f.stripPrefix(s"$dir/")))
      val cleanDf =
        if (clean.isEmpty) None
        else Some(scan(spark, clean, Some(dir), s.merged))
      val hitDf =
        if (hit.isEmpty) None
        else Some(antiDvs(withPos(hit, merged = s.merged), s.dvs)
          .drop("_dv_file", "_dv_pos"))
      (cleanDf, hitDf) match {
        // allowMissingColumns: on a merged (evolved) snapshot each
        // side union-merges only ITS OWN files' footers — a column
        // living solely in one side's files must null-pad in the
        // other, exactly like the single-relation merged read
        case (Some(c), Some(h)) =>
          c.unionByName(h, allowMissingColumns = true)
        case (Some(c), None)    => c
        case (None, Some(h))    => h
        case (None, None)       => s.read(spark)
      }
    }

  /** Commit entries in `(fromVersion, toVersion]`, oldest first — the
    * incremental-consumption face shared by [[readChanges]] and the
    * streaming source ([[graft.sources.tx.DefaultSource]]).
    *
    * Reads ONLY the window's log entries (a name-probed contiguous
    * run — ZERO directory listings, O(window) existence checks and
    * entry reads, never a replay from version 0), which is
    * what keeps a per-trigger `getOffset` byte walk O(pending commits)
    * on a long-lived table. Contiguity is enforced within the window:
    * entries stop at the first gap, so a half-landed future version is
    * never consumed past. Callers hand in a `fromVersion` they have
    * already observed committed (a served offset, a resolved snapshot
    * version), so contiguity below the window is the caller's
    * precondition, same as any incremental log consumer's. */
  def commitsBetween(fromVersion: Long,
      toVersion: Long = Long.MaxValue): Seq[Commit] = {
    val base = math.max(fromVersion, -1L)
    probeEntries(base + 1, toVersion).map { case (_, f) => readEntry(f) }
  }

  /** LAZY variant of [[commitsBetween]] for CAP-BOUNDED walks: entries
    * read one at a time as the iterator advances, so a byte-capped
    * `getOffset` stops paying log I/O at cap exhaustion instead of
    * materializing a week-long backlog window per trigger (which made
    * the catch-up quadratic in pending commits). Same contiguity
    * contract; zero directory listings either way. */
  def commitsIterator(fromVersion: Long,
      toVersion: Long = Long.MaxValue): Iterator[Commit] = {
    val base = math.max(fromVersion, -1L)
    // ONE check-and-read step per version: a cleanupLog racing the walk
    // can delete an entry between a separate stat and its read — that
    // must surface as the contiguity stop (the same answer a gap
    // gives), never a raw NoSuchFileException out of a getOffset byte
    // walk. Single-step also halves the per-element stat cost.
    Iterator.iterate(base + 1)(_ + 1)
      .takeWhile(_ <= toVersion)
      .map { v =>
        val f = logFile(v)
        if (!f.isFile) None
        else
          try Some(readEntry(f))
          catch {
            case _: java.nio.file.NoSuchFileException |
                _: java.io.FileNotFoundException => None
          }
      }
      .takeWhile(_.isDefined)
      .map(_.get)
  }

  /** Resolve table-relative file names to absolute paths, failing
    * loudly if any was already vacuumed — shared retention contract of
    * [[readChanges]] and the streaming source. */
  private[graft] def resolveFiles(names: Seq[String], what: String): Seq[String] = {
    val missing = names.filterNot(n => new File(dir, n).isFile)
    require(missing.isEmpty,
      s"$what incomplete: ${missing.size} file(s) already vacuumed " +
        s"(first: ${missing.head})")
    names.map(n => s"$dir/$n")
  }

  private[graft] def tableDir: String = dir

  /** Delta-style CHANGE DATA FEED, reconstructed from the log: the
    * row-level net changes each commit in `(fromVersion, toVersion]`
    * introduced, tagged `_change_type` ('insert' | 'delete') and
    * `_commit_version`. A rewrite commit (overwrite / upsert / delete /
    * restore) is diffed row-level — added-files content EXCEPT ALL
    * removed-files content and vice versa — so rows a rewrite merely
    * carried over do NOT surface as changes, the same net-changes
    * contract Delta's CDF makes (an update appears as its delete +
    * insert pair). Compaction commits are content-identical by
    * construction and contribute nothing (skipped without reading a
    * byte).
    *
    * Scale shape: an append contributes its new files' rows with NO
    * shuffle; a rewrite pays one row-diff shuffle bounded by the files
    * that commit actually touched (stats-pruned deletes touch few).
    * Reconstruction needs a commit's removed files still on disk:
    * vacuuming inside the requested window fails loudly rather than
    * returning a silently incomplete feed — the same retention
    * contract as [[restore]]. */
  def readChanges(fromVersion: Long,
      toVersion: Long = Long.MaxValue): DataFrame = {
    // a cleaned gap must be LOUD: `commitsBetween` stops at the first
    // missing entry, and silently serving the truncated window would
    // un-count changes in every downstream replica (the same
    // retention contract as vacuumed data files)
    val expectedTo = math.min(toVersion, snapshot().version)
    val cs0 = commitsBetween(fromVersion, toVersion)
    // expected count from the CLAMPED base (commitsBetween's own
    // clamp): an unclamped fromVersion < -1 over a fully intact log
    // would compute a window larger than reality and spuriously throw
    require(cs0.size >= math.max(0L, expectedTo - math.max(fromVersion, -1L)),
      s"change feed (v$fromVersion, v$expectedTo]: commit entries " +
        "missing from the log (cleaned by cleanupLog?) — the earliest " +
        "resolvable change window starts at the oldest surviving entry")
    val cs = cs0
      // compaction is content-identical; constraint and column-mapping
      // commits are metadata-only — none contributes row changes
      .filterNot(c => c.action == "compact" || c.action == "constraint" ||
        c.action == "rename" || c.action == "dropcol" ||
        c.action == "protocol" || c.action == "gencol")
    val changes = cs.flatMap { c =>
      def tag(df: DataFrame, typ: String) =
        df.withColumn("_change_type", lit(typ))
          .withColumn("_commit_version", lit(c.version))
      if (c.action == "dvdelete") {
        // a DV commit's net change is pure deletes: the rows of the
        // PRE-commit snapshot the new vector points at (new vectors
        // exclude already-deleted positions by construction, so every
        // pointed-at row was live at version-1)
        if (c.add.isEmpty) Nil
        else {
          val dv = scan(spark,
            resolveFiles(c.add, s"change feed over v${c.version}"))
          // driver-side file-NAME list (bounded by the snapshot's file
          // count, never row-scale): read only the files the vector
          // actually touches
          val touched = dv.select("_dv_file").distinct()
            .collect().map(_.getString(0)).toSet
          val prev = snapshotAt(c.version - 1)
          val hit = prev.files.map(_.stripPrefix(s"$dir/"))
            .filter(touched.contains)
          if (hit.isEmpty) Nil
          else Seq(tag(
            withPos(resolveFiles(hit, s"change feed over v${c.version}"),
              merged = prev.merged)
              .join(broadcast(dv), Seq("_dv_file", "_dv_pos"), "left_semi")
              .drop("_dv_file", "_dv_pos"), "delete"))
        }
      } else {
        // a rewrite's sides must be compared at CONTENT level: apply
        // the deletion vectors active just before (remove side) and
        // just after (add side) the commit, or rows a vector already
        // deleted would resurface as spurious feed entries
        // DV names AND metadata tokens ride the same lists; a clone
        // commit in particular carries data files + the source's FULL
        // token set (ct-, cm-, cmx-, pv-, gc-) in one add list, so the
        // shared [[isMetaToken]] predicate — not a subset of prefixes —
        // must partition here, or the feed over a clone of a table that
        // ever renamed / upgraded / declared a generated column would
        // hand tokens to resolveFiles and die "already vacuumed"
        val addData = c.add.filterNot(n => isDvName(n) || isMetaToken(n))
        val remData = c.remove.filterNot(n => isDvName(n) || isMetaToken(n))
        lazy val prevDvs = snapshotAt(c.version - 1).dvs
        lazy val nowDvs = snapshotAt(c.version).dvs
        def readFiles(names: Seq[String], dvs: => Seq[String]): Option[DataFrame] =
          if (names.isEmpty) None
          else {
            val abs = resolveFiles(names, s"change feed over v${c.version}")
            val d = dvs
            // mergeSchema: one side's files may themselves straddle an
            // earlier schema-evolving append — a single-footer read
            // would silently drop the wider files' columns. Cost is
            // bounded by the commit's touched files, never the table
            if (d.isEmpty) Some(scan(spark, abs, Some(dir), merged = true))
            else Some(antiDvs(withPos(abs, merged = true), d)
              .drop("_dv_file", "_dv_pos"))
          }
        (readFiles(addData, nowDvs), readFiles(remData, prevDvs)) match {
          case (Some(a), None)    => Seq(tag(a, "insert"))
          case (None, Some(r))    => Seq(tag(r, "delete"))
          case (Some(a0), Some(r0)) =>
            // a `merge-evolve` commit's add side carries the WIDENED
            // schema while its removed files still hold the pre-merge
            // one — align both sides to the union of their columns
            // (post-commit types win, the narrower side null-pads)
            // before the row diff, or exceptAll dies on an arity
            // mismatch and the feed could never cross the commit.
            // Null-padding is Delta's CDF contract across schema
            // evolution: pre-evolve rows read as null in new columns
            val (a, r) =
              if (a0.columns.sameElements(r0.columns)) (a0, r0)
              else {
                val fields = a0.schema.fields ++ r0.schema.fields
                  .filterNot(f => a0.columns.contains(f.name))
                def align(df: DataFrame) = df.select(fields.toSeq.map(f =>
                  if (df.columns.contains(f.name)) col(f.name)
                  else lit(null).cast(f.dataType).as(f.name)): _*)
                (align(a0), align(r0))
              }
            Seq(tag(a.exceptAll(r), "insert"), tag(r.exceptAll(a), "delete"))
          case (None, None)       => Nil
        }
      }
    }
    // allowMissingColumns: a feed window may straddle a schema-evolving
    // append ([[appendEvolve]]) — rows from pre-evolve commits carry
    // null for columns that did not exist yet, exactly like the
    // merged-footer table read
    // feed frames are built from RAW file reads (physical names):
    // surface them under the HEAD's logical names — Delta's CDF
    // contract under column mapping (the tags pass through untouched)
    val head = snapshot()
    changes.reduceOption(_.unionByName(_, allowMissingColumns = true))
      // exists defaults apply like the head read's: a feed straddling
      // an ADD COLUMN … DEFAULT serves the default where read() does,
      // so an incremental consumer (an MV folding SUM over the new
      // column) converges to the full recompute
      .map(df => applyExistsDefaults(toLogical(df, head), head))
      .getOrElse(
      // empty feed: build the zero-row frame from the MEMOIZED schema
      // — planning the head relation just for its columns costs an
      // O(active files) listing per empty window
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        logicalSchema(head))
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)))
  }

  /** Crash seam for the multi-process specs: fires after the staging
    * write lands but before any file moves — a `Runtime.halt` here is
    * the kill -9 that leaves a whole `_staged-*` directory behind,
    * the artifact [[vacuum]]'s age-guarded reclaim exists for. */
  private[graft] var afterStageWriteHook: () => Unit = () => ()

  /** The one staging path of every write: write `df` (PHYSICAL-named)
    * as parquet into a private `_staged-*` directory, move its part
    * files under the table root as `<prefix>-<uuid>.parquet` —
    * content-unique names, invisible until a commit references them —
    * laid out by `at`, and return their table-relative names with
    * their stats sidecar lines.
    *
    * `AsBase` preserves the base snapshot's layout: when its files are
    * hive-partitioned, the write re-stages under the same `col=value/`
    * directories — a flat staging would MIX layouts and break
    * path-based partition inference for every later read (rows
    * silently lost to a column/path conflict). A frame that drops a
    * partition column (an overwrite changing the layout) stages flat:
    * it replaces everything, so the new layout is consistent.
    *
    * Data files are table CONTENT: each footer is opened once to mine
    * the per-file min/max stats the commit logs ([[fileStats]]) and
    * the row counts that size the bloom sidecars of the indexed
    * columns ([[buildBlooms]]) — both exist to skip files on read, and
    * both are mined here because the footers are fresh and local.
    * Zero-row files (the schema carriers of [[addColumns]] and MERGE
    * WITH SCHEMA EVOLUTION) hold no row group, so they get neither:
    * there is nothing in them to skip. Deletion vectors (`prefix`
    * "dv") get neither either: every read of a vector reads it whole,
    * nothing prunes them. */
  private def stage(df: DataFrame, at: Placement,
      prefix: String = "data"): (Seq[String], Seq[String]) = {
    val (frame, partCols, leaf) = at match {
      case AsBase(base) =>
        // the FULL key sequence from the first file's directories:
        // every segment must be `col=value`, else the layout is flat
        val cols = base.files.headOption.toSeq.flatMap { f =>
          val segs = f.stripPrefix(s"$dir/").split('/').dropRight(1).toSeq
          val keys = segs.flatMap(partKey)
          if (keys.length == segs.length) keys.map(_._1) else Nil
        }
        (df, if (cols.forall(df.columns.contains)) cols else Nil, "")
      case PartitionedBy(cols) => (df, cols, "")
      case IntoLeaf(leaf) =>
        (df.drop(leaf.split('/').toSeq.flatMap(partKey).map(_._1): _*),
          Nil, leaf)
    }
    val tmp = new File(s"$dir/_staged-${UUID.randomUUID()}")
    (if (partCols.isEmpty) frame.write
      else frame.write.partitionBy(partCols: _*)).parquet(tmp.getPath)
    afterStageWriteHook()
    // one directory level per partition key, in `partCols` order
    // (Spark's own nesting order); names stay partition-qualified
    def move(d: File, depth: Int, rel: String): Seq[String] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty).toSeq
      if (depth > 0)
        kids.filter(f => f.isDirectory && f.getName.contains("="))
          .flatMap(sub => move(sub, depth - 1, s"$rel${sub.getName}/"))
      else {
        val parts = kids.filter(f => f.isFile &&
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        if (parts.nonEmpty) Files.createDirectories(Paths.get(dir, rel))
        parts.map { f =>
          val name = s"$rel$prefix-${UUID.randomUUID()}.parquet"
          Files.move(f.toPath, Paths.get(dir, name),
            StandardCopyOption.ATOMIC_MOVE)
          name
        }
      }
    }
    val files =
      move(tmp, partCols.length, if (leaf.isEmpty) "" else s"$leaf/")
    rmTree(tmp)
    if (prefix != "data") (files, Nil)
    else {
      val (stats, rows) = fileStats(files)
      buildBlooms(rows)
      (files, stats)
    }
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  // ------------------------------------------------ hive partition paths
  /** The hive `col=value` directory segment Spark's partitioned write
    * produces for (PHYSICAL `column`, `value`): both sides escaped
    * (':', '%', '=', …), a null value as `__HIVE_DEFAULT_PARTITION__`. */
  private def partSegment(column: String, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
    val v =
      if (value == null) DEFAULT_PARTITION_NAME
      else escapePathName(value.toString)
    s"${escapePathName(column)}=$v"
  }

  /** [[partSegment]] inverted: (column, value; None = the null
    * partition), or None when `seg` is not a `col=value` segment. */
  private def partKey(seg: String): Option[(String, Option[String])] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
    val eq = seg.indexOf('=')
    if (eq <= 0) None
    else {
      val raw = seg.drop(eq + 1)
      Some((unescapePathName(seg.take(eq)),
        if (raw == DEFAULT_PARTITION_NAME) None
        else Some(unescapePathName(raw))))
    }
  }

  /** Atomic claim of `version` through the table's [[LogStore]]: the
    * store materializes the full entry at the version name iff absent
    * (hard-link CAS on POSIX, conditional PUT on object stores). False
    * = lost the race. A winning commit also persists its files' column
    * stats ([[fileStats]]) as `_log/<version>.stats.tsv` —
    * best-effort, like checkpoints: a missing stats file only disables
    * data skipping for those files. */
  /** Total size of table-relative `names`, or -1 (UNKNOWN) if any stat
    * fails. `Files.size` throws on a missing file where
    * `File.length()` silently returns 0 — and a 0 here would record a
    * potentially huge commit as byte-FREE to the streaming cap (e.g. a
    * restore racing a vacuum: existence was checked at restore entry,
    * the re-stat at commit time can still miss). Unknown is the safe
    * answer: the cap treats it as cap-exhausting. */
  private def sizeOf(names: Seq[String]): Long = {
    var sum = 0L
    val it = names.iterator
    while (it.hasNext) {
      try sum += Files.size(Paths.get(dir, it.next()))
      catch { case _: java.io.IOException => return -1L }
    }
    sum
  }

  /** Test seam: the wall clock IN-COMMIT TIMESTAMPS read — specs
    * regress it to prove monotone stamping. */
  private[ops] var wallClockHook: () => Long =
    () => System.currentTimeMillis()

  /** (version, in-commit ts) of the last commit this instance wrote or
    * resolved — saves the one prev-entry read per commit in the normal
    * resolve-then-commit flow. */
  @volatile private var tsMemo: (Long, Long) = (Long.MinValue, 0L)

  /** CAS the commit in; Some(stamped commit) = won (the returned
    * object is EXACTLY what the log entry holds — in-commit timestamp
    * and byte totals included — so callers hand back the truth, never
    * the pre-stamp draft), None = lost the version race. */
  private def tryCommit(c0a: Commit,
      stats: Seq[String] = Nil): Option[Commit] = {
    // IN-COMMIT TIMESTAMPS (Delta's ICT): the entry's ts is stamped
    // HERE, once, as max(wall, prev_ts + 1) — monotone per table
    // whatever the wall clock does (NTP step-backs, skewed racing
    // writers), so timestampAsOf / RESTORE TO TIMESTAMP / CDF
    // timestamp windows resolve deterministically from the log alone.
    // prev is the HEAD entry (it always survives retention cleanup —
    // a read FAULT here is a real store fault and must FAIL the
    // commit: defaulting would silently write a non-monotone stamp);
    // the memo hits when this instance resolved or committed the head
    // moments ago, the normal retry-loop flow.
    val prevTs: Long =
      if (c0a.version == 0L) Long.MinValue
      else if (tsMemo._1 == c0a.version - 1) tsMemo._2
      else readEntry(logFile(c0a.version - 1)).ts
    val c0 = c0a.copy(ts =
      math.max(wallClockHook(), math.max(prevTs, Long.MinValue + 1) + 1))
    // WRITE-side protocol gate against the PRE-commit state (the commit
    // itself may raise the requirement — that is the upgrade path).
    // The memo hits when the committer resolved the head in its own
    // retry loop (the normal case); a miss pays one checkpoint-bounded
    // replay.
    val memo = protoMemo
    val wmin: Int =
      if (memo._1 == c0.version - 1) memo._2
      else protocolOf(snapshotAt(c0.version - 1))._2
    require(wmin <= writerCap,
      s"table requires writer protocol version $wmin; this engine " +
        s"supports $writerCap — upgrade the engine to write this table")
    // record the added AND removed files' total sizes IN the entry: the
    // files exist (adds just staged; removes still active pre-vacuum)
    // and are local to the committer, so the stat is one driver syscall
    // per file ONCE — consumers (the streaming source's byte-capped
    // admission) then read sizes from the log instead of stat-ing data
    // files per trigger, which both survives vacuum and stays
    // object-store-safe
    // metadata tokens ride the add/remove lists but are LOG entries,
    // not files — stat only the real ones (an identity append's token
    // swap must not turn the whole commit's size UNKNOWN)
    val c1 = if (c0.bytes >= 0) c0
      else c0.copy(bytes = sizeOf(c0.add.filterNot(TxTable.isMetaToken)))
    val c = if (c1.rmBytes >= 0) c1
      else c1.copy(rmBytes = sizeOf(c1.remove.filterNot(TxTable.isMetaToken)))
    if (!store.putIfAbsent(logFile(c.version),
        render(c).getBytes(StandardCharsets.UTF_8))) None
    else {
      tsMemo = (c.version, c.ts)
      if (stats.nonEmpty) try {
        Files.write(Paths.get(f"$logDir/${c.version}%020d.stats.tsv"),
          stats.mkString("\n").getBytes(StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => () }
      maybeCheckpoint(c.version)
      Some(c)
    }
  }

  // ------------------------------------------------- optimistic commits
  /** Attempt budgets of [[optimistic]]. */
  private val BlindBudget = 50
  private val RederiveBudget = 20

  /** Delete never-committed staged files and their bloom sidecars. */
  private def discard(files: Seq[String]): Unit =
    files.foreach { n => new File(dir, n).delete(); dropBlooms(n) }

  /** The optimistic-concurrency protocol (Delta's, over the
    * [[LogStore]] CAS) and the one place a write claims a log version.
    * Each attempt resolves the head snapshot and hands it to `attempt`,
    * which re-runs the guards the operation owes that head and returns
    * its proposal (None: nothing to commit), or throws to abort. The
    * proposal is claimed as version `head + 1` through [[tryCommit]],
    * which stamps the in-commit timestamp. A lost claim discards the
    * attempt's own staged files and retries on the new head, up to
    * `budget` attempts. The append family (plain, evolving,
    * partitioned, identity-allocating), the overwrites and ADD COLUMNS
    * get [[BlindBudget]]: they commute with any writer that leaves
    * their schema alone, so a lost race there is lost sequencing, never
    * a conflict, and giving up early would fail a write that cannot
    * conflict. Every other write gets [[RederiveBudget]]: it
    * re-validates or re-stages per attempt, and a run of losses more
    * likely means real contention worth surfacing. `reclaim` names
    * files staged ahead of the attempts; they are discarded when the
    * loop ends without a win, by abort, no-op or exhaustion. */
  private def optimistic(op: String, budget: Int = RederiveBudget,
      reclaim: => Seq[String] = Nil)(
      attempt: Snapshot => Option[Proposal]): Option[Commit] = {
    @scala.annotation.tailrec
    def go(left: Int): Option[Commit] = {
      val (head, proposal) =
        try { val h = snapshot(); (h, attempt(h)) }
        catch { case scala.util.control.NonFatal(e) =>
          discard(reclaim); throw e
        }
      proposal match {
        case None => discard(reclaim); None
        case Some(p) =>
          val won = tryCommit(Commit(head.version + 1, p.action, p.add,
            p.remove, 0L), p.stats)
          if (won.isDefined) won
          else {
            discard(p.staged)
            if (left > 1) go(left - 1)
            else {
              discard(reclaim)
              sys.error(s"$op contention: lost $budget races in $logDir")
            }
          }
      }
    }
    go(budget)
  }

  /** [[optimistic]] for an operation that always has something to
    * commit. */
  private def commitLoop(op: String, budget: Int = RederiveBudget,
      reclaim: => Seq[String] = Nil)(attempt: Snapshot => Proposal): Commit =
    optimistic(op, budget, reclaim)(h => Some(attempt(h))).get

  /** [[optimistic]] for a staging that may be re-committed after a lost
    * race: an attempt reuses the live staging while it `holds` at the
    * new head, and otherwise discards it and calls `restage` (None:
    * nothing left to do). */
  private def restaging(op: String)(
      restage: Snapshot => Option[Staged]): Option[Commit] = {
    var live: Option[Staged] = None
    optimistic(op, reclaim = live.toSeq.flatMap(_.files)) { head =>
      if (!live.exists(_.holds(head))) {
        live.foreach(s => discard(s.files))
        live = None
        live = restage(head)
      }
      live.map(_.propose(head))
    }
  }

  // ------------------------------------------------- per-file bloom index
  /** Columns carrying a PER-FILE BLOOM FILTER sidecar, built at commit
    * time for newly added data files (Delta's bloom filter index, the
    * public design). Min/max stats prune range predicates but are
    * useless for POINT lookups on high-cardinality unclustered keys —
    * every file's [min,max] spans the whole key space. A per-file
    * bloom answers "could this file hold key k?" in ~10 bits/row, so
    * [[readWhere]] opens only the file(s) that actually contain the
    * key. Opt-in via [[bloomIndex]] because the build costs one extra
    * distributed pass over the freshly written files per commit. */
  private var bloomCols: Set[String] = Set.empty
  private var bloomFpp: Double = 0.01

  /** Enable bloom sidecars for `columns` (long-typed or string-typed;
    * other types are silently not indexed) on files added by THIS
    * instance's future commits. Files committed without sidecars are
    * always kept by the read-side prune — enabling late never breaks
    * correctness, it only skips less until a compaction rewrites. */
  def bloomIndex(columns: Seq[String], fpp: Double = 0.01): TxTable = {
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    bloomCols = columns.toSet; bloomFpp = fpp; this
  }

  private def bloomDir: File = new File(s"$logDir/bloom")

  private def escName(s: String): String =
    s.replace("%", "%25").replace("/", "%2F")

  /** Sidecar name for (data file, column, indexed dtype): rel names are
    * UUID-based and never recur, so the name doubles as the association
    * key; '/' from partition-qualified names is percent-escaped flat.
    * The indexed dtype (`long` | `string`) is part of the name so the
    * PROBE side casts the query value exactly the way the put side cast
    * the column — dispatching on the runtime class of the query value
    * instead would hash a String probe of a long-indexed column
    * differently than the puts and return a hard FALSE NEGATIVE, i.e.
    * incorrect file skipping. */
  private def bloomFile(rel: String, column: String, kind: String): File =
    new File(bloomDir, s"${escName(rel)}.${escName(column)}.$kind.bloom")

  /** Build + persist bloom sidecars for the indexed columns of the
    * staged files `fileRows` lists with their footer row counts
    * ([[fileStats]]); zero-row files have nothing to index. ONE
    * distributed pass per indexed column over just the new files: rows
    * fan into per-file filters sized from those counts, partial
    * filters merge by OR. Best-effort like [[fileStats]]: a failed
    * build only disables skipping for those (file, column) pairs.
    * Called BEFORE the commit CAS; names are unique forever, so a
    * losing retry reuses the same sidecars and retry exhaustion
    * deletes them with the data files. */
  private def buildBlooms(fileRows: Seq[(String, Long)]): Unit = {
    val relNames = fileRows.collect { case (rel, n) if n > 0 => rel }
    if (bloomCols.nonEmpty && relNames.nonEmpty) try {
      import org.apache.spark.util.sketch.BloomFilter
      val rows = fileRows.toMap
      val paths = relNames.map(n => s"$dir/$n")
      val staged = scan(spark, paths, Some(dir))
      val indexable = bloomCols.toSeq.sorted.flatMap { c =>
        staged.schema.fields.find(_.name == c).map(_.dataType).collect {
          case org.apache.spark.sql.types.LongType => c -> false
          case org.apache.spark.sql.types.IntegerType => c -> false
          case org.apache.spark.sql.types.StringType => c -> true
        }
      }
      if (indexable.nonEmpty) Files.createDirectories(bloomDir.toPath)
      val fpp = bloomFpp
      val prefix = new File(dir).getAbsolutePath + "/"
      indexable.foreach { case (c, isString) =>
        val df = staged
          .select(org.apache.spark.sql.functions.input_file_name().as("_f"),
            col(c).cast(if (isString) "string" else "long").as("_v"))
          .na.drop()
        val bcRows = spark.sparkContext.broadcast(rows)
        val merged = df.rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.Map[String, BloomFilter]()
          it.foreach { r =>
            // input_file_name is a URI-ESCAPED file: URI over local
            // paths — decode it (spaces, escaped partition values)
            // before reducing to the table-relative sidecar key, else
            // the key never matches the footer-derived rows map or the
            // probe-side name
            val raw = r.getString(0)
            val path =
              try new java.net.URI(raw).getPath
              catch { case scala.util.control.NonFatal(_) =>
                val ns = raw.stripPrefix("file:")
                "/" + ns.dropWhile(_ == '/')
              }
            val rel = path.stripPrefix(prefix)
            val b = acc.getOrElseUpdate(rel, BloomFilter.create(
              math.max(bcRows.value.getOrElse(rel, 1024L), 16L), fpp))
            if (isString) b.putString(r.getString(1)) else b.putLong(r.getLong(1))
          }
          acc.iterator
        }.reduceByKey { (a, b) => a.mergeInPlace(b); a }.collect()
        merged.foreach { case (rel, bloom) =>
          val out = new java.io.ByteArrayOutputStream()
          bloom.writeTo(out)
          Files.write(
            bloomFile(rel, c, if (isString) "string" else "long").toPath,
            out.toByteArray)
        }
        bcRows.destroy()
      }
      // NonFatal, not Throwable: a failed build only disables skipping,
      // but an OOM/linkage error must surface, not masquerade as a
      // silently bloom-less commit
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Could `rel` contain `value` in `column`? Missing/unreadable
    * sidecar → conservatively yes. The sidecar NAME carries the dtype
    * the put side indexed under, and the probe value is cast to THAT
    * type before hashing — never dispatched on its own runtime class,
    * which could hash differently and false-negative. A probe value
    * that cannot be cast to the indexed dtype keeps the file. */
  private def bloomMayContain(rel: String, column: String, value: Any): Boolean = {
    val asLong = bloomFile(rel, column, "long")
    val asString = bloomFile(rel, column, "string")
    val (f, isString) =
      if (asLong.isFile) (asLong, false)
      else if (asString.isFile) (asString, true)
      else return true
    try {
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f))
      val bloom =
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      if (isString) bloom.mightContainString(value.toString)
      else value match {
        case n: Long => bloom.mightContainLong(n)
        case n: Int => bloom.mightContainLong(n.toLong)
        case n: Short => bloom.mightContainLong(n.toLong)
        case n: Byte => bloom.mightContainLong(n.toLong)
        case s: String =>
          try bloom.mightContainLong(s.trim.toLong)
          catch { case _: NumberFormatException => true }
        case _ => true
      }
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** Drop the bloom sidecars of a reclaimed or abandoned data file. */
  private def dropBlooms(rel: String): Unit = {
    val stem = escName(rel) + "."
    Option(bloomDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(stem)).foreach(_.delete())
  }

  // ------------------------------------------------- per-file column stats
  /** Per-file min/max column stats, read from the parquet FOOTERS the
    * staging write already produced (no extra scan — the same source
    * Delta/Iceberg mine at commit time). One TSV line per (file,
    * column): `rel \t col \t kind \t min \t max`, kinds long | double |
    * string. Columns whose footer lacks stats in any row group (or
    * non-primitive / unsupported types) are simply omitted — omission
    * disables skipping for that (file, column), never correctness.
    * Driver-side, footer-only reads: the same cost class as the file
    * moves staging already does. The same open also yields each
    * file's row count, returned beside the lines for [[buildBlooms]];
    * a failed read returns neither. */
  private def fileStats(relNames: Seq[String])
      : (Seq[String], Seq[(String, Long)]) = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    // footer reads fan out over a driver-side parallel collection
    // (order-preserving: ParVector keeps element order): each is an
    // independent open+footer+close round trip, so a bulk-load
    // commit's mining is bounded by the slowest footer, not the sum
    import scala.collection.parallel.CollectionConverters._
    val mined = relNames.par.map { rel =>
      val blocks = footer(conf, s"$dir/$rel").getBlocks.asScala
      // fold each column's stats across row groups; drop the column
      // if ANY row group lacks usable stats (a zero-row file has no
      // row group, hence no line)
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.size == 1)
        .groupBy(_.getPath.toDotString)
      val lines = byCol.toSeq.sortBy(_._1).flatMap { case (name, chunks) =>
        val pt = chunks.head.getPrimitiveType
        val isStr = pt.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType()
        val kind = pt.getPrimitiveTypeName match {
          case INT32 | INT64 => Some("long")
          case FLOAT | DOUBLE => Some("double")
          case BINARY if isStr => Some("string")
          case _ => None
        }
        val stats = chunks.map(_.getStatistics)
        if (kind.isEmpty ||
            stats.exists(s => s == null || !s.hasNonNullValue)) None
        else {
          def render(v: Any): String = v match {
            case b: org.apache.parquet.io.api.Binary =>
              enc(b.toStringUsingUTF8)
            case x => x.toString
          }
          val mins = stats.map(s => render(s.genericGetMin))
          val maxs = stats.map(s => render(s.genericGetMax))
          val (mn, mx) = kind.get match {
            case "string" => (mins.min, maxs.max)
            case _ =>
              (mins.minBy(BigDecimal(_)), maxs.maxBy(BigDecimal(_)))
          }
          Some(s"${enc(rel)}\t${enc(name)}\t${kind.get}\t$mn\t$mx")
        }
      }
      (lines, rel -> blocks.map(_.getRowCount).sum)
    }.seq
    (mined.flatMap(_._1), mined.map(_._2))
    // NonFatal: omission only disables skipping; JVM failures propagate
  } catch { case scala.util.control.NonFatal(_) => (Nil, Nil) }

  /** Percent-encode the TSV metacharacters (and %) in stat values. */
  private def enc(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case '\t' => "%09"
      case '\n' => "%0a"
      case '\r' => "%0d"
      case c => c.toString
    }

  private def dec(s: String): String =
    s.replace("%09", "\t").replace("%0a", "\n")
      .replace("%0d", "\r").replace("%25", "%")

  /** All logged stats, keyed file → column → (kind, min, max). Later
    * log entries win (a re-added file name is impossible — names are
    * UUIDs — but override order is defined anyway).
    *
    * BOUNDED like replay: when the `_last_checkpoint` pointer names a
    * checkpoint whose stats sidecar is CONSOLIDATED (the checkpoint
    * writer folds every active file's stats into its own sidecar,
    * marked by a leading `#consolidated` line), loading reads that
    * one file plus the name-probed tail — zero directory listings and
    * O(interval) sidecar parses per pruned read, instead of listing
    * and parsing every sidecar the table ever wrote (O(history) per
    * MERGE/DELETE/filtered scan at streaming-ingest commit rates).
    * Any doubt (no pointer, unconsolidated sidecar, old table) falls
    * back to the full listing; a file absent from the map is always
    * KEPT by pruning, so degraded stats are a performance trade,
    * never correctness. */
  private def loadStats(): Map[String, Map[String, (String, String, String)]] = {
    val bounded = lastCheckpointVersion().flatMap { pv =>
      val base = statsFile(pv)
      if (!statsConsolidated(base)) None
      else Some {
        var acc = foldStats(
          Map.empty[String, Map[String, (String, String, String)]], base)
        var v = pv + 1
        while (logFile(v).isFile) {
          val sf = statsFile(v)
          if (sf.isFile) acc = foldStats(acc, sf)
          v += 1
        }
        acc
      }
    }
    bounded.getOrElse {
      logListings.incrementAndGet()
      val fs = Option(new File(logDir).listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".stats.tsv")).sortBy(_.getName)
      fs.foldLeft(
        Map.empty[String, Map[String, (String, String, String)]])(foldStats)
    }
  }

  private def statsFile(v: Long): File =
    new File(f"$logDir/$v%020d.stats.tsv")

  /** Does `f` carry the full active-file stats as of its version
    * (leading `#consolidated` marker)? Old readers ignore the marker
    * line (it is not a 5-field TSV row), so the format stays
    * backward-readable. */
  private def statsConsolidated(f: File): Boolean =
    f.isFile && {
      val in = new java.io.BufferedReader(new java.io.FileReader(f))
      try Option(in.readLine()).exists(_.startsWith("#consolidated"))
      finally in.close()
    }

  /** The stats of SPECIFIC commit versions' sidecars only — what the
    * rebase probe reads, so a lost race never re-reads the whole
    * stats history. A missing sidecar (not yet visible, or its commit
    * carried no stats) contributes nothing — absent stats keep files,
    * conservative like every pruning path. */
  private def loadStatsFor(versions: Seq[Long])
      : Map[String, Map[String, (String, String, String)]] =
    versions.sorted
      .map(v => new File(f"$logDir/$v%020d.stats.tsv"))
      .filter(_.isFile)
      .foldLeft(
        Map.empty[String, Map[String, (String, String, String)]])(foldStats)

  private def foldStats(
      acc: Map[String, Map[String, (String, String, String)]],
      f: File): Map[String, Map[String, (String, String, String)]] = {
    val lines = new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    lines.foldLeft(acc) { (m, line) =>
      line.split("\t", -1) match {
        case Array(rel, c, kind, mn, mx) =>
          val file = dec(rel)
          m.updated(file,
            m.getOrElse(file, Map.empty)
              .updated(dec(c), (kind, mn, mx)))
        case _ => m
      }
    }
  }

  /** Could a file whose `column` spans [mn, mx] contain a value in
    * [lo, hi]? (None bound = unbounded.) Conservative on any doubt:
    * un-parseable query values or kind mismatches keep the file. */
  private def mayOverlap(kind: String, mn: String, mx: String,
      lo: Option[Any], hi: Option[Any]): Boolean = {
    def bd(a: Any): Option[BigDecimal] =
      try Some(BigDecimal(a.toString)) catch { case scala.util.control.NonFatal(_) => None }
    kind match {
      case "long" | "double" =>
        val fMin = bd(mn); val fMax = bd(mx)
        if (fMin.isEmpty || fMax.isEmpty) true
        else {
          val loOk = lo.flatMap(bd).forall(_ <= fMax.get)
          val hiOk = hi.flatMap(bd).forall(_ >= fMin.get)
          // a bound given but un-parseable as numeric → can't reason
          val sane = lo.forall(v => bd(v).isDefined) &&
            hi.forall(v => bd(v).isDefined)
          !sane || (loOk && hiOk)
        }
      case "string" =>
        val fMin = dec(mn); val fMax = dec(mx)
        lo.forall(_.toString <= fMax) && hi.forall(_.toString >= fMin)
      case _ => true
    }
  }

  /** The snapshot restricted to files whose logged [min,max] for
    * `column` may intersect [lo, hi] — Delta/Iceberg-style data
    * skipping from the commit log, no footer reads at query time.
    * Files without logged stats for `column` are always kept.
    *
    * POINT predicates (lo == hi, both defined) additionally probe the
    * per-file bloom sidecar when one exists: min/max prunes ranges but
    * is useless for point lookups on high-cardinality unclustered keys
    * (every file's [min,max] spans the key space), while the bloom
    * answers "could this file hold key k?" in ~10 bits/row. Missing
    * sidecar → file kept, so tables committed without [[bloomIndex]]
    * behave exactly as before. */
  private[graft] def prunedSnapshot(
      column: String, lo: Option[Any], hi: Option[Any]): Snapshot =
    pruneFiles(snapshot(), Seq((column, lo, hi)))

  /** `snap` restricted to files that may hold a row satisfying EVERY
    * `(column, lo, hi)` bound — the per-column candidate sets
    * INTERSECT, which stays conservative because each per-column test
    * is (a file not overlapping one bound cannot hold a row matching
    * the conjunction). This is what lets a composite-key MERGE prune:
    * each key column contributes its source [min,max], and only files
    * overlapping all of them are candidates.
    *
    * Two prune sources beyond the logged footer stats:
    *  - GENERATED-COLUMN DERIVATION ([[derivedBounds]]): a bound on a
    *    base column propagates to any generated column that is a
    *    recognized monotone function of it — Delta's headline use of
    *    generated columns (`WHERE ts BETWEEN …` prunes a table
    *    partitioned on `event_date = to_date(ts)` without the user
    *    naming the derived key);
    *  - PARTITION-PATH pruning ([[partitionKeep]]): hive-layout files
    *    carry their partition value IN THE NAME, so a bound on the
    *    partition column (given or derived) drops whole partitions
    *    from the manifest — no listing, no footer reads, the same
    *    manifest-level selection as [[readPartition]], now reachable
    *    from ANY bound source including the SQL relation's pushed
    *    filters. */
  private[ops] def pruneFiles(snap: Snapshot,
      preds: Seq[(String, Option[Any], Option[Any])]): Snapshot =
    pruneFilesWith(loadStats(), snap, preds)

  /** [[pruneFiles]] against a CALLER-SUPPLIED stats map — the rebase
    * probe loads only the race window's sidecars instead of the whole
    * log's. */
  private def pruneFilesWith(
      stats: Map[String, Map[String, (String, String, String)]],
      snap: Snapshot,
      preds: Seq[(String, Option[Any], Option[Any])]): Snapshot = {
    val predsAll = preds ++ derivedBounds(snap, preds)
    // predicates arrive with LOGICAL names; stats, blooms, and
    // partition paths are keyed by the PHYSICAL names the files were
    // written with
    val phys = predsAll.map { case (c, lo, hi) =>
      (physName(snap, c), lo, hi) }
    val sel = snap.files.filter { full =>
      val rel = full.stripPrefix(s"$dir/")
      partitionKeep(rel, phys) && phys.forall { case (column, lo, hi) =>
        val isPoint = lo.isDefined && hi.isDefined && lo == hi
        val statsKeep = stats.get(rel).flatMap(_.get(column)) match {
          case Some((kind, mn, mx)) => mayOverlap(kind, mn, mx, lo, hi)
          case None => true
        }
        statsKeep && (!isPoint || bloomMayContain(rel, column, lo.get))
      }
    }
    Snapshot(snap.version, sel, snap.dvs, dir, snap.merged,
      snap.cts, snap.cms)
  }

  /** Bounds a predicate set implies for GENERATED columns: for each
    * `(c, lo, hi)` and each declared `g = f(c)` whose expression is a
    * recognized monotone non-decreasing shape
    * ([[TxPredicates.monotoneBase]]), emit `(g, f(lo), f(hi))`.
    * Endpoints evaluate through the engine itself (a one-row local
    * projection — the exact semantics of the declared expression, no
    * reimplementation to drift); a failed or null evaluation leaves
    * that side unbounded, conservative like every pruning path. Zero
    * cost on tables without generated columns. */
  private def derivedBounds(snap: Snapshot,
      preds: Seq[(String, Option[Any], Option[Any])])
      : Seq[(String, Option[Any], Option[Any])] = {
    val gcs = gcMap(snap)
    if (gcs.isEmpty || preds.isEmpty) Nil
    else {
      val parsed = gcs.toSeq.sortBy(_._1).flatMap { case (g, eStr) =>
        (try TxPredicates.monotoneBase(
          spark.sessionState.sqlParser.parseExpression(eStr))
        catch { case scala.util.control.NonFatal(_) => None }).map(base => (g, eStr, base))
      }
      preds.flatMap { case (c, lo, hi) =>
        if (lo.isEmpty && hi.isEmpty) Nil
        else parsed.collect { case (g, eStr, base) if base == c =>
          (g, lo.flatMap(evalGcAt(eStr, c, _)),
            hi.flatMap(evalGcAt(eStr, c, _)))
        }.filter(b => b._2.isDefined || b._3.isDefined)
      }
    }
  }

  /** Evaluate a generated-column expression at a single point of its
    * base column. */
  private def evalGcAt(e: String, c: String, v: Any): Option[Any] =
    try {
      val r = spark.range(1).select(lit(v).as(c)).select(expr(e)).head()
      if (r.isNullAt(0)) None else Option(r.get(0))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Could the partition path a hive-layout file name encodes satisfy
    * every bound on its partition columns? EVERY `col=value` directory
    * segment is checked (multi-key layouts prune on any bounded key);
    * flat files, unparseable segments, and the null partition always
    * keep (no reasoning, never wrong).
    *
    * The compare mode follows the BOUND's runtime type, because after
    * SQL analysis a literal is cast to the column's declared type —
    * so the bound's type IS the column's type signal (the path value
    * is always a string and carries no type):
    *  - numeric bound → the column is numeric: numeric compare (an
    *    unparseable path value keeps — conservative);
    *  - String bound → the column is ALMOST ALWAYS string-typed, where
    *    SQL orders lexically — but a caller may also have passed a
    *    stringly-typed bound for a numeric column through the
    *    programmatic API, so a partition is dropped only when the
    *    string order AND (when both sides parse) the numeric order
    *    BOTH exclude it: the string partitions '9','10','90' survive
    *    `c BETWEEN '10' AND '90'` (string order keeps '9'), and
    *    numeric partitions survive stringly bounds (numeric order
    *    keeps) — neither typing can lose rows;
    *  - temporal/boolean bound → ISO renderings order lexically:
    *    string compare, with the bound (lo) / value (hi) PREFIX-
    *    truncated first, which only ever relaxes the bound (a prefix
    *    orders ≤ its extension), so a formatting-suffix mismatch
    *    (timestamp seconds vs '.0') can keep an extra partition but
    *    never drop a matching one. */
  private def partitionKeep(rel: String,
      phys: Seq[(String, Option[Any], Option[Any])]): Boolean = {
    if (phys.isEmpty || !rel.contains('/')) return true
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case scala.util.control.NonFatal(_) => None }
    def numBound(v: Any): Option[BigDecimal] = v match {
      case b: scala.math.BigDecimal => Some(b)
      case b: scala.math.BigInt => Some(BigDecimal(b))
      case n: java.lang.Number => num(n.toString)
      case _ => None
    }
    // string order with prefix relaxation (see scaladoc)
    def strKeep(pval: String, lo: Option[Any], hi: Option[Any]) =
      lo.forall(v => pval >= v.toString.take(pval.length)) &&
        hi.forall(v => pval.take(v.toString.length) <= v.toString)
    // numeric order when both sides parse, else keep
    def numKeep(pval: String, lo: Option[Any], hi: Option[Any]) = {
      val p = num(pval)
      def side(b: Option[Any], ok: (BigDecimal, BigDecimal) => Boolean) =
        b.forall { v =>
          (p, numBound(v).orElse(num(v.toString))) match {
            case (Some(x), Some(y)) => ok(x, y)
            case _ => true
          }
        }
      side(lo, _ >= _) && side(hi, _ <= _)
    }
    rel.split('/').dropRight(1).flatMap(partKey).forall {
      case (_, None) => true // the null partition
      case (pcol, Some(pval)) =>
        phys.filter(_._1 == pcol).forall { case (_, lo, hi) =>
          val typedNumeric =
            lo.exists(numBound(_).isDefined) ||
              hi.exists(numBound(_).isDefined)
          if (typedNumeric) numKeep(pval, lo, hi)
          else if (lo.exists(_.isInstanceOf[String]) ||
              hi.exists(_.isInstanceOf[String]))
            strKeep(pval, lo, hi) || numKeep(pval, lo, hi)
          else strKeep(pval, lo, hi)
        }
    }
  }

  /** Point read with file skipping: only files whose logged range can
    * contain `value` are opened; the exact predicate still applies, so
    * results are identical to `read().where(col === value)` — only the
    * I/O changes. Pays off after [[compactZOrdered]] (tight per-file
    * ranges in both z-dimensions). */
  def readWhere(column: String, value: Any): DataFrame =
    readPrunedOf(snapshot(), Seq((column, Option(value), Option(value))))
      .where(col(column) === lit(value))

  /** Range read with file skipping; same contract as [[readWhere]]. */
  def readBetween(column: String, lo: Any, hi: Any): DataFrame =
    readPrunedOf(snapshot(), Seq((column, Option(lo), Option(hi))))
      .where(col(column) >= lit(lo) && col(column) <= lit(hi))

  /** Read `full` restricted to the files `preds` keep. A prune that
    * keeps NOTHING on a non-empty table returns a zero-row frame WITH
    * THE TABLE'S SCHEMA (from the unpruned plan under `limit(0)` —
    * the optimizer folds it to an empty relation, no file is read):
    * a raw `emptyDataFrame` has no columns at all, so every caller's
    * residual predicate would die on AnalysisException instead of
    * selecting zero rows. */
  private def readPrunedOf(full: Snapshot,
      preds: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    val pruned = pruneFiles(full, preds)
    if (pruned.files.isEmpty && full.files.nonEmpty)
      readSnapshot(full).limit(0)
    else readSnapshot(pruned)
  }

  /** Multi-predicate stats-pruned read of `version` (MaxValue = head):
    * the hook the batch relation's filter pushdown uses — each
    * `(column, lo, hi)` bound drops files whose logged range excludes
    * it (per-column candidate sets INTERSECT), with NO residual
    * predicate applied here: the caller re-applies exact filters, so
    * pruning is pure I/O reduction and conservative bounds (e.g. an
    * inclusive bound for a strict comparison) stay correct. */
  private[graft] def readPruned(version: Long,
      preds: Seq[(String, Option[Any], Option[Any])]): DataFrame =
    readPrunedOf(snapshotAt(version), preds)

  /** Every [[CheckpointInterval]] commits, the winner persists the
    * fully-replayed active file list next to its entry. Best-effort:
    * a failed or lost checkpoint only costs replay time, never
    * correctness, so every failure mode is swallowed.
    *
    * Per-table TUNING via the `txtable.checkpointInterval` property
    * (Delta's `delta.checkpointInterval`): the effective interval is
    * the property rounded UP to a multiple of the base interval —
    * checked here only at base-interval boundaries, so the hot commit
    * path never pays a property read (the candidate versions already
    * resolve a snapshot to build the inventory; reading its tokens is
    * free). A 100k-file table checkpointing every 10 commits under a
    * 30 s streaming trigger writes its whole inventory ~300×/day;
    * raising the interval trades replay length for that write
    * amplification — exactly the knob Delta exposes. Malformed or
    * sub-base values fall back to the base interval. */
  /** Latest-resolved `txtable.checkpointInterval` raw value (0 =
    * unset), memoized by [[buildSnapshot]] so the widened-interval
    * skip below never pays a snapshot resolve of its own. */
  @volatile private var seenCkptInterval: Long = 0L

  private def maybeCheckpoint(version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0) try {
      // widened-interval skip FIRST, off the memo — a skipped
      // candidate must cost nothing (pre-fix it resolved the full
      // snapshot, checkpoint read + replay, just to read one property)
      val effInterval = Some(seenCkptInterval)
        .filter(_ > CheckpointInterval)
        .map(n => ((n + CheckpointInterval - 1) / CheckpointInterval) *
          CheckpointInterval)
        .getOrElse(CheckpointInterval.toLong)
      if (version % effInterval != 0L) return
      val s = snapshotAt(version)
      // data + dv files + constraint and column-mapping tokens in one
      // list: replay splits them back by prefix
      val files = (s.files ++ s.dvs).map(_.stripPrefix(s"$dir/")) ++
        s.cts ++ s.cms
      val action = if (s.merged) "ckpt-evolve" else "ckpt"
      val inventory: Seq[String] =
        if (files.size <= TxTable.CheckpointParquetThreshold) files
        else {
          // big inventory → parquet sidecar (splittable, compressed,
          // read back distributed); the CAS'd header carries only a
          // reference. Sidecar FIRST — a reader never follows a
          // reference that isn't fully on disk. The sidecar's content
          // is a pure function of the version (the replayed active
          // set), so an orphan left by a crashed checkpointer is
          // safely adopted by the next attempt at the same version.
          val name = f"$version%020d.ckpt.parquet"
          val sidecar = new File(logDir, name)
          if (!sidecar.exists()) {
            val sq = spark
            import sq.implicits._
            val tmp = new File(logDir,
              s".tmp-ckpt-${java.util.UUID.randomUUID()}")
            val parts = math.max(1, math.ceil(files.size.toDouble /
              TxTable.CheckpointParquetPartRows).toInt)
            // (i, n): the index column restores replay order on read —
            // a distributed scan returns rows in any order
            files.zipWithIndex.map { case (n, i) => (i.toLong, n) }
              .toDF("i", "n").repartition(parts)
              .write.parquet(tmp.getAbsolutePath)
            try Files.move(tmp.toPath, sidecar.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.nio.file.FileSystemException => rmTree(tmp) }
          }
          Seq(s"pqref:$name")
        }
      val c = Commit(version, action, inventory, Nil,
        System.currentTimeMillis())
      store.putIfAbsent(ckptFile(version),
        render(c).getBytes(StandardCharsets.UTF_8))
      // STATS CONSOLIDATION: fold every active file's stats into this
      // checkpoint's own sidecar (marked `#consolidated`), so pruned
      // reads load ONE file plus the probed tail instead of every
      // sidecar the table ever wrote. Loaded through the OLD pointer
      // (bounded by the previous consolidation), filtered to the
      // active set, written atomically; stats per file are immutable,
      // so racing checkpointers write identical content. Best-effort:
      // a miss just leaves readers on the full-listing fallback.
      try {
        val prior = loadStats()
        val activeSet = files.toSet
        val lines = prior.toSeq
          .filter { case (rel, _) => activeSet.contains(rel) }
          .sortBy(_._1)
          .flatMap { case (rel, cols) =>
            cols.toSeq.sortBy(_._1).map { case (cn, (kind, mn, mx)) =>
              s"${enc(rel)}\t${enc(cn)}\t$kind\t$mn\t$mx"
            }
          }
        val tmp = new File(logDir,
          s".tmp-stats-${java.util.UUID.randomUUID()}")
        Files.write(tmp.toPath,
          ("#consolidated\n" + lines.mkString("\n"))
            .getBytes(StandardCharsets.UTF_8))
        Files.move(tmp.toPath, statsFile(version).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case scala.util.control.NonFatal(_) => () }
      // pointer advances whether WE won the checkpoint CAS or a racing
      // writer did — the checkpoint exists either way
      writeLastCkptPtr(version)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** `dt` with every NESTED nullability flag forced true: the guards
    * compare name → type shape, and nested-field nullability is not
    * shape — a source whose struct fields went non-nullable through a
    * join or aggregation (Catalyst tightens inferred nullability
    * freely) still writes bit-identical parquet. Raw `DataType`
    * equality would refuse it; normalizing both sides keeps the guard
    * at its stated name → type intent. */
  private def normNull(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = normNull(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(normNull(a.elementType), true)
      case m: MapType =>
        MapType(normNull(m.keyType), normNull(m.valueType), true)
      case other => other
    }
  }

  private def typeMap(schema: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] =
    schema.fields.map(f => f.name -> normNull(f.dataType)).toMap

  /** Schema guard against a SPECIFIC resolved snapshot. Called inside
    * every append's retry loop with the loop's own head snapshot, which
    * closes the check-then-commit TOCTOU completely: the version CAS
    * means a commit that lands after `base` was resolved makes our
    * tryCommit lose and re-enter the loop, where the guard re-runs
    * against the new head — a mismatched append can never land. Cheap:
    * schema inference reads parquet footers only. */
  /** LOGICAL schema of `s`, avoiding an O(active files) relation plan
    * when one footer provably answers it: a FLAT, unevolved table's
    * files share one schema (the append guard's own invariant), so
    * the head file's footer IS the schema. Planning the full relation
    * lists every path driver-side per call, which turned each
    * streaming-sink trigger into an O(table) walk — measured 1.7 s
    * per trigger on an 800-file table, with the schema the only thing
    * asked of it. Hive-partitioned layouts keep the full read
    * (partition-column TYPES are inferred from the whole leaf set —
    * one path's value could narrow them), as do merged-footer
    * (evolved) tables, whose union schema is inherently all-footers. */
  /** Commit actions that provably CANNOT change the logical schema:
    * appends/copies pass the schema guard, row DML rewrites carry the
    * schema through, compaction is content-identical, vectors and
    * metadata tokens touch no columns. ALLOWLIST, not a denylist —
    * an unknown action (a consumer's custom [[overwriteAs]] tag, a
    * future engine action) invalidates the memo by default. */
  private val SchemaNeutralActions = Set("append", "copy", "compact",
    "delete", "update", "upsert", "merge", "dvdelete", "properties",
    "constraint")
  private var schemaMemo: Option[(Long, Set[String],
    org.apache.spark.sql.types.StructType)] = None

  /** Partition-directory set of the snapshot (string ops only, no
    * filesystem calls): the inferred partition-column TYPES depend
    * exactly on the leaf-value strings present, so an identical dir
    * set means identical partition schema — and a DELETE that retires
    * the last `par=zz` leaf (or an append adding one) changes the set
    * and forces a recompute, even though its ACTION is neutral. */
  private def leafDirs(s: Snapshot): Set[String] =
    s.files.map { f =>
      val rel = f.stripPrefix(s"${s.base}/")
      val cut = rel.lastIndexOf('/')
      if (cut < 0) "" else rel.take(cut)
    }.toSet

  private[graft] def logicalSchema(s: Snapshot)
      : org.apache.spark.sql.types.StructType = {
    // memo: valid as long as (a) every commit since the memoized
    // version is schema-neutral — checked against the REAL log window,
    // so a foreign process's schema-changing commit invalidates like a
    // local one, and a retention-cleaned (incomplete) window refuses —
    // and (b) the partition LEAF SET is unchanged (its values are what
    // partition-column type inference runs on). This is what makes
    // PARTITIONED-table appends O(window + |files| string ops) too
    // (the footer fast path below cannot serve them)
    schemaMemo match {
      case Some((v, dirs, sch)) if v == s.version &&
          dirs == leafDirs(s) => return sch
      case Some((v, dirs, sch)) if v < s.version =>
        val window = commitsBetween(v, s.version)
        if (window.size == s.version - v &&
            window.forall(c => SchemaNeutralActions.contains(c.action)) &&
            dirs == leafDirs(s)) {
          schemaMemo = Some((s.version, dirs, sch))
          return sch
        }
      case _ => ()
    }
    val flat = s.files.headOption
      .map(_.stripPrefix(s"${s.base}/")).forall(!_.contains("/"))
    val raw =
      if (s.files.isEmpty) spark.emptyDataFrame
      else if (s.merged || !flat) s.read(spark)
      else scan(spark, s.files.take(1))
    val sch = toLogical(raw, s).schema
    if (s.files.nonEmpty)
      schemaMemo = Some((s.version, leafDirs(s), sch))
    sch
  }

  private def guardSchema(base: Snapshot, df: DataFrame): Unit =
    if (base.files.nonEmpty) {
      // incoming frames speak LOGICAL names; compare against the
      // mapping-applied view of the table
      val existing = typeMap(logicalSchema(base))
      val incoming = typeMap(df.schema)
      require(existing == incoming,
        s"append schema mismatch: table has $existing, incoming $incoming")
    }

  /** Relaxed guard for schema-EVOLVING appends: columns shared with the
    * table must keep their types; NEW columns are allowed (older files
    * read them as null once the snapshot merges footers), and columns
    * the incoming batch omits are allowed symmetrically. Same
    * TOCTOU-free placement as [[guardSchema]] — re-run per retry
    * against that attempt's head. */
  private def guardSchemaEvolve(base: Snapshot, df: DataFrame): Unit =
    if (base.files.nonEmpty) {
      val existing = typeMap(logicalSchema(base))
      val incoming = typeMap(df.schema)
      val clashes = incoming.keySet.intersect(existing.keySet)
        .filter(k => incoming(k) != existing(k))
      require(clashes.isEmpty,
        s"evolve append changes column TYPES (only adding/omitting " +
          s"columns is schema evolution): ${clashes.map(k =>
            s"$k: ${existing(k)} -> ${incoming(k)}").mkString(", ")}")
      // a NEW logical column must not collide with a physical name
      // that old files still carry (a renamed column's original name,
      // or a dropped column) — identity-writing it would resurrect
      // that old data under the new column on merged reads
      val m = cmMap(base)
      val reserved = m.values.toSet ++ cmDropped(base)
      val clash = df.columns.toSet.filterNot(m.contains)
        .intersect(reserved)
      require(clash.isEmpty,
        s"evolve append re-introduces ${clash.toSeq.sorted.mkString(", ")}" +
          ": the name is a renamed column's physical alias or a dropped " +
          "column still present in old files — pick another name")
    }

  private def commitAppend(staged: (Seq[String], Seq[String]),
      df: DataFrame, evolve: Boolean = false,
      enforcedCts: Map[String, String] = Map.empty,
      enforcedGcs: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Commit = {
    val (files, stats) = staged
    commitLoop("append", BlindBudget, reclaim = files) { base =>
      if (evolve) guardSchemaEvolve(base, df) else guardSchema(base, df)
      guardConstraints(base, enforcedCts, files, enforcedGcs)
      val (txnAdd, txnRm) = txnSwap(base, txn)
      Proposal(if (evolve) "evolve" else "append", files ++ txnAdd, txnRm,
        stats)
    }
  }

  /** Append `df` — never conflicts; rebases onto any winner's head.
    * The incoming schema must match the table's (same name → type map;
    * column order is free — parquet readers resolve by name): a silent
    * schema drift would otherwise surface as reader-dependent column
    * soup long after the writing job exited. The guard re-runs against
    * each commit attempt's head snapshot (see [[guardSchema]]), so a
    * concurrent overwrite that changes the table's schema cannot let a
    * now-mismatched append land. `txn` carries a transaction identity:
    * the commit swaps the app's `txn-` marker atomically with the data
    * (see [[TxTable.encodeTxn]]) — the idempotent-writes handshake the
    * streaming sink rides. */
  def append(df: DataFrame, txn: Option[(String, Long)] = None): Commit = {
    val s0 = snapshot()
    if (identMap(s0).nonEmpty)
      return appendWithIdentity(df, evolve = false, Nil, txn)
    val cts = ctMap(s0)
    val df2 = applyGenerated(df, s0)
    // layout-aware: appending to a hive-partitioned table re-stages
    // under its partition directories automatically (a flat file next
    // to partitioned ones would break path-based inference)
    commitAppend(stage(toPhysical(enforced(df2, cts), s0), AsBase(s0)), df2,
      enforcedCts = cts, enforcedGcs = gcMap(s0), txn = txn)
  }

  /** Schema-EVOLVING append (Delta's `mergeSchema` write): the batch
    * may add new columns and/or omit existing ones; shared columns must
    * keep their types ([[guardSchemaEvolve]]). The commit is logged as
    * action `evolve`, which permanently flips the table's snapshots to
    * footer-merging reads ([[TxTable.Snapshot.merged]]) so every file's
    * columns surface and absences read as null — the marker survives
    * checkpointing (`ckpt-evolve`) and restores. Streaming tails treat
    * an evolve like any other non-append change: fail by default,
    * skippable via `skipChangeCommits` — a schema change mid-stream is
    * never silent. */
  def appendEvolve(df: DataFrame): Commit = {
    val s0 = snapshot()
    if (identMap(s0).nonEmpty)
      return appendWithIdentity(df, evolve = true, Nil)
    val cts = ctMap(s0)
    val df2 = applyGenerated(df, s0)
    commitAppend(stage(toPhysical(enforced(df2, cts), s0), AsBase(s0)), df2,
      evolve = true, enforcedCts = cts, enforcedGcs = gcMap(s0))
  }

  /** IDEMPOTENT FILE INGEST (Delta's `COPY INTO`): load the files
    * under `srcDir` matching `pattern` that this table has NOT yet
    * recorded, as one atomic commit carrying both the content and one
    * `cp-` ledger token per loaded source file ([[TxTable.encodeCp]]).
    * Rerunning the same COPY — the scheduled-ingest crash-retry shape
    * — loads exactly the files that arrived since, never a duplicate
    * row; None = nothing new. The incoming schema passes the same
    * guard as [[append]] (a drifted producer refuses loudly), CHECK
    * constraints and generated columns apply, and the commit retry
    * re-checks the ledger so two racing COPYs of the same files
    * cannot both land them.
    *
    * Scale shape: the ledger read is the snapshot's token list
    * (driver-side, checkpoint-compacted); the load reads ONLY the
    * fresh files; commit cost is one entry. */
  def copyInto(srcDir: String, format: String = "parquet",
      pattern: String = "*"): Option[Commit] = {
    val fs = new File(srcDir)
    require(fs.isDirectory, s"COPY INTO source is not a directory: $srcDir")
    val matcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher(s"glob:$pattern")
    def listSrc(): Seq[String] = Option(fs.listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") &&
        matcher.matches(Paths.get(f.getName)))
      .map(_.getAbsolutePath).sorted
    def ledger(s: Snapshot): Set[String] =
      s.cms.filter(TxTable.isCpName).map(TxTable.decodeCp).toSet
    restaging("COPY INTO") { head =>
      require(identMap(head).isEmpty,
        "COPY INTO on a table with identity columns is not supported " +
          "(loaded rows need engine allocation — use append)")
      val fresh = listSrc().filterNot(ledger(head))
      if (fresh.isEmpty) None
      else {
        val cts = ctMap(head)
        val gcs = gcMap(head)
        val df = applyGenerated(
          spark.read.format(format).load(fresh: _*), head)
        guardSchema(head, df)
        val (staged, stats) =
          stage(toPhysical(enforced(df, cts), head), AsBase(head))
        Some(Staged(staged,
          // a racing COPY that recorded any of OUR files must force a
          // re-derive, or both would land the rows
          base => !fresh.exists(ledger(base)), { base =>
            // the guards re-run against THIS base — a constraint or
            // schema change committed since staging must refuse here
            // exactly as commitAppend's per-attempt re-guard does;
            // cts/gcs are what STAGING enforced, and the guard scans
            // staged files against any set added since
            guardSchema(base, df)
            guardConstraints(base, cts, staged, gcs)
            Proposal("copy", staged ++ fresh.map(TxTable.encodeCp),
              stats = stats)
          }))
      }
    }
  }

  /** Schema-widening DDL (Delta's `ALTER TABLE … ADD COLUMNS`): add
    * `cols` to the table WITHOUT rewriting a byte of data. The new
    * columns' only physical existence is a ZERO-ROW carrier parquet
    * file staged by this commit — the table's schema is the union of
    * its files' footers once an `evolve` commit flips merged-footer
    * reads on, so the carrier's footer is exactly where a new column
    * lives until real data arrives, and every existing row reads it as
    * null (the same semantics Delta gets from its metadata-only schema
    * action). O(1): one empty file, one commit, no data I/O. On a
    * hive-partitioned table the carrier lands INSIDE an existing leaf
    * directory with the partition-path columns dropped — a flat
    * carrier at the root would make path-based partition inference
    * ill-defined for every later read. */
  def addColumns(cols: org.apache.spark.sql.types.StructType): Commit = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    commitLoop("addColumns", BlindBudget) { head =>
      require(head.files.nonEmpty,
        "ADD COLUMNS needs an existing table with at least one file " +
          "(the schema lives in parquet footers)")
      val cur = toLogical(readSnapshot(head), head).schema
      val have = cur.fieldNames.map(_.toLowerCase).toSet
      cols.foreach { f => require(!have.contains(f.name.toLowerCase),
        s"column ${f.name} already exists") }
      val staged = stageCarrier(head, cols)
      Proposal("evolve", staged, staged = staged)
    }
  }

  /** `ALTER TABLE t ADD COLUMN name type DEFAULT expr` — ONE atomic
    * evolve commit carrying the schema carrier AND both default
    * declarations: the EXISTS default is bound to a literal here,
    * once (`ADD COLUMN … DEFAULT current_date()` freezes today's date
    * for the pre-existing rows — the standard exists-default
    * binding), while the CURRENT default keeps the EXPRESSION live so
    * a later insert that omits the column evaluates it at write time
    * (a month-later insert fills THAT day's date) — exactly
    * [[setColumnDefault]]'s contract, one declaration per token kind.
    * The default must be a constant expression (no column references)
    * that casts to `dataType` and does not evaluate to NULL. */
  def addColumnWithDefault(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: String): Commit = {
    val bound = bindDefault(default, dataType)
    val live = s"CAST(($default) AS ${dataType.sql})"
    commitLoop("addColumnWithDefault", BlindBudget) { head =>
      require(head.files.nonEmpty,
        "ADD COLUMN needs an existing table with at least one file " +
          "(the schema lives in parquet footers)")
      val cur = toLogical(readSnapshot(head), head).schema
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists")
      val staged = stageCarrier(head, org.apache.spark.sql.types
        .StructType(Seq(org.apache.spark.sql.types
          .StructField(name, dataType))))
      // stale default tokens under this name (left by a column-mapping
      // history) retire in the same commit — never inherited
      val stale = head.cms.filter(t => TxTable.isTpName(t) &&
        TxTable.defaultKeyCol(TxTable.decodeTp(t)._1)
          .exists(_.equalsIgnoreCase(name)))
      val toks = Seq(
        TxTable.encodeTp(TxTable.DefaultPrefix + name, live),
        TxTable.encodeTp(TxTable.ExistsDefaultPrefix + name, bound))
      Proposal("evolve", staged ++ toks, stale, staged = staged)
    }
  }

  /** `ALTER TABLE t ALTER COLUMN name SET DEFAULT expr` — declare (or
    * replace) the CURRENT default of an EXISTING column: future writes
    * that omit the column compute the expression at write time
    * (`current_date()` stays live, Delta's contract); reads and
    * existing rows are untouched. Metadata-only property commit. */
  def setColumnDefault(name: String, default: String): Commit = {
    val head = snapshot()
    require(head.files.nonEmpty,
      "SET DEFAULT needs an existing table with at least one file " +
        "(declare ahead of content via setColumnDefaultDeclared)")
    val cur = toLogical(readSnapshot(head), head).schema
    val field = cur.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(sys.error(s"no column '$name' (table has " +
        s"${cur.fieldNames.sorted.mkString(", ")})"))
    setColumnDefaultDeclared(field.name, default, field.dataType)
  }

  /** [[setColumnDefault]] with the column's type DECLARED by the
    * caller — the CREATE-TABLE-with-DEFAULT flow, where the column
    * type is known from the DDL before any data file exists. */
  def setColumnDefaultDeclared(name: String, default: String,
      dataType: org.apache.spark.sql.types.DataType): Commit = {
    val head = snapshot()
    // an engine-computed column can never be "omitted and filled":
    // generated columns compute, identity columns allocate — a default
    // there would silently never engage (or fight the enforcement)
    require(!gcMap(head).keys.exists(_.equalsIgnoreCase(name)) &&
      !identMap(head).keys.exists(_.equalsIgnoreCase(name)),
      s"column $name is engine-computed (generated/identity) — " +
        "a DEFAULT is meaningless there")
    validateDefault(default, dataType)
    setProperties(Map(TxTable.DefaultPrefix + name ->
      s"CAST(($default) AS ${dataType.sql})"))
  }

  /** `ALTER TABLE t ALTER COLUMN name DROP DEFAULT` — future writes
    * must supply the column again. The EXISTS default (if the column
    * was added with one) keeps filling pre-evolve rows on read —
    * dropping the current default never rewrites history. */
  def dropColumnDefault(name: String): Commit = {
    val ks = properties.keys.filter(k =>
      k.startsWith(TxTable.DefaultPrefix) &&
        k.stripPrefix(TxTable.DefaultPrefix).equalsIgnoreCase(name)).toSeq
    require(ks.nonEmpty, s"no DEFAULT declared on column '$name'")
    unsetProperties(ks)
  }

  /** Evaluate-and-freeze `default` as a typed SQL literal (the
    * exists-default binding). */
  private def bindDefault(default: String,
      dataType: org.apache.spark.sql.types.DataType): String = {
    validateDefault(default, dataType)
    val v = spark.sql(s"SELECT CAST(($default) AS ${dataType.sql})")
      .head().get(0)
    require(v != null,
      s"DEFAULT ($default) evaluates to NULL — add the column without " +
        "a default instead")
    org.apache.spark.sql.catalyst.expressions.Literal
      .create(v, dataType).sql
  }

  /** A default must parse, reference NO columns, and cast to the
    * column's type — validated at DDL time so a typo fails the ALTER,
    * never a later write. */
  private def validateDefault(default: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(default)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.sql
    }
    require(refs.isEmpty,
      s"DEFAULT must be a constant expression; it references: " +
        refs.mkString(", "))
    spark.sql(s"SELECT CAST(($default) AS ${dataType.sql})").head()
    ()
  }

  /** Stage the zero-row schema-carrier parquet for `cols` appended to
    * `head`'s schema (the [[addColumns]] / [[addIdentityColumn]]
    * device). On a hive-partitioned layout the carrier lands INSIDE
    * an existing leaf directory with the partition-path columns
    * dropped — a flat carrier at the root would make path-based
    * partition inference ill-defined for every later read. */
  private def stageCarrier(head: Snapshot,
      cols: org.apache.spark.sql.types.StructType): Seq[String] = {
    val cur = toLogical(readSnapshot(head), head).schema
    val widened = org.apache.spark.sql.types.StructType(
      cur.fields ++ cols.fields)
    val carrier = toPhysical(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), widened)
      .repartition(1), head)
    val first = head.files.head.stripPrefix(s"$dir/")
    stage(carrier, IntoLeaf(first.take(first.lastIndexOf('/') max 0)))._1
  }

  /** Hive-layout partitioned append: data files land under
    * `partitionCol=value/` subdirectories and the commit entry records
    * the partition-qualified relative paths — which makes
    * [[readPartition]] a MANIFEST-level prune (file selection from the
    * log alone, no directory listing, no footer reads for
    * non-matching partitions; the same mechanism as Iceberg's manifest
    * partition filtering). The partition column round-trips through
    * path inference on read, so keep its values inference-stable
    * (strings that don't look numeric, or exact ints) — same caveat
    * every hive-layout table has. Use ONE append style per table:
    * mixing flat and partitioned files makes path-based partition
    * inference ill-defined. */
  def appendPartitioned(df: DataFrame, partitionCol: String): Commit =
    appendPartitioned(df, Seq(partitionCol))

  /** Multi-key variant: files nest `c1=v1/c2=v2/…/` in `partitionCols`
    * order (the reference's own fact layout is three-level —
    * `etl.py:71-74` partitions by entry_year/entry_month/port_code).
    * Every pruning surface ([[readPartitions]], [[partitionKeep]])
    * matches per-segment, so a bound on ANY of the keys prunes. `txn`
    * is [[append]]'s transaction identity. */
  def appendPartitioned(df: DataFrame, partitionCols: Seq[String],
      txn: Option[(String, Long)] = None): Commit = {
    val s0 = snapshot()
    if (identMap(s0).nonEmpty) {
      require(partitionCols.nonEmpty, "partitionCols must be non-empty")
      return appendWithIdentity(df, evolve = false, partitionCols, txn)
    }
    val cts = ctMap(s0)
    // generation runs BEFORE the partition-column check and the
    // partitioned write, so a generated partition key (event_date
    // from a timestamp) may be omitted by the batch entirely
    val df2 = applyGenerated(df, s0)
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    partitionCols.foreach { c => require(df2.columns.contains(c),
      s"partition column $c not in ${df2.columns.mkString(",")}") }
    commitAppend(
      stage(toPhysical(enforced(df2, cts), s0),
        PartitionedBy(partitionCols.map(physName(s0, _)))),
      df2, enforcedCts = cts, enforcedGcs = gcMap(s0), txn = txn)
  }

  /** Manifest-pruned partition read: the snapshot's file list is
    * filtered on the partition-qualified path IN THE LOG — untouched
    * partitions contribute zero I/O, not even a listing. The value is
    * escaped exactly the way Spark's partitioned write escaped it into
    * the path ([[partSegment]]), so values with ':', '%', '=', … and
    * null match their files instead of silently selecting nothing. */
  def readPartition(partitionCol: String, value: Any): DataFrame =
    readPartitions(Seq(partitionCol -> value))

  /** Multi-key manifest prune: a file qualifies iff EVERY given
    * `col=value` appears among its directory segments — so a subset of
    * the partition keys selects every matching leaf (bounding only
    * `entry_year` on a year/month/port layout keeps all that year's
    * months), and key order need not match the layout's nesting
    * order. */
  def readPartitions(kvs: Seq[(String, Any)]): DataFrame = {
    val snap = snapshot()
    // paths carry PHYSICAL names (writes translate before staging)
    val want = kvs.map { case (c, v) => partSegment(physName(snap, c), v) }
      .toSet
    val sel = snap.files.filter { full =>
      val dirs = full.stripPrefix(s"$dir/").split('/').dropRight(1).toSet
      want.subsetOf(dirs)
    }
    readSnapshot(snap.copy(files = sel))
  }

  /** Dynamic-partition overwrite, transactionally: replace ONLY the
    * partitions present in `df`, in one atomic commit — the TxTable
    * face of the k9 restatement semantics (a plain dynamic overwrite
    * leaves a window where a partition is truncated but not yet
    * rewritten; here both sides swap in a single log entry). `df` must
    * carry `partitionCol`; untouched partitions' files are not even
    * mentioned. */
  def overwritePartitions(df: DataFrame, partitionCol: String): Commit =
    overwritePartitions(df, Seq(partitionCol))

  /** Multi-key variant: the overwrite unit is the LEAF partition (the
    * full `c1=v1/…/cn=vn` directory path) — exactly Spark's dynamic
    * partition overwrite granularity, made atomic. */
  def overwritePartitions(df: DataFrame,
      partitionCols: Seq[String]): Commit = {
    val s0 = snapshot()
    val cts0 = ctMap(s0)
    // generation runs FIRST (a generated partition key may be omitted,
    // exactly like appendPartitioned), then CHECK + gc enforcement ride
    // the staging write like every other write path
    val df2 = applyGenerated(df, s0)
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    partitionCols.foreach { c => require(df2.columns.contains(c),
      s"partition column $c not in ${df2.columns.mkString(",")}") }
    val (files, stats) = stage(toPhysical(enforced(df2, cts0), s0),
      PartitionedBy(partitionCols.map(physName(s0, _))))
    // full leaf-directory prefixes (all segments up to the file name)
    def leaf(f: String) = f.take(f.lastIndexOf('/') max 0)
    val touched = files.map(leaf).toSet
    commitLoop("overwritePartitions", BlindBudget, reclaim = files) { base =>
      guardSchema(base, df2)
      guardConstraints(base, cts0, files, gcMap(s0))
      val replaced = base.files.map(_.stripPrefix(s"$dir/"))
        .filter(f => touched.contains(leaf(f)))
      Proposal("overwrite", files, replaced, stats)
    }
  }

  /** Replace the table's content with `df` in one atomic commit. */
  def overwrite(df: DataFrame): Commit = overwriteAs("overwrite", df)

  /** [[overwrite]] with a caller-chosen action TAG recorded as the
    * commit's action — the hook that lets a consumer make its own
    * bookkeeping atomic with the content it writes (e.g.
    * [[MaterializedView]] encodes its applied-base-version watermark in
    * the tag, so a refresh can never land without its watermark or vice
    * versa). Unknown actions behave as rewrites everywhere downstream
    * (CDF diffs them; the append-only streaming source refuses them
    * unless `skipChangeCommits`); tags must not collide with the
    * engine's reserved actions. */
  /** `layout` (optional): hive-partition the REPLACEMENT content on
    * these keys — the full-overwrite companion of
    * [[overwritePartitions]], used by the writer/CTAS face when
    * `partitionBy`/`PARTITIONED BY` accompanies an overwrite. Empty =
    * preserve the base snapshot's layout (see [[stage]]). */
  def overwriteAs(tag: String, df: DataFrame, layout: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Commit = {
    require(tag.nonEmpty && !tag.contains('"'), s"bad action tag: $tag")
    val s0 = snapshot()
    require(identMap(s0).isEmpty,
      "overwrite on a table with identity columns is not supported " +
        "(replacement rows would carry caller-chosen ids) — " +
        "dropIdentityColumn first")
    val cts0 = ctMap(s0)
    val gcs0 = gcMap(s0)
    // generated columns apply to EVERY write path (Delta enforces them
    // on UPDATE and MERGE too, not just appends): compute when the
    // frame omits the column, enforce the equality when it carries it.
    // An overwrite that legitimately redefines the schema away from a
    // gc's base columns must dropGeneratedColumn first — the expr
    // failing to resolve here is the loud refusal.
    val staged0 = toPhysical(
      enforced(applyGenerated(df, s0), cts0), s0)
    val (files, stats) = stage(staged0,
      if (layout.isEmpty) AsBase(s0)
      else PartitionedBy(layout.map(physName(s0, _))))
    commitLoop("overwrite", BlindBudget, reclaim = files) { base =>
      guardConstraints(base, cts0, files, gcs0)
      val (txnAdd, txnRm) = txnSwap(base, txn)
      Proposal(tag, files ++ txnAdd,
        (base.files ++ base.dvs).map(_.stripPrefix(s"$dir/")) ++ txnRm,
        stats)
    }
  }

  /** MERGE: latest-wins upsert of `updates` on `keys`
    * ([[Upsert.latestWins]] semantics) as an atomic rewrite. `txn` is
    * the CDC-apply identity the streaming sink's merge mode commits per
    * micro-batch (see [[append]]). */
  def upsert(updates: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None): Commit =
    // upsert is a FULL-TABLE rewrite (it reads every base file and
    // vector) with no bounds, so a lost race rebases only over windows
    // whose winners touched no data at all — txn-marker swaps,
    // properties, copy-ledger bookkeeping. Anything with rows re-derives.
    rewrite("upsert", Nil, txn) { base =>
      require(identMap(base).isEmpty,
        "upsert on a table with identity columns is not supported " +
          "(inserted rows need engine allocation — use append for new " +
          "rows, UPDATE/MERGE for changes)")
      val merged =
        if (base.files.isEmpty) updates
        else Upsert.latestWins(readSnapshot(base), updates, keys)
      // staged INSIDE the loop against this attempt's base, so the
      // constraint AND generated-column sets are the head's — no
      // TOCTOU window to guard. applyGenerated computes an omitted gc
      // for incoming rows and enforces the equality on supplied ones;
      // carried rows satisfy it by their own write-time enforcement.
      val (staged, stats) = stage(toPhysical(
        enforced(applyGenerated(merged, base), ctMap(base)), base),
        AsBase(base))
      // a full rewrite retires the deletion vectors too: their targets
      // are all removed, and the rewrite read them applied
      val removed =
        (base.files ++ base.dvs).map(_.stripPrefix(s"$dir/"))
      (Proposal("upsert", staged, removed, stats), removed)
    }

  /** Conditional MERGE — the full Delta/ANSI MERGE clause surface, the
    * CDC-apply shape real pipelines run:
    *
    * {{{
    * MERGE INTO target t USING source s ON t.k = s.k
    *   WHEN MATCHED AND <upd> THEN UPDATE SET *   -- take s's row
    *   WHEN MATCHED AND <del> THEN DELETE
    *   WHEN NOT MATCHED AND <ins> THEN INSERT *
    *   WHEN NOT MATCHED BY SOURCE AND <c> THEN UPDATE … | DELETE
    * }}}
    *
    * COLUMN-LEVEL forms ride the same clauses: `updateSet =
    * Some(Map("a" -> expr("s.a + t.a")))` turns the UPDATE into
    * `SET a = …` (unassigned columns KEEP the target value, SQL's
    * contract), `insertValues = Some(Map(...))` turns the INSERT into
    * `INSERT (cols) VALUES (…)` (unassigned columns null-fill at the
    * table's types), and with column-level assignments on BOTH
    * clauses the source may have ANY shape — the identical-schema
    * requirement applies only to the star forms. NOT MATCHED BY
    * SOURCE clauses act on target rows no source key matches
    * (conditions/assignments may reference `t.*` only); their
    * presence disables source-bounds file pruning — every target row
    * is a candidate, the full-table rewrite Delta performs for the
    * same clause.
    *
    * Clause conditions are Columns over the ALIASED sides — `t.<col>`
    * for the target row, `s.<col>` for the source row (e.g.
    * `expr("s.ts > t.ts")`); pass `lit(true)` for an unconditional
    * clause, `None` to omit it. Matched rows evaluate UPDATE before
    * DELETE (fixed clause order; express the reverse by negating
    * conditions), and a matched row satisfying neither is carried
    * unchanged. NOT MATCHED conditions may reference only `s.*`.
    * Equality on `keys` is SQL `=`: null keys never match (a
    * null-keyed target row is carried; a null-keyed source row is a
    * NOT MATCHED insert candidate). Like Delta, a target row matched
    * by MORE THAN ONE source row is an error — latest-wins collapsing
    * belongs to [[upsert]], not MERGE.
    *
    * Scale shape: composed from the stats-pruned rewrite machinery —
    * for a single-column key the source's [min,max] prunes the
    * candidate files via the logged per-file stats, and ONLY those are
    * joined and rewritten (matches cannot hide in a file whose key
    * range misses every source key; inserts are the join's
    * source-only side, which the candidate set answers exactly
    * because pruning is conservative). Untouched files are neither
    * read nor mentioned in the commit. Candidates are read with
    * deletion vectors APPLIED (a DV-deleted row neither matches nor
    * resurrects); the vectors stay active for the files that remain.
    * The committed action is a rewrite, so [[readChanges]] emits the net
    * row changes (an update as its delete + insert pair, carried rows
    * not at all) with no merge-specific CDC code. */
  /** `widenBy` (MERGE WITH SCHEMA EVOLUTION): columns to add to the
    * table ATOMICALLY WITH the merge — the commit stages the merge
    * rewrite plus a zero-row carrier footer for the new columns and
    * lands as ONE `merge-evolve` entry, so a merge that fails any
    * check (duplicate source keys, assignment typing, constraint
    * violation, retry exhaustion) leaves the schema exactly as it was;
    * Delta performs the same widen+merge as one commit. Columns that
    * already exist at an attempt's head (a concurrent evolve landed
    * them) are skipped, not refused.
    *
    * `nullSafeKeys`: join keys with `<=>` so a null-keyed source row
    * pairs with its null-keyed target row (the MV aux-fold shape,
    * where NULL is a legitimate group-key value) — under it, any key
    * column with a null in the source contributes no pruning bound
    * (null never enters file min/max stats). Default false keeps SQL
    * MERGE semantics: null keys never match. */
  def merge(source: DataFrame, keys: Seq[String],
      whenMatchedUpdate: Option[Column] = None,
      whenMatchedDelete: Option[Column] = None,
      whenNotMatchedInsert: Option[Column] = None,
      updateSet: Option[Map[String, Column]] = None,
      insertValues: Option[Map[String, Column]] = None,
      whenNotMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
      whenNotMatchedBySourceDelete: Option[Column] = None,
      sourceKeys: Seq[String] = Nil,
      widenBy: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType(),
      txn: Option[(String, Long)] = None,
      nullSafeKeys: Boolean = false): Commit = {
    require(keys.nonEmpty, "merge needs at least one key column")
    // ON t.id = s.customer_id — positionally paired with `keys`; empty
    // means the source keys share the target names (the star-clause
    // case, where the schema guard forces identical shapes anyway)
    require(sourceKeys.isEmpty || sourceKeys.size == keys.size,
      s"sourceKeys must pair 1:1 with keys: ${keys.size} target keys, " +
        s"${sourceKeys.size} source keys")
    val srcKeys = if (sourceKeys.nonEmpty) sourceKeys else keys
    require(whenMatchedUpdate.isDefined || whenMatchedDelete.isDefined ||
      whenNotMatchedInsert.isDefined ||
      whenNotMatchedBySourceUpdate.isDefined ||
      whenNotMatchedBySourceDelete.isDefined,
      "merge with no clauses is a no-op")
    require(updateSet.isEmpty || whenMatchedUpdate.isDefined,
      "updateSet assignments need a WHEN MATCHED UPDATE clause")
    require(insertValues.isEmpty || whenNotMatchedInsert.isDefined,
      "insertValues assignments need a WHEN NOT MATCHED INSERT clause")
    // r18: the source is PINNED once (eager localCheckpoint) for the
    // whole merge — the machinery consumes it three times per attempt
    // (duplicate-key guard + pruning-bounds aggregation, then the
    // staged rewrite's join), and each unpinned pass would re-run an
    // arbitrary caller plan (joins, aggregates, CDF reads) from
    // scratch. One materialization also freezes a non-deterministic
    // source for every retry attempt — the same reason Delta's MERGE
    // materializes its source. Released on every exit path; the
    // staged parquet files, not the pinned blocks, carry the result.
    Checkpoints.using(source)(mergePinned(_, keys, srcKeys,
      whenMatchedUpdate, whenMatchedDelete, whenNotMatchedInsert,
      updateSet, insertValues, whenNotMatchedBySourceUpdate,
      whenNotMatchedBySourceDelete, widenBy, txn, nullSafeKeys))
  }

  /** [[merge]]'s body over the pinned source — see the pin note
    * there. `srcKeys` is already defaulted/validated. */
  private def mergePinned(source: DataFrame, keys: Seq[String],
      srcKeys: Seq[String],
      whenMatchedUpdate: Option[Column],
      whenMatchedDelete: Option[Column],
      whenNotMatchedInsert: Option[Column],
      updateSet: Option[Map[String, Column]],
      insertValues: Option[Map[String, Column]],
      whenNotMatchedBySourceUpdate: Option[(Column, Map[String, Column])],
      whenNotMatchedBySourceDelete: Option[Column],
      widenBy: org.apache.spark.sql.types.StructType,
      txn: Option[(String, Long)],
      nullSafeKeys: Boolean): Commit = {
    // a NOT MATCHED BY SOURCE clause can touch ANY target row, so
    // source-derived bounds must not prune the candidate set
    val hasNms = whenNotMatchedBySourceUpdate.isDefined ||
      whenNotMatchedBySourceDelete.isDefined
    // Duplicate-key guard and PER-KEY-COLUMN pruning bounds FUSED into
    // one aggregation over the pinned source (r18; they were two
    // separate jobs, each re-running the source plan): grouping by the
    // key tuple, max(count) > 1 ⟺ a duplicate key exists, and for the
    // key columns themselves min/max over the group rows equal min/max
    // over the source rows (the group keys ARE the row values), so the
    // bounds ride the same pass. Each key column whose source min is
    // non-null contributes a bound; the candidate file sets INTERSECT
    // in [[pruneFiles]] (conservative: a file missing any one key's
    // range cannot hold a matching row), so a composite-key needle
    // merge rewrites a handful of files, not the table. A key with
    // null min (all-null or empty source) prunes nothing through SQL
    // `=` anyway and is skipped.
    val boundAggs =
      org.apache.spark.sql.functions.max(col("__n")).as("__dup") +:
        srcKeys.flatMap(k => Seq(
          org.apache.spark.sql.functions.min(col(k)),
          org.apache.spark.sql.functions.max(col(k)),
          org.apache.spark.sql.functions.max(
            when(col(k).isNull, 1L).otherwise(0L))))
    val boundRow = source.groupBy(srcKeys.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
      .agg(boundAggs.head, boundAggs.tail: _*).head()
    require(boundRow.isNullAt(0) || boundRow.getLong(0) <= 1L,
      s"source has duplicate rows per key ${srcKeys.mkString(",")}: a " +
        "target row may match at most one source row (collapse with " +
        "upsert's latest-wins first if that is the intent)")
    // bounds carry the TARGET key names — they prune the target's
    // files — with values from the SOURCE side of each pair. Under
    // nullSafeKeys a column with ANY null source key contributes no
    // bound: a null-keyed source row must reach its null-keyed target
    // match, and null never enters a file's min/max stats, so a range
    // on that column could wrongly drop the very file holding it.
    val bounds: Seq[(String, Option[Any], Option[Any])] =
      keys.zipWithIndex.flatMap { case (k, i) =>
        if (boundRow.isNullAt(3 * i + 1)) None
        else if (nullSafeKeys && boundRow.getLong(3 * i + 3) > 0L) None
        else Some((k, Option(boundRow.get(3 * i + 1)),
          Option(boundRow.get(3 * i + 2))))
      }
    // rebase pruning bounds: a full-table merge (no derivable bounds,
    // or NOT MATCHED BY SOURCE clauses reading everything) rebases
    // only over commits that add no data files at all
    val rebaseBounds =
      if (hasNms) Nil
      else bounds
    // a rebase re-commits the staged rewrite and its widening carrier
    // unchanged; only the txn-marker swap re-derives against the head
    rewrite("merge", rebaseBounds, txn) { head =>
      // identity columns: rows may be carried/updated/deleted (ids
      // travel with their rows) but never INSERTED here — allocation
      // lives in the append family — and never assigned
      val idm = identMap(head)
      if (idm.nonEmpty) {
        require(whenNotMatchedInsert.isEmpty,
          "MERGE INSERT on a table with identity columns is not " +
            "supported (inserted rows need engine allocation — " +
            "append new rows instead)")
        require(updateSet.isDefined || whenMatchedUpdate.isEmpty,
          "MERGE UPDATE SET * on a table with identity columns is " +
            "not supported (it would take source-supplied ids) — " +
            "use column-level assignments")
        val idAssigned = (updateSet.toSeq ++
          whenNotMatchedBySourceUpdate.map(_._2).toSeq)
          .flatMap(_.keySet).toSet.intersect(idm.keySet)
        require(idAssigned.isEmpty,
          s"MERGE assigns identity column(s) " +
            s"${idAssigned.toSeq.sorted.mkString(", ")}: identity " +
            "values are GENERATED ALWAYS — never assigned")
      }
      val pruned =
        if (bounds.isEmpty || hasNms) head else pruneFiles(head, bounds)
      // Schema guard against the FULL head snapshot (footer-only read,
      // cheap), NAME -> TYPE maps like append's guardSchema — never
      // against the pruned subset or the source itself: an empty
      // candidate set on a non-empty table must still refuse a
      // mismatched source, or an insert-only commit could land rows
      // of a drifted type next to files of the original one. Re-run
      // per retry against that attempt's head (same TOCTOU-free
      // placement as guardSchema). Only the STAR clauses need the
      // identical shape — column-level assignments map an arbitrary
      // source shape onto the target themselves (and the output-shape
      // guard below still refuses a type-changing assignment).
      val headSchema =
        if (head.files.isEmpty) None
        else Some(logicalSchema(head))
      // schema evolution, re-derived per attempt against THIS head: the
      // columns still missing (a concurrent evolve may have landed
      // some). The merge validates and stages against the WIDENED
      // schema, and the commit below carries the widening — nothing
      // evolves unless the merge itself lands.
      val widen: Seq[org.apache.spark.sql.types.StructField] =
        headSchema match {
          case None => Nil // empty table: schema IS the merge output's
          case Some(hs) =>
            val have = hs.fieldNames.map(_.toLowerCase).toSet
            widenBy.fields.toSeq
              .filterNot(f => have.contains(f.name.toLowerCase))
        }
      val effSchema: Option[org.apache.spark.sql.types.StructType] =
        headSchema.map(hs =>
          if (widen.isEmpty) hs
          else org.apache.spark.sql.types.StructType(hs.fields ++ widen))
      val needIdentical =
        (whenMatchedUpdate.isDefined && updateSet.isEmpty) ||
          (whenNotMatchedInsert.isDefined && insertValues.isEmpty)
      effSchema.foreach { hs =>
        // nullability-normalized name -> type maps ([[normNull]]): a
        // source whose NESTED nullability drifted through joins/aggs is
        // shape-compatible and must not be refused
        val existing = typeMap(hs)
        val incoming = typeMap(source.schema)
        if (needIdentical)
          require(existing == incoming,
            s"merge schema mismatch: table has $existing, incoming " +
              s"$incoming (UPDATE/INSERT * needs identical shape; use " +
              "column-level assignments for a differently-shaped source)")
      }
      val targetCols: Seq[String] = effSchema
        .map(_.fields.map(_.name).toSeq).getOrElse(source.columns.toSeq)
      val tTypes: Map[String, org.apache.spark.sql.types.DataType] =
        effSchema.map(_.fields.map(f => f.name -> f.dataType).toMap)
          .getOrElse(Map.empty)
      // assignment keys must be table columns — a typo must refuse,
      // not silently invent a column the select would then drop
      (updateSet.toSeq ++ insertValues.toSeq ++
        whenNotMatchedBySourceUpdate.map(_._2).toSeq).foreach { m =>
        val unknown = m.keySet -- targetCols
        require(unknown.isEmpty,
          "MERGE assigns column(s) the table does not have: " +
            unknown.toSeq.sorted.mkString(", "))
      }
      require(insertValues.isEmpty || headSchema.isDefined,
        "column-level INSERT VALUES needs an existing table schema " +
          "(unassigned columns null-fill to the TABLE's types)")
      // per-column value of an UPDATE / INSERT / NOT-MATCHED-BY-SOURCE
      // row: star clauses take the source row; column-level
      // assignments evaluate over the aliased join (t.*, s.*), with
      // unassigned columns keeping the SQL defaults — target value
      // for UPDATE, typed NULL for INSERT
      def updVal(c: String): Column = updateSet match {
        case None    => col(s"s.$c")
        case Some(m) => m.getOrElse(c, col(s"t.$c"))
      }
      def insVal(c: String): Column = insertValues match {
        case None    => col(s"s.$c")
        case Some(m) => m.getOrElse(c, lit(null).cast(tTypes(c)))
      }
      def nmsVal(c: String): Column = whenNotMatchedBySourceUpdate match {
        case Some((_, m)) => m.getOrElse(c, col(s"t.$c"))
        case None         => col(s"t.$c")
      }
      // assignment-shape guard on the RAW assignment expressions (the
      // when() mix below would branch-coerce a type change away —
      // int into a string column reads back as "5"): same contract as
      // updateBetween's assignment guard
      def guardAssignTypes(frame: DataFrame,
          m: Map[String, Column]): Unit =
        if (m.nonEmpty && effSchema.isDefined) {
          val assigned = typeMap(frame.select(m.toSeq.sortBy(_._1)
            .map { case (c, v) => v.as(c) }: _*).schema)
          val expect = typeMap(effSchema.get)
            .filter(kv => m.contains(kv._1))
          require(assigned == expect,
            s"MERGE assignments change column types: table has " +
              s"$expect, assignments write $assigned (cast explicitly)")
        }
      val ins = whenNotMatchedInsert
        .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
      // per-column output: branch ONLY on the clauses that exist — an
      // absent UPDATE/INSERT clause must not materialize its `s.<col>`
      // reference, or a DELETE-only / NMS-only merge over a
      // differently-shaped source (source columns ⊉ target columns)
      // dies on analysis for a branch that can never fire
      def outVal(c: String): Column = {
        var branches = Seq.empty[(Column, Column)]
        if (whenMatchedUpdate.isDefined)
          branches = branches :+ ((col("__a") === "u", updVal(c)))
        if (whenNotMatchedInsert.isDefined)
          branches = branches :+ ((col("__a") === "i", insVal(c)))
        if (whenNotMatchedBySourceUpdate.isDefined)
          branches = branches :+ ((col("__a") === "v", nmsVal(c)))
        branches.foldRight(col(s"t.$c")) { case ((p, v), acc) =>
          when(p, v).otherwise(acc)
        }.as(c)
      }
      val out =
        if (pruned.files.isEmpty) {
          if (whenNotMatchedInsert.isEmpty && effSchema.isDefined)
            // nothing to insert and nothing survives pruning: a
            // zero-row frame with the TABLE's (widened) schema
            // (referencing insVal here would analyze `s.<col>` for no
            // reason)
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              effSchema.get)
          else {
            val sAliased = source.alias("s")
            insertValues.foreach(m => guardAssignTypes(sAliased, m))
            sAliased.where(ins)
              .select(targetCols.map(c => insVal(c).as(c)): _*)
          }
        } else {
          val upd = whenMatchedUpdate
            .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
          val del = whenMatchedDelete
            .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
          val nmsU = whenNotMatchedBySourceUpdate
            .map(p => coalesce(p._1, lit(false))).getOrElse(lit(false))
          val nmsD = whenNotMatchedBySourceDelete
            .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
          // candidates read under the WIDENED schema: the new columns
          // null-pad, exactly what a merged-footer read serves after
          // the carrier lands — so outVal's carried-row fallback
          // `t.<col>` resolves for them too
          val tPadded = widen.foldLeft(readSnapshot(pruned)) { (df, f) =>
            df.withColumn(f.name, lit(null).cast(f.dataType))
          }
          val t = tPadded
            .withColumn("__tp", lit(1)).alias("t")
          val s2 = source.withColumn("__sp", lit(1)).alias("s")
          // nullSafeKeys: `<=>` pairs null-keyed rows (SQL GROUP BY
          // makes NULL a key value — the MV aux-table fold merges on
          // group columns, where a null group is ONE group); default
          // `===` keeps SQL MERGE semantics (null never matches)
          val keyCond = keys.zip(srcKeys)
            .map { case (tk, sk) =>
              if (nullSafeKeys) col(s"t.$tk") <=> col(s"s.$sk")
              else col(s"t.$tk") === col(s"s.$sk")
            }
            .reduce(_ && _)
          val joined = t.join(s2, keyCond, "full_outer")
          updateSet.foreach(m => guardAssignTypes(joined, m))
          insertValues.foreach(m => guardAssignTypes(joined, m))
          whenNotMatchedBySourceUpdate.foreach(p =>
            guardAssignTypes(joined, p._2))
          val action =
            when(col("t.__tp").isNotNull && col("s.__sp").isNotNull,
              when(upd, "u").when(del, "d").otherwise("k"))
              .when(col("t.__tp").isNotNull,
                // target-only: NOT MATCHED BY SOURCE update/delete,
                // else carried unchanged
                when(nmsU, "v").when(nmsD, "x").otherwise("k"))
              .otherwise(when(ins, "i").otherwise("x")) // src-only
          joined.withColumn("__a", action)
            .where(col("__a").isin("u", "k", "i", "v"))
            .select(targetCols.map(outVal): _*)
        }
      // output-shape guard: assignments may not change a column's
      // type (branch coercion in the when() mix could otherwise
      // smuggle a widened type into the files) — same contract as
      // updateBetween's assignment guard
      effSchema.foreach { hs =>
        require(typeMap(out.schema) == typeMap(hs),
          s"MERGE assignments change column types: table has " +
            s"${typeMap(hs)}, merge writes ${typeMap(out.schema)} " +
            "(cast explicitly)")
      }
      // like upsert: staged per attempt against this head's constraint
      // and generated-column sets (gc enforcement covers MERGE like
      // Delta's — an UPDATE/INSERT * that takes a source row with a
      // drifted generated value fails the write job loudly)
      val (staged, stats) = stage(toPhysical(
        enforced(applyGenerated(out, head), ctMap(head)), head),
        AsBase(head))
      // schema evolution rides THIS commit: the zero-row carrier footer
      // (the addColumns device) plus the widened rewrite files land
      // under ONE `merge-evolve` entry — a merge that never commits
      // never widens. Unrewritten files lack the new columns, so the
      // action flips merged-footer reads on, like any evolve.
      val carrier =
        if (widen.isEmpty) Nil
        else stageCarrier(head,
          org.apache.spark.sql.types.StructType(widen))
      val removed = pruned.files.map(_.stripPrefix(s"$dir/"))
      (Proposal(if (widen.isEmpty) "merge" else "merge-evolve",
        carrier ++ staged, removed, stats), removed)
    }
  }

  /** DELETE WHERE `column` BETWEEN `lo` AND `hi`, Delta-style: the
    * logged per-file [min,max] stats select the files that MAY hold
    * matching rows; ONLY those are read and rewritten with the negated
    * predicate — untouched files are neither read nor mentioned in the
    * commit entry, so a point delete on a z-ordered table rewrites a
    * handful of files, not the table. A concurrent append of matching
    * rows lands either before this delete's base (and is deleted) or
    * after its commit (and survives), never half-applied. An empty
    * candidate set still commits a no-op entry so the deletion is
    * visible to time travel and audit. */
  def deleteBetween(column: String, lo: Any, hi: Any): Commit =
    deleteCore(Seq((column, Option(lo), Option(hi))),
      col(column) >= lit(lo) && col(column) <= lit(hi))

  /** DELETE WHERE <arbitrary SQL predicate> — the general form of
    * [[deleteBetween]]: any boolean SQL expression over the table's
    * columns. File skipping still applies wherever the predicate's
    * top-level conjuncts imply per-column [lo, hi] bounds
    * ([[TxPredicates.bounds]] — `k = 5 AND ts BETWEEN a AND b` prunes
    * on both; disjunctions and opaque functions contribute no bound
    * and simply keep all candidates, conservative like every pruning
    * path here). SQL WHERE semantics: a NULL predicate does not match
    * (the row survives). */
  def deleteExpr(predicate: String): Commit = {
    val e = spark.sessionState.sqlParser.parseExpression(predicate)
    deleteCore(TxPredicates.bounds(e),
      org.apache.spark.sql.graft.ColumnShim.column(e))
  }

  /** Commit actions a lost-CAS rewrite may REBASE over (see
    * [[rewriteRebasable]]) — row-content commits whose effect on this
    * rewrite is fully captured by their add/remove lists, plus the
    * content-neutral `properties`. Everything else (schema evolution,
    * constraint/generated/mapping/identity declarations, overwrites,
    * restores, dv-writes) forces the conservative full re-derive. */
  private val RebaseSafeActions = Set(
    "append", "copy", "delete", "update", "merge", "upsert",
    "replace", "compact", "properties")

  /** Test seam: fired once per commit attempt, after staging and
    * before the log CAS — specs inject a concurrent writer here to
    * make a lost race deterministic. */
  private[graft] var beforeDmlCommitHook: () => Unit = () => ()

  /** Observability seam: how many times the LAST deleteCore /
    * updateCore / merge call derived (staged) its rewrite. 1 under
    * rebased retries; +1 per conservative re-derive. */
  private[graft] var lastRewriteStagings: Int = 0

  /** Can a rewrite staged against version `baseV` re-commit its files
    * UNCHANGED at `head` (a rebase), instead of re-deriving? True iff
    * every commit in (baseV, head] provably commutes with it:
    *
    *  - action in [[RebaseSafeActions]] — its row effect is its lists;
    *  - its data removes are DISJOINT from `ourRemoves`: nothing this
    *    rewrite read (and re-adds rewritten) was itself rewritten, so
    *    the winner's rows and ours never double-count;
    *  - it added no deletion vector (a DV on a file we remove would be
    *    silently resurrected by our staged pre-DV content);
    *  - its added data files provably hold NO row matching `bounds`
    *    (the same logged-stats/bloom pruning reads use, via
    *    [[pruneFiles]] over a probe snapshot of just those files) —
    *    then running this rewrite serially AFTER the winner would have
    *    produced exactly the staged files. Un-boundable predicates
    *    (`bounds` empty, or a full-table merge) rebase only over
    *    commits that added no data files at all;
    *  - its metadata tokens are confined to the content-neutral
    *    classes (txn markers, copy ledger, identity high-water, table
    *    properties) — a constraint / generated-column / column-mapping
    *    / protocol change must re-validate the staging.
    *
    * Missing stats on a winner's file keep it in the probe (same
    * conservatism as read pruning), so the stats-sidecar-after-CAS
    * window degrades to a re-derive, never a wrong rebase. The window
    * must be fully listable — a retention-cleaned gap refuses.
    *
    * This is the optimistic-concurrency rebase Delta performs after a
    * lost commit race: without it, a large DELETE on a table with a
    * steady streaming-append writer re-runs its full rewrite per lost
    * race and may never win; with it, the loser re-commits in O(log
    * window) driver work, and stats-disjoint writers commute. */
  private def rewriteRebasable(baseV: Long, head: Snapshot,
      ourRemoves: Set[String],
      bounds: Seq[(String, Option[Any], Option[Any])]): Boolean = {
    val window = probeEntries(baseV + 1, head.version)
    if (window.size != head.version - baseV) return false
    val entries = window.map { case (_, f) => readEntry(f) }
    val structureOk = entries.forall { c =>
      val dataAdd = c.add.filterNot(TxTable.isMetaToken)
      val dataRm = c.remove.filterNot(TxTable.isMetaToken)
      val metaUnsafe = (c.add ++ c.remove)
        .filter(TxTable.isMetaToken).exists(t =>
          !(TxTable.isTxnName(t) || TxTable.isCpName(t) ||
            TxTable.isIdName(t) || TxTable.isTpName(t)))
      RebaseSafeActions.contains(c.action) && !metaUnsafe &&
        !dataAdd.exists(TxTable.isDvName) &&
        dataRm.forall(!ourRemoves.contains(_))
    }
    if (!structureOk) return false
    // ONE stats probe over every winner's added files, against the
    // WINDOW's own sidecars only — never a whole-log loadStats() on
    // the contention path (a winner's sidecar lands right after its
    // CAS; if it is not visible yet its files carry no stats, the
    // probe keeps them, and the answer degrades to a re-derive)
    val addedFiles = entries.flatMap(c => c.add.filterNot(n =>
      TxTable.isMetaToken(n) || TxTable.isDvName(n)))
    addedFiles.isEmpty || (bounds.nonEmpty &&
      pruneFilesWith(loadStatsFor(window.map(_._1)),
        Snapshot(head.version, addedFiles.map(n => s"$dir/$n"), Nil,
          dir, head.merged, head.cts, head.cms),
        bounds).files.isEmpty)
  }

  /** The rewrite DMLs' commit loop: [[restaging]] whose staging holds
    * while [[rewriteRebasable]] proves every commit since its base
    * commutes with it. `restage(head)` stages the rewrite against
    * `head` and returns its proposal with the files it READ (a winner
    * rewriting any of them forbids the rebase); `bounds` is the
    * predicate's per-column range, empty for a full-table rewrite.
    * Each attempt re-derives the `txn` marker swap against its own
    * head. Counts [[lastRewriteStagings]]. */
  private def rewrite(op: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      txn: Option[(String, Long)] = None)(
      restage: Snapshot => (Proposal, Seq[String])): Commit = {
    lastRewriteStagings = 0
    restaging(op) { base =>
      val (p, reads) = restage(base)
      lastRewriteStagings += 1
      Some(Staged(p.add,
        rewriteRebasable(base.version, _, reads.toSet, bounds), { head =>
          val (txnAdd, txnRm) = txnSwap(head, txn)
          beforeDmlCommitHook()
          p.copy(add = p.add ++ txnAdd, remove = p.remove ++ txnRm)
        }))
    }.get
  }

  private[ops] def deleteCore(
      bounds: Seq[(String, Option[Any], Option[Any])],
      matches: Column): Commit =
    rewrite("delete", bounds) { head =>
      val pruned = pruneFiles(head, bounds)
      // keep every row where the predicate is NOT TRUE — a NULL match
      // predicate must not silently delete its row, so the negation
      // goes through coalesce
      // the rewrite reads the pruned files with deletion vectors
      // APPLIED, or it would resurrect DV-deleted rows; the vectors
      // stay active (entries for the removed files are inert — file
      // names never recur) until compaction retires them
      val (staged, stats) =
        if (pruned.files.isEmpty) (Nil, Nil)
        else stage(toPhysical(readSnapshot(pruned)
          .where(!coalesce(matches, lit(false))), pruned), AsBase(pruned))
      val removed = pruned.files.map(_.stripPrefix(s"$dir/"))
      (Proposal("delete", staged, removed, stats), removed)
    }

  /** Point DELETE with the same file-skipping contract as
    * [[deleteBetween]]. */
  def deleteWhere(column: String, value: Any): Commit =
    deleteBetween(column, value, value)

  /** Copy-on-write UPDATE — the third leg of the DML triangle next to
    * [[deleteBetween]] and [[merge]]: rows where `column` BETWEEN `lo`
    * AND `hi` get `set`'s assignments applied, everything else is
    * carried unchanged. Stats-pruned like DELETE: the logged per-file
    * [min,max] ranges select the files that MAY hold matching rows and
    * ONLY those are read and rewritten — untouched files are neither
    * read nor mentioned in the commit entry, so a point update on a
    * z-ordered 100 TB table rewrites a handful of files, not the
    * table. A NULL in `column` makes the match predicate NULL, which
    * does NOT match (the row is carried, not updated) — SQL UPDATE's
    * WHERE semantics. Assignments may not invent columns or change a
    * column's type (nullability-normalized name → type guard like
    * [[merge]]'s, re-run per retry against that attempt's head), and
    * updated rows pass the head's CHECK constraints inline — an UPDATE
    * that would write a violating row fails the job, same as an
    * append. Candidates are read with deletion vectors APPLIED so the
    * rewrite never resurrects DV-deleted rows. Assignment expressions
    * may reference any of the row's columns (`set("b", col("b") + 1)`
    * is the increment shape); they evaluate against the PRE-update
    * row, all-at-once like SQL `SET a = b, b = a`. */
  def updateBetween(column: String, lo: Any, hi: Any,
      set: Map[String, Column]): Commit =
    updateCore(Seq((column, Option(lo), Option(hi))),
      col(column) >= lit(lo) && col(column) <= lit(hi), set)

  private[ops] def updateCore(
      bounds: Seq[(String, Option[Any], Option[Any])], matches: Column,
      set: Map[String, Column]): Commit = {
    require(set.nonEmpty, "UPDATE with no assignments is a no-op")
    rewrite("update", bounds) { head =>
      // generated columns derive, they are never assigned: refuse the
      // direct assignment (Delta's contract) and RECOMPUTE every
      // declared gc after the assignments apply, so an update to a
      // base column can never leave the derived column stale
      val gcs = gcMap(head)
      val gcAssigned = set.keySet.intersect(gcs.keySet)
      require(gcAssigned.isEmpty,
        s"UPDATE assigns generated column(s) " +
          s"${gcAssigned.toSeq.sorted.mkString(", ")}: their values " +
          "derive from their expressions — update the base columns " +
          "instead")
      val idAssigned = set.keySet.intersect(identMap(head).keySet)
      require(idAssigned.isEmpty,
        s"UPDATE assigns identity column(s) " +
          s"${idAssigned.toSeq.sorted.mkString(", ")}: identity values " +
          "are GENERATED ALWAYS — engine-allocated, never assigned")
      val pruned = pruneFiles(head, bounds)
      if (head.files.nonEmpty) {
        val unknown = set.keySet --
          logicalSchema(head).fieldNames.toSet
        require(unknown.isEmpty,
          "UPDATE assigns column(s) the table does not have: " +
            unknown.toSeq.sorted.mkString(", "))
      }
      val (staged, stats) =
        if (pruned.files.isEmpty) (Nil, Nil)
        else {
          val base = readSnapshot(pruned)
          // assignment types are checked BEFORE the when() merge with
          // the old column — branch coercion would otherwise smuggle
          // an implicit (ANSI, runtime-failing) cast past the guard
          val assigned = typeMap(
            base.select(set.toSeq.sortBy(_._1)
              .map { case (c, v) => v.as(c) }: _*).schema)
          val expect = typeMap(base.schema).filter(kv =>
            set.contains(kv._1))
          require(assigned == expect,
            s"UPDATE changes column types: table has $expect, " +
              s"assignments write $assigned (cast explicitly)")
          val out = base.select(base.columns.toIndexedSeq.map { c =>
            set.get(c) match {
              case Some(v) =>
                when(coalesce(matches, lit(false)), v)
                  .otherwise(col(c)).as(c)
              case None => col(c)
            }
          }: _*)
          // recompute declared generated columns over the POST-
          // assignment rows (withColumn stacks a projection on `out`,
          // so the expressions see assigned values); identical values
          // for untouched rows — every committed row already satisfies
          // the equality — so this adds codegen'd projection work, no
          // extra pass
          val regen = gcs.toSeq.sortBy(_._1).foldLeft(out) {
            case (d, (n, e)) => d.withColumn(n, expr(e))
          }
          stage(toPhysical(enforced(regen, ctMap(head)), head),
            AsBase(head))
        }
      val removed = pruned.files.map(_.stripPrefix(s"$dir/"))
      (Proposal("update", staged, removed, stats), removed)
    }
  }

  /** Point UPDATE; same file-skipping contract as [[updateBetween]]. */
  def updateWhere(column: String, value: Any,
      set: Map[String, Column]): Commit =
    updateBetween(column, value, value, set)

  /** Predicate OVERWRITE (Delta's `replaceWhere`): atomically replace
    * exactly the rows where `column` BETWEEN `lo` AND `hi` with `df`,
    * in one commit. Incoming rows must ALL satisfy the predicate — a
    * row outside it fails the write job loudly (Delta's contract:
    * replaceWhere never smuggles rows past the boundary it claims to
    * scope; the check is an inline raise-on-violation filter riding
    * the write scan, zero extra pass). Stats-pruned: only files that
    * MAY hold matching rows are rewritten, with their non-matching
    * rows carried; files wholly outside the range are untouched and
    * unmentioned. The incoming frame passes the append schema guard
    * and the head's CHECK constraints; candidates are read with
    * deletion vectors applied. The canonical use is idempotent
    * backfill: recompute one day / key range and swap it in without
    * touching the rest of a 100 TB table — rerunning the same backfill
    * converges instead of duplicating. */
  def replaceBetween(df: DataFrame, column: String, lo: Any,
      hi: Any): Commit = {
    require(identMap(snapshot()).isEmpty,
      "replaceBetween on a table with identity columns is not " +
        "supported (replacement rows would carry caller-chosen ids)")
    val matches = col(column) >= lit(lo) && col(column) <= lit(hi)
    val scoped = df.filter(
      when(!coalesce(matches, lit(false)),
        raise_error(concat(
          lit(s"replaceWhere: incoming row outside $column in " +
            s"[$lo, $hi]: "),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*)))))
        .otherwise(lit(true)))
    val rbBounds = Seq((column, Option(lo), Option(hi)))
    // a winner provably outside [lo, hi] commutes with the replacement
    rewrite("replace", rbBounds) { head =>
      // generated columns: computed when the incoming frame omits them
      // (so the schema guard below sees the full shape), enforced
      // when supplied — per attempt against this head's declarations
      val scoped2 = applyGenerated(scoped, head)
      guardSchema(head, scoped2)
      val pruned = pruneFiles(head, rbBounds)
      val kept =
        if (pruned.files.isEmpty) None
        else Some(readSnapshot(pruned)
          .where(!coalesce(matches, lit(false))))
      val out = kept match {
        case Some(k) => k.unionByName(scoped2)
        case None    => scoped2
      }
      val (staged, stats) =
        stage(toPhysical(enforced(out, ctMap(head)), head), AsBase(head))
      val removed = pruned.files.map(_.stripPrefix(s"$dir/"))
      (Proposal("replace", staged, removed, stats), removed)
    }
  }

  /** MERGE-ON-READ delete — the deletion-vector half of the
    * Delta/Iceberg v2 design: instead of rewriting every file that
    * holds a matching row, commit a small DELETION VECTOR of
    * `(_dv_file, _dv_pos)` keys (table-relative file name, row ordinal
    * from parquet `_metadata.row_index`); every read anti-joins the
    * active vectors at scan time. Stats-pruned like [[deleteBetween]]
    * — only candidate files are scanned to FIND the positions — but
    * the WRITE cost is O(deleted rows), not O(rows in touched files):
    * a needle delete on a petabyte table writes kilobytes, which is
    * the whole point of merge-on-read at 100 TB. Reads pay a
    * broadcast anti-join until [[compact]] materializes the deletions
    * and retires the vectors. Rows an earlier vector already deleted
    * are excluded from the new one, so vectors never double-count and
    * the union of active vectors stays exactly the live-row
    * complement. */
  def deleteVectorBetween(column: String, lo: Any, hi: Any): Commit = {
    val rbBounds = Seq((column, Option(lo), Option(hi)))
    // rebase note: the vector's (file, pos) keys reference the TARGETED
    // files' content, so those (not removed by this commit) ride the
    // disjointness check — a winner that rewrote any of them
    // invalidates the positions; a winner DV is blocked wholesale
    // (overlapping positions would double-count)
    rewrite("deleteVector", rbBounds) { head =>
      val pruned = pruneFiles(head, rbBounds)
      // the position scan reads RAW files — predicate on the PHYSICAL
      // name (identical to the logical one on unmapped tables)
      val p = physName(pruned, column)
      val matches = col(p) >= lit(lo) && col(p) <= lit(hi)
      val staged =
        if (pruned.files.isEmpty) Nil
        else stage(
          antiDvs(withPos(pruned.files, merged = pruned.merged),
            pruned.dvs)
            .where(coalesce(matches, lit(false)))
            .select(col("_dv_file"), col("_dv_pos"))
            // one shuffle of the deleted KEYS only (the scan above
            // stays parallel); a vector is small by contract, so one
            // output file keeps the read side's broadcast list short
            .repartition(1),
          PartitionedBy(Nil), prefix = "dv")._1
      (Proposal("dvdelete", staged),
        pruned.files.map(_.stripPrefix(s"$dir/")))
    }
  }

  /** Point merge-on-read delete; same contract as
    * [[deleteVectorBetween]]. */
  def deleteVectorWhere(column: String, value: Any): Commit =
    deleteVectorBetween(column, value, value)

  /** Delta-style RESTORE: make the table's content equal to `version`
    * again via a NEW commit — nothing is rewritten (the old files are
    * re-referenced, and their logged stats still apply), history is
    * preserved, and the restore itself is time-travelable. Fails if
    * any file of the target version was already vacuumed — restore
    * reaches only as far back as the retention window, the same
    * contract Delta documents. */
  def restore(version: Long): Commit = {
    val target = snapshotAt(version)
    require(target.version == version,
      s"version $version does not exist (log is at ${snapshot().version})")
    val missing = (target.files ++ target.dvs).filterNot(f => new File(f).isFile)
    require(missing.isEmpty,
      s"restore to $version impossible: ${missing.size} file(s) already " +
        s"vacuumed (first: ${missing.headOption.getOrElse("")})")
    commitLoop("restore") { base =>
      // constraints are NOT restored (they are active table POLICY, not
      // content) — instead the restored content must satisfy the
      // currently active set, or the restore refuses loudly
      // validate under the HEAD's mapping: the restore re-references
      // the target's FILES, which the current logical names apply to
      // (physical names never change), and constraints speak the
      // current names
      val restoredView = readSnapshot(Snapshot(target.version,
        target.files, target.dvs, dir, target.merged, Nil, base.cms))
      ctMap(base).foreach { case (n, e) =>
        require(restoredView.where(violation(e))
            .limit(1).count() == 0L,
          s"restore to $version refused: restored rows violate the " +
            s"active CHECK constraint '$n' ($e) — drop it first if the " +
            "rollback should win")
      }
      // the target's deletion vectors come back with it — restored
      // content is the target's CONTENT, vectors applied
      Proposal("restore",
        (target.files ++ target.dvs).map(_.stripPrefix(s"$dir/")),
        (base.files ++ base.dvs).map(_.stripPrefix(s"$dir/")))
    }
  }

  // ------------------------------------------------------------- clone
  /** Delta-style shallow CLONE: materialize `version`'s content as a
    * NEW independent table at `destDir` WITHOUT copying data. Every
    * active data + deletion-vector file is HARD-LINKED under the clone
    * root at its existing relative name — so partition-qualified path
    * segments, the DV join's file keys, logged min/max stats and bloom
    * sidecars all keep working with zero translation — and one `clone`
    * commit seeds the clone's own log. Active CHECK constraints and the
    * cloned files' data-skipping state (stats TSV re-rendered as the
    * clone's version-0 sidecar; bloom sidecars linked) ride along. From
    * then on the two tables evolve fully independently: writes land new
    * UUID-named files in whichever root made them, and a rewrite in one
    * table merely drops the other's still-live link from its own log.
    *
    * Cost is O(active files) driver metadata ops and ZERO data bytes —
    * Delta's shallow-clone cost class — with one robustness upgrade
    * over path-referencing clones: link counts keep the shared bytes
    * alive, so VACUUMing the source can never corrupt the clone (Delta
    * documents exactly that hazard for its shallow clones). Where hard
    * links are unsupported (cross-device, some object-store mounts) the
    * per-file link degrades to a copy — still correct, no longer
    * zero-copy; a conditional-PUT object store would take the same
    * fallback through its server-side-copy API. */
  def cloneTo(destDir: String, version: Long = Long.MaxValue): TxTable = {
    val snap = snapshotAt(version)
    require(snap.version >= 0L, s"cannot clone an empty table at $dir")
    val dest = TxTable(spark, destDir, store)
    require(dest.snapshot().version == -1L,
      s"clone destination not empty: $destDir")
    val rels = (snap.files ++ snap.dvs).map(_.stripPrefix(s"$dir/"))
    rels.foreach { rel =>
      val src = Paths.get(dir, rel)
      val dst = Paths.get(dest.tableDir, rel)
      Option(dst.getParent).foreach(Files.createDirectories(_))
      try Files.createLink(dst, src)
      catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(src, dst)
      }
    }
    // stats sidecar: the source's logged stats for exactly the cloned
    // files, re-rendered into the clone's version-0 TSV (values are
    // stored-form already — no enc/dec round trip)
    val stats = {
      val all = loadStats()
      rels.flatMap { rel =>
        all.getOrElse(rel, Map.empty).toSeq.sortBy(_._1).map {
          case (c, (kind, mn, mx)) =>
            s"${enc(rel)}\t${enc(c)}\t$kind\t$mn\t$mx"
        }
      }
    }
    // bloom sidecars: link per-file filters of cloned files (best-effort
    // like their build)
    try {
      val srcBlooms = Option(bloomDir.listFiles()).getOrElse(Array.empty)
      val stems = rels.map(escName(_) + ".").toSet
      val wanted = srcBlooms.filter(f =>
        stems.exists(s => f.getName.startsWith(s)))
      if (wanted.nonEmpty) {
        Files.createDirectories(dest.bloomDir.toPath)
        wanted.foreach { f =>
          val dst = new File(dest.bloomDir, f.getName).toPath
          try Files.createLink(dst, f.toPath)
          catch { case scala.util.control.NonFatal(_) => Files.copy(f.toPath, dst) }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    val action = if (snap.merged) "clone-evolve" else "clone"
    val entry = Commit(0L, action, rels ++ snap.cts ++ snap.cms, Nil,
      System.currentTimeMillis())
    require(dest.tryCommit(entry, stats).isDefined,
      s"clone destination raced: another writer committed to $destDir")
    dest
  }

  /** Compact the current snapshot to `targetFiles` files — content
    * identical, file count bounded. */
  def compact(targetFiles: Int = 1): Commit =
    compactLayout(_.repartition(targetFiles))

  /** Compaction that also Z-ORDER-clusters the rewrite on (a, b)
    * ([[Layout.zordered]]): min/max file stats come out tight in both
    * dimensions, so post-compaction scans data-skip on either
    * predicate. Same conflict semantics as [[compact]]. */
  def compactZOrdered(a: String, b: String, targetFiles: Int = 8): Commit =
    compactLayout(Layout.zordered(_, a, b, targetFiles))

  /** N-dimensional variant ([[Layout.zorderedN]]): `ZORDER BY
    * (c1, …, cn)` with the same compaction protocol. */
  def compactZOrdered(dims: Seq[String]): Commit = compactZOrdered(dims, 8)

  def compactZOrdered(dims: Seq[String], targetFiles: Int): Commit =
    compactLayout(Layout.zorderedN(_, dims, targetFiles))

  /** Whole-table compaction: replace EXACTLY the base snapshot's
    * files with their `layout` rewrite. The rewrite reads CONTENT
    * (vectors applied), so this is also the operation that
    * MATERIALIZES merge-on-read deletes and retires the vectors
    * (Delta's PURGE). */
  private[ops] def compactLayout(layout: DataFrame => DataFrame): Commit = {
    val base = snapshot()
    val selected = base.files.map(_.stripPrefix(s"$dir/"))
    compactCommit("compaction", base, selected,
      compactStage(base, selected, AsBase(base))(layout),
      retired = base.dvs.map(_.stripPrefix(s"$dir/")))
  }

  // ------------------------------------------------- the compaction core
  /** The compactions differ only in which files they select and how
    * they lay the rewrite out; this is what they share. Stage the
    * `layout` rewrite of `selected` (table-relative data files of
    * `base`) at `at`, read the way the snapshot reads them: deletion
    * vectors applied, footers merged on an evolved table (a raw read
    * would keep one footer's columns and drop the rest), column
    * mapping and exists defaults resolved. */
  private def compactStage(base: Snapshot, selected: Seq[String],
      at: Placement)(layout: DataFrame => DataFrame)
      : (Seq[String], Seq[String]) =
    stage(toPhysical(layout(readSnapshot(
      base.copy(files = selected.map(n => s"$dir/$n")))), base), at)

  /** The compaction conflict guard, re-run against every attempt's
    * `head`. A concurrent APPEND is no conflict — its files are
    * untouched by the replacement, so the commit retries onto the new
    * head and content is preserved. A concurrent rewrite that removed
    * a selected file aborts: it already subsumed or dropped rows this
    * compaction would resurrect. So does ANY change to the deletion
    * vectors since `base`: a new vector may target a selected file,
    * and committing would resurrect its deleted rows. */
  private def compactGuard(op: String, base: Snapshot,
      selected: Seq[String])(head: Snapshot): Unit = {
    val active = head.files.map(_.stripPrefix(s"$dir/")).toSet
    if (!selected.forall(active.contains))
      sys.error(s"$op input was rewritten concurrently — rerun")
    if (head.dvs.toSet != base.dvs.toSet)
      sys.error(s"a deletion vector landed during $op — rerun")
  }

  /** Commit a staged compaction under [[compactGuard]]: one `compact`
    * entry adding `staged`, removing `selected` and the `retired`
    * vectors. */
  private def compactCommit(op: String, base: Snapshot,
      selected: Seq[String], staged: (Seq[String], Seq[String]),
      retired: Seq[String] = Nil): Commit = {
    val (files, stats) = staged
    commitLoop(op, reclaim = files) { head =>
      compactGuard(op, base, selected)(head)
      Proposal("compact", files, selected ++ retired, stats)
    }
  }

  /** Validate a partition filter and derive the `col=value` path
    * segments it selects. A filter column must BE one of the table's
    * partition-path columns — a typo'd name (or a flat table) would
    * otherwise match nothing and report a clean no-op forever while
    * small files pile up in the intended leaf; Delta refuses
    * non-partition predicates on OPTIMIZE the same way. Matching (and
    * escaping) follows readPartitions — paths carry PHYSICAL names. */
  private def partitionWant(base: Snapshot,
      partitionFilter: Seq[(String, Any)]): Set[String] = {
    if (partitionFilter.nonEmpty) {
      val pathCols = base.files.headOption.toSeq
        .flatMap(_.stripPrefix(s"$dir/").split('/').dropRight(1))
        .flatMap(partKey).map(_._1.toLowerCase).toSet
      val unknown = partitionFilter.map(_._1)
        .filterNot(c => pathCols.contains(
          physName(base, c).toLowerCase))
      require(unknown.isEmpty,
        s"OPTIMIZE WHERE references non-partition column(s) " +
          s"${unknown.mkString(", ")} (partition columns: " +
          s"${if (pathCols.isEmpty) "<none — flat table>"
             else pathCols.toSeq.sorted.mkString(", ")})")
    }
    partitionFilter.map { case (c, v) => partSegment(physName(base, c), v) }
      .toSet
  }

  /** PARTITION-SCOPED Z-ORDER (Delta's `OPTIMIZE … WHERE … ZORDER BY`)
    * — incremental clustering, the only kind that exists at 100 TB: a
    * full-table re-sort of a petabyte is not a maintenance operation,
    * but re-clustering ONE day's partition after its ingest settles
    * is. Every active file under the matching `col=value` leaves is
    * read (deletion vectors APPLIED — the rewrite also materializes
    * the leaves' merge-on-read deletes, leaving their vector entries
    * inert), Z-ordered on `dims` ([[Layout.zorderedN]] — bit-
    * interleave stays codegen'd at any arity), and staged back through
    * the layout-aware writer so rows land in their own leaves;
    * untouched leaves are neither read nor mentioned in the commit.
    * Conflicts like [[compactBinPack]]: a selected file removed
    * concurrently, or ANY new deletion vector (it may target a
    * selected file), aborts loudly. Returns None when the filter
    * selects nothing. */
  def compactZOrderedWhere(dims: Seq[String],
      partitionFilter: Seq[(String, Any)],
      targetFiles: Int = 8): Option[Commit] = {
    require(dims.length >= 2,
      s"ZORDER BY needs at least two columns; got ${dims.length}")
    require(partitionFilter.nonEmpty,
      "compactZOrderedWhere needs a partition filter — use " +
        "compactZOrdered to recluster the whole table")
    val base = snapshot()
    val want = partitionWant(base, partitionFilter)
    val selected = base.files
      .map(f => f.stripPrefix(s"$dir/"))
      .filter(rel => want.subsetOf(rel.split('/').dropRight(1).toSet))
    if (selected.isEmpty) return None
    Some(compactCommit("scoped z-order", base, selected,
      compactStage(base, selected, AsBase(base))(
        Layout.zorderedN(_, dims, targetFiles))))
  }

  /** INCREMENTAL RECLUSTER — the device behind bare `OPTIMIZE` on a
    * `CLUSTER BY` table, and Delta liquid clustering's headline: a
    * maintenance run rewrites ONLY the files added since the last
    * recluster (plus, optionally, undersized already-clustered
    * stragglers below `smallBytes`, folded in whenever new data is
    * being rewritten anyway), never the whole table. On a 100 TB
    * clustered table, re-sorting the world after each ingest batch is
    * quadratic over the table's life; reclustering the day's delta is
    * O(new data) forever.
    *
    * The watermark is the `txtable.lastRecluster` table property,
    * swapped ATOMICALLY inside the recluster commit itself (a tp-
    * token — a format every reader already understands, so no
    * protocol bump). Files added by commits in (watermark, head] are
    * unclustered by construction: the first recluster rewrites
    * everything, and each later one rewrites each window's files, so
    * by induction every active file at or below the watermark is
    * clustered. A WHERE-scoped recluster ([[compactZOrderedWhere]])
    * deliberately does NOT advance the watermark — its outputs are
    * post-watermark adds and stay eligible.
    *
    * Data skipping still narrows: each rewrite batch is z-ordered on
    * `dims`, so every file — old or new — carries tight min/max
    * stats; the layout is layered rather than one global sort, which
    * is exactly liquid clustering's trade.
    *
    * Returns None (a clean no-op, no commit churn) when nothing was
    * added since the watermark. A retention-cleaned window (the log
    * below the watermark's successor is gone) falls back to a FULL
    * recluster — conservative, never silently partial. Deletion
    * vectors: selected files are read with vectors APPLIED (the
    * rewrite materializes their deletes); any NEW vector landing
    * mid-run aborts, like every compaction path. */
  def compactZOrderedIncremental(dims: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Long = 0L,
      force: Boolean = false): Option[Commit] = {
    require(dims.length >= 2,
      s"recluster needs at least two dims; got ${dims.length}")
    val rcKey = "txtable.lastRecluster"
    restaging("recluster") { base =>
      val watermark = base.cms.filter(TxTable.isTpName)
        .map(TxTable.decodeTp)
        .collectFirst { case (k, v) if k.equalsIgnoreCase(rcKey) => v }
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      val activeRel = base.files.map(_.stripPrefix(s"$dir/"))
      val selected: Seq[String] = watermark match {
        case _ if force => activeRel // OPTIMIZE FULL: re-sort the world
        case None => activeRel // first recluster: the whole table
        case Some(w) =>
          val window = commitsBetween(w, base.version)
          if (window.size != base.version - w) activeRel // cleaned window
          else {
            val sinceAdds = window.flatMap(_.add)
              .filterNot(n => TxTable.isMetaToken(n) || TxTable.isDvName(n))
              .toSet
            val fresh = activeRel.filter(sinceAdds.contains)
            if (fresh.isEmpty) Nil
            else if (smallBytes <= 0L) fresh
            else {
              // fold undersized clustered stragglers into the rewrite —
              // only when new data is being rewritten anyway
              val freshSet = fresh.toSet
              fresh ++ activeRel.filter(n => !freshSet.contains(n) &&
                new File(dir, n).length() < smallBytes)
            }
          }
      }
      if (selected.isEmpty) None
      else {
        // retire deletion vectors this rewrite makes INERT: selected files
        // are read with vectors APPLIED (deletes materialize into the
        // staged output), so a vector whose every target is selected must
        // leave the active set with them — otherwise inert dv tokens
        // accumulate on every bare OPTIMIZE of a DV-bearing CLUSTER BY
        // table (unbounded snapshot growth, dv files VACUUM can never
        // reclaim). A vector also covering an UNSELECTED file stays: its
        // deletes there are still live. Driver-side dv reads, file-name
        // scale, memoized like every touched-file lookup.
        val selectedSet = selected.toSet
        val retiredDvs: Seq[String] =
          if (base.dvs.isEmpty) Nil
          else if (selected.size == activeRel.size)
            base.dvs.map(_.stripPrefix(s"$dir/")) // full rewrite: all inert
          else base.dvs.map(_.stripPrefix(s"$dir/")).filter { dvRel =>
            touchedFiles(Seq(s"$dir/$dvRel")).forall(selectedSet.contains)
          }
        val bytes = selected.map(n => new File(dir, n).length()).sum
        // a FULL recluster keeps [[compactZOrdered]]'s 8-way fan-out floor
        // (narrow per-file ranges even on small tables); incremental
        // windows size purely by bytes — a small delta lands as one
        // z-ordered file, not eight shards
        val floor = if (selected.size == activeRel.size) 8L else 1L
        val targetFiles = math.max(floor,
          (bytes + targetBytes - 1) / targetBytes).toInt
        val (staged, stats) = compactStage(base, selected, AsBase(base))(
          Layout.zorderedN(_, dims, targetFiles))
        Some(Staged(staged, { head =>
          compactGuard("recluster", base, selected)(head)
          // the watermark stamps this commit's OWN version, so every data
          // file that landed between the base snapshot and the commit
          // would sit at-or-below it WITHOUT having been rewritten —
          // permanently escaping the induction invariant. An interleaved
          // DATA add therefore restarts the whole selection against the
          // new head (token-only interleavers — properties, markers —
          // are watermark-safe and ride through).
          head.version == base.version ||
            !commitsBetween(base.version, head.version).exists(_.add
              .exists(n => !TxTable.isMetaToken(n) && !TxTable.isDvName(n)))
        }, { head =>
          beforeDmlCommitHook() // race seam, same as every rewrite path
          // the watermark property swaps IN the recluster commit: the new
          // token records this commit's own version, the old (any case
          // variant) retires with the rewritten files
          val oldRc = head.cms.filter(t => TxTable.isTpName(t) &&
            TxTable.decodeTp(t)._1.equalsIgnoreCase(rcKey))
          Proposal("compact",
            staged :+ TxTable.encodeTp(rcKey, (head.version + 1).toString),
            selected ++ oldRc ++ retiredDvs, stats)
        }))
      }
    }
  }

  /** BIN-PACKING compaction — Delta's OPTIMIZE shape, the only
    * compaction that survives 100 TB: select ONLY the active data
    * files smaller than `targetBytes`, rewrite THEM into ~target-sized
    * files, and leave every adequately-sized file untouched (not read,
    * not rewritten, not even mentioned in the commit). [[compact]]
    * rewrites the whole table — right for retiring deletion vectors or
    * re-clustering, ruinous as the routine small-file maintenance a
    * streaming-ingest table needs after every few hundred commits.
    *
    * Deletion-vector interaction: files a live vector touches are NOT
    * selected (their rewrite belongs to the materializing [[compact]],
    * which retires the vector with them — packing such a file without
    * its vector would either resurrect deleted rows or silently
    * materialize them out of the vector's scope). The commit conflicts
    * like every compaction ([[compactGuard]]).
    *
    * Returns None when fewer than two files qualify — packing one file
    * buys nothing, and a no-op commit would churn the log. */
  /** `partitionFilter` (Delta's `OPTIMIZE … WHERE part = v`): pack only
    * inside partitions matching every `(column, value)` pair — the
    * shape that makes OPTIMIZE routine maintenance on a 100 TB
    * partitioned table (each day's ingest leaves small files in ONE
    * leaf; repacking the whole layout per day would be quadratic over
    * the table's life). Partitioned files pack PER LEAF DIRECTORY —
    * the rewrite lands in the same `c1=v1/…` path with the
    * path-encoded columns dropped from the file, so partition
    * inference and manifest pruning are untouched — and flat files
    * pack at the root, all under ONE atomic commit. */
  def compactBinPack(targetBytes: Long = 128L * 1024 * 1024,
      partitionFilter: Seq[(String, Any)] = Nil): Option[Commit] = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val base = snapshot()
    val dvTouched =
      if (base.dvs.isEmpty) Set.empty[String] else touchedFiles(base.dvs)
    val want = partitionWant(base, partitionFilter)
    // driver-side stat of active files only — file-name scale, the
    // same cost class as the manifest reads (files still active, so
    // they exist; a racing rewrite surfaces at the conflict check)
    val groups = base.files
      .map(f => f -> f.stripPrefix(s"$dir/"))
      .filterNot { case (_, rel) => dvTouched.contains(rel) }
      .filter { case (_, rel) =>
        want.isEmpty ||
          want.subsetOf(rel.split('/').dropRight(1).toSet) }
      .flatMap { case (full, rel) =>
        try {
          val sz = Files.size(Paths.get(full))
          if (sz < targetBytes) Some((rel, sz)) else None
        } catch { case _: java.io.IOException => None }
      }
      // pack within each leaf directory ("" = the flat root): a
      // cross-leaf rewrite would lose the path-encoded values
      .groupBy { case (rel, _) => rel.take(rel.lastIndexOf('/') max 0) }
      .filter(_._2.size >= 2)
    if (groups.isEmpty) return None
    val leaves = groups.toSeq.sortBy(_._1)
    val (files, stats) = leaves.map { case (leaf, smalls) =>
      val targetFiles = math.max(1, math.ceil(
        smalls.map(_._2).sum.toDouble / targetBytes).toInt)
      compactStage(base, smalls.map(_._1), IntoLeaf(leaf))(
        _.repartition(targetFiles))
    }.unzip
    Some(compactCommit("bin-pack", base, leaves.flatMap(_._2.map(_._1)),
      (files.flatten, stats.flatten)))
  }

  /** Delete data files that no snapshot ≥ `retainVersion` references.
    * Time travel below `retainVersion` stops working — the standard
    * vacuum contract. Returns the reclaimed file names.
    *
    * `minAgeMs` guards the stage-then-commit window: a concurrent
    * writer's freshly staged files are not yet referenced by any log
    * entry, and deleting them here would break the commit that is
    * about to reference them. Files younger than the guard are
    * therefore kept regardless of reference state (the same
    * retention-period device Delta's VACUUM uses); the default
    * comfortably exceeds any stage-to-commit latency. */
  /** LOG-RETENTION cleanup (Delta's `logRetentionDuration` shape, by
    * version count): delete commit entries, checkpoints, and stats
    * sidecars below the newest checkpoint that still leaves
    * `retainVersions` of time-travel history. At 100 TB-over-years
    * scale this is what keeps [[snapshotAt]]'s `_log` LISTING bounded
    * — checkpoints bound REPLAY cost from day one, but a
    * million-commit table would still list a million entry files per
    * snapshot resolution without retention.
    *
    * Correctness contract:
    *  - the cut lands ON a checkpoint, so every retained version
    *    (cut..head) resolves exactly as before;
    *  - time travel BELOW the cut fails loudly ("log was cleaned"),
    *    never resolves an empty table;
    *  - surviving files' column stats are CONSOLIDATED into the cut
    *    checkpoint's stats sidecar before their per-commit sidecars
    *    are deleted, so data skipping over old files keeps working;
    *  - entries younger than `minAgeMs` are never touched (a reader
    *    mid-replay of a pre-cut version races deletion — the same
    *    age-guard contract vacuum uses; streams lagging below the cut
    *    fail loudly on their next batch, Delta's retention trade).
    * Returns the deleted log file names. */
  def cleanupLog(retainVersions: Long = 100L,
      minAgeMs: Long = 60 * 60 * 1000L): Seq[String] = {
    require(retainVersions >= 1L, "retainVersions must be >= 1")
    // crash leftovers in _log are invisible to the log protocol, so
    // retention is the only reclaim point: a checkpointer killed
    // mid-sidecar leaves a `.tmp-ckpt-*` directory (and `.tmp-stats-*`
    // / `.tmp-ptr-*` / HardLink `.tmp-*` files), a conditional-PUT
    // writer leaves `.cput-*` temps, a stealer killed between
    // graveyard rename and delete leaves `.dead-*` claims, and an IO
    // failure while writing a claim leaves an OWNERLESS `.claim` that
    // blocks all writers on its key for the full stale horizon. All
    // age-guarded by minAgeMs FLOORED at THIS TABLE'S conditional-PUT
    // stale horizon (store.staleHorizonMs — not the default constant:
    // a store configured with a larger horizon heartbeats its claims
    // every horizon/4 > default/4, so a live claim's mtime can
    // legitimately exceed the default): a live holder heartbeats its
    // claim's mtime at horizon/4, so only past the horizon is age a
    // safe liveness signal — a caller-supplied minAgeMs below it must
    // not let the sweep delete a LIVE writer's claim or in-flight
    // .cput temp mid-PUT (retention aggressiveness is the caller's to
    // tune; the single-winner guarantee is not).
    val swept = sweepLogLeftovers(System.currentTimeMillis() -
      math.max(minAgeMs, store.staleHorizonMs))
    val (cfs, ckpts) = listLog()
    val head = snapshot().version
    if (head < 0) return swept
    val target = head - retainVersions + 1
    val cut = ckpts.map(_._1).filter(_ <= target) match {
      case Nil => return swept // no checkpoint old enough to cut at
      case vs  => vs.max
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    // consolidate surviving stats FIRST: every entry for a file the
    // cut checkpoint still references moves into the cut's own stats
    // sidecar (later entries win per (file, column) in loadStats —
    // appending the merged content preserves that)
    val live = snapshotAt(cut)
    val liveRel = (live.files ++ live.dvs)
      .map(_.stripPrefix(s"$dir/")).toSet
    val statFiles = Option(new File(logDir).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.length == 20 + ".stats.tsv".length &&
        f.getName.endsWith(".stats.tsv") &&
        f.getName.take(20).forall(_.isDigit))
      .map(f => (f.getName.take(20).toLong, f)).sortBy(_._1)
    val deadStats = statFiles
      .filter { case (v, f) => v < cut && f.lastModified() <= cutoff }
    val keepLines = deadStats.flatMap { case (_, f) =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty)
        .filter(l => l.split("\t", -1).headOption
          .exists(rel => liveRel.contains(dec(rel))))
    }
    if (keepLines.nonEmpty) {
      val consolidated = new File(f"$logDir/$cut%020d.stats.tsv")
      val prior =
        if (consolidated.isFile)
          new String(Files.readAllBytes(consolidated.toPath),
            StandardCharsets.UTF_8)
        else ""
      // earlier-version lines PREPEND so any existing cut-version
      // stats still win the later-entry-wins fold; a checkpoint-
      // consolidated sidecar keeps its `#consolidated` marker ON TOP
      // (mid-file it would stop marking, and bounded stats loading
      // would fall back to the full listing for no reason)
      val (marker, rest) =
        if (prior.startsWith("#consolidated"))
          ("#consolidated\n", prior.dropWhile(_ != '\n').drop(1))
        else ("", prior)
      // ATOMIC replace: the bounded stats path anchors every pruned
      // read on this very file — a truncate+write would let a
      // concurrent reader parse a torn numeric bound and WRONGLY
      // prune (missing rows), where torn-vs-absent stats only ever
      // kept files
      val tmpStats = new File(logDir,
        s".tmp-stats-${java.util.UUID.randomUUID()}")
      Files.write(tmpStats.toPath,
        (marker + keepLines.mkString("\n") + "\n" + rest)
          .getBytes(StandardCharsets.UTF_8))
      Files.move(tmpStats.toPath, consolidated.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // the pointer must reach at-or-above the cut BEFORE any entry
    // dies: a surviving stale pointer below the cut would make the
    // bounded resolve path stop at the deletion gap and serve an OLD
    // snapshot as the head. Advance-or-abort — the pointer write is
    // normally best-effort, but here it gates destruction.
    writeLastCkptPtr(cut)
    if (lastCheckpointVersion().forall(_ < cut)) return swept
    val dead = (cfs ++ ckpts)
      .filter { case (v, f) => v < cut && f.lastModified() <= cutoff }
    dead.foreach(_._2.delete())
    // a deleted checkpoint's parquet sidecar is garbage with it
    val deadSidecars = dead
      .map { case (v, _) => new File(f"$logDir/$v%020d.ckpt.parquet") }
      .filter(_.exists())
    deadSidecars.foreach(rmTree)
    deadStats.foreach(_._2.delete())
    (swept ++ (dead ++ deadStats).map(_._2.getName) ++
      deadSidecars.map(_.getName)).sorted
  }

  /** Reclaim age-expired crash leftovers from `_log` (see
    * [[cleanupLog]]): `.tmp-*` / `.cput-*` / `.dead-*` temps (files or
    * directories — a torn checkpoint sidecar is a tree) and ownerless
    * `*.claim` files, all strictly older than `cutoff`. Returns the
    * reclaimed names. One listing, O(leftovers) deletes. */
  private def sweepLogLeftovers(cutoff: Long): Seq[String] = {
    val fs = Option(new File(logDir).listFiles())
      .getOrElse(Array.empty[File])
    fs.filter { f =>
      val n = f.getName
      (n.startsWith(".tmp-") || n.startsWith(".cput-") ||
        n.startsWith(".dead-") || n.endsWith(".claim")) &&
        f.lastModified() <= cutoff
    }.map { f => if (f.isDirectory) rmTree(f) else f.delete(); f.getName }
      .toSeq.sorted
  }

  /** `dryRun` (Delta's `VACUUM … DRY RUN`): list exactly what a real
    * run would reclaim, delete NOTHING — the operational safety valve
    * an admin reaches for before the destructive pass. The walk and
    * the age/reference guards are the real run's verbatim.
    *
    * DISTRIBUTED at scale (Delta's VACUUM does the same): the
    * partition-directory walk fans out as a Spark job over the
    * level-1 `col=value` subtrees when there are at least
    * [[TxTable.VacuumDistributeMinDirs]] of them, and the deletes fan
    * out above [[TxTable.VacuumDistributeMinDeletes]] dead files —
    * a driver-serial walk-and-delete over a millions-of-files layout
    * is hours; the distributed form is bounded by the largest single
    * leaf. Small tables keep the driver path (no job overhead). */
  def vacuum(retainVersion: Long,
      minAgeMs: Long = 60 * 60 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    // alive = active at the retention horizon, or added after it (such
    // a file is part of some retained snapshot even if later removed).
    // A file a retained commit merely REMOVES is not kept alive by that
    // mention — that is exactly the garbage vacuum exists to reclaim.
    // The post-horizon adds come from EVERY surviving log entry — no
    // contiguity filter: on a partially retention-cleaned log (age
    // guard leaving young pre-cut entries) a contiguous-run view can
    // truncate early, and an unprotected add here is DATA LOSS, where
    // protecting a half-landed future version's adds is merely
    // conservative.
    val horizon = snapshotAt(retainVersion)
    val referenced = listLog()._1
      .filter { case (v, _) => v > retainVersion }
      .flatMap { case (_, f) => readEntry(f).add }.toSet ++
      (horizon.files ++ horizon.dvs).map(_.stripPrefix(s"$dir/"))
    val cutoff = System.currentTimeMillis() - minAgeMs
    val root = new File(dir)
    val kids = Option(root.listFiles()).getOrElse(Array.empty[File])
    // flat (root-level) files stay a driver concern — one listing
    val rootFiles = kids
      .filter(f => f.isFile && TxTable.isReclaimableName(f.getName))
      .map(f => (f.getName, f.lastModified())).toSeq
    // `col=value/` subtrees walk recursively (multi-key layouts'
    // leaves are depth-N and their retired rewrites must reclaim too);
    // enough of them -> one Spark task per level-1 subtree
    val partDirs = kids
      .filter(f => f.isDirectory && f.getName.contains("=")).toSeq
    val subtree: Seq[(String, Long)] =
      if (partDirs.size >= TxTable.VacuumDistributeMinDirs) {
        val args = partDirs.map(d => (d.getAbsolutePath, d.getName + "/"))
        spark.sparkContext
          .parallelize(args, math.min(args.size, 64))
          .flatMap { case (abs, prefix) =>
            TxTable.walkDataTree(new File(abs), prefix)
          }.collect().toSeq
      } else partDirs.flatMap(d =>
        TxTable.walkDataTree(d, d.getName + "/"))
    val dead = (rootFiles ++ subtree).filter { case (rel, mtime) =>
      !referenced.contains(rel) && mtime <= cutoff
    }
    // crashed writers leave whole `_staged-*` directories (staged but
    // never moved); they are invisible to the log, so age is the only
    // signal — reclaim them under the same guard
    val staged = kids
      .filter(f => f.isDirectory && f.getName.startsWith("_staged-") &&
        f.lastModified() <= cutoff)
    if (!dryRun) {
      if (dead.size >= TxTable.VacuumDistributeMinDeletes) {
        val abs = dead.map { case (rel, _) => s"$dir/$rel" }
        spark.sparkContext
          .parallelize(abs, math.max(1, math.min(abs.size / 256, 64)))
          .foreach { p => new File(p).delete(); () }
      } else dead.foreach { case (rel, _) => new File(dir, rel).delete() }
      // a reclaimed data file's bloom sidecars are garbage with it —
      // without this, logDir/bloom accumulates orphans without bound.
      // Skipped wholesale when the table never built a bloom index:
      // the per-file drop re-lists the bloom dir, O(dead x blooms)
      val anyBlooms = Option(bloomDir.listFiles())
        .exists(_.nonEmpty)
      if (anyBlooms) dead.foreach { case (rel, _) => dropBlooms(rel) }
      staged.foreach(rmTree)
    }
    dead.map(_._1) ++ staged.map(_.getName)
  }
}
