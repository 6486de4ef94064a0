package graft.ops

import java.io.File
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkTestBase

/** ACID semantics of [[TxTable]]: atomic visibility, snapshot
  * isolation, time travel, optimistic concurrency under real racing
  * writers, crash-garbage invisibility, vacuum's retention contract. */
class TxTableSpec extends SparkTestBase {

  /** The commit CAS under test; [[TxTableCondStoreSpec]] overrides to
    * run the ENTIRE suite through the object-store conditional-write
    * path — the protocol above the primitive must not care. */
  protected def logStore: LogStore = LogStore.HardLink

  private def mkTable(): (TxTable, String) = {
    val dir = Files.createTempDirectory("graft-tx-").toString
    (TxTable(spark, dir, logStore), dir)
  }

  private def df(range: Range) = {
    import spark.implicits._
    range.map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  test("append accumulates; versions are contiguous") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.append(df(10 until 25))
    assert(t.read().count() === 25)
    assert(t.snapshot().version === 1)
  }

  test("overwrite replaces atomically; time travel still reads history") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.overwrite(df(100 until 103))
    assert(t.read().count() === 3)
    assert(t.readAt(0).count() === 10) // pre-overwrite version intact
  }

  test("snapshot isolation: a resolved snapshot survives a later overwrite") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    val snap = t.snapshot()
    t.overwrite(df(0 until 1))
    // the old reader still sees its full snapshot — files are not
    // reclaimed until vacuum
    assert(snap.read(spark).count() === 10)
    assert(t.read().count() === 1)
  }

  test("upsert has latest-wins MERGE semantics") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    val updates = Seq((3L, "UPDATED"), (42L, "INSERTED"))
      .toDF("id", "payload")
    t.upsert(updates, Seq("id"))
    val out = t.read().as[(Long, String)].collect().toMap
    assert(out.size === 11)
    assert(out(3L) === "UPDATED")
    assert(out(42L) === "INSERTED")
    assert(out(4L) === "row-4")
  }

  test("racing appenders all land; no version is lost or duplicated") {
    val (t, dir) = mkTable()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 4).map { w =>
        Future { (0 until 3).foreach { i =>
          t.append(df(w * 1000 + i * 10 until w * 1000 + i * 10 + 10)) } }
      }
      Await.result(Future.sequence(futures), 120.seconds)
    } finally pool.shutdown()
    assert(t.read().count() === 4 * 3 * 10)
    assert(t.snapshot().version === 11) // 12 commits, contiguous 0..11
    val logs = new File(s"$dir/_log").listFiles()
      .filter(f => f.getName.endsWith(".json") &&
        !f.getName.endsWith(".ckpt.json")).map(_.getName).sorted
    assert(logs.length === 12)
  }

  test("racing upserts on disjoint keys: loser retries and both apply") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val f1 = Future {
        t.upsert(Seq((1L, "A")).toDF("id", "payload"), Seq("id")) }
      val f2 = Future {
        t.upsert(Seq((2L, "B")).toDF("id", "payload"), Seq("id")) }
      Await.result(Future.sequence(Seq(f1, f2)), 120.seconds)
    } finally pool.shutdown()
    val out = t.read().as[(Long, String)].collect().toMap
    assert(out(1L) === "A")
    assert(out(2L) === "B")
    assert(out.size === 10)
  }

  test("compaction bounds file count without changing content") {
    val (t, dir) = mkTable()
    (0 until 5).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    val before = t.read().orderBy("id").collect().toSeq
    assert(t.snapshot().files.size > 1)
    t.compact(targetFiles = 1)
    assert(t.snapshot().files.size === 1)
    assert(t.read().orderBy("id").collect().toSeq === before)
  }

  test("append rejects a schema-diverging frame") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 5))
    val wrong = Seq((1L, 2.0)).toDF("id", "payload") // payload: double
    val e = intercept[IllegalArgumentException](t.append(wrong))
    assert(e.getMessage.contains("schema mismatch"))
    assert(t.read().count() === 5) // nothing landed
  }

  test("compaction retries across a concurrent append; content is the union") {
    val (t, _) = mkTable()
    (0 until 4).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fc = Future { t.compact(targetFiles = 1) }
      val fa = Future { t.append(df(900 until 910)) }
      Await.result(Future.sequence(Seq(fc, fa)), 120.seconds)
    } finally pool.shutdown()
    // an append never removes files, so compaction must succeed and the
    // final content is base ∪ appended regardless of interleaving
    assert(t.read().count() === 50)
    assert(t.read().select("id").distinct.count() === 50)
  }

  test("z-ordered compaction preserves content and bounds files") {
    import spark.implicits._
    val (t, _) = mkTable()
    (0 until 4).foreach { i =>
      t.append((i * 25 until i * 25 + 25)
        .map(j => (j.toLong, (j * 37 % 100).toLong, s"row-$j"))
        .toDF("x", "y", "payload"))
    }
    val before = t.read().orderBy("x").collect().toSeq
    t.compactZOrdered("x", "y", targetFiles = 2)
    assert(t.snapshot().files.size === 2)
    assert(t.read().orderBy("x").collect().toSeq === before)
  }

  test("crash garbage (staged-but-uncommitted files) is invisible") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    // simulate a writer that died after staging: an unreferenced data
    // file and a leftover staging dir
    df(900 until 950).write.parquet(s"$dir/_staged-dead")
    Files.copy(
      new File(dir).listFiles().filter(_.getName.startsWith("data-"))
        .head.toPath,
      new File(dir, "data-dead-orphan.parquet").toPath)
    assert(t.read().count() === 10)
  }

  test("vacuum reclaims unreferenced files and keeps the retained horizon") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))     // v0
    t.overwrite(df(0 until 3))   // v1: v0's files now unreferenced
    val reclaimed = t.vacuum(retainVersion = 1, minAgeMs = 0)
    assert(reclaimed.nonEmpty)
    assert(t.read().count() === 3)
    val live = new File(dir).listFiles()
      .filter(_.getName.startsWith("data-")).map(_.getName).toSet
    assert(t.snapshot().files.map(_.split("/").last).forall(live.contains))
  }

  test("vacuum's age guard protects a concurrent writer's staged files") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))     // v0
    t.overwrite(df(0 until 3))   // v1: v0's files now unreferenced...
    // ...but with the default age guard nothing is young enough to die,
    // so an in-flight stage-then-commit can never lose its files
    assert(t.vacuum(retainVersion = 1).isEmpty)
    assert(t.readAt(0).count() === 10) // history still intact
  }

  test("DISTRIBUTED vacuum: forced fan-out reclaims exactly the driver walk's set") {
    import spark.implicits._
    val (t, dir) = mkTable()
    // a multi-leaf nested layout: 4 langs x 3 shards, then a full
    // overwrite retires every partitioned file
    val rows = (0 until 120).map(i =>
      (i.toLong, s"l${i % 4}", s"s${i % 3}", s"row-$i"))
    t.appendPartitioned(rows.toDF("id", "lang", "shard", "payload"),
      Seq("lang", "shard"))
    t.overwrite(rows.take(5).toDF("id", "lang", "shard", "payload"))
    // DRY RUN through the DRIVER path first: the reference answer
    val viaDriver = t.vacuum(retainVersion = 1, minAgeMs = 0,
      dryRun = true).toSet
    assert(viaDriver.nonEmpty &&
      viaDriver.exists(_.contains("lang=")))
    // force BOTH distributed paths (walk fan-out + delete fan-out)
    val (d0, n0) =
      (TxTable.VacuumDistributeMinDirs, TxTable.VacuumDistributeMinDeletes)
    TxTable.VacuumDistributeMinDirs = 1
    TxTable.VacuumDistributeMinDeletes = 1
    try {
      val viaJob = t.vacuum(retainVersion = 1, minAgeMs = 0,
        dryRun = true).toSet
      assert(viaJob === viaDriver,
        "distributed walk must reclaim exactly the driver walk's set")
      val reclaimed = t.vacuum(retainVersion = 1, minAgeMs = 0).toSet
      assert(reclaimed === viaDriver)
      reclaimed.foreach(rel =>
        assert(!new File(dir, rel).exists(), s"$rel not deleted"))
      assert(t.read().count() === 5)
      // live files untouched
      assert(t.snapshot().files.forall(f => new File(f).isFile))
    } finally {
      TxTable.VacuumDistributeMinDirs = d0
      TxTable.VacuumDistributeMinDeletes = n0
    }
  }

  test("partitioned append: manifest-level pruning reads only matching files") {
    import spark.implicits._
    val (t, dir) = mkTable()
    val rows = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"row-$i"))
    t.appendPartitioned(rows.toDF("id", "lang", "payload"), "lang")
    // full read restores the partition column via the base path
    assert(t.read().select("lang").distinct.count() === 2)
    assert(t.read().count() === 40)
    // manifest prune: the selected file list contains ONLY the lang=en
    // subdir's files — the de partition contributes zero I/O
    val en = t.readPartition("lang", "en")
    assert(en.count() === 20)
    assert(en.select("lang").distinct.collect().map(_.getString(0)).toSeq
      === Seq("en"))
    val enFiles = en.inputFiles
    assert(enFiles.nonEmpty && enFiles.forall(_.contains("lang=en/")),
      s"pruned read touched non-matching files: ${enFiles.mkString(",")}")
    // vacuum sees partition subdirs: overwrite then reclaim
    t.overwrite(rows.take(4).toDF("id", "lang", "payload"))
    val reclaimed = t.vacuum(retainVersion = 1, minAgeMs = 0)
    assert(reclaimed.exists(_.startsWith("lang=")),
      s"partitioned files not reclaimed: $reclaimed")
  }

  test("overwritePartitions restates only the touched partition, atomically") {
    import spark.implicits._
    val (t, _) = mkTable()
    val rows = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"row-$i"))
    t.appendPartitioned(rows.toDF("id", "lang", "payload"), "lang")
    val v0 = t.snapshot().version
    // restate lang=en with 3 rows; lang=de must be untouched
    val restated = Seq((100L, "en", "NEW-a"), (101L, "en", "NEW-b"),
      (102L, "en", "NEW-c")).toDF("id", "lang", "payload")
    t.overwritePartitions(restated, "lang")
    assert(t.readPartition("lang", "en").count() === 3)
    assert(t.readPartition("lang", "de").count() === 20)
    assert(t.read().count() === 23)
    // single atomic commit; the pre-restatement state time-travels back
    assert(t.snapshot().version === v0 + 1)
    assert(t.readAt(v0).count() === 40)
  }

  test("checkpoint accelerates replay; a deleted checkpoint falls back cleanly") {
    val (t, dir) = mkTable()
    (0 until 12).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    val ckpts = new File(s"$dir/_log").listFiles()
      .filter(_.getName.endsWith(".ckpt.json"))
    assert(ckpts.nonEmpty, "12 commits should have produced a checkpoint")
    val viaCkpt = t.read().orderBy("id").collect().toSeq
    // time travel BELOW the checkpoint still replays from scratch
    assert(t.readAt(3).count() === 40)
    // checkpoints are accelerators only: removing them changes nothing
    ckpts.foreach(_.delete())
    assert(t.read().orderBy("id").collect().toSeq === viaCkpt)
    assert(t.snapshot().version === 11)
  }

  test("deleteBetween rewrites only stat-overlapping files; others survive by identity") {
    import spark.implicits._
    val (t, _) = mkTable()
    // 4 appends with disjoint id ranges → tight per-file stats
    (0 until 4).foreach(i => t.append(df(i * 100 until i * 100 + 100)))
    val before = t.snapshot().files.toSet
    t.deleteBetween("id", 150L, 249L)
    val after = t.snapshot().files.toSet
    // ranges 0-99 and 300-399 never overlap the predicate: their files
    // must survive UNREWRITTEN (same physical paths)
    val untouchedBefore = before.filter { f =>
      val rows = spark.read.parquet(f)
        .agg(min(col("id")), max(col("id"))).head()
      rows.getLong(1) < 150L || rows.getLong(0) > 249L
    }
    assert(untouchedBefore.subsetOf(after),
      "files outside the delete range were rewritten")
    assert(t.read().count() === 300)
    assert(t.read().where(col("id").between(150, 249)).count() === 0)
    // time travel still sees the pre-delete content
    assert(t.readAt(3).count() === 400)
    // point-delete face
    t.deleteWhere("id", 42L)
    assert(t.read().count() === 299)
    assert(t.read().where(col("id") === 42L).count() === 0)
  }

  test("restore re-references an old version as a new commit; history intact") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))   // v0
    t.append(df(10 until 30))  // v1
    t.overwrite(df(100 until 103)) // v2
    val c = t.restore(1)
    assert(c.version === 3)
    assert(t.read().count() === 30) // v1 content back
    assert(t.readAt(2).count() === 3) // overwrite still in history
    // stats logged with the original files still drive skipping
    assert(t.readBetween("id", 0L, 5L).count() === 6)
    // restoring a vacuumed-away version fails loudly, not silently empty
    t.overwrite(df(0 until 2)) // v4
    t.vacuum(retainVersion = 4, minAgeMs = 0)
    val e = intercept[IllegalArgumentException](t.restore(1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("change feed: appends insert-only, rewrites net-diffed, compaction silent") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))    // v0: 10 inserts
    t.append(df(10 until 15))   // v1: 5 inserts
    t.compact(targetFiles = 1)  // v2: data-neutral
    // v3: upsert rewrites everything but only id 3 actually changes
    t.upsert(Seq((3L, "CHANGED")).toDF("id", "payload"), Seq("id"))
    val feed = t.readChanges(-1)
    assert(feed.where(col("_commit_version") === 0L).count() === 10)
    assert(feed.where(col("_commit_version") === 1L).count() === 5)
    assert(feed.where(col("_commit_version") === 2L).count() === 0)
    val v3 = feed.where(col("_commit_version") === 3L)
      .select("_change_type", "id", "payload").as[(String, Long, String)]
      .collect().toSet
    assert(v3 === Set(("insert", 3L, "CHANGED"), ("delete", 3L, "row-3")))
    // window selection: (0, 1] sees only v1's inserts
    assert(t.readChanges(0, 1).count() === 5)
    // a vacuum inside the window fails the feed loudly, not silently
    t.overwrite(df(0 until 2)) // v4
    t.vacuum(retainVersion = 4, minAgeMs = 0)
    val e = intercept[IllegalArgumentException](t.readChanges(2, 4))
    assert(e.getMessage.contains("vacuumed"))
    // a window entirely in retained history still works
    assert(t.readChanges(4).count() === 0)
  }

  test("delete keeps NULL-valued rows (predicate not-TRUE, not negated-NULL)") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((Some(1L), "a"), (None, "null-row"), (Some(5L), "b"))
      .toDF("id", "payload"))
    t.deleteBetween("id", 0L, 2L)
    val left = t.read().select("payload").collect().map(_.getString(0)).toSet
    assert(left === Set("null-row", "b"))
  }

  test("per-file stats: z-ordered point query skips most files, same rows") {
    import spark.implicits._
    val (t, _) = mkTable()
    (0 until 4).foreach { i =>
      t.append((i * 50 until i * 50 + 50)
        .map(j => (j.toLong, ((j * 37) % 200).toLong, s"row-$j"))
        .toDF("x", "y", "payload"))
    }
    t.compactZOrdered("x", "y", targetFiles = 16)
    val total = t.snapshot().files.size
    val pruned = t.prunedSnapshot("x", Some(7L), Some(7L))
    assert(pruned.files.size * 4 <= total,
      s"point query selected ${pruned.files.size} of $total files")
    // skipping changes I/O only — results are the exact-filter results
    val viaSkip = t.readWhere("x", 7L).collect().toSet
    val full = t.read().where(col("x") === 7L).collect().toSet
    assert(viaSkip === full && viaSkip.nonEmpty)
    // both z-dimensions carry tight file ranges after the clustered
    // rewrite (stats survive compaction — they're re-logged with it)
    val prunedY = t.prunedSnapshot("y", Some(3L), Some(3L))
    assert(prunedY.files.size * 4 <= total,
      s"y point query selected ${prunedY.files.size} of $total files")
  }

  test("stats survive overwrite; range reads skip on numeric and string") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    // overwrite with a range-partitioned layout: tight id range per file
    t.overwrite(df(0 until 100).repartitionByRange(4, col("id")))
    val total = t.snapshot().files.size
    assert(total === 4)
    val pruned = t.prunedSnapshot("id", Some(10L), Some(19L))
    assert(pruned.files.size === 1,
      s"range read selected ${pruned.files.size} of $total files")
    assert(t.readBetween("id", 10L, 19L).count() === 10)
    // string stats: payload "row-N" min/max prune a lexicographic probe
    val prunedS =
      t.prunedSnapshot("payload", Some("row-99"), Some("row-99"))
    assert(prunedS.files.size < total)
    assert(t.readWhere("payload", "row-99").count() === 1)
  }

  test("readPartition matches values Spark escapes in partition paths") {
    import spark.implicits._
    val (t, _) = mkTable()
    val rows = Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain"))
      .toDF("id", "k")
    t.appendPartitioned(rows, "k")
    // ':' is escaped to %3A in the path; the prune prefix must match
    // the escaped segment, not the raw value
    assert(t.readPartition("k", "a:b").count() === 2)
    assert(t.readPartition("k", "plain").count() === 1)
    val withNull = Seq((4L, null.asInstanceOf[String])).toDF("id", "k")
    t.appendPartitioned(withNull, "k")
    assert(t.readPartition("k", null).count() === 1)
  }

  test("vacuum reclaims aged crashed-writer staging dirs") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    df(50 until 60).write.parquet(s"$dir/_staged-crashed")
    val staged = new File(dir, "_staged-crashed")
    staged.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
    val reclaimed = t.vacuum(retainVersion = 0, minAgeMs = 3600 * 1000L)
    assert(reclaimed.contains("_staged-crashed"))
    assert(!staged.exists())
    assert(t.read().count() === 10)
  }

  /** A [[LogStore]] that, once armed, loses every version race — the
    * deterministic form of unbounded contention. Counts the CAS
    * attempts it refused. */
  private final class Contended(under: LogStore) extends LogStore {
    @volatile var armed = false
    val refused = new java.util.concurrent.atomic.AtomicInteger
    def putIfAbsent(target: File, content: Array[Byte]): Boolean =
      if (armed) { refused.incrementAndGet(); false }
      else under.putIfAbsent(target, content)
    override def staleHorizonMs: Long = under.staleHorizonMs
  }

  /** Every data, vector and bloom file under `root`, partitions and the
    * bloom sidecar directory included. */
  private def stagedFiles(root: File): Set[String] =
    Option(root.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) stagedFiles(f)
      else if (f.getName.startsWith("data-") || f.getName.startsWith("dv-") ||
          f.getParentFile.getName == "bloom") Seq(f.getPath)
      else Nil
    }.toSet

  private def partitioned(range: Range) =
    df(range).withColumn("part", (col("id") % 3).cast("int"))

  // (operation, error prefix, attempt budget, seed, op); the seed runs
  // before the store is armed
  private val exhaustion: Seq[(String, String, Int, TxTable => Any,
      TxTable => Any)] = {
    val flat = (t: TxTable) => t.append(df(0 until 20).repartition(2))
    val byPart = (t: TxTable) =>
      t.appendPartitioned(partitioned(0 until 20), Seq("part"))
    Seq(
      ("append", "append", 50, flat, _.append(df(20 until 25))),
      ("appendEvolve", "append", 50, flat,
        _.appendEvolve(df(20 until 25).withColumn("extra", lit("x")))),
      ("identity append", "identity append", 50,
        { t => flat(t); t.addIdentityColumn("rid") },
        _.append(df(20 until 25))),
      ("appendPartitioned", "append", 50, byPart,
        _.appendPartitioned(partitioned(20 until 25), Seq("part"))),
      ("overwritePartitions", "overwritePartitions", 50, byPart,
        _.overwritePartitions(partitioned(20 until 25), Seq("part"))),
      ("overwrite", "overwrite", 50, flat, _.overwrite(df(100 until 105))),
      ("upsert", "upsert", 20, flat, _.upsert(df(15 until 25), Seq("id"))),
      ("merge", "merge", 20, flat, _.merge(df(15 until 25), Seq("id"),
        whenMatchedUpdate = Some(lit(true)),
        whenNotMatchedInsert = Some(lit(true)))),
      ("deleteWhere", "delete", 20, flat, _.deleteWhere("id", 3L)),
      ("updateWhere", "update", 20, flat,
        _.updateWhere("id", 3L, Map("payload" -> lit("patched")))),
      ("replaceBetween", "replace", 20, flat,
        _.replaceBetween(df(3 until 4), "id", 3L, 3L)),
      ("addColumns", "addColumns", 50, flat,
        _.addColumns(StructType(Seq(StructField("extra", StringType))))),
      ("deleteVectorWhere", "deleteVector", 20, flat,
        _.deleteVectorWhere("id", 3L)),
      ("copyInto", "COPY INTO", 20, flat, { t =>
        val src = Files.createTempDirectory("graft-copy-src-").toString
        df(50 until 55).write.mode("overwrite").parquet(src)
        t.copyInto(src)
      }),
      ("compact", "compaction", 20, flat, _.compact()),
      ("compactBinPack", "bin-pack", 20, flat, _.compactBinPack(1L << 30)),
      ("compactZOrderedWhere", "scoped z-order", 20, byPart,
        _.compactZOrderedWhere(Seq("id", "id"), Seq("part" -> 0))),
      ("compactZOrderedIncremental", "recluster", 20, flat,
        _.compactZOrderedIncremental(Seq("id", "id"))),
      ("addConstraint", "addConstraint", 20, flat,
        _.addConstraint("id_nonneg", "id >= 0")),
      ("setProperties", "setProperties", 20, flat,
        _.setProperties(Map("owner" -> "etl"))))
  }

  for ((name, errOp, budget, seed, op) <- exhaustion)
    test(s"$name with exhausted retries reclaims its staged files") {
      val dir = Files.createTempDirectory("graft-tx-").toString
      val store = new Contended(logStore)
      val t = TxTable(spark, dir, store).bloomIndex(Seq("id"))
      seed(t)
      val version = t.snapshot().version
      val rows = t.read().collect().map(_.toString).sorted.toSeq
      val files = stagedFiles(new File(dir))
      store.armed = true
      val err = intercept[RuntimeException](op(t))
      store.armed = false
      assert(err.getMessage.contains(
        s"$errOp contention: lost $budget races in"), err.getMessage)
      assert(store.refused.get === budget)
      assert(stagedFiles(new File(dir)) === files)
      assert(t.snapshot().version === version)
      assert(t.read().collect().map(_.toString).sorted.toSeq === rows)
    }

  // the same writes, uncontended: every staged CONTENT file of the
  // committed entry has its stats line and its `id` bloom; zero-row
  // schema carriers and deletion vectors have neither
  private val sidecarOps = exhaustion.collect {
    case (name, _, _, seed, op)
        if name != "addConstraint" && name != "setProperties" =>
      (name, seed, op)
  } :+ (("merge widenBy", (t: TxTable) => t.append(df(0 until 20)),
    (t: TxTable) => t.merge(df(15 until 25).withColumn("extra", lit("x")),
      Seq("id"), whenMatchedUpdate = Some(lit(true)),
      whenNotMatchedInsert = Some(lit(true)),
      widenBy = StructType(Seq(StructField("extra", StringType))))))

  for ((name, seed, op) <- sidecarOps)
    test(s"$name logs stats and blooms for exactly its content files") {
      val (t, dir) = mkTable()
      t.bloomIndex(Seq("id"))
      seed(t)
      op(t)
      val v = t.snapshot().version
      val added = t.commitsBetween(v - 1, v).head.add
        .filterNot(TxTable.isMetaToken)
      val statsFile = new File(f"$dir/_log/$v%020d.stats.tsv")
      val stats =
        if (!statsFile.isFile) Nil
        else Files.readAllLines(statsFile.toPath).asScala.toList
      def hasStats(rel: String, column: String = "") =
        stats.exists(_.startsWith(s"$rel\t$column"))
      def hasBloom(rel: String) = new File(s"$dir/_log/bloom/" +
        rel.replace("%", "%25").replace("/", "%2F") + ".id.long.bloom").isFile
      val (content, other) = added.partition(rel =>
        !TxTable.isDvName(rel) && spark.read.parquet(s"$dir/$rel").count() > 0)
      content.foreach { rel =>
        assert(hasStats(rel, "id\t"), s"$rel lacks its id stats")
        assert(hasBloom(rel), s"$rel lacks its id bloom")
      }
      other.foreach { rel =>
        assert(!hasStats(rel), s"$rel is not content but has stats")
        assert(!hasBloom(rel), s"$rel is not content but has a bloom")
      }
      name match {
        case "addColumns" => assert(content.isEmpty && other.size === 1)
        case "merge widenBy" => assert(other.size === 1, added)
        case "deleteVectorWhere" =>
          assert(content.isEmpty && other.nonEmpty, added)
        case _ => assert(content.nonEmpty && other.isEmpty, added)
      }
    }

  test("commit-log codec roundtrips") {
    val c = TxTable.Commit(7, "upsert",
      Seq("data-a.parquet", "data-b.parquet"), Seq("data-c.parquet"),
      123456789L)
    assert(TxTable.parse(TxTable.render(c)) === c)
    val empty = TxTable.Commit(0, "append", Nil, Nil, 1L)
    assert(TxTable.parse(TxTable.render(empty)) === empty)
  }

  // ------------------------------------------------- deletion vectors

  test("deleteVector hides rows without rewriting any data file") {
    val (t, _) = mkTable()
    t.append(df(0 until 100))
    val dataBefore = t.snapshot().files.toSet
    t.deleteVectorBetween("id", 10L, 29L)
    assert(t.snapshot().files.toSet === dataBefore) // merge-on-read
    assert(t.snapshot().dvs.nonEmpty)
    assert(t.read().count() === 80)
    assert(t.read().where(col("id") === 15L).count() === 0)
    assert(t.readAt(0).count() === 100) // time travel pre-delete
  }

  test("deletion vectors accumulate without double-counting") {
    val (t, _) = mkTable()
    t.append(df(0 until 100))
    t.deleteVectorBetween("id", 0L, 49L)
    // overlapping second delete: rows 25-49 already vectored — the new
    // vector must hold ONLY 50-74, or a future exactly-once consumer
    // of the feed would see 25 rows deleted twice
    t.deleteVectorBetween("id", 25L, 74L)
    assert(t.read().count() === 25)
    val dvRows = t.snapshot().dvs.map(f =>
      spark.read.parquet(f).count()).sum
    assert(dvRows === 75, s"expected 75 vector entries, got $dvRows")
  }

  test("stats-pruned reads apply vectors; rewrite delete does not resurrect") {
    val (t, _) = mkTable()
    t.append(df(0 until 1000))
    t.compactZOrdered("id", "id", targetFiles = 8)
    t.deleteVectorBetween("id", 100L, 199L)
    assert(t.readBetween("id", 50L, 250L).count() === 101)
    assert(t.readWhere("id", 150L).count() === 0)
    // rewrite-mode delete of a DIFFERENT range must not bring the
    // vectored rows back (its rewrite reads content, vectors applied)
    t.deleteBetween("id", 300L, 399L)
    assert(t.read().count() === 800)
    assert(t.read().where(col("id").between(100L, 199L)).count() === 0)
  }

  test("upsert after a vector delete does not resurrect vectored rows") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.deleteVectorWhere("id", 3L)
    t.upsert(Seq((5L, "UPDATED")).toDF("id", "payload"), Seq("id"))
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(3L))
    assert(rows(5L) === "UPDATED")
    assert(rows.size === 9)
    assert(t.snapshot().dvs.isEmpty) // full rewrite retired the vector
  }

  test("compaction materializes vector deletes and retires the vectors") {
    val (t, dir) = mkTable()
    t.append(df(0 until 100))
    t.deleteVectorBetween("id", 0L, 9L)
    val dvFiles = t.snapshot().dvs.map(_.split("/").last)
    assert(dvFiles.nonEmpty)
    t.compact(targetFiles = 1)
    assert(t.snapshot().dvs.isEmpty)
    assert(t.read().count() === 90)
    // vacuum now reclaims the retired vector files
    new File(dir).listFiles().foreach(f =>
      f.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    val reclaimed = t.vacuum(retainVersion = t.snapshot().version,
      minAgeMs = 3600 * 1000L)
    assert(dvFiles.forall(reclaimed.contains))
  }

  test("a vector landing during compaction aborts it (no resurrection)") {
    val (t, _) = mkTable()
    t.append(df(0 until 100))
    // the layout callback runs while compaction stages, BEFORE the
    // commit loop — a deterministic stand-in for a racing DV writer
    val err = intercept[RuntimeException] {
      t.compactLayout(d => { t.deleteVectorWhere("id", 5L); d.repartition(1) })
    }
    assert(err.getMessage.contains("deletion vector"))
    assert(t.read().count() === 99) // the vector delete is intact
  }

  test("change feed emits vector deletes as row-level deletes, once") {
    val (t, _) = mkTable()
    t.append(df(0 until 50))
    t.deleteVectorBetween("id", 10L, 14L) // v1
    t.append(df(100 until 103))           // v2
    val feed = t.readChanges(0).collect()
    val dels = feed.filter(_.getAs[String]("_change_type") == "delete")
    assert(dels.map(_.getAs[Long]("id")).sorted.toSeq ===
      Seq(10L, 11L, 12L, 13L, 14L))
    assert(dels.forall(_.getAs[Long]("_commit_version") == 1L))
    val ins = feed.filter(_.getAs[String]("_change_type") == "insert")
    assert(ins.map(_.getAs[Long]("id")).sorted.toSeq === Seq(100L, 101L, 102L))
    // a later rewrite must not re-report the vectored rows as deletes
    t.overwrite(df(0 until 5)) // v3
    val dels3 = t.readChanges(2).collect()
      .filter(_.getAs[String]("_change_type") == "delete")
      .map(_.getAs[Long]("id"))
    assert(!dels3.exists(id => id >= 10L && id <= 14L))
  }

  test("restore across vector deletes restores content, vectors applied") {
    val (t, _) = mkTable()
    t.append(df(0 until 20))              // v0
    t.deleteVectorBetween("id", 0L, 4L)   // v1: 15 rows
    t.deleteVectorBetween("id", 5L, 9L)   // v2: 10 rows
    t.restore(1)                          // v3: back to 15 rows
    assert(t.read().count() === 15)
    t.restore(0)                          // v4: all 20
    assert(t.read().count() === 20)
    t.restore(2)                          // v5: 10 again
    assert(t.read().count() === 10)
  }

  test("vector deletes work on hive-partitioned tables") {
    import spark.implicits._
    val (t, _) = mkTable()
    val rows = (0 until 40).map(i => (i.toLong, s"p${i % 4}", s"row-$i"))
    t.appendPartitioned(rows.toDF("id", "part", "payload"), "part")
    t.deleteVectorBetween("id", 0L, 7L)
    assert(t.read().count() === 32)
    // the partition-pruned read applies the vectors too
    val p0 = t.readPartition("part", "p0")
    assert(p0.count() === 8) // 10 rows in p0, ids 0,4 deleted
    assert(p0.where(col("id") === 4L).count() === 0)
  }

  test("timestamp time travel resolves the newest commit at or before ts") {
    val (t, _) = mkTable()
    val c0 = t.append(df(0 until 10))
    Thread.sleep(5)
    val c1 = t.overwrite(df(100 until 103))
    assert(t.versionAsOf(c0.ts) === 0)
    assert(t.readAsOfTimestamp(c0.ts).count() === 10)
    assert(t.versionAsOf(c1.ts + 1000) === 1)
    assert(t.readAsOfTimestamp(c1.ts).count() === 3)
    // before the table existed → loud failure, not an empty frame
    assertThrows[IllegalArgumentException](t.versionAsOf(c0.ts - 1))
  }

  test("evolve append adds a column; old rows read it as null") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    // plain append still rejects the widened schema
    val widened = (10 until 15)
      .map(i => (i.toLong, s"row-$i", i * 2.0)).toDF("id", "payload", "score")
    assertThrows[IllegalArgumentException](t.append(widened))
    t.appendEvolve(widened)
    val now = t.read()
    assert(now.columns.sorted.toSeq === Seq("id", "payload", "score"))
    assert(now.count() === 15)
    assert(now.where(col("score").isNull).count() === 10)
    assert(now.where(col("score") === 28.0).count() === 1) // id 14
    // pre-evolve time travel is untouched: no phantom column
    assert(t.readAt(0).columns.sorted.toSeq === Seq("id", "payload"))
  }

  test("evolve append may omit columns; type changes stay rejected") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 4))
    t.appendEvolve(Seq(99L).toDF("id")) // payload omitted
    val now = t.read()
    assert(now.count() === 5)
    assert(now.where(col("payload").isNull).count() === 1)
    // same NAME, different type → not evolution, rejected
    val retyped = Seq((7L, 42)).toDF("id", "payload")
    assertThrows[IllegalArgumentException](t.appendEvolve(retyped))
  }

  test("evolved reads survive checkpointing and show in the change feed") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 4))
    t.appendEvolve((4 until 6)
      .map(i => (i.toLong, s"row-$i", i * 1.5)).toDF("id", "payload", "score"))
    // push past a checkpoint boundary so resolution starts from ckpt
    (0 until TxTable.CheckpointInterval + 1)
      .foreach(i => t.append(Seq((100L + i, s"x-$i", 0.0))
        .toDF("id", "payload", "score")))
    assert(t.snapshot().merged, "ckpt-evolve marker lost across checkpoint")
    assert(t.read().where(col("score").isNull).count() === 4)
    // CDF across the evolve boundary: pre-evolve inserts carry null score
    val feed = t.readChanges(-1, 1)
    assert(feed.columns.contains("score"))
    assert(feed.where(col("_commit_version") === 0 &&
      col("score").isNull).count() === 4)
  }

  test("merge: conditional update, delete, and insert in one commit") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "name", "qty"))
    // source: id=1 update (qty grows), id=2 delete (qty=0 tombstone),
    // id=3 matched-but-no-clause-fires (carried), id=9 fresh insert,
    // id=10 insert filtered out by the insert condition
    val src = Seq((1L, "A", 100), (2L, "B", 0), (3L, "c", 5),
      (9L, "i", 90), (10L, "x", -1)).toDF("id", "name", "qty")
    t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(expr("s.qty > t.qty")),
      whenMatchedDelete = Some(expr("s.qty = 0")),
      whenNotMatchedInsert = Some(expr("s.qty >= 0")))
    val got = t.read().orderBy("id").as[(Long, String, Int)].collect()
    assert(got === Array((1L, "A", 100), (3L, "c", 30), (4L, "d", 40),
      (9L, "i", 90)))
    // CDC nets out: update = delete+insert pair, carried rows silent
    val feed = t.readChanges(0).select("_change_type", "id")
      .as[(String, Long)].collect().toSet
    assert(feed === Set(("delete", 1L), ("insert", 1L), ("delete", 2L),
      ("insert", 9L)))
  }

  test("merge clause subsets: delete-only and insert-only behave") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    // delete-only merge: matched rows satisfying the condition vanish
    val tomb = Seq((3L, "zzz"), (7L, "row-7")).toDF("id", "payload")
    t.merge(tomb, Seq("id"), whenMatchedDelete = Some(lit(true)))
    assert(t.read().count() === 8)
    // insert-only merge (append-if-absent): matched rows untouched
    val ins = Seq((0L, "DUPE"), (50L, "new")).toDF("id", "payload")
    t.merge(ins, Seq("id"), whenNotMatchedInsert = Some(lit(true)))
    assert(t.read().count() === 9)
    assert(t.read().where(col("id") === 0 && col("payload") === "row-0")
      .count() === 1, "insert-only merge must not update matched rows")
    assert(t.read().where(col("id") === 50).count() === 1)
  }

  test("merge into an empty table inserts; duplicate source keys refused") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.merge(df(0 until 5), Seq("id"),
      whenNotMatchedInsert = Some(lit(true)))
    assert(t.read().count() === 5)
    val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "payload")
    assertThrows[IllegalArgumentException](
      t.merge(dup, Seq("id"), whenMatchedUpdate = Some(lit(true))))
  }

  test("merge respects deletion vectors and stats-prunes candidates") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10).coalesce(1))    // file A: ids 0-9
    t.append(df(100 until 110).coalesce(1)) // file B: ids 100-109
    t.deleteVectorWhere("id", 5L)           // DV-hide id=5 in file A
    val src = Seq((5L, "RESURRECT"), (6L, "UPD"), (50L, "NEW"))
      .toDF("id", "payload")
    t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(lit(true)),
      whenNotMatchedInsert = Some(lit(true)))
    // DV-deleted row 5 is NOT matched (it is dead) → INSERTED as new
    val r = t.read()
    assert(r.where(col("id") === 5).as[(Long, String)].collect() ===
      Array((5L, "RESURRECT")))
    assert(r.where(col("id") === 6).as[(Long, String)].collect() ===
      Array((6L, "UPD")))
    assert(r.count() === 21)
    // file B's key range [100,109] misses every source key — the merge
    // commit must not have touched it
    val mergeCommit = t.commitsBetween(2, 3).head
    assert(mergeCommit.action === "merge")
    assert(mergeCommit.remove.size === 1,
      s"stats pruning should rewrite only file A, removed: ${mergeCommit.remove}")
  }

  test("composite-key merge intersects per-key bounds and rewrites only overlapping files") {
    import spark.implicits._
    val (t, _) = mkTable()
    def grid(k1: Range, k2: Range) = k1.flatMap(a => k2.map(b =>
      (a.toLong, b.toLong, s"v-$a-$b"))).toDF("k1", "k2", "v")
    t.append(grid(0 until 10, 0 until 10).coalesce(1))     // file A
    t.append(grid(0 until 10, 100 until 110).coalesce(1))  // file B
    t.append(grid(100 until 110, 0 until 10).coalesce(1))  // file C
    // source key (5, 105): k1 bound keeps A+B, k2 bound keeps B only —
    // the INTERSECTION is file B alone; a single-key prune (k1) would
    // still rewrite A, and no pruning would rewrite the whole table
    val src = Seq((5L, 105L, "UPD")).toDF("k1", "k2", "v")
    val c = t.merge(src, Seq("k1", "k2"),
      whenMatchedUpdate = Some(org.apache.spark.sql.functions.lit(true)),
      whenNotMatchedInsert = Some(org.apache.spark.sql.functions.lit(true)))
    assert(c.action === "merge")
    assert(c.remove.size === 1,
      s"composite-key pruning should rewrite only file B, removed: ${c.remove}")
    assert(t.read().where(col("k1") === 5L && col("k2") === 105L)
      .select("v").as[String].collect() === Array("UPD"))
    assert(t.read().count() === 300)
    // schema guard resolves from the HEAD snapshot even when pruning
    // empties the candidate set: a type-drifted source must be refused,
    // not landed as an insert-only commit of mixed types
    val drifted = Seq((9999.5, 1.0, "bad")).toDF("k1", "k2", "v")
    assertThrows[IllegalArgumentException](
      t.merge(drifted, Seq("k1", "k2"),
        whenNotMatchedInsert = Some(org.apache.spark.sql.functions.lit(true))))
  }

  test("guards normalize nested nullability: drifted struct sources are accepted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    val (t, _) = mkTable()
    // parquet read-back makes nested fields nullable; an in-memory
    // struct(...) over non-null columns is non-nullable — same SHAPE,
    // different nested nullability. Catalyst tightens/loosens inferred
    // nullability freely through joins and aggregations, so a guard on
    // raw DataType equality would refuse bit-identical data.
    def frame(k: Long, x: Long) = Seq((k, x)).toDF("k", "x")
      .select(col("k"), struct(col("x").as("a")).as("s"))
    t.append(frame(1L, 10L))
    assert(t.read().schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").nullable,
      "precondition: parquet read-back should be nullable")
    assert(!frame(2L, 20L).schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").nullable,
      "precondition: in-memory struct should be non-nullable")
    // both the append guard and the merge guard must accept the drift
    t.append(frame(2L, 20L))
    t.merge(frame(3L, 30L), Seq("k"),
      whenNotMatchedInsert = Some(lit(true)))
    assert(t.read().count() === 3)
    // a REAL type change is still refused
    val wrongType = Seq((4L, "oops")).toDF("k", "x")
      .select(col("k"), struct(col("x").as("a")).as("s"))
    assertThrows[IllegalArgumentException](t.append(wrongType))
    assertThrows[IllegalArgumentException](
      t.merge(wrongType, Seq("k"), whenNotMatchedInsert = Some(lit(true))))
  }

  test("commit entries carry added AND removed byte totals") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 100))          // v0: append — no removes
    t.deleteBetween("id", 10L, 19L)    // v1: rewrite — removes v0's files
    val Seq(c0, c1) = t.commitsBetween(-1, 1)
    assert(c0.bytes > 0, "append must stamp added bytes")
    assert(c0.rmBytes === 0, "append removes nothing — rmBytes is known-zero")
    assert(c1.bytes > 0, "rewrite must stamp added bytes")
    assert(c1.rmBytes > 0,
      "rewrite must stamp REMOVED bytes — a CDC byte cap reads the " +
        "removed files to diff, so add-bytes alone under-counts")
  }

  test("history() and fileDetails() expose the log and snapshot as tables") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10).coalesce(1))
    t.deleteVectorWhere("id", 3L)
    t.overwrite(df(100 until 105).coalesce(1))
    val h = t.history().collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L), "newest first")
    assert(h.map(_.getString(1)).toSeq === Seq("overwrite", "dvdelete", "append"))
    val ov = h.head
    assert(ov.getInt(3) === 1, "overwrite added one data file")
    assert(ov.getInt(5) === 2, "overwrite removed the data file AND the vector")
    assert(ov.getLong(6) > 0, "added bytes recorded")
    assert(ov.getLong(7) > 0, "removed bytes recorded")
    val dv = h(1)
    assert(dv.getInt(3) === 0 && dv.getInt(4) === 1,
      "dv commit adds a vector, no data files")
    val files = t.fileDetails().collect()
    assert(files.length === 1 && files.head.getString(1) === "data")
    assert(files.head.getLong(2) > 0)
    // history joins like any table
    assert(t.history().where(col("action") === "append").count() === 1)
  }

  test("compactBinPack packs only small files; big files keep identity") {
    import spark.implicits._
    val (t, _) = mkTable()
    // one "big" file (made big relative to a tiny targetBytes) and four
    // small ones
    t.append(df(0 until 2000).coalesce(1))
    (0 until 4).foreach(i => t.append(df(9000 + i * 10 until 9000 + i * 10 + 2)
      .coalesce(1)))
    val before = t.snapshot()
    assert(before.files.size === 5)
    val bigFile = before.files.head // the first append's single file
    val bigSize = java.nio.file.Files.size(java.nio.file.Paths.get(bigFile))
    // target sized so the 2000-row file stays, the 2-row files pack
    val c = t.compactBinPack(targetBytes = bigSize).get
    assert(c.action === "compact")
    assert(c.remove.size === 4, s"only the four smalls pack: ${c.remove}")
    assert(!c.remove.contains(bigFile.split("/").last),
      "the adequately-sized file must not be rewritten")
    val after = t.snapshot()
    assert(after.files.contains(bigFile), "big file keeps its identity")
    assert(after.files.size === 2) // big + one packed file
    // content identical
    assert(t.read().count() === 2008)
    assert(t.read().select("id").as[Long].collect().sorted ===
      ((0 until 2000) ++ (0 until 4).flatMap(i =>
        9000 + i * 10 until 9000 + i * 10 + 2)).map(_.toLong).sorted)
    // streaming-visible as a compact: content-neutral by action
    assert(t.commitsBetween(c.version - 1, c.version).head.action === "compact")
  }

  test("compactBinPack keeps columns added by schema evolution") {
    val dir = Files.createTempDirectory("graft-tx-").toString
    // a narrow file adopted under a name that sorts before every staged
    // `data-` name: a read that samples one footer samples this one
    val src = Files.createTempDirectory("graft-narrow-").toString
    df(0 until 10).coalesce(1).write.mode("overwrite").parquet(src)
    val part = new File(src).listFiles().find(_.getName.endsWith(".parquet"))
    Files.move(part.get.toPath, new File(dir, "a-narrow.parquet").toPath)
    val t = TxTable.convert(spark, dir, logStore)
    t.appendEvolve(df(10 until 20).withColumn("extra", lit("x")))
    def rows() = t.read().select("id", "payload", "extra").collect()
      .map(_.toString).sorted.toSeq
    val before = rows()
    assert(t.read().where(col("extra").isNotNull).count() === 10)
    val c = t.compactBinPack(1L << 30).get
    assert(c.remove.size >= 2 && t.snapshot().files.size === 1)
    assert(t.read().columns.toSet === Set("id", "payload", "extra"))
    assert(t.read().where(col("extra").isNotNull).count() === 10)
    assert(rows() === before)
  }

  test("compactBinPack skips DV-touched files and no-ops below two candidates") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 3).coalesce(1))   // small A
    t.append(df(10 until 13).coalesce(1)) // small B
    t.append(df(20 until 23).coalesce(1)) // small C
    t.deleteVectorWhere("id", 11L)        // vector touches B
    val c = t.compactBinPack(targetBytes = 1L << 20).get
    // only A and C pack — B is DV-touched and must keep its vector
    assert(c.remove.size === 2)
    val bRel = t.snapshot().files.map(_.split("/").last)
    assert(t.read().count() === 8) // 9 rows - 1 DV-deleted
    assert(t.read().where(col("id") === 11L).count() === 0,
      "the vector must stay effective after packing")
    // a second pack has one flat candidate (the packed file) + B: B is
    // still DV-touched, so only one candidate -> no-op, no log churn
    val v = t.snapshot().version
    assert(t.compactBinPack(targetBytes = 1L << 20).isEmpty)
    assert(t.snapshot().version === v)
  }

  test("bloom-indexed point lookup opens fewer files than stats alone") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.bloomIndex(Seq("id", "payload"))
    // three files with IDENTICAL [min,max] spans but disjoint interior
    // keys: min/max stats cannot distinguish them, only the bloom can
    def batch(inner: Seq[Long]) = ((1L +: inner :+ 1000000L))
      .map(i => (i, s"key-$i")).toDF("id", "payload").coalesce(1)
    t.append(batch(Seq(11L, 12L, 13L)))
    t.append(batch(Seq(21L, 22L, 23L)))
    t.append(batch(Seq(31L, 32L, 33L)))
    assert(t.snapshot().files.size === 3)
    // stats alone keep all 3 (22 is inside every file's span)
    val statsOnly = t.prunedSnapshot("id", Some(0L), Some(100L))
    assert(statsOnly.files.size === 3)
    val point = t.prunedSnapshot("id", Some(22L), Some(22L))
    assert(point.files.size === 1, s"bloom should prune to 1 of 3 files")
    assert(t.readWhere("id", 22L).count() === 1)
    // string-indexed column prunes the same way
    val sPoint = t.prunedSnapshot("payload", Some("key-31"), Some("key-31"))
    assert(sPoint.files.size === 1)
    assert(t.readWhere("payload", "key-31").count() === 1)
    // cross-type probe casts to the INDEXED dtype — a string probe of a
    // long-indexed column must not false-negative (and here still prunes)
    val castPoint = t.prunedSnapshot("id", Some("22"), Some("22"))
    assert(castPoint.files.nonEmpty)
    assert(t.readWhere("id", 22L).count() === 1)
    // an uncastable probe keeps everything (conservative, never wrong)
    assert(t.prunedSnapshot("id", Some("nope"), Some("nope")).files.size === 3)
  }

  test("an induced bloom-build failure only disables skipping, never the commit") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.bloomIndex(Seq("id"))
    // sabotage: a regular FILE squatting on the sidecar directory path
    // makes createDirectories throw (IOException — NonFatal) inside
    // buildBlooms; the catch must swallow exactly this class (a JVM
    // error would propagate) and the commit must land bloom-less
    new File(dir, "_log").mkdirs()
    Files.write(new File(dir, "_log/bloom").toPath,
      "not a directory".getBytes)
    def batch(inner: Seq[Long]) = (1L +: inner :+ 1000000L)
      .map(i => (i, s"key-$i")).toDF("id", "payload").coalesce(1)
    t.append(batch(Seq(11L, 12L, 13L)))
    t.append(batch(Seq(21L, 22L, 23L)))
    assert(t.snapshot().version === 1L)
    // no sidecars -> point pruning degrades to stats-only (both files'
    // spans cover 22) and results stay correct
    assert(t.prunedSnapshot("id", Some(22L), Some(22L)).files.size === 2)
    assert(t.readWhere("id", 22L).count() === 1)
  }

  test("bulk-load commit: every file gets stats and bloom sidecars") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.bloomIndex(Seq("id"))
    // one commit, MANY files — the shape whose per-file footer reads
    // were serial on the driver before the parallel pass; correctness
    // contract: no file may be skipped by the fan-out (a missing
    // sidecar only weakens skipping, a missing stats line likewise,
    // but the bulk path must produce the full complement)
    val files = 48
    t.append((0 until 4800).map(i => (i.toLong, s"row-$i"))
      .toDF("id", "payload").repartition(files))
    val snap = t.snapshot()
    assert(snap.files.size === files)
    val bloomDir = new File(s"$dir/_log/bloom")
    val sidecars = Option(bloomDir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    snap.files.map(_.stripPrefix(s"$dir/")).foreach { rel =>
      assert(sidecars.exists(_.startsWith(rel + ".")),
        s"missing bloom sidecar for $rel")
    }
    val statsLines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_log/00000000000000000000.stats.tsv")),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty)
    val statsFiles = statsLines.map(_.split("\t")(0)).toSet
    assert(statsFiles === snap.files.map(_.stripPrefix(s"$dir/")).toSet)
    // and the machinery built this way still prunes + answers
    assert(t.readWhere("id", 1234L).count() === 1)
  }

  test("vacuum drops the bloom sidecars of reclaimed files") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.bloomIndex(Seq("id"))
    t.append(df(0 until 10))
    t.overwrite(df(100 until 110)) // v0's file becomes garbage at v1
    val bloomDir = new File(s"$dir/_log/bloom")
    val before = Option(bloomDir.listFiles()).getOrElse(Array.empty).length
    assert(before >= 2, s"expected sidecars for both commits, saw $before")
    val reclaimed = t.vacuum(retainVersion = 1, minAgeMs = 0L)
    assert(reclaimed.nonEmpty)
    val after = Option(bloomDir.listFiles()).getOrElse(Array.empty)
    assert(after.length < before, "vacuum left orphaned bloom sidecars")
    // the live file's sidecar survives and still prunes
    assert(t.readWhere("id", 105L).count() === 1)
  }

  // ------------------------------------------------- CHECK constraints
  test("CHECK constraint: add validates content, writes enforce, drop releases") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.addConstraint("id_nonneg", "id >= 0")
    assert(t.constraints === Map("id_nonneg" -> "id >= 0"))
    // violating append fails DURING the write job and commits nothing
    val headBefore = t.snapshot().version
    val e = intercept[Exception] { t.append(df(-5 until -1)) }
    def messages(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    assert(messages(e).contains("id_nonneg"), messages(e))
    assert(t.snapshot().version === headBefore)
    assert(t.read().count() === 10)
    // valid append passes; drop releases future writes
    t.append(df(10 until 12))
    t.dropConstraint("id_nonneg")
    t.append(df(-3 until -1))
    assert(t.read().count() === 14)
    assert(t.constraints === Map.empty)
  }

  test("CHECK constraint: adding over violating content refuses") {
    val (t, _) = mkTable()
    t.append(df(-5 until 5))
    val e = intercept[Exception] { t.addConstraint("pos", "id >= 0") }
    assert(e.getMessage.contains("existing rows violate"))
    assert(t.constraints === Map.empty)
  }

  test("CHECK constraint: NULL evaluates as pass (ANSI), FALSE as violation") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, "a")).toDF("id", "payload"))
    t.addConstraint("short", "length(payload) < 10")
    // null payload → constraint UNKNOWN → passes
    t.append(Seq((2L, null.asInstanceOf[String])).toDF("id", "payload"))
    assert(t.read().count() === 2)
    intercept[Exception] {
      t.append(Seq((3L, "this payload is far too long")).toDF("id", "payload"))
    }
  }

  test("CHECK constraint: enforced on upsert and merge rewrites") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 5))
    t.addConstraint("id_small", "id < 100")
    intercept[Exception] {
      t.upsert(Seq((500L, "huge")).toDF("id", "payload"), Seq("id"))
    }
    intercept[Exception] {
      t.merge(Seq((600L, "huge")).toDF("id", "payload"), Seq("id"),
        whenNotMatchedInsert = Some(lit(true)))
    }
    assert(t.read().count() === 5) // both rewrites refused atomically
    t.upsert(Seq((50L, "fine")).toDF("id", "payload"), Seq("id"))
    assert(t.read().count() === 6)
  }

  test("CHECK constraint: survives checkpoint replay and scopes to versions") {
    val (t, dir) = mkTable()
    t.append(df(0 until 3))
    t.addConstraint("id_nonneg", "id >= 0")
    // push past CheckpointInterval so replay starts from a checkpoint
    (0 until TxTable.CheckpointInterval).foreach(i =>
      t.append(df(10 * (i + 1) until 10 * (i + 1) + 2)))
    val reopened = TxTable(spark, dir, logStore)
    assert(reopened.constraints === Map("id_nonneg" -> "id >= 0"))
    intercept[Exception] { reopened.append(df(-2 until -1)) }
    // time travel BEFORE the constraint commit: token absent
    assert(reopened.snapshotAt(0).cts.isEmpty)
  }

  test("CHECK constraint: restore refuses when rolled-back rows violate") {
    val (t, _) = mkTable()
    t.append(df(-5 until 0)) // v0: rows that will violate the future rule
    t.overwrite(df(0 until 5)) // v1: clean content
    t.addConstraint("id_nonneg", "id >= 0") // validates v1, passes
    val e = intercept[Exception] { t.restore(0) }
    assert(e.getMessage.contains("id_nonneg"))
    t.dropConstraint("id_nonneg")
    t.restore(0) // policy dropped → rollback wins
    assert(t.read().agg(min(col("id"))).head().getLong(0) === -5L)
  }

  test("CHECK constraint commits are silent in the change feed") {
    val (t, _) = mkTable()
    t.append(df(0 until 3))
    t.addConstraint("id_nonneg", "id >= 0")
    t.append(df(3 until 5))
    val feed = t.readChanges(-1)
    // only the two appends surface; the constraint commit adds no rows
    assert(feed.count() === 5)
    assert(feed.where(col("_change_type") =!= "insert").count() === 0)
  }

  // ------------------------------------------------------ shallow clone
  test("clone: zero-copy content snapshot; both sides evolve independently") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    t.append(df(10 until 20))
    val c = t.cloneTo(s"$dir-clone")
    assert(c.read().count() === 20)
    // hard links, not copies: every cloned data file has link count ≥ 2
    val rel = c.snapshot().files.head
    val nlink = Files.getAttribute(
      java.nio.file.Paths.get(rel), "unix:nlink")
      .asInstanceOf[Number].intValue()
    assert(nlink >= 2, s"expected a hard link, nlink=$nlink")
    // divergence: source overwrite invisible to clone, clone append
    // invisible to source
    t.overwrite(df(0 until 1))
    c.append(df(100 until 105))
    assert(t.read().count() === 1)
    assert(c.read().count() === 25)
  }

  test("clone: carries deletion vectors, constraints, and skipping stats") {
    import spark.implicits._
    val (t, dir) = mkTable()
    // two stats-disjoint files + a DV delete + an active constraint
    t.append(df(0 until 100).coalesce(1))
    t.append(df(100 until 200).coalesce(1))
    t.deleteVectorBetween("id", 0L, 4L)
    t.addConstraint("id_nonneg", "id >= 0")
    val c = t.cloneTo(s"$dir-clone")
    // vectors applied on the clone's reads
    assert(c.read().count() === 195)
    // constraint enforced on the clone
    intercept[Exception] {
      c.append(Seq((-1L, "bad")).toDF("id", "payload"))
    }
    assert(c.constraints.contains("id_nonneg"))
    // per-file min/max stats carried: a range read prunes to one file
    val pruned = c.prunedSnapshot("id", Some(150L), Some(160L))
    assert(pruned.files.size === 1,
      s"stats should prune to 1 of 2 files, kept ${pruned.files.size}")
  }

  test("clone: survives source vacuum (link counts keep bytes alive)") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    val c = t.cloneTo(s"$dir-clone")
    // source rewrites everything, then vacuums its old files away
    t.overwrite(df(500 until 503))
    val reclaimed = t.vacuum(retainVersion = 1, minAgeMs = 0L)
    assert(reclaimed.nonEmpty, "source vacuum should reclaim the old file")
    // the clone still reads its full snapshot — unlike a path-based
    // shallow clone, which source vacuum corrupts
    assert(c.read().count() === 10)
  }

  test("clone: of a historical version and of an evolved table") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    t.append(df(10 until 30))
    // clone v0 only
    val c0 = t.cloneTo(s"$dir-clone-v0", version = 0L)
    assert(c0.read().count() === 10)
    // evolved source: clone keeps footer-merging reads (null-fill)
    t.appendEvolve(Seq((1000L, "x", 7)).toDF("id", "payload", "extra"))
    val ce = t.cloneTo(s"$dir-clone-ev")
    assert(ce.read().columns.toSet === Set("id", "payload", "extra"))
    assert(ce.read().where(col("extra").isNull).count() === 30)
    // empty destination required
    intercept[Exception] { t.cloneTo(s"$dir-clone-ev") }
  }

  test("updateBetween rewrites only stat-overlapping files; NULL keys carried") {
    import spark.implicits._
    val (t, _) = mkTable()
    (0 until 4).foreach(i => t.append(df(i * 100 until i * 100 + 100)))
    t.append(Seq((Option.empty[Long], "null-row")).toDF("id", "payload"))
    val before = t.snapshot().files.toSet
    t.updateBetween("id", 150L, 249L,
      Map("payload" -> concat(lit("UPD:"), col("payload"))))
    val after = t.snapshot().files.toSet
    // files whose range never overlaps [150, 249] survive UNREWRITTEN;
    // the all-null file has NO logged range, so pruning conservatively
    // keeps it as a candidate (its null rows still come out unchanged —
    // asserted below) — only range-known disjoint files must survive
    val untouched = before.filter { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("id")), max(col("id"))).head()
      !r.isNullAt(0) && (r.getLong(1) < 150L || r.getLong(0) > 249L)
    }
    assert(untouched.nonEmpty && untouched.subsetOf(after),
      "files outside the update range were rewritten")
    assert(t.read().count() === 401) // update never changes cardinality
    assert(t.read().where(col("payload").startsWith("UPD:")).count() === 100)
    // NULL in the predicate column = not matched = carried unchanged
    assert(t.read().where(col("payload") === "null-row").count() === 1)
    // time travel still sees pre-update content
    assert(t.readAt(4).where(col("payload").startsWith("UPD:")).count() === 0)
    // point face + self-referencing all-at-once assignment
    t.updateWhere("id", 42L, Map("id" -> (col("id") * 1000L)))
    assert(t.read().where(col("id") === 42000L).count() === 1)
    assert(t.read().where(col("id") === 42L).count() === 0)
  }

  test("update refuses unknown columns and type-changing assignments") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    val e1 = intercept[IllegalArgumentException](
      t.updateWhere("id", 3L, Map("nope" -> lit(1))))
    assert(e1.getMessage.contains("does not have"))
    val e2 = intercept[IllegalArgumentException](
      t.updateWhere("id", 3L, Map("id" -> lit("string-now"))))
    assert(e2.getMessage.contains("types"))
  }

  test("update enforces CHECK constraints and applies deletion vectors") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.addConstraint("payload_prefix", "payload LIKE 'row-%'")
    // an update writing a violating row fails the write job
    intercept[Exception] {
      t.updateWhere("id", 3L, Map("payload" -> lit("BAD")))
    }
    assert(t.read().where(col("payload") === "BAD").count() === 0)
    // DV-deleted rows are not resurrected by the update's rewrite
    t.deleteVectorWhere("id", 5L)
    t.updateBetween("id", 0L, 9L,
      Map("payload" -> concat(col("payload"), lit("!"))))
    assert(t.read().count() === 9)
    assert(t.read().where(col("id") === 5L).count() === 0)
    assert(t.read().where(col("payload") === "row-3!").count() === 1)
  }

  test("replaceBetween swaps exactly the range; out-of-scope rows refused") {
    import spark.implicits._
    val (t, _) = mkTable()
    (0 until 4).foreach(i => t.append(df(i * 100 until i * 100 + 100)))
    val before = t.snapshot().files.toSet
    // recompute ids 150-249 as a backfill with new payloads
    val backfill = (150 until 250)
      .map(i => (i.toLong, s"backfill-$i")).toDF("id", "payload")
    t.replaceBetween(backfill, "id", 150L, 249L)
    val after = t.snapshot().files.toSet
    val untouched = before.filter { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("id")), max(col("id"))).head()
      r.getLong(1) < 150L || r.getLong(0) > 249L
    }
    assert(untouched.subsetOf(after),
      "files outside the replace range were rewritten")
    assert(t.read().count() === 400)
    assert(t.read().where(col("payload").startsWith("backfill-"))
      .count() === 100)
    // rows of overlapping files OUTSIDE the predicate are carried
    assert(t.read().where(col("id") === 100L).select("payload")
      .head().getString(0) === "row-100")
    // idempotent: re-running the same backfill converges
    t.replaceBetween(backfill, "id", 150L, 249L)
    assert(t.read().count() === 400)
    // an incoming row outside the predicate fails loudly
    val smuggle = Seq((999L, "outside")).toDF("id", "payload")
    val e = intercept[Exception] {
      t.replaceBetween(smuggle, "id", 150L, 249L)
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(messages.exists(_.contains("replaceWhere")))
    // time travel: pre-replace content intact
    assert(t.readAt(3).where(col("payload").startsWith("backfill-"))
      .count() === 0)
  }

  test("renameColumn is metadata-only; reads, writes, and DML follow the new name") {
    import spark.implicits._
    val (t, _) = mkTable()
    (0 until 3).foreach(i => t.append(df(i * 100 until i * 100 + 100)))
    val before = t.snapshot().files.toSet
    t.renameColumn("payload", "body")
    // no file read or rewritten
    assert(t.snapshot().files.toSet === before)
    assert(t.columnMapping === Map("body" -> "payload"))
    // reads surface the new logical name, same values
    assert(t.read().columns.toSeq === Seq("id", "body"))
    assert(t.read().where(col("body") === "row-7").count() === 1)
    // time travel to a pre-rename version keeps the OLD name
    assert(t.readAt(2).columns.toSeq === Seq("id", "payload"))
    // appends speak the new name; on disk the physical name persists
    t.append(Seq((1000L, "fresh")).toDF("id", "body"))
    val newest = (t.snapshot().files.toSet -- before).head
    assert(spark.read.parquet(newest).columns.toSeq ===
      Seq("id", "payload"))
    assert(t.read().where(col("body") === "fresh").count() === 1)
    // the old name is refused now (schema guard speaks logical names)
    intercept[IllegalArgumentException] {
      t.append(Seq((1L, "x")).toDF("id", "payload"))
    }
    // stats pruning keys by the physical name transparently
    val pruned = t.prunedSnapshot("id", Some(250L), Some(250L))
    assert(pruned.files.size < t.snapshot().files.size)
    // DML on the renamed payload column and on the key column
    t.updateWhere("id", 7L, Map("body" -> lit("UPDATED")))
    assert(t.read().where(col("body") === "UPDATED").count() === 1)
    t.deleteWhere("id", 8L)
    assert(t.read().count() === 300)
    // chained rename; CDF emits current logical names
    t.renameColumn("body", "content")
    assert(t.columnMapping === Map("content" -> "payload"))
    val feed = t.readChanges(-1)
    assert(feed.columns.contains("content") &&
      !feed.columns.contains("payload"))
    assert(feed.where(col("content") === "UPDATED").count() === 1)
  }

  test("renameColumn refusals: missing, duplicate, physical collision, constraint") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("payload", "id"))
    t.renameColumn("payload", "body")
    // the vacated physical name is still in the files — not reusable
    val e = intercept[IllegalArgumentException](
      t.renameColumn("id", "payload"))
    assert(e.getMessage.contains("physical"))
    // a constraint referencing the column blocks its rename
    t.addConstraint("body_ok", "body LIKE 'row-%'")
    val e2 = intercept[IllegalArgumentException](
      t.renameColumn("body", "text2"))
    assert(e2.getMessage.contains("constraint"))
    // unrelated renames still pass the constraint-resolution check
    t.renameColumn("id", "pk")
    assert(t.read().columns.toSet === Set("pk", "body"))
  }

  test("dropColumn hides without rewrite; re-introduction refused; evolve still works") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "payload", "score"))
    val before = t.snapshot().files.toSet
    t.dropColumn("score")
    assert(t.snapshot().files.toSet === before) // no rewrite
    assert(t.read().columns.toSeq === Seq("id", "payload"))
    assert(t.droppedColumns === Set("score"))
    // time travel still sees it
    assert(t.readAt(0).columns.contains("score"))
    // appends without the dropped column are the normal shape now
    t.append(Seq((3L, "c")).toDF("id", "payload"))
    assert(t.read().count() === 3)
    // re-introducing the dropped name would resurrect old data: refused
    val e = intercept[IllegalArgumentException] {
      t.appendEvolve(Seq((4L, "d", 99)).toDF("id", "payload", "score"))
    }
    assert(e.getMessage.contains("dropped") ||
      e.getMessage.contains("re-introduces"))
    // evolving with a FRESH name is fine, and the dropped column stays
    // hidden through the merged-footer read
    t.appendEvolve(Seq((5L, "e", 1.5)).toDF("id", "payload", "rating"))
    assert(t.read().columns.toSet === Set("id", "payload", "rating"))
    // last-column and missing-column refusals
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    val (t2, _) = mkTable()
    t2.append(Seq(Tuple1(1L)).toDF("only"))
    intercept[IllegalArgumentException](t2.dropColumn("only"))
  }

  test("renaming a hive partition column keeps partition pruning working") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.appendPartitioned(Seq((1L, "de"), (2L, "en"), (3L, "en"))
      .toDF("id", "lang"), "lang")
    t.renameColumn("lang", "language")
    // reads surface the new name; manifest pruning translates it back
    // to the physical path prefix
    assert(t.read().columns.toSet === Set("id", "language"))
    val en = t.readPartition("language", "en")
    assert(en.count() === 2)
    assert(en.columns.contains("language"))
    // appends under the new logical name land in physical-named paths
    t.appendPartitioned(Seq((4L, "en")).toDF("id", "language"), "language")
    assert(t.readPartition("language", "en").count() === 3)
    assert(t.snapshot().files.forall(
      _.stripPrefix(s"${t.tableDir}/").startsWith("lang=")))
  }

  test("column mapping survives checkpoint replay, restore, and clone") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.append(df(0 until 10)) // v0
    t.renameColumn("payload", "body") // v1
    // push past the checkpoint interval so replay starts from a ckpt
    (0 until 11).foreach(i => t.append(
      Seq((100L + i, s"x$i")).toDF("id", "body")))
    assert(t.snapshot().version >= 10)
    val fresh = TxTable(spark, dir, logStore) // re-open: replays from ckpt
    assert(fresh.read().columns.toSeq === Seq("id", "body"))
    assert(fresh.columnMapping === Map("body" -> "payload"))
    // restore to a pre-rename version: files come back, the CURRENT
    // logical names still apply (mapping is table policy, not content)
    t.restore(0)
    assert(t.read().columns.toSeq === Seq("id", "body"))
    assert(t.read().count() === 10)
    // clone carries the mapping
    val c = t.cloneTo(s"$dir-cmclone")
    assert(c.read().columns.toSeq === Seq("id", "body"))
    assert(c.columnMapping === Map("body" -> "payload"))
  }

  test("generated columns: computed when omitted, enforced when supplied") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, 10L, 20L)).toDF("id", "v", "v2")) // v2 = v * 2
    t.addGeneratedColumn("v2", "v * 2")
    // omitted -> computed
    t.append(Seq((2L, 7L)).toDF("id", "v"))
    assert(t.read().where(col("id") === 2L).head().getLong(2) === 14L)
    // supplied and consistent -> accepted
    t.append(Seq((3L, 5L, 10L)).toDF("id", "v", "v2"))
    // supplied and WRONG -> the write job fails, nothing lands
    intercept[Exception] {
      t.append(Seq((4L, 5L, 11L)).toDF("id", "v", "v2"))
    }
    assert(t.read().count() === 3)
    // declaration refusals: unknown column, violating content, dupes
    intercept[IllegalArgumentException](
      t.addGeneratedColumn("nope", "v * 2"))
    intercept[IllegalArgumentException](
      t.addGeneratedColumn("id", "v * 3"))
    intercept[IllegalArgumentException](
      t.addGeneratedColumn("v2", "v * 2"))
    // drop releases: a drifting v2 is accepted again
    t.dropGeneratedColumn("v2")
    t.append(Seq((5L, 5L, 99L)).toDF("id", "v", "v2"))
    assert(t.read().count() === 4)
  }

  test("generated partition key: batch omits it, pruned reads work") {
    import spark.implicits._
    val (t, _) = mkTable()
    // INT partition values: hive path inference reads them back as int
    t.appendPartitioned(Seq((1L, 23L, 2), (2L, 47L, 4))
      .toDF("id", "ts", "day"), "day") // day = ts / 10
    t.addGeneratedColumn("day", "CAST(ts DIV 10 AS INT)")
    // the batch carries no partition column at all
    t.appendPartitioned(Seq((3L, 41L)).toDF("id", "ts"), "day")
    assert(t.readPartition("day", 4).count() === 2) // ids 2 and 3
    assert(t.read().count() === 3)
  }

  test("protocol versioning: mapping DDL auto-upgrades; old engines refused") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    assert(t.protocol === ((1, 1)))
    // a v1 engine reads and writes a v1 table freely
    val old = TxTable(spark, dir, logStore)
    old.readerCap = 1
    old.writerCap = 1
    assert(old.read().count() === 10)
    old.append(Seq((100L, "x")).toDF("id", "payload"))
    // column mapping gates the table at (2, 2) in the SAME commit
    t.renameColumn("payload", "body")
    assert(t.protocol === ((2, 2)))
    // the old engine now refuses to even resolve a snapshot...
    val e = intercept[IllegalArgumentException](old.read())
    assert(e.getMessage.contains("reader protocol"))
    // ...and a writer-capped (but reader-capable) engine refuses writes
    val oldWriter = TxTable(spark, dir, logStore)
    oldWriter.writerCap = 1
    assert(oldWriter.read().count() === 11) // reading is fine
    val e2 = intercept[IllegalArgumentException](
      oldWriter.append(Seq((101L, "y")).toDF("id", "body")))
    assert(e2.getMessage.contains("writer protocol"))
    // current engine continues normally; the requirement is sticky
    t.append(Seq((102L, "z")).toDF("id", "body"))
    assert(t.protocol === ((2, 2)))
  }

  test("explicit upgradeProtocol: monotone, engine-bounded, CDF-silent") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 5))
    t.upgradeProtocol(2, 2)
    assert(t.protocol === ((2, 2)))
    // downgrade, no-op, and beyond-engine upgrades all refuse
    intercept[IllegalArgumentException](t.upgradeProtocol(1, 1))
    intercept[IllegalArgumentException](t.upgradeProtocol(2, 2))
    intercept[IllegalArgumentException](t.upgradeProtocol(99, 99))
    // metadata-only: contributes nothing to the change feed
    assert(t.readChanges(0).count() === 0)
    // pre-upgrade time travel still resolves (requirement replays with
    // its version)
    assert(t.readAt(0).count() === 5)
  }

  test("update and replace net-diff correctly in the change feed") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10)) // v0
    t.updateWhere("id", 3L,
      Map("payload" -> lit("CHANGED"))) // v1: rewrite, 1 real change
    val v1 = t.readChanges(0, 1)
      .select("_change_type", "id", "payload").as[(String, Long, String)]
      .collect().toSet
    assert(v1 === Set(("insert", 3L, "CHANGED"), ("delete", 3L, "row-3")))
    t.replaceBetween(Seq((7L, "SWAPPED")).toDF("id", "payload"),
      "id", 7L, 8L) // v2: 7 replaced, 8 deleted, rest carried
    val v2 = t.readChanges(1, 2)
      .select("_change_type", "id", "payload").as[(String, Long, String)]
      .collect().toSet
    assert(v2 === Set(("insert", 7L, "SWAPPED"), ("delete", 7L, "row-7"),
      ("delete", 8L, "row-8")))
  }

  test("change feed works over clones carrying metadata tokens") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.append(Seq((1L, 10L, 20L), (2L, 3L, 6L)).toDF("id", "v", "v2")) // v0
    t.renameColumn("id", "key")           // v1: cm + pv tokens
    t.addGeneratedColumn("v2", "v * 2")   // v2: gc token
    // the clone commit carries data files + ct/cm/cmx/pv/gc tokens in
    // ONE add list — the feed must partition out every token prefix,
    // not just ct-, or it hands tokens to resolveFiles and dies
    // "already vacuumed"
    val c = t.cloneTo(s"$dir-cdfclone")
    val feed = c.readChanges(-1)
    assert(feed.where(col("_change_type") === "insert").count() === 2)
    // logical names apply to the feed (column mapping rode along)
    assert(feed.columns.contains("key"))
    // and the source table's own feed over the gencol/rename window is
    // metadata-silent
    assert(t.readChanges(0).count() === 0)
  }

  test("rename/drop refuse on generated columns and their inputs") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, 10L, 20L)).toDF("id", "v", "v2"))
    t.addGeneratedColumn("v2", "v * 2")
    // the generated column itself, and any column its expression
    // references, must refuse supported DDL — otherwise every later
    // append fails when the expression stops resolving
    intercept[IllegalArgumentException](t.renameColumn("v2", "w2"))
    intercept[IllegalArgumentException](t.renameColumn("v", "w"))
    intercept[IllegalArgumentException](t.dropColumn("v2"))
    intercept[IllegalArgumentException](t.dropColumn("v"))
    // unreferenced columns still rename freely
    t.renameColumn("id", "key")
    // dropping the declaration releases the DDL, and the table stays
    // appendable end to end
    t.dropGeneratedColumn("v2")
    t.renameColumn("v2", "w2")
    t.append(Seq((2L, 3L, 99L)).toDF("key", "v", "w2"))
    assert(t.read().count() === 2)
  }

  test("generated columns are enforced on every write path") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(Seq((1L, 10L, 20L)).toDF("id", "v", "v2"))
    t.addGeneratedColumn("v2", "v * 2")
    // UPDATE: assigning the generated column directly refuses…
    val e = intercept[IllegalArgumentException](
      t.updateWhere("id", 1L, Map("v2" -> lit(99L))))
    assert(e.getMessage.contains("generated column"))
    // …and updating a base column RECOMPUTES the derived one
    t.updateWhere("id", 1L, Map("v" -> lit(7L)))
    assert(t.read().where(col("id") === 1L).head().getLong(2) === 14L)
    // OVERWRITE: a supplied-but-wrong value fails the write job;
    // an omitted column is computed
    intercept[Exception](
      t.overwrite(Seq((2L, 5L, 11L)).toDF("id", "v", "v2")))
    t.overwrite(Seq((2L, 5L)).toDF("id", "v"))
    assert(t.read().head().getLong(2) === 10L)
    // UPSERT: a violating incoming row fails the write job
    intercept[Exception](
      t.upsert(Seq((3L, 6L, 13L)).toDF("id", "v", "v2"), Seq("id")))
    t.upsert(Seq((3L, 6L, 12L)).toDF("id", "v", "v2"), Seq("id"))
    // MERGE: an INSERT * of a drifted source row fails; a consistent
    // one lands
    intercept[Exception](
      t.merge(Seq((4L, 8L, 17L)).toDF("id", "v", "v2"), Seq("id"),
        whenNotMatchedInsert = Some(lit(true))))
    t.merge(Seq((4L, 8L, 16L)).toDF("id", "v", "v2"), Seq("id"),
      whenNotMatchedInsert = Some(lit(true)))
    // REPLACE WHERE: omitted column computed on the incoming side
    t.replaceBetween(Seq((2L, 9L)).toDF("id", "v"), "id", 2L, 2L)
    assert(t.read().where(col("id") === 2L).head().getLong(2) === 18L)
    assert(t.read().count() === 3)
    // dynamic-partition overwrite computes an omitted generated
    // partition key (and enforces like the rest)
    val (p, _) = mkTable()
    p.appendPartitioned(Seq((1L, 23L, 2)).toDF("id", "ts", "day"), "day")
    p.addGeneratedColumn("day", "CAST(ts DIV 10 AS INT)")
    p.overwritePartitions(Seq((9L, 25L)).toDF("id", "ts"), "day")
    assert(p.read().count() === 1)
    assert(p.readPartition("day", 2).head().getLong(0) === 9L)
  }

  test("generated partition key prunes from base-column predicates") {
    import spark.implicits._
    // deleting the logged stats sidecars isolates the mechanism under
    // test: with footer-stats pruning blinded, any file selection left
    // is PARTITION-PATH pruning from the (derived) bound alone
    def dropStats(d: String): Unit =
      Option(new File(s"$d/_log").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".stats.tsv")).foreach(_.delete())
    val (t, tdir) = mkTable()
    // day = ts DIV 10 — six partitions, declared generated after the
    // schema-defining append
    t.appendPartitioned((0 until 60)
      .map(i => (i.toLong, i.toLong, i / 10)).toDF("id", "ts", "day"),
      "day")
    t.addGeneratedColumn("day", "CAST(ts DIV 10 AS INT)")
    dropStats(tdir)
    // a bound on the BASE column alone prunes the derived partitions
    val pruned = t.pruneFiles(t.snapshot(),
      Seq(("ts", Some(30L), Some(39L))))
    assert(pruned.files.nonEmpty)
    assert(pruned.files.forall(_.contains("day=3/")),
      s"expected only day=3 files, got ${pruned.files}")
    assert(t.readBetween("ts", 30L, 39L).count() === 10)
    // a direct bound on the partition column prunes too (no gc needed)
    val p2 = t.pruneFiles(t.snapshot(), Seq(("day", Some(2), Some(2))))
    assert(p2.files.nonEmpty && p2.files.forall(_.contains("day=2/")))
    // a range beyond every partition prunes to NOTHING and the read
    // must still answer (zero rows, table schema) instead of dying on
    // an unresolvable column over a schema-less empty frame
    val none = t.readBetween("ts", 1000L, 2000L)
    assert(none.columns.toSeq === Seq("id", "ts", "day"))
    assert(none.count() === 0)
    // non-monotone shapes must NOT derive: declare a gc the
    // recognizer refuses and check the bound does not propagate
    val (u, udir) = mkTable()
    u.appendPartitioned((0 until 20)
      .map(i => (i.toLong, i.toLong, i % 3)).toDF("id", "ts", "m"), "m")
    u.addGeneratedColumn("m", "CAST(ts % 3 AS INT)")
    dropStats(udir)
    val up = u.pruneFiles(u.snapshot(), Seq(("ts", Some(4L), Some(4L))))
    assert(up.files.toSet === u.snapshot().files.toSet)
    assert(u.readWhere("ts", 4L).count() === 1)
  }

  test("date-typed generated partition key prunes via string order") {
    import spark.implicits._
    val (t, _) = mkTable()
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"),
        java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 06:00:00"),
        java.sql.Date.valueOf("2024-01-02")),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 07:00:00"),
        java.sql.Date.valueOf("2024-01-03")))
    t.appendPartitioned(rows.toDF("id", "ts", "event_date"), "event_date")
    t.addGeneratedColumn("event_date", "to_date(ts)")
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-02 23:59:59")
    val pruned = t.pruneFiles(t.snapshot(),
      Seq(("ts", Some(lo), Some(hi))))
    assert(pruned.files.nonEmpty)
    assert(pruned.files.forall(_.contains("event_date=2024-01-02/")),
      s"expected only 2024-01-02 files, got ${pruned.files}")
    assert(t.readBetween("ts", lo, hi).count() === 1)
  }

  test("merge: column-level assignments and NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append(df(0 until 10))       // low-key file(s)
    t.append(df(1000 until 1010))  // high-key file(s)
    val src = Seq((3L, "S3")).toDF("id", "payload")
    // column-level SET with a t/s mixing expression; source bounds
    // still prune — the high-key file survives UNTOUCHED
    val before = t.snapshot().files.toSet
    val c1 = t.merge(src, Seq("id"), whenMatchedUpdate = Some(lit(true)),
      updateSet = Some(Map("payload" ->
        expr("concat(t.payload, '+', s.payload)"))))
    assert(t.read().where(col("id") === 3L).head().getString(1)
      === "row-3+S3")
    assert(c1.remove.size < before.size,
      s"expected pruning to keep the high-key file out of the rewrite")
    assert((before intersect t.snapshot().files.toSet).nonEmpty)
    // a NOT MATCHED BY SOURCE clause makes EVERY file a candidate:
    // the commit removes the full active set (Delta's full-table
    // rewrite for the same clause)
    val allFiles = t.snapshot().files.size
    val c2 = t.merge(src, Seq("id"),
      whenNotMatchedBySourceDelete = Some(col("t.id") >= lit(1000L)))
    assert(c2.remove.size === allFiles)
    assert(t.read().where(col("id") >= 1000L).count() === 0)
    assert(t.read().count() === 10)
    // NMS UPDATE assignments evaluate over t.* only
    t.merge(src, Seq("id"),
      whenNotMatchedBySourceUpdate = Some((col("t.id") === 5L,
        Map("payload" -> lit("STALE")))))
    assert(t.read().where(col("id") === 5L).head().getString(1)
      === "STALE")
    assert(t.read().where(col("id") === 3L).head().getString(1)
      === "row-3+S3") // matched key untouched by the NMS clause
    // unknown assignment column refuses
    intercept[IllegalArgumentException](t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(lit(true)),
      updateSet = Some(Map("nope" -> lit(1)))))
    // a type-changing assignment refuses BEFORE branch coercion can
    // smuggle it into the files as a silently-stringified value
    intercept[IllegalArgumentException](t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(lit(true)),
      updateSet = Some(Map("payload" -> lit(5)))))
    // differently-shaped source + column-level INSERT: unassigned
    // columns null-fill at the table's types
    val thin = Seq((7777L, 1L)).toDF("id", "x")
    t.merge(thin, Seq("id"), whenNotMatchedInsert = Some(lit(true)),
      insertValues = Some(Map("id" -> col("s.id"))))
    val ins = t.read().where(col("id") === 7777L).head()
    assert(ins.isNullAt(1))
  }

  test("convert adopts a plain-parquet directory in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-convert-").toString + "/t"
    // a pre-existing plain table: partitioned layout, engine-foreign
    // file names, written by ordinary spark
    (0 until 40).map(i => (i.toLong, s"row-$i", i % 4))
      .toDF("id", "payload", "part")
      .write.partitionBy("part").parquet(dir)
    val t = TxTable.convert(spark, dir)
    assert(t.snapshot().version === 0)
    assert(t.read().count() === 40)
    assert(t.commitLog.head.action === "convert")
    // stats were mined at conversion: a point delete prunes to the
    // hit partition files only (none of which carry engine names)
    val before = t.snapshot().files.toSet
    assert(before.forall(!_.contains("/data-")))
    t.deleteWhere("id", 7L)
    assert(t.read().count() === 39)
    assert((before intersect t.snapshot().files.toSet).nonEmpty,
      "delete rewrote files the stats should have pruned")
    // the converted table is fully transactional from v0 on
    t.append(Seq((100L, "new", 9)).toDF("id", "payload", "part"))
    assert(t.readAt(0).count() === 40)
    assert(t.readPartition("part", 2).count() === 10)
    // vacuum reclaims RETIRED adopted-name files like engine-named
    // ones (the rewrite from deleteWhere replaced some)
    val reclaimed = t.vacuum(retainVersion = t.snapshot().version,
      minAgeMs = 0L)
    assert(reclaimed.nonEmpty)
    assert(t.read().count() === 40)
    // re-converting an already-transactional directory refuses
    intercept[IllegalArgumentException](TxTable.convert(spark, dir))
  }

  test("gencol declaration bumps the writer protocol requirement") {
    import spark.implicits._
    val (t, dir) = mkTable()
    t.append(Seq((1L, 10L, 20L)).toDF("id", "v", "v2"))
    assert(t.protocol === ((1, 1)))
    t.addGeneratedColumn("v2", "v * 2")
    // writer-side gate only: a gc-unaware writer appending rows would
    // silently violate the invariant; readers need no gc awareness
    assert(t.protocol === ((1, 2)))
    val old = TxTable(spark, dir, logStore)
    old.writerCap = 1
    val e = intercept[IllegalArgumentException](
      old.append(Seq((2L, 3L, 6L)).toDF("id", "v", "v2")))
    assert(e.getMessage.contains("writer protocol"))
    val oldReader = TxTable(spark, dir, logStore)
    oldReader.readerCap = 1
    assert(oldReader.read().count() === 1)
  }

  // ------------------------------------------- multi-key partitioning
  private def segsOf(tdir: String, full: String) =
    full.stripPrefix(s"$tdir/").split('/').toSeq

  test("multi-key partitioned append: nested layout, per-segment prune") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    val rows = for { y <- 2023 to 2025; m <- 1 to 3; i <- 0 until 4 }
      yield ((y.toLong * 100 + m * 10 + i), y, m)
    t.appendPartitioned(rows.toDF("id", "year", "month"),
      Seq("year", "month"))
    val files = t.snapshot().files
    assert(files.nonEmpty)
    assert(files.forall { f =>
      val s = segsOf(tdir, f)
      s.length == 3 && s(0).startsWith("year=") &&
        s(1).startsWith("month=")
    }, s"$files")
    // leaf selection (both keys), subtree (outer key), and order-free
    // inner-key selection
    assert(t.readPartitions(Seq("year" -> 2024, "month" -> 2)).count() === 4)
    assert(t.readPartitions(Seq("year" -> 2024)).count() === 12)
    assert(t.readPartitions(Seq("month" -> 3)).count() === 12)
    // manifest path pruning on either key — FILE identity, with stats
    // deleted so partition paths are the only signal
    Option(new File(s"$tdir/_log").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".stats.tsv")).foreach(_.delete())
    val pm = t.pruneFiles(t.snapshot(), Seq(("month", Some(2), Some(3))))
    assert(pm.files.nonEmpty && pm.files.forall(f =>
      f.contains("month=2/") || f.contains("month=3/")), s"${pm.files}")
    val py = t.pruneFiles(t.snapshot(),
      Seq(("year", Some(2025), Some(2025))))
    assert(py.files.nonEmpty && py.files.forall(_.contains("year=2025/")),
      s"${py.files}")
    // both keys bounded: candidate sets intersect
    val pb = t.pruneFiles(t.snapshot(),
      Seq(("year", Some(2023), Some(2023)), ("month", Some(1), Some(1))))
    assert(pb.files.nonEmpty && pb.files.forall(f =>
      f.contains("year=2023/") && f.contains("month=1/")), s"${pb.files}")
    assert(t.readBetween("month", 2, 3).count() === 24)
  }

  test("multi-key layout survives plain append and copy-on-write DML") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    val rows = for { y <- 2024 to 2025; m <- 1 to 2; i <- 0 until 5 }
      yield ((y.toLong * 100 + m * 10 + i), y, m)
    t.appendPartitioned(rows.toDF("id", "year", "month"),
      Seq("year", "month"))
    // a plain append re-stages under the SAME two-level layout
    t.append(Seq((999999L, 2024, 1)).toDF("id", "year", "month"))
    // a copy-on-write delete's rewrites stay nested too (stageLike)
    t.deleteBetween("id", 202410L, 202412L)
    assert(t.snapshot().files.forall { f =>
      val s = segsOf(tdir, f)
      s.length == 3 && s(0).startsWith("year=") &&
        s(1).startsWith("month=")
    }, s"${t.snapshot().files}")
    assert(t.read().count() === rows.size + 1 - 3)
    assert(t.readPartitions(Seq("year" -> 2024, "month" -> 1)).count()
      === 5 + 1 - 3)
  }

  test("multi-key overwritePartitions restates only the touched leaf") {
    import spark.implicits._
    val (t, _) = mkTable()
    val rows = for { y <- 2024 to 2025; m <- 1 to 2; i <- 0 until 5 }
      yield ((y.toLong * 100 + m * 10 + i), y, m)
    t.appendPartitioned(rows.toDF("id", "year", "month"),
      Seq("year", "month"))
    val untouched = t.snapshot().files.filterNot(f =>
      f.contains("year=2024/") && f.contains("month=2/")).toSet
    t.overwritePartitions(
      Seq((1L, 2024, 2), (2L, 2024, 2)).toDF("id", "year", "month"),
      Seq("year", "month"))
    // sibling month=1 and the other year are byte-identical files
    assert(untouched.subsetOf(t.snapshot().files.toSet))
    assert(t.readPartitions(Seq("year" -> 2024, "month" -> 2)).count() === 2)
    assert(t.readPartitions(Seq("year" -> 2024, "month" -> 1)).count() === 5)
    assert(t.read().count() === 15 + 2)
  }

  test("string partition column: numeric-looking values never drop rows") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    // the ADVICE regression: string partitions '9','10','90' — under
    // SQL string ordering, c BETWEEN '10' AND '90' MATCHES '9'. The
    // 'x' partition keeps path inference string-typed (all-numeric
    // values would infer an int column, where numeric order governs)
    t.appendPartitioned(Seq((1L, "9"), (2L, "10"), (3L, "90"), (4L, "x"))
      .toDF("id", "c"), "c")
    Option(new File(s"$tdir/_log").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".stats.tsv")).foreach(_.delete())
    assert(t.readBetween("c", "10", "90").count() === 3)
    // and the copy-on-write DML twin: the delete must rewrite '9' too
    t.deleteBetween("c", "10", "90")
    assert(t.read().count() === 1)
    // numeric bounds on a genuinely numeric partition column still
    // prune numerically (9 outside [10, 90])
    val (u, udir) = mkTable()
    u.appendPartitioned(Seq((1L, 9), (2L, 10), (3L, 90))
      .toDF("id", "c"), "c")
    Option(new File(s"$udir/_log").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".stats.tsv")).foreach(_.delete())
    val p = u.pruneFiles(u.snapshot(), Seq(("c", Some(10), Some(90))))
    assert(p.files.nonEmpty && p.files.forall(!_.contains("c=9/")),
      s"${p.files}")
    assert(u.readBetween("c", 10, 90).count() === 2)
  }

  test("convert adopts nested multi-key layouts; refuses mixed depth") {
    import spark.implicits._
    // (a) a two-level year=/month= lake adopts wholesale
    val lake = Files.createTempDirectory("graft-convml-").toString + "/t"
    val rows = for { y <- 2024 to 2025; m <- 1 to 2; i <- 0 until 3 }
      yield ((y.toLong * 100 + m * 10 + i), y, m)
    rows.toDF("id", "year", "month").write
      .partitionBy("year", "month").parquet(lake)
    val t = TxTable.convert(spark, lake)
    assert(t.read().count() === rows.size)
    assert(t.readPartitions(Seq("year" -> 2025, "month" -> 2)).count() === 3)
    // post-convert DML keeps working over the adopted nested files
    t.deleteBetween("id", 202510L, 202512L)
    assert(t.read().count() === rows.size - 3)
    // (b) mixed depth refuses LOUDLY instead of adopting a subset
    val mixed = Files.createTempDirectory("graft-convmx-").toString + "/t"
    Seq((1L, "x")).toDF("id", "v").write.parquet(mixed)
    Seq((2L, "y")).toDF("id", "v").write
      .parquet(s"$mixed/a=1")
    val e = intercept[RuntimeException](TxTable.convert(spark, mixed))
    assert(e.getMessage.contains("mixed-depth"))
    // (c) a non-hive subdirectory holding parquet refuses too
    val stray = Files.createTempDirectory("graft-convst-").toString + "/t"
    Seq((1L, "x")).toDF("id", "v").write.parquet(stray)
    Seq((2L, "y")).toDF("id", "v").write.parquet(s"$stray/backup")
    val e2 = intercept[RuntimeException](TxTable.convert(spark, stray))
    assert(e2.getMessage.contains("non-hive"))
    // (d) the reference's own K1 fact layout: THREE partition levels
    // with double-rendered values (entry_year=2016.0/entry_month=4.0/
    // port_code=NYC — ImmigrationPipeline.run's exact shape) adopts
    // wholesale and leaf-prunes
    val k1 = Files.createTempDirectory("graft-convk1-").toString + "/fact"
    Seq((1L, 2016.0, 4.0, "NYC"), (2L, 2016.0, 4.0, "LOS"),
      (3L, 2016.0, 5.0, "NYC"), (4L, 2015.0, 4.0, "CHI"))
      .toDF("cicid", "entry_year", "entry_month", "port_code")
      .write.partitionBy("entry_year", "entry_month", "port_code")
      .parquet(k1)
    val tf = TxTable.convert(spark, k1)
    assert(tf.read().count() === 4)
    assert(tf.snapshot().files.forall { f =>
      val s = f.stripPrefix(s"$k1/").split('/')
      s.length == 4 && s(0).startsWith("entry_year=") &&
        s(1).startsWith("entry_month=") && s(2).startsWith("port_code=")
    }, s"${tf.snapshot().files}")
    assert(tf.readPartitions(
      Seq("entry_year" -> 2016.0, "entry_month" -> 4.0)).count() === 2)
    assert(tf.readPartitions(Seq("port_code" -> "NYC")).count() === 2)
  }

  test("partition-path pruning is exactly right under randomized bounds") {
    import spark.implicits._
    def dropStats(d: String): Unit =
      Option(new File(s"$d/_log").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".stats.tsv")).foreach(_.delete())
    val rnd = new scala.util.Random(42)
    // STRING-typed partition column with adversarial values (numeric-
    // looking, shared prefixes, non-numeric): with stats deleted, the
    // partition path is the ONLY pruning signal, and readBetween's
    // residual filter makes any over-pruning a visible count loss
    val vals = Seq("9", "10", "90", "100", "2020-01-05", "abc", "x",
      "07", "7a")
    val (t, tdir) = mkTable()
    t.appendPartitioned(vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "c"), "c")
    dropStats(tdir)
    val pool = vals ++ Seq("1", "50", "99", "a", "z", "2020", "08", "")
    (0 until 20).foreach { _ =>
      val lo = pool(rnd.nextInt(pool.size))
      val hi = pool(rnd.nextInt(pool.size))
      // Spark string comparison is binary — identical to Java's
      val want = vals.count(v => v >= lo && v <= hi)
      val got = t.readBetween("c", lo, hi).count()
      assert(got === want, s"string bounds [$lo, $hi]")
    }
    // INT-typed partition column, numeric bounds
    val ivals = Seq(1, 7, 9, 10, 50, 90, 100, 999)
    val (u, udir) = mkTable()
    u.appendPartitioned(ivals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "c"), "c")
    dropStats(udir)
    (0 until 20).foreach { _ =>
      val lo = rnd.nextInt(1100) - 50
      val hi = rnd.nextInt(1100) - 50
      val want = ivals.count(v => v >= lo && v <= hi)
      val got = u.readBetween("c", lo, hi).count()
      assert(got === want, s"int bounds [$lo, $hi]")
    }
  }

  test("cleanupLog bounds the log; retained history intact, cleaned loud") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    (0 until 25).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    assert(t.snapshot().version === 24) // checkpoints at v10, v20
    val logDir = new File(s"$tdir/_log")
    def entryCount = Option(logDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".json") &&
        !f.getName.endsWith(".ckpt.json"))
    val before = entryCount
    val removed = t.cleanupLog(retainVersions = 10, minAgeMs = 0L)
    // head - 10 + 1 = 15 → cut at checkpoint v10: entries v0..v9 gone
    assert(removed.nonEmpty)
    assert(entryCount === before - 10)
    // head reads unchanged; retained time travel intact at and past
    // the cut
    assert(t.read().count() === 250)
    assert(t.readAt(10).count() === 110)
    assert(t.readAt(20).count() === 210)
    // below the cut: LOUD, never a silently-empty resolution
    val e = intercept[Exception](t.readAt(5))
    assert(e.getMessage.contains("cleaned"))
    // data skipping over pre-cut files survives via the consolidated
    // stats sidecar
    val pruned = t.pruneFiles(t.snapshot(),
      Seq(("id", Some(5L), Some(5L))))
    assert(pruned.files.nonEmpty &&
      pruned.files.size < t.snapshot().files.size)
    assert(t.readWhere("id", 5L).count() === 1)
    // the table keeps working: appends land, vacuum reclaims nothing
    // (append-only history — every file is still active)
    t.append(df(1000 until 1010))
    assert(t.read().count() === 260)
    assert(t.vacuum(t.snapshot().version, minAgeMs = 0L).isEmpty)
    // a second cleanup at the same head is a no-op (no older ckpt)
    assert(t.cleanupLog(retainVersions = 10, minAgeMs = 0L).isEmpty)
  }

  test("identity columns: allocation, ALWAYS refusal, rewrite guards") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.append((0 until 5).map(i => (s"u$i", i * 10)).toDF("name", "v"))
    t.addIdentityColumn("uid", start = 100L, step = 10L)
    // pre-identity rows read SQL NULL (zero-row carrier footer)
    assert(t.read().where(col("uid").isNull).count() === 5)
    // appends OMIT the column; the engine allocates start, +step, …
    t.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("name", "v"))
    assert(t.read().where(col("uid").isNotNull)
      .select("uid").as[Long].collect().sorted.toSeq ===
      Seq(100L, 110L, 120L))
    // the next batch continues from the committed high-water mark
    t.append(Seq(("d", 4), ("e", 5)).toDF("name", "v"))
    assert(t.identityColumns("uid") === ((100L, 10L, 140L)))
    // ALWAYS semantics: a batch carrying the column refuses loudly
    val e = intercept[Exception](
      t.append(Seq(("x", 9, 999L)).toDF("name", "v", "uid")))
    assert(e.getMessage.contains("IDENTITY"))
    // rewrite paths that cannot allocate refuse
    intercept[Exception](t.overwrite(Seq(("z", 1)).toDF("name", "v")))
    intercept[Exception](
      t.upsert(Seq(("z", 1)).toDF("name", "v"), Seq("name")))
    intercept[Exception](
      t.updateWhere("name", "a", Map("uid" -> lit(7L))))
    // UPDATE carries ids unchanged; DELETE removes rows; allocation
    // continues past both
    t.updateWhere("name", "a", Map("v" -> lit(42)))
    assert(t.read().where(col("name") === "a").head()
      .getAs[Long]("uid") === 100L)
    t.deleteWhere("name", "b")
    t.append(Seq(("f", 6)).toDF("name", "v"))
    val ids = t.read().where(col("uid").isNotNull)
      .select("uid").as[Long].collect()
    assert(ids.max === 150L)
    assert(ids.distinct.length === ids.length)
    // rename/drop of an identity column refuse — the token is keyed
    // by the logical name and would orphan (resurrecting appends)
    val er = intercept[Exception](t.renameColumn("uid", "uid2"))
    assert(er.getMessage.contains("identity"))
    val ed = intercept[Exception](t.dropColumn("uid"))
    assert(ed.getMessage.contains("identity"))
    // after dropping the DECLARATION the column is ordinary again
    t.dropIdentityColumn("uid")
    t.renameColumn("uid", "legacy_uid")
    assert(t.read().columns.contains("legacy_uid"))
  }

  test("identity allocation stays unique under racing appenders") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.addIdentityColumn("uid") // empty-table declaration: v0 token
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 4).map { w =>
        Future {
          t.append((0 until 25).map(i => (s"w$w-$i", i))
            .toDF("name", "v"))
        }
      }
      Await.result(Future.sequence(fs), 180.seconds)
    } finally pool.shutdown()
    // every id unique, the full range exactly covered: lost races
    // renumbered from the winner's high-water instead of colliding
    val ids = t.read().select("uid").as[Long].collect()
    assert(ids.length === 100)
    assert(ids.distinct.length === 100)
    assert(ids.min === 1L && ids.max === 100L)
  }

  test("identity appends feed the change feed row-level; tokens silent") {
    import spark.implicits._
    val (t, _) = mkTable()
    t.addIdentityColumn("uid") // v0: token-only commit
    t.append(Seq(("a", 1), ("b", 2)).toDF("name", "v")) // v1
    t.append(Seq(("c", 3)).toDF("name", "v"))           // v2
    val ch = t.readChanges(0, 2)
    assert(ch.where(col("_change_type") === "insert").count() === 3)
    // the high-water token swaps in each append's add/remove lists
    // must not surface as deletes (they are log entries, not rows)
    assert(ch.where(col("_change_type") === "delete").count() === 0)
    assert(ch.where(col("_change_type") === "insert")
      .select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("identity survives clone, restore, and partitioned layouts") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    t.addIdentityColumn("uid")
    t.appendPartitioned(Seq((2024, "a"), (2024, "b"), (2025, "c"))
      .toDF("year", "name"), "year")
    assert(t.read().select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
    // layout nests and ids live IN the files
    assert(t.snapshot().files.forall(
      _.stripPrefix(s"$tdir/").startsWith("year=")))
    // clone carries the declaration + high-water; the clone allocates
    // independently from there
    val cdir = Files.createTempDirectory("graft-idclone-").toString + "/c"
    t.cloneTo(cdir)
    val c = TxTable(spark, cdir, logStore)
    c.append(Seq((2026, "d")).toDF("year", "name"))
    assert(c.read().select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    // restore rolls CONTENT back but the high-water mark stays at
    // head (tokens are table POLICY, like constraints): an id once
    // allocated is never reallocated, even after a rollback — a
    // rewound mark could collide with ids a clone or CDF consumer
    // already observed
    val vAfterFirst = t.snapshot().version
    t.append(Seq((2026, "e")).toDF("year", "name")) // uid 4
    t.restore(vAfterFirst)
    assert(t.identityColumns("uid")._3 === 4L)
    t.append(Seq((2027, "f")).toDF("year", "name")) // uid 5, not 4
    assert(t.read().select("uid").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 5L))
  }

  test("vacuum reclaims retired files in nested multi-key layouts") {
    import spark.implicits._
    val (t, tdir) = mkTable()
    val rows = for { y <- 2024 to 2025; m <- 1 to 2; i <- 0 until 3 }
      yield ((y.toLong * 100 + m * 10 + i), y, m)
    t.appendPartitioned(rows.toDF("id", "year", "month"),
      Seq("year", "month"))
    val retired = t.snapshot().files
      .filter(f => f.contains("year=2024/") && f.contains("month=1/"))
      .map(_.stripPrefix(s"$tdir/")).toSet
    assert(retired.nonEmpty)
    t.overwritePartitions(Seq((7L, 2024, 1)).toDF("id", "year", "month"),
      Seq("year", "month"))
    val reclaimed = t.vacuum(t.snapshot().version, minAgeMs = 0L).toSet
    assert(retired.subsetOf(reclaimed), s"$retired vs $reclaimed")
    assert(t.read().count() === rows.size - 3 + 1)
  }

  /** Arms the commit-time test seam to run `race` exactly once (the
    * first attempt's lost CAS), through a SECOND handle on the same
    * table — the deterministic form of the concurrent-writer race. */
  private def raceOnce(t: TxTable)(race: => Unit): Unit = {
    var fired = false
    t.beforeDmlCommitHook = () => {
      if (!fired) { fired = true; race }
    }
  }

  test("lost race vs a stats-disjoint append: DELETE rebases, no re-derive") {
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    t.append(df(100 until 200))
    val w = TxTable(spark, p, logStore)
    raceOnce(t)(w.append(df(1000 until 1010)))
    try t.deleteBetween("id", 0, 49)
    finally t.beforeDmlCommitHook = () => ()
    // ONE staging: the rewrite was re-committed at the new head, not
    // re-run — the property that lets a big DELETE land under a
    // steady streaming-append writer
    assert(t.lastRewriteStagings === 1)
    assert(t.read().count() === 160)
    assert(t.read().where(col("id") < 50).count() === 0)
    // serial order is winner-then-us: the winner's rows are intact
    assert(t.read().where(col("id") >= 1000).count() === 10)
  }

  test("lost race vs an OVERLAPPING append: DELETE re-derives and deletes the winner's matching rows") {
    val (t, p) = mkTable()
    t.append(df(0 until 200))
    val w = TxTable(spark, p, logStore)
    raceOnce(t)(w.append(df(40 until 60)))
    try t.deleteBetween("id", 0, 49)
    finally t.beforeDmlCommitHook = () => ()
    // the winner's batch MAY hold matching rows — a rebase here would
    // leave the winner's 40..49 alive, breaking serial equivalence
    assert(t.lastRewriteStagings === 2)
    assert(t.read().where(col("id") < 50).count() === 0)
    assert(t.read().count() === 160)
    // winner's non-matching rows (50..59) survive alongside the base's
    assert(t.read().where(col("id").between(50, 59)).count() === 20)
  }

  test("lost race vs a constraint declaration: DELETE re-derives (unsafe metadata)") {
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    val w = TxTable(spark, p, logStore)
    raceOnce(t)(w.addConstraint("id_low", "id < 10000"))
    try t.deleteBetween("id", 0, 9)
    finally t.beforeDmlCommitHook = () => ()
    // a ct- token landed in the window: the staging must re-validate
    // against the new rule set, never ride a stale validation
    assert(t.lastRewriteStagings === 2)
    assert(t.read().count() === 90)
  }

  test("lost race vs a disjoint append: UPDATE rebases; properties commit also rebases") {
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    val w = TxTable(spark, p, logStore)
    raceOnce(t) {
      w.append(df(500 until 520))
      // tp- tokens are content-neutral: two safe commits in the
      // window, both rebased over
      w.setProperties(Map("owner" -> "ops"))
    }
    try t.updateBetween("id", 0, 9,
      Map("payload" -> lit("patched")))
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 1)
    assert(t.read().where(col("payload") === "patched").count() === 10)
    assert(t.read().count() === 120)
    assert(t.read().where(col("id") >= 500).count() === 20)
  }

  test("lost race vs a disjoint append: MERGE rebases with its txn marker re-derived") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    val w = TxTable(spark, p, logStore)
    val src = (50 until 110).map(i => (i.toLong, s"merged-$i"))
      .toDF("id", "payload")
    raceOnce(t)(w.append(df(5000 until 5010)))
    try t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(lit(true)),
      whenNotMatchedInsert = Some(lit(true)),
      txn = Some(("mergeApp", 3L)))
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 1)
    // upserted rows applied; winner's rows untouched; txn recorded
    assert(t.read().where(col("payload").startsWith("merged-"))
      .count() === 60)
    assert(t.read().count() === 100 + 10 + 10)
    assert(t.read().where(col("id") >= 5000 && col("id") < 5010)
      .count() === 10)
    assert(t.txnVersion("mergeApp") === Some(3L))
  }

  test("lost race vs a disjoint append: replaceBetween rebases") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    val w = TxTable(spark, p, logStore)
    val repl = (10 until 15).map(i => (i.toLong, s"backfill-$i"))
      .toDF("id", "payload")
    raceOnce(t)(w.append(df(900 until 910)))
    try t.replaceBetween(repl, "id", 10, 19)
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 1)
    // [10,19] replaced by the 5 backfill rows; winner's rows intact
    assert(t.read().count() === 100 - 10 + 5 + 10)
    assert(t.read().where(col("payload").startsWith("backfill-"))
      .count() === 5)
    assert(t.read().where(col("id") >= 900).count() === 10)
  }

  test("lost race: deleteVector rebases over a disjoint append, re-derives when the winner rewrites a targeted file") {
    val (t, p) = mkTable()
    // one data file, so the second vector's targets deterministically
    // overlap the winner's rewrite below
    t.append(df(0 until 100).repartition(1))
    val w = TxTable(spark, p, logStore)
    raceOnce(t)(w.append(df(700 until 710)))
    try t.deleteVectorBetween("id", 0, 4)
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 1)
    assert(t.read().count() === 105)
    assert(t.read().where(col("id") < 5).count() === 0)
    // second vector, now racing a rewrite of the files it targets:
    // the (file, pos) keys would dangle — must re-derive
    raceOnce(t)(w.deleteBetween("id", 8, 9))
    try t.deleteVectorBetween("id", 5, 6)
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 2)
    assert(t.read().count() === 101)
    assert(t.read().where(col("id") < 10).count() === 1) // only id=7
  }

  test("lost race vs a DISJOINT concurrent DELETE (remove-carrying winner) still rebases") {
    import spark.implicits._
    val (t, p) = mkTable()
    // two appends -> the two key ranges live in disjoint FILES, so the
    // winner's remove list cannot touch the loser's read set
    t.append(df(0 until 100))
    t.append((1000 until 1100).map(i => (i.toLong, s"row-$i"))
      .toDF("id", "payload"))
    val w = TxTable(spark, p, logStore)
    raceOnce(t)(w.deleteBetween("id", 1000, 1009))
    try t.deleteBetween("id", 0, 9)
    finally t.beforeDmlCommitHook = () => ()
    // the winner REMOVED files (its own pruned set) and added carried
    // rows — both provably outside our predicate, so the riskiest
    // branch of the commute proof (remove-disjointness) must rebase
    assert(t.lastRewriteStagings === 1)
    assert(t.read().count() === 180)
    assert(t.read().where(col("id") < 10).count() === 0)
    assert(t.read().where(col("id").between(1000, 1009)).count() === 0)
  }

  test("upsert: rebases over a data-free winner, re-derives over ANY row commit") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 50))
    val w = TxTable(spark, p, logStore)
    // a data-free winner (properties) commutes with the full rewrite
    raceOnce(t)(w.setProperties(Map("owner" -> "etl")))
    val ups = (40 until 60).map(i => (i.toLong, s"up-$i"))
      .toDF("id", "payload")
    try t.upsert(ups, Seq("id"))
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 1)
    assert(t.read().count() === 60)
    assert(t.read().where(col("payload").startsWith("up-")).count() === 20)
    assert(t.properties.get("owner") === Some("etl"))
    // upsert is a FULL-table rewrite: even a stats-disjoint append
    // must force the re-derive (its rows belong in the latest-wins
    // merge), unlike the bounded DML rewrites
    raceOnce(t)(w.append(df(5000 until 5010)))
    try t.upsert((0 until 5).map(i => (i.toLong, s"v2-$i"))
      .toDF("id", "payload"), Seq("id"))
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 2)
    assert(t.read().count() === 70)
    assert(t.read().where(col("id") >= 5000).count() === 10)
  }

  test("full-table MERGE (NOT MATCHED BY SOURCE) never rebases over an append") {
    import spark.implicits._
    val (t, p) = mkTable()
    t.append(df(0 until 100))
    val w = TxTable(spark, p, logStore)
    val src = (0 until 50).map(i => (i.toLong, s"keep-$i"))
      .toDF("id", "payload")
    raceOnce(t)(w.append(df(200 until 220)))
    // NOT MATCHED BY SOURCE reads the WHOLE table: the winner's rows
    // are part of its scope, so the staging must re-derive — a rebase
    // would leave 200..219 alive against serial semantics
    try t.merge(src, Seq("id"),
      whenMatchedUpdate = Some(lit(true)),
      whenNotMatchedBySourceDelete = Some(lit(true)))
    finally t.beforeDmlCommitHook = () => ()
    assert(t.lastRewriteStagings === 2)
    assert(t.read().count() === 50)
    assert(t.read().where(col("id") >= 200).count() === 0)
  }

  test("headCommit resolves the head entry through the bounded path") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.append(df(10 until 20))
    t.overwrite(df(0 until 5))
    val h = t.headCommit
    assert(h.version === t.snapshot().version)
    assert(h.action === "overwrite")
    // empty table refuses loudly instead of resolving a phantom entry
    val (empty, _) = mkTable()
    intercept[IllegalArgumentException](empty.headCommit)
  }

  test("readChanges clamps a sub--1 fromVersion on an intact log") {
    val (t, _) = mkTable()
    t.append(df(0 until 10))
    t.append(df(10 until 15))
    // pre-fix: expectedTo - fromVersion overcounted the window for
    // fromVersion < -1 and spuriously threw the cleaned-gap error
    assert(t.readChanges(-5L).count() === 15)
    assert(t.readChanges(-5L)
      .where(col("_change_type") === "insert").count() === 15)
  }

  test("commitsIterator: an entry vanishing mid-walk stops the run, no raw NoSuchFile") {
    val (t, dir) = mkTable()
    (0 until 4).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    val it = t.commitsIterator(-1L)
    assert(it.next().version === 0L)
    // a racing cleanupLog deletes an entry ahead of the walk: the
    // iterator must terminate at the gap (the contiguity stop), never
    // surface a filesystem exception out of a getOffset byte walk
    assert(new File(dir, f"_log/${2L}%020d.json").delete())
    assert(it.toVector.map(_.version) === Vector(1L))
  }

  test("in-commit timestamps: monotone under a regressed wall clock") {
    val (t, _) = mkTable()
    val t0 = System.currentTimeMillis()
    t.wallClockHook = () => t0 + 100000L // fast clock first
    val returned =
      try {
        val a = t.append(df(0 until 5))
        val b = t.append(df(5 until 10))
        // the wall clock REGRESSES 100 s (NTP step-back, or a racing
        // writer with a skewed clock winning the next version)
        t.wallClockHook = () => t0
        val c = t.append(df(10 until 15))
        val d = t.append(df(15 until 20))
        Seq(a, b, c, d)
      } finally t.wallClockHook = () => System.currentTimeMillis()
    val tss = t.history().orderBy("version").select("timestamp")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    // strictly increasing in VERSION order despite the regression —
    // the in-commit stamp is max(wall, prev + 1), never raw wall
    assert(tss == tss.sorted && tss.distinct.size == tss.size,
      s"not monotone: $tss")
    assert(tss(2) == tss(1) + 1, "a regressed commit stamps prev + 1")
    assert(tss(3) == tss(2) + 1)
    // timestamp time travel resolves deterministically at every
    // boundary — pre-ICT, the regressed window was ambiguous
    tss.zipWithIndex.foreach { case (ts, v) =>
      assert(t.versionAsOf(ts) === v.toLong, s"versionAsOf($ts)")
    }
    assert(t.readAsOfTimestamp(tss(1)).count() === 10)
    // the CDF timestamp window rides the same monotone stamps
    assert(t.versionSince(tss(2)) === 2L)
    // the RETURNED Commit carries the stamped ts the log holds —
    // versionAsOf(commit.ts) must resolve the commit itself
    assert(returned.map(_.ts) === tss)
  }

  test("txtable.checkpointInterval tunes checkpoint cadence per table") {
    val (t, dir) = mkTable()
    t.append(df(0 until 2)) // v0
    t.setProperties(Map("txtable.checkpointInterval" -> "20")) // v1
    (2 to 41).foreach(i => t.append(df(i * 10 until i * 10 + 2)))
    val log = new File(dir, "_log")
    val ckpts = log.listFiles()
      .filter(_.getName.endsWith(".ckpt.json")).map(_.getName).sorted
    // only the multiples of the widened interval checkpoint — the
    // base-interval candidates (10, 30) skip after reading the
    // property off the snapshot they resolved anyway
    assert(ckpts.toSeq ===
      Seq(f"${20L}%020d.ckpt.json", f"${40L}%020d.ckpt.json"))
    assert(t.snapshot().version === 41L)
    assert(t.read().count() === 82L)
    // the pointer tracks the widened cadence
    val ptr = new File(log, "_last_checkpoint")
    assert("\"version\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(ptr.toPath)))
      .map(_.group(1).toLong).contains(40L))
  }

  test("cleanupLog reclaims age-expired crash leftovers from _log") {
    val (t, dir) = mkTable()
    t.append(df(0 until 10))
    val log = new File(dir, "_log")
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    def mkOld(name: String): File = {
      val f = new File(log, name)
      Files.write(f.toPath, "x".getBytes)
      f.setLastModified(old); f
    }
    // a checkpointer killed mid-sidecar leaves a whole DIRECTORY
    val tornCkpt = new File(log, ".tmp-ckpt-torn")
    tornCkpt.mkdirs()
    Files.write(new File(tornCkpt, "part-0.parquet").toPath, "x".getBytes)
    tornCkpt.setLastModified(old)
    val leftovers = Seq(mkOld(".tmp-stats-torn"), mkOld(".tmp-ptr-torn"),
      mkOld(".cput-orphan"), mkOld(".dead-stale"),
      mkOld("00000000000000000042.json.claim")) // ownerless claim
    val young = new File(log, ".tmp-young")
    Files.write(young.toPath, "y".getBytes)
    val swept = t.cleanupLog(retainVersions = 100)
    assert(swept.toSet ===
      (leftovers.map(_.getName).toSet + tornCkpt.getName))
    assert(!tornCkpt.exists && leftovers.forall(!_.exists()))
    assert(young.exists, "young leftovers survive the age guard")
    // the log protocol itself is untouched
    assert(t.read().count() === 10)
    assert(t.headCommit.version === 0L)
    // the sweep cutoff FLOORS at the conditional-PUT stale horizon
    // regardless of the caller's minAgeMs: a live writer's claim and
    // in-flight .cput temp (mtime refreshed by its heartbeat) must
    // survive even an aggressive minAgeMs = 0 retention call
    val liveClaim = new File(log, "00000000000000000043.json.claim")
    Files.write(liveClaim.toPath, "tok".getBytes)
    val liveTmp = new File(log, ".cput-live")
    Files.write(liveTmp.toPath, "x".getBytes)
    assert(t.cleanupLog(retainVersions = 100, minAgeMs = 0L).isEmpty)
    assert(liveClaim.exists && liveTmp.exists,
      "leftover sweep must never reach inside the stale-claim horizon")
  }

  test("leftover sweep floors at the TABLE'S configured stale horizon, not the default") {
    // a store configured with a 4-hour claim horizon heartbeats its
    // claims every horizon/4 = 1 h — a LIVE claim's mtime can then
    // legitimately be older than the 600 s default, and a sweep floored
    // at the default constant would delete it mid-PUT. The floor must
    // come from the store in use (LogStore.staleHorizonMs).
    val bigHorizonMs = 4L * 3600 * 1000
    val dir = java.nio.file.Files
      .createTempDirectory("graft-horizon-").toString + "/t"
    val t = TxTable(spark, dir, new LogStore.ConditionalWrite(
      new LogStore.FileConditionalPut(bigHorizonMs)))
    t.append(df(0 until 5))
    val log = new File(dir, "_log")
    // a claim last heartbeated 2 h ago: stale by the DEFAULT horizon,
    // live by this table's — must survive even minAgeMs = 0
    val liveClaim = new File(log, "00000000000000000044.json.claim")
    Files.write(liveClaim.toPath, "tok".getBytes)
    liveClaim.setLastModified(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    assert(t.cleanupLog(retainVersions = 100, minAgeMs = 0L).isEmpty)
    assert(liveClaim.exists,
      "sweep deleted a claim inside the configured horizon")
    // past the configured horizon the same claim IS reclaimable
    liveClaim.setLastModified(
      System.currentTimeMillis() - bigHorizonMs - 3600 * 1000L)
    assert(t.cleanupLog(retainVersions = 100, minAgeMs = 0L)
      === Seq(liveClaim.getName))
    assert(!liveClaim.exists)
  }
}

/** Every TxTable ACID case again, with the commit CAS running through
  * [[LogStore.ConditionalWrite]] over the mock conditional-PUT client —
  * the object-store commit path. Same racing writers, same crash
  * garbage, same vacuum contract: the protocol is store-agnostic above
  * the one primitive, and this suite is the proof. */
class TxTableCondStoreSpec extends TxTableSpec {
  override protected def logStore: LogStore =
    new LogStore.ConditionalWrite(LogStore.MockConditionalPut)
}
