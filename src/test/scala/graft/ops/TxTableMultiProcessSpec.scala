package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tools.MpWorker

/** CROSS-PROCESS concurrency proofs for the transactional table. Every
  * race spec before this one drove contention through in-process seams
  * (`beforeDmlCommitHook`, `MockConditionalPut` arbitration); here a
  * REAL second JVM (spawned on this JVM's own classpath) exercises the
  * commit CAS across process boundaries, crash-kills itself
  * mid-commit, loses a commit race to this process (and vice versa),
  * and probes the streaming sink's txn-marker replay guard from a
  * process that shares nothing with the writer but the filesystem —
  * the deployment shape the ACID claim is actually about.
  *
  * The store-sensitive proofs run as a MATRIX over BOTH commit
  * primitives: [[LogStore.HardLink]] (the POSIX `link()` CAS) and
  * [[LogStore.FileConditionalPut]] through [[LogStore.ConditionalWrite]]
  * (the object-store conditional-PUT seam, arbitrated across real
  * processes by `O_EXCL` claim files) — before r14 the conditional
  * seam's only arbitration was an in-JVM mock map. */
class TxTableMultiProcessSpec extends SparkTestBase {

  private def df(range: Range) = {
    import spark.implicits._
    range.map(i => (i.toLong, s"w-$i", i % 5)).toDF(
      "c_custkey", "c_name", "c_nationkey")
  }

  private def await(p: Process, what: String, secs: Long = 180): Int = {
    assert(p.waitFor(secs, java.util.concurrent.TimeUnit.SECONDS),
      s"$what did not finish in ${secs}s")
    p.exitValue()
  }

  // ------------------------------------------------- the store matrix
  for (kind <- Seq("hardlink", "cput")) {

    def mkTable(tag: String): (TxTable, String) = {
      val dir = Files.createTempDirectory(s"graft-mp-$kind-$tag-")
        .toString
      val path = s"$dir/t"
      val t = kind match {
        case "cput" => TxTable(spark, path, new LogStore.ConditionalWrite(
          new LogStore.FileConditionalPut()))
        case _ => TxTable(spark, path)
      }
      (t, path)
    }

    /** Worker args prefix selecting the same store in the child JVM. */
    def flag: Seq[String] = if (kind == "cput") Seq("-cput") else Nil

    test(s"[$kind] two real JVMs race appends through the commit CAS") {
      val (t, path) = mkTable("race")
      t.append(df(0 until 10))
      val barrier = new File(path).getParent + "/go"
      // both children spin on the barrier, then fire 6 commits each —
      // the same version numbers collide on the real filesystem CAS and
      // the losers' optimistic retries must land every batch exactly once
      val a = MpWorker.spawn(flag ++ Seq("append", path,
        "1000", "1019", "100", "6", barrier))
      val b = MpWorker.spawn(flag ++ Seq("append", path,
        "5000", "5019", "100", "6", barrier))
      Files.write(new File(barrier).toPath, Array.emptyByteArray)
      assert(await(a, "worker A") === 0)
      assert(await(b, "worker B") === 0)
      val head = t.snapshot()
      // 1 seed + 12 appends, versions contiguous (snapshotAt would gap)
      assert(head.version === 12L)
      assert(t.read().count() === 10L + 12L * 20L)
      // no batch landed twice and none vanished: keys are all distinct
      assert(t.read().select("c_custkey").distinct().count() ===
        10L + 12L * 20L)
      // every version 1..12 is one of the workers' appends (v0 = seed)
      val actions = t.history().where(col("version") > 0L)
        .select("action").collect().map(_.getString(0))
      assert(actions.count(_ == "append") === 12)
    }

    test(s"[$kind] rebase fires on a REAL cross-process lost race") {
      val (t, path) = mkTable("rebase")
      t.append(df(0 until 500))
      // mid-DELETE, a second PROCESS lands a stats-disjoint append and
      // steals the version this process staged for: the loser must prove
      // non-interference from the winner's logged stats and re-commit
      // its staged files at the new head — never re-run the rewrite
      var fired = false
      t.beforeDmlCommitHook = () => {
        if (!fired) {
          fired = true
          assert(await(MpWorker.spawn(flag ++ Seq("append", path,
            "100000", "100049", "0", "1")), "racing appender") === 0)
        }
      }
      try t.deleteBetween("c_custkey", 100L, 199L)
      finally t.beforeDmlCommitHook = () => ()
      assert(fired, "the race seam never fired")
      assert(t.lastRewriteStagings === 1,
        "the cross-process lost race must REBASE, not re-derive")
      // serial semantics hold regardless of who won which version
      assert(t.read().count() === 500L - 100L + 50L)
      assert(t.read().where(col("c_custkey").between(100L, 199L))
        .count() === 0)
      assert(t.read().where(col("c_custkey") >= 100000L).count() === 50)
      assert(t.snapshot().version === 2L)
    }

    test(s"[$kind] cross-process DELETE vs DELETE: disjoint rewrites both land") {
      val (t, path) = mkTable("dd")
      val dir = new File(path).getParent
      // range-clustered layout so the two deletes' key bands live in
      // DIFFERENT files — the condition under which a lost delete-vs-
      // delete race can REBASE instead of re-deriving
      t.append(df(0 until 500).repartitionByRange(8, col("c_custkey")))
      // mid-DELETE of [100,149], a second PROCESS deletes [300,349] and
      // steals the staged version
      val barrier = s"$dir/go"
      val child = MpWorker.spawn(flag ++ Seq(
        "delete", path, "300", "349", barrier))
      var fired = false
      t.beforeDmlCommitHook = () => {
        if (!fired) {
          fired = true
          Files.write(new File(barrier).toPath, Array.emptyByteArray)
          assert(await(child, "racing deleter") === 0)
        }
      }
      try t.deleteBetween("c_custkey", 100L, 149L)
      finally t.beforeDmlCommitHook = () => ()
      assert(fired, "the race seam never fired")
      // the loser's staged rewrite touched none of the winner's files
      // (disjoint bands), so it re-committed at the new head — a
      // re-derive would show 2+ stagings
      assert(t.lastRewriteStagings === 1,
        "file-disjoint delete-vs-delete must REBASE")
      // serial equivalence: both ranges gone, everything else carried
      assert(t.read().count() === 400)
      assert(t.read().where(col("c_custkey").between(100L, 149L))
        .count() === 0)
      assert(t.read().where(col("c_custkey").between(300L, 349L))
        .count() === 0)
      assert(t.snapshot().version === 2L)
      val actions = t.history().where(col("version") > 0L)
        .select("action").collect().map(_.getString(0)).toSeq
      assert(actions === Seq("delete", "delete"))
    }

    test(s"[$kind] txn marker refuses a replayed batch from another process") {
      val (t, path) = mkTable("txn")
      t.append(df(0 until 5), Some(("mp-app", 3L)))
      // a second process re-delivering the SAME (appId, batchId) — the
      // zombie-restart shape — must be refused by the marker in the
      // table itself (no sink memory crosses processes)
      assert(await(MpWorker.spawn(flag ++ Seq("txn-append", path,
        "mp-app", "3", "900", "909")), "replayer") === 3)
      assert(t.read().count() === 5)
      // and a FRESH batch id from the other process lands
      assert(await(MpWorker.spawn(flag ++ Seq("txn-append", path,
        "mp-app", "4", "900", "909")), "fresh batch") === 0)
      assert(t.read().count() === 15)
      assert(t.txnVersion("mp-app") === Some(4L))
    }
  }

  // -------------------------------------- store-specific crash shapes

  test("kill -9 after staging: garbage tolerated, vacuum reclaims it") {
    val dir = Files.createTempDirectory("graft-mp-crash1-").toString
    val path = s"$dir/t"
    val t = TxTable(spark, path)
    t.append(df(0 until 100))
    val before = new File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // the child stages a full DELETE rewrite, then halts before the
    // commit CAS — kill -9's filesystem shape
    assert(await(MpWorker.spawn(
      Seq("crash-after-stage", path, "10", "40")), "crasher") === 137)
    val after = new File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val orphans = after -- before
    assert(orphans.nonEmpty,
      "the crash must leave staged-but-uncommitted data files")
    // no commit landed: content and version untouched
    assert(t.snapshot().version === 0L)
    assert(t.read().count() === 100)
    // the next writer proceeds normally over the garbage
    t.append(df(100 until 120))
    assert(t.read().count() === 120)
    // vacuum reclaims the orphans (age guard dropped for the test)
    val reclaimed = t.vacuum(t.snapshot().version, minAgeMs = 0L)
    assert(orphans.subsetOf(reclaimed.toSet))
    assert(t.read().count() === 120)
  }

  test("kill -9 mid-staging: the _staged-* directory is inert and reclaimed") {
    val dir = Files.createTempDirectory("graft-mp-crash3-").toString
    val path = s"$dir/t"
    val t = TxTable(spark, path)
    t.append(df(0 until 80))
    assert(await(MpWorker.spawn(
      Seq("crash-mid-stage", path, "5", "30")), "crasher") === 137)
    val staged = new File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_staged-"))
    assert(staged.nonEmpty,
      "the crash must leave a whole _staged-* directory")
    // no commit, no content change, next writer unbothered
    assert(t.snapshot().version === 0L)
    assert(t.read().count() === 80)
    t.append(df(80 until 90))
    assert(t.read().count() === 90)
    // vacuum reclaims the directory under the same age guard
    val reclaimed = t.vacuum(t.snapshot().version, minAgeMs = 0L)
    assert(staged.map(_.getName).toSet.subsetOf(reclaimed.toSet))
    assert(!staged.head.exists())
    assert(t.read().count() === 90)
  }

  test("kill -9 mid-commit-primitive: torn temp log entry is inert") {
    val dir = Files.createTempDirectory("graft-mp-crash2-").toString
    val path = s"$dir/t"
    val t = TxTable(spark, path)
    t.append(df(0 until 50))
    assert(await(MpWorker.spawn(
      Seq("crash-mid-log", path, "5", "15")), "crasher") === 137)
    val logDir = new File(path, "_log")
    val torn = logDir.listFiles().filter(_.getName.startsWith(".tmp-"))
    assert(torn.nonEmpty, "the crash must leave a torn temp log entry")
    // readers never see the half-commit: same snapshot, same rows
    assert(t.snapshot().version === 0L)
    assert(t.read().count() === 50)
    // the next writer claims version 1 with the REAL store, unbothered
    t.append(df(50 until 60))
    assert(t.snapshot().version === 1L)
    assert(t.read().count() === 60)
  }

  test("kill -9 mid-conditional-PUT: the orphan claim is stolen and re-arbitrated") {
    val dir = Files.createTempDirectory("graft-mp-cputcrash-").toString
    val path = s"$dir/t"
    val store = new LogStore.ConditionalWrite(
      new LogStore.FileConditionalPut(staleClaimMs = 1500L))
    val t = TxTable(spark, path, store)
    t.append(df(0 until 50))
    // the child claims version 1's key, then halts before the content
    // rename — the conditional-PUT analogue of a torn commit
    assert(await(MpWorker.spawn(
      Seq("crash-mid-cput", path, "5", "15")), "crasher") === 137)
    val logDir = new File(path, "_log")
    val claims = logDir.listFiles().filter(_.getName.endsWith(".claim"))
    assert(claims.nonEmpty, "the crash must leave an orphan claim")
    // readers never see the half-commit
    assert(t.snapshot().version === 0L)
    assert(t.read().count() === 50)
    // a writer arriving before the stale horizon blocks on the claim;
    // past it, the claim is STOLEN (single-winner graveyard rename)
    // and the version re-arbitrated — the commit lands
    Thread.sleep(1600L)
    t.append(df(50 until 60))
    assert(t.snapshot().version === 1L)
    assert(t.read().count() === 60)
    assert(!logDir.listFiles().exists(_.getName.endsWith(".claim")),
      "the stolen claim must be gone after recovery")
  }

  for (kind <- Seq("hardlink", "cput"))
  test(s"[$kind] concurrent cross-process checkpointing: the pointer may lag, resolution never lies") {
    // two real JVMs race 22 appends across TWO checkpoint boundaries
    // (v10, v20): the winners of those versions each write a
    // checkpoint and advance `_last_checkpoint` best-effort. The
    // pointer's check-then-rename can REGRESS across processes (a
    // slow ckpt-10 writer finishing after ckpt-20's pointer landed) —
    // allowed by design, it is a pure accelerator — but the resolved
    // SNAPSHOT must always be the true head.
    val dir = Files.createTempDirectory(s"graft-mp-ptr-$kind-").toString
    val path = s"$dir/t"
    val t = kind match {
      case "cput" => TxTable(spark, path, new LogStore.ConditionalWrite(
        new LogStore.FileConditionalPut()))
      case _ => TxTable(spark, path)
    }
    val flag: Seq[String] = if (kind == "cput") Seq("-cput") else Nil
    (0 until 4).foreach(i => t.append(df(i * 10 until i * 10 + 10)))
    val barrier = new File(path).getParent + "/go-ptr"
    val a = MpWorker.spawn(flag ++ Seq("append", path,
      "1000", "1019", "100", "11", barrier))
    val b = MpWorker.spawn(flag ++ Seq("append", path,
      "5000", "5019", "100", "11", barrier))
    Files.write(new File(barrier).toPath, Array.emptyByteArray)
    assert(await(a, "worker A") === 0)
    assert(await(b, "worker B") === 0)
    val expect = 40L + 22L * 20L
    assert(t.snapshot().version === 25L)
    assert(t.read().count() === expect)
    // the pointer names an EXISTING checkpoint at or below the head
    val logDir = new File(path, "_log")
    val ptr = new File(logDir, "_last_checkpoint")
    assert(ptr.isFile, "two checkpoint boundaries must leave a pointer")
    val pv = "\"version\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(ptr.toPath)))
      .map(_.group(1).toLong).get
    assert(pv <= 25L && new File(logDir,
      f"$pv%020d.ckpt.json").isFile,
      s"pointer names v$pv, which must be an existing checkpoint")
    // a REGRESSED pointer (the slow-writer shape, forced): resolution
    // probes forward from the older checkpoint and still serves the
    // true head — stale pointers cost reads, never correctness
    Files.write(ptr.toPath, """{"version":10}""".getBytes("UTF-8"))
    assert(TxTable(spark, path).snapshot().version === 25L)
    assert(TxTable(spark, path).read().count() === expect)
    // a pointer naming a MISSING checkpoint version is ignored
    // (validated against its target existing -> full-listing fallback)
    Files.write(ptr.toPath, """{"version":15}""".getBytes("UTF-8"))
    assert(TxTable(spark, path).snapshot().version === 25L)
    assert(TxTable(spark, path).read().count() === expect)
  }

  test("streaming source tailed across two processes is exactly-once") {
    val dir = Files.createTempDirectory("graft-mp-tail-").toString
    val path = s"$dir/t"
    val t = TxTable(spark, path)
    val out = s"$dir/out"
    val ck = s"$dir/ck"
    t.append(df(0 until 15))
    t.append(df(15 until 40))
    // a SECOND process tails the table from scratch and drains both
    // commits into a parquet sink
    assert(await(MpWorker.spawn(
      Seq("stream-tail", path, ck, out)), "tailer") === 0)
    assert(spark.read.parquet(out).count() === 40)
    // more commits land from THIS process…
    t.append(df(40 until 55))
    // …and a THIRD process resumes the same checkpoint: it must emit
    // exactly the unread commit — offsets are table-log versions, no
    // state is private to any one JVM
    assert(await(MpWorker.spawn(
      Seq("stream-tail", path, ck, out)), "resumer") === 0)
    assert(spark.read.parquet(out).count() === 55)
    assert(spark.read.parquet(out).select("c_custkey")
      .distinct().count() === 55)
    // an idle resume re-emits nothing
    assert(await(MpWorker.spawn(
      Seq("stream-tail", path, ck, out)), "idle tailer") === 0)
    assert(spark.read.parquet(out).count() === 55)
  }

  test("streaming sink restarted from a second process is exactly-once") {
    val dir = Files.createTempDirectory("graft-mp-stream-").toString
    val table = s"$dir/t"
    val src = s"$dir/src"
    val ck = s"$dir/ck"
    // batch 0 lands from THIS process
    df(0 until 20).coalesce(1).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream.format("txtable")
      .option("path", table).option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    val t = TxTable(spark, table)
    assert(t.read().count() === 20)
    // more source data arrives while no query runs…
    df(20 until 35).coalesce(1).write.mode("append").parquet(src)
    // …and a SECOND PROCESS resumes the same checkpoint + table: the
    // txn identity derives from the checkpoint path, so replay
    // protection is the table's marker, not this JVM's memory
    assert(await(MpWorker.spawn(
      Seq("stream-resume", table, ck, src)), "stream resumer") === 0)
    assert(t.read().count() === 35)
    assert(t.read().select("c_custkey").distinct().count() === 35)
    // restart with NO new data: nothing re-emits (idempotent replay)
    assert(await(MpWorker.spawn(
      Seq("stream-resume", table, ck, src)), "idle resumer") === 0)
    assert(t.read().count() === 35)
  }
}
