package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ops.{LogStore, TxTable}

/** Second-JVM worker for the multi-process concurrency proofs
  * (`TxTableMultiProcessSpec`, the k41 query): every race spec before
  * round 13 drove contention through in-process seams; this main lets
  * a REAL separate process exercise [[LogStore.HardLink]]'s
  * create-if-absent CAS, crash-kill mid-commit, rebase under a
  * cross-process lost race, and the streaming sink's txn-marker
  * replay guard from a process that shares nothing with the first
  * but the filesystem.
  *
  * An optional LEADING `-cput[:staleMs]` flag reruns any role through
  * [[LogStore.ConditionalWrite]] over the REAL file-based
  * conditional-PUT client ([[LogStore.FileConditionalPut]]) instead of
  * the hard-link CAS — the object-store seam, arbitrated across real
  * processes by `O_EXCL` claim files.
  *
  * Roles (args):
  *  - `append <table> <lo> <hi> <shift> <nCommits> [barrier]` —
  *    commit `nCommits` customer-shaped batches of keys
  *    `[lo+i*shift, hi+i*shift]`; spins on `barrier` existing first so
  *    two workers collide on the same versions for real.
  *  - `crash-after-stage <table> <lo> <hi>` — run a DML whose staged
  *    rewrite is complete, then `Runtime.halt` BEFORE the commit CAS:
  *    the kill -9 shape that leaves orphan staged `data-*` files no
  *    log entry references.
  *  - `crash-mid-stage <table> <lo> <hi>` — halt between the staging
  *    write and the file moves: leaves a whole `_staged-*` directory.
  *  - `crash-mid-log <table> <lo> <hi>` — halt INSIDE the commit
  *    primitive, after the temp entry is on disk but before the
  *    hard-link claims the version: leaves a torn `_log/.tmp-*`.
  *  - `crash-mid-cput <table> <lo> <hi>` — halt inside the
  *    conditional-PUT primitive AFTER the claim file landed but before
  *    the content rename: leaves an orphan `.claim` that the
  *    stale-claim steal recovery must re-arbitrate.
  *  - `delete <table> <lo> <hi> [barrier]` — one `deleteBetween`,
  *    barrier-gated like `append` (rewrite-vs-rewrite races).
  *  - `txn-append <table> <appId> <batchId> <lo> <hi>` — append with a
  *    transaction identity; exits 0 on commit, 3 on
  *    [[TxTable.TxnAlreadyApplied]] (the cross-process replay refusal).
  *  - `stream-resume <table> <checkpoint> <src>` — restart a
  *    `writeStream.format("txtable")` query in THIS process from an
  *    existing checkpoint over a file-stream source dir and drain it.
  *  - `stream-tail <table> <checkpoint> <outDir>` — tail the txtable
  *    STREAMING SOURCE from this process into a parquet sink,
  *    resuming the given checkpoint.
  *
  * Exit codes: 0 success, 3 = TxnAlreadyApplied (expected refusal),
  * 4 = barrier timeout, 137 = deliberate halt (crash roles),
  * 1 = unexpected failure. */
object MpWorker {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-mp-worker")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // distinct per-process derby/warehouse never needed (in-memory
      // catalog), but keep temp churn isolated anyway
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-mp-wh-").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spin until `barrier` exists; die loudly on timeout — a worker
    * proceeding past a missed barrier would silently stop exercising
    * the race choreography its parent test claims. */
  private def awaitBarrier(barrier: String): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (!new File(barrier).exists()) {
      if (System.currentTimeMillis() >= deadline) {
        System.err.println(s"barrier timeout: $barrier never appeared")
        sys.exit(4)
      }
      Thread.sleep(2)
    }
  }

  private def rows(s: SparkSession, lo: Long, hi: Long) = {
    import s.implicits._
    (lo to hi).map(k => (k, s"w-$k", (k % 5).toInt))
      .toDF("c_custkey", "c_name", "c_nationkey")
  }

  /** Store selected by the optional leading `-cput[:staleMs]` flag:
    * roles then commit through [[LogStore.ConditionalWrite]] over the
    * REAL file-based conditional-PUT client instead of the hard-link
    * CAS — the object-store seam, arbitrated across real processes. */
  private var storeFlag: Option[LogStore] = None

  private def mkTable(s: SparkSession, path: String): TxTable =
    storeFlag match {
      case Some(st) => TxTable(s, path, st)
      case None     => TxTable(s, path)
    }

  def main(args0: Array[String]): Unit = try {
    val args = args0.toList match {
      case flag :: rest if flag.startsWith("-cput") =>
        val staleMs = flag.split(":").drop(1).headOption
          .map(_.toLong).getOrElse(600000L)
        storeFlag = Some(new LogStore.ConditionalWrite(
          new LogStore.FileConditionalPut(staleMs)))
        rest
      case other => other
    }
    args match {
      case "append" :: table :: lo :: hi :: shift :: n :: rest =>
        rest.headOption.foreach(awaitBarrier)
        val s = session()
        val t = mkTable(s, table)
        (0L until n.toLong).foreach { i =>
          t.append(rows(s, lo.toLong + i * shift.toLong,
            hi.toLong + i * shift.toLong))
        }
        s.stop()
        sys.exit(0)

      case "delete" :: table :: lo :: hi :: rest =>
        rest.headOption.foreach(awaitBarrier)
        val s = session()
        val t = mkTable(s, table)
        t.deleteBetween("c_custkey", lo.toLong, hi.toLong)
        s.stop()
        sys.exit(0)

      case "crash-after-stage" :: table :: lo :: hi :: Nil =>
        val s = session()
        val t = mkTable(s, table)
        // the staged rewrite is fully on disk when this fires; halt is
        // the honest kill -9 (no shutdown hooks, no cleanup)
        t.beforeDmlCommitHook = () => Runtime.getRuntime.halt(137)
        t.deleteBetween("c_custkey", lo.toLong, hi.toLong)
        sys.exit(1) // unreachable if the halt fired

      case "crash-mid-stage" :: table :: lo :: hi :: Nil =>
        val s = session()
        val t = mkTable(s, table)
        // die between the staging write and the file moves: leaves a
        // whole `_staged-*` directory with part files — the artifact
        // vacuum's age-guarded reclaim exists for
        t.afterStageWriteHook = () => Runtime.getRuntime.halt(137)
        t.deleteBetween("c_custkey", lo.toLong, hi.toLong)
        sys.exit(1) // unreachable if the halt fired

      case "crash-mid-log" :: table :: lo :: hi :: Nil =>
        val s = session()
        // same first step HardLink takes (temp entry fully written),
        // then die before the link syscall — the torn artifact a
        // kill -9 inside putIfAbsent leaves
        val tornStore = new LogStore {
          def putIfAbsent(target: File,
              content: Array[Byte]): Boolean = {
            val tmp = new File(target.getParentFile,
              s".tmp-${java.util.UUID.randomUUID()}")
            Files.write(tmp.toPath, content)
            Runtime.getRuntime.halt(137)
            false // unreachable
          }
        }
        val t = TxTable(s, table, tornStore)
        t.deleteBetween("c_custkey", lo.toLong, hi.toLong)
        sys.exit(1) // unreachable if the halt fired

      case "crash-mid-cput" :: table :: lo :: hi :: Nil =>
        val s = session()
        // the conditional-PUT crash shape: die AFTER the claim file is
        // created (this process owns the key's arbitration) but BEFORE
        // the content rename — leaves a claim with no key, the orphan
        // the stale-claim steal recovery exists for
        val crashStore = new LogStore {
          def putIfAbsent(target: File,
              content: Array[Byte]): Boolean = {
            val claim = new File(target.getAbsolutePath + ".claim")
            Files.write(claim.toPath, "dead-claimant".getBytes("UTF-8"))
            Runtime.getRuntime.halt(137)
            false // unreachable
          }
        }
        val t = TxTable(s, table, crashStore)
        t.deleteBetween("c_custkey", lo.toLong, hi.toLong)
        sys.exit(1) // unreachable if the halt fired

      case "txn-append" :: table :: appId :: batchId :: lo :: hi :: Nil =>
        val s = session()
        val t = mkTable(s, table)
        try {
          t.append(rows(s, lo.toLong, hi.toLong),
            Some((appId, batchId.toLong)))
          s.stop()
          sys.exit(0)
        } catch {
          case _: TxTable.TxnAlreadyApplied =>
            s.stop()
            sys.exit(3)
        }

      case "stream-tail" :: table :: checkpoint :: outDir :: Nil =>
        // tail the txtable SOURCE from this process into a parquet
        // sink, resuming the given checkpoint — the cross-process
        // exactly-once read: offsets are commit versions in the
        // table's own log, nothing is private to the first JVM
        val s = session()
        val q = s.readStream.format("txtable").option("path", table)
          .load()
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", checkpoint)
          .start()
        q.processAllAvailable()
        q.stop()
        s.stop()
        sys.exit(0)

      case "stream-resume" :: table :: checkpoint :: src :: Nil =>
        val s = session()
        // schema of the parquet file-stream source dir
        val schema = s.read.parquet(src).schema
        val q = s.readStream.schema(schema).parquet(src)
          .writeStream.format("txtable")
          .option("path", table)
          .option("checkpointLocation", checkpoint)
          .start()
        q.processAllAvailable()
        q.stop()
        s.stop()
        sys.exit(0)

      case other =>
        System.err.println(s"unknown MpWorker args: $other")
        sys.exit(2)
    }
  } catch {
    case e: Throwable =>
      System.err.println(s"MpWorker failed: ${e.getMessage}")
      e.printStackTrace()
      sys.exit(1)
  }

  /** Launch `mainClass` (this worker by default) in a fresh JVM sharing
    * the caller's classpath, its combined stdout/stderr going to `log`;
    * returns the process. The caller's JVM already loads Spark and the
    * engine, so its `java.class.path` (plus [[graft.Bench.AddOpens]],
    * the JDK17 module opens Spark needs) is sufficient and correct for
    * the child. */
  def spawn(args: Seq[String], mainClass: String = "graft.tools.MpWorker",
      log: File = Files.createTempFile("graft-mp-", ".log").toFile)
      : Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val cmd = Seq(java) ++ graft.Bench.AddOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.to(log))
      .start()
  }
}
