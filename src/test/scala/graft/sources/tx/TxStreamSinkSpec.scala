package graft.sources.tx

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.ops.TxTable

/** The TxTable streaming SINK (`writeStream.format("txtable")`):
  * per-batch atomic commits, Delta-style (txnAppId, txnVersion)
  * idempotence riding the commit log, foreachBatch-free CDC upsert,
  * partitioned append, and the crash-replay no-op. */
class TxStreamSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDir(): String =
    Files.createTempDirectory("graft-txsink-").toString

  private def ckpt(): String =
    Files.createTempDirectory("graft-txsink-ck-").toString

  test("append mode: micro-batches land as append commits, once each") {
    val dir = mkDir()
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "payload")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .start()
    try {
      in.addData((0L until 10L).map(i => (i, s"row-$i")): _*)
      q.processAllAvailable()
      val t = TxTable(spark, dir)
      assert(t.read().count() === 10)
      in.addData((10L until 25L).map(i => (i, s"row-$i")): _*)
      q.processAllAvailable()
      assert(t.read().count() === 25)
      assert(t.read().select("id").distinct().count() === 25)
      // every commit is an append carrying the sink's txn marker
      assert(t.history().select("action").as[String].collect()
        .forall(_ == "append"))
      assert(t.txnVersion("absent-app").isEmpty)
    } finally q.stop()
  }

  test("legacy single-strip appId: resuming a double-slash checkpoint keeps its identity") {
    val dir = mkDir()
    val ck = ckpt() + "//" // checkpointLocation ending in TWO slashes
    val legacyId = ck.stripSuffix("/")   // pre-upgrade derivation
    val newId = ck.replaceAll("/+$", "") // current derivation
    assert(legacyId !== newId)
    val t = TxTable(spark, dir)
    // the pre-upgrade job committed batch 7 under the LEGACY id
    t.append(Seq((1L, "b7")).toDF("id", "payload"),
      Some((legacyId, 7L)))
    assert(t.txnVersion(legacyId) === Some(7L))
    // a sink resuming that checkpoint post-upgrade must look the
    // legacy marker up — replaying batch 7 re-emits NOTHING
    val sink = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "checkpointLocation" -> ck), Nil,
      OutputMode.Append())
    sink.addBatch(7L, Seq((1L, "b7")).toDF("id", "payload"))
    assert(t.read().count() === 1,
      "the upgrade must not re-apply the last committed batch")
    // the NEXT batch lands and keeps advancing the same identity
    sink.addBatch(8L, Seq((2L, "b8")).toDF("id", "payload"))
    assert(t.read().count() === 2)
    assert(t.txnVersion(legacyId) === Some(8L))
    // a FRESH table under the same double-slash checkpoint uses the
    // new-form id (no legacy marker to inherit)
    val dir2 = mkDir()
    val sink2 = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir2, "checkpointLocation" -> ck), Nil,
      OutputMode.Append())
    sink2.addBatch(0L, Seq((5L, "x")).toDF("id", "payload"))
    assert(TxTable(spark, dir2).txnVersion(newId) === Some(0L))
  }

  test("crash replay re-emits nothing: a batch id the log records is skipped") {
    val dir = mkDir()
    val sink = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> "appA"), Nil, OutputMode.Append())
    val batch = (0L until 5L).map(i => (i, s"b-$i")).toDF("id", "payload")
    sink.addBatch(0L, batch)
    val t = TxTable(spark, dir)
    assert(t.read().count() === 5)
    assert(t.txnVersion("appA") === Some(0L))
    // the crash shape: the table commit landed but the engine's offset
    // write did not, so the SAME batch id is re-delivered on restart —
    // the sink must re-emit NOTHING
    sink.addBatch(0L, batch)
    assert(t.read().count() === 5)
    assert(t.snapshot().version === 0L)
    // the next real batch lands and advances the marker
    sink.addBatch(1L, (5L until 8L).map(i => (i, s"b-$i")).toDF("id", "payload"))
    assert(t.read().count() === 8)
    assert(t.txnVersion("appA") === Some(1L))
  }

  test("interleaved apps: A's replay is still skipped after B wrote") {
    val dir = mkDir()
    def sink(app: String) = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> app), Nil, OutputMode.Append())
    val a = sink("appA"); val b = sink("appB")
    a.addBatch(0L, Seq((1L, "a0")).toDF("id", "payload"))
    b.addBatch(0L, Seq((2L, "b0")).toDF("id", "payload"))
    val t = TxTable(spark, dir)
    assert(t.read().count() === 2)
    // a last-writer-only stamp would have forgotten A here
    a.addBatch(0L, Seq((1L, "a0")).toDF("id", "payload"))
    assert(t.read().count() === 2)
    assert(t.txnVersion("appA") === Some(0L))
    assert(t.txnVersion("appB") === Some(0L))
  }

  test("update mode + mergeKeys: foreachBatch-free CDC upsert, latest wins") {
    val dir = mkDir()
    val t = TxTable(spark, dir)
    t.append(Seq((1L, "v1", 0L), (2L, "v1", 0L), (3L, "v1", 0L))
      .toDF("id", "payload", "seq"))
    val in = MemoryStream[(Long, String, Long)](spark)
    val q = in.toDF().toDF("id", "payload", "seq")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .option("mergeKeys", "id").option("seqCol", "seq")
      .outputMode("update")
      .start()
    try {
      // one batch carrying TWO changes for id=2: seqCol collapses to the
      // last, plus a brand-new key
      in.addData((2L, "stale", 1L), (2L, "v2", 2L), (4L, "new", 1L))
      q.processAllAvailable()
      val got = t.read().orderBy("id")
        .select("id", "payload").as[(String, String)].collect().toSeq
        .map { case (i, p) => (i.toLong, p) }
      assert(got === Seq((1L, "v1"), (2L, "v2"), (3L, "v1"), (4L, "new")))
      // the CDC apply is the stats-pruned MERGE, not a full-table
      // upsert rewrite — per-batch cost stays O(touched files)
      assert(t.history().orderBy(col("version").desc)
        .select("action").as[String].head() === "merge")
    } finally q.stop()
  }

  test("update mode survives reserved-word and spaced column names") {
    val dir = mkDir()
    val t = TxTable(spark, dir)
    // `order` is a reserved word; `seq col` carries a space — both are
    // legal Spark column names, and the sink's max_by/struct SQL text
    // must quote them or every trigger wedges at expr-parse time
    t.append(Seq((1L, "v1", 0L), (2L, "v1", 0L))
      .toDF("order", "payload", "seq col"))
    val sink = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> "hostile",
        "mergeKeys" -> "order", "seqCol" -> "seq col"),
      Nil, OutputMode.Update())
    sink.addBatch(0L, Seq((2L, "stale", 1L), (2L, "v2", 2L),
      (3L, "new", 1L)).toDF("order", "payload", "seq col"))
    val got = t.read().orderBy("order")
      .select(col("order"), col("payload"))
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "v1"), (2L, "v2"), (3L, "new")))
  }

  test("partitionBy builds the hive layout through the sink") {
    val dir = mkDir()
    val in = MemoryStream[(Long, String, Int)](spark)
    val q = in.toDF().toDF("id", "payload", "part")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .partitionBy("part")
      .start()
    try {
      in.addData((1L, "a", 1), (2L, "b", 2), (3L, "c", 1))
      q.processAllAvailable()
      val t = TxTable(spark, dir)
      assert(t.read().count() === 3)
      assert(t.snapshot().files.forall(_.contains("part=")))
      // manifest-level partition prune still works on sink-written files
      assert(t.readPartition("part", 1).count() === 2)
    } finally q.stop()
  }

  test("complete mode overwrites the table per batch") {
    val dir = mkDir()
    val sink = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> "agg"), Nil, OutputMode.Complete())
    sink.addBatch(0L, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))
    sink.addBatch(1L, Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("k", "n"))
    val t = TxTable(spark, dir)
    assert(t.read().count() === 3)
    assert(t.read().where(col("k") === 1L).select("n")
      .as[Long].head() === 11L)
    // time travel still serves batch 0's snapshot
    assert(t.readAt(0L).count() === 2)
  }

  test("identity tables allocate through the sink; replay does not burn ids") {
    val dir = mkDir()
    val t = TxTable(spark, dir)
    t.addIdentityColumn("uid")
    val sink = new DefaultSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> "idapp"), Nil, OutputMode.Append())
    sink.addBatch(0L, Seq((1L, "a"), (2L, "b")).toDF("id", "payload"))
    sink.addBatch(0L, Seq((1L, "a"), (2L, "b")).toDF("id", "payload")) // replay
    sink.addBatch(1L, Seq((3L, "c")).toDF("id", "payload"))
    val uids = t.read().select("uid").as[Long].collect().sorted.toSeq
    assert(uids === Seq(1L, 2L, 3L))
  }

  test("missing txn identity refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      new DefaultSource().createSink(spark.sqlContext,
        Map("path" -> mkDir()), Nil, OutputMode.Append())
    }
    assert(e.getMessage.contains("txnAppId"))
  }

  test("mergeKeys without update mode (and vice versa) refuse") {
    intercept[IllegalArgumentException] {
      new DefaultSource().createSink(spark.sqlContext,
        Map("path" -> mkDir(), "txnAppId" -> "x", "mergeKeys" -> "id"),
        Nil, OutputMode.Append())
    }
    intercept[IllegalArgumentException] {
      new DefaultSource().createSink(spark.sqlContext,
        Map("path" -> mkDir(), "txnAppId" -> "x"), Nil, OutputMode.Update())
    }
    // Update mode without seqCol would be a poison pill the first time
    // a batch carries two changes for one key — refused at START time
    val e = intercept[IllegalArgumentException] {
      new DefaultSource().createSink(spark.sqlContext,
        Map("path" -> mkDir(), "txnAppId" -> "x", "mergeKeys" -> "id"),
        Nil, OutputMode.Update())
    }
    assert(e.getMessage.contains("seqCol"))
  }

  test("sink-written table round-trips through the streaming source") {
    val dir = mkDir()
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "payload")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .start()
    try {
      in.addData((0L until 7L).map(i => (i, s"r-$i")): _*)
      q.processAllAvailable()
      in.addData((7L until 9L).map(i => (i, s"r-$i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    // the txn marker swaps ride the append commits — the read-side
    // source must stay silent about them (same contract as identity)
    val q2 = spark.readStream.format("txtable").option("path", dir)
      .load().writeStream.format("memory").queryName("sinkloop").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("sinkloop").count() === 9)
    } finally q2.stop()
  }

  test("autoCompact property: the sink bounds its own small-file pileup") {
    val dir = mkDir()
    val t = TxTable(spark, dir)
    t.append((0L until 3L).map(i => (i, s"seed-$i"))
      .toDF("id", "payload"))
    // every file this test writes is tiny, so targetBytes only needs
    // to be above them; minFiles 4 makes the pileup trip fast
    // value case-INSENSITIVE like SQL booleans (a 'True' that silently
    // never compacts is the small-file pileup this feature prevents)
    t.setProperties(Map(
      "txtable.autoCompact" -> "True",
      "txtable.autoCompact.minFiles" -> "4",
      "txtable.autoCompact.targetBytes" -> (1024L * 1024).toString))
    val in = MemoryStream[(Long, String)](spark)
    val ck = ckpt()
    val q = in.toDF().toDF("id", "payload")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ck)
      .start()
    try {
      (1 to 5).foreach { b =>
        in.addData((0 until 4).map(i =>
          (b * 100L + i, s"b$b-$i")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // maintenance fired (a compact commit in the history), content is
    // exactly the union of every batch, and the active file count is
    // bounded well below one-plus-files-per-trigger pileup
    val actions = t.history().select("action").as[String].collect()
    assert(actions.contains("compact"),
      s"no compact commit fired: ${actions.toSeq}")
    assert(t.read().count() === 23)
    assert(t.read().select("id").distinct().count() === 23)
    assert(t.snapshot().files.size < actions.count(_ == "append") + 1,
      s"file count ${t.snapshot().files.size} not bounded")
    // replay protection unaffected: the marker survives compaction
    // (the sink's default txn identity is the checkpoint path)
    assert(t.txnVersion(ck) === Some(4L))
  }

  test("autoCompact size walk memoizes: steady-state stats are O(batch)") {
    val dir = mkDir()
    val t = TxTable(spark, dir)
    // a table with MANY pre-existing small files: the naive walk would
    // re-stat all of them every trigger
    (0 until 8).foreach { b =>
      t.append((0L until 5L).map(i => (b * 1000L + i, s"seed-$b-$i"))
        .toDF("id", "payload").repartition(3))
    }
    val preFiles = t.snapshot().files.size
    assert(preFiles >= 20, s"seed produced only $preFiles files")
    // autoCompact ON but minFiles high enough that compaction never
    // fires — isolates the threshold walk's cost from the rewrite
    t.setProperties(Map(
      "txtable.autoCompact" -> "true",
      "txtable.autoCompact.minFiles" -> "10000"))
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "payload")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .start()
    try {
      // batch 1 fills the memo (stats every pre-existing file ONCE)
      in.addData((0 until 2).map(i => (90000L + i, s"w-$i")): _*)
      q.processAllAvailable()
      val afterFirst = TxTableSink.statCalls.get()
      // steady state: each further trigger may stat only ITS OWN new
      // files — never the table's — because immutable content-unique
      // names make the memo permanently valid
      (2 to 4).foreach { b =>
        val filesBefore = t.snapshot().files.size
        val statsBefore = TxTableSink.statCalls.get()
        in.addData((0 until 2).map(i =>
          (b * 100000L + i, s"w$b-$i")): _*)
        q.processAllAvailable()
        val newFiles = t.snapshot().files.size - filesBefore
        val newStats = TxTableSink.statCalls.get() - statsBefore
        assert(newStats <= newFiles,
          s"batch $b stat calls $newStats exceed its $newFiles new " +
            s"files — the walk re-statted the table")
      }
      // sanity: the memo genuinely absorbed the pre-existing files
      assert(TxTableSink.statCalls.get() - afterFirst <
        preFiles.toLong,
        "steady-state stats should be far below the table's file count")
    } finally q.stop()
  }

  test("autoCompact off by default: no compact commits appear") {
    val dir = mkDir()
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "payload")
      .writeStream.format("txtable")
      .option("path", dir).option("checkpointLocation", ckpt())
      .start()
    try {
      (1 to 3).foreach { b =>
        in.addData((0 until 2).map(i => (b * 10L + i, s"x$b-$i")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val t = TxTable(spark, dir)
    assert(!t.history().select("action").as[String].collect()
      .contains("compact"))
    assert(t.read().count() === 6)
  }
}
