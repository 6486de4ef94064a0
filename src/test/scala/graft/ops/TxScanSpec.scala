package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit, substring_index}
import org.apache.spark.sql.types.MetadataBuilder

import graft.SparkTestBase

/** [[TxTable]] reads the parquet it wrote under a schema it decodes
  * from one footer on the driver, where Spark would infer it in a
  * Spark job. These specs pin that the swap is invisible: every read
  * face serves the schema (names, types, nullability, field metadata)
  * and the rows of Spark's own inference over the same file list, on
  * every table shape; the footer chosen is the one Spark samples; a
  * deleted chosen file fails as Spark reports it; and a read, a delete
  * and an upsert each launch one job fewer than with inference. */
class TxScanSpec extends SparkTestBase {

  private def mk(): (TxTable, String) = {
    val dir = Files.createTempDirectory("graft-txscan-").toString
    (TxTable(spark, dir), dir)
  }

  private val described = new MetadataBuilder()
    .putString("comment", "free text").build()

  /** `(id, payload)` rows, `payload` carrying field metadata. */
  private def batch(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
      .select(col("id"), col("payload").as("payload", described))
  }

  /** Spark's own read of `files`: the schema inferred from the footers. */
  private def inferred(files: Seq[String], base: Option[String],
      merged: Boolean): DataFrame =
    base.foldLeft(spark.read)(_.option("basePath", _))
      .option("mergeSchema", merged.toString).parquet(files: _*)

  /** `df` (a read of files under `base`) joined `how` against the rows
    * the deletion vectors `dvs` name. */
  private def byDvs(df: DataFrame, base: String, dvs: Seq[String],
      how: String): DataFrame =
    if (dvs.isEmpty) df
    else df
      .withColumn("_dv_file",
        substring_index(col("_metadata.file_path"), s"$base/", -1))
      .withColumn("_dv_pos", col("_metadata.row_index"))
      .join(inferred(dvs, None, merged = false), Seq("_dv_file", "_dv_pos"),
        how)
      .drop("_dv_file", "_dv_pos")

  /** What `read()` of `s` serves, built on Spark's inference. */
  private def reference(t: TxTable, s: TxTable.Snapshot): DataFrame =
    t.toLogical(byDvs(inferred(s.files, Some(s.base), s.merged), s.base,
      s.dvs, "left_anti"), s)

  /** What `readChanges(from)` serves, built on Spark's inference, for
    * windows of appends and deletion-vector deletes. */
  private def referenceChanges(t: TxTable, from: Long): DataFrame = {
    val dir = t.location
    val metadataOnly =
      Set("compact", "constraint", "rename", "dropcol", "protocol", "gencol")
    val feed = t.commitsBetween(from).filterNot(c => metadataOnly(c.action))
      .flatMap { c =>
        def tag(df: DataFrame, typ: String) = df
          .withColumn("_change_type", lit(typ))
          .withColumn("_commit_version", lit(c.version))
        val (dvs, data) = c.add.filterNot(TxTable.isMetaToken)
          .partition(TxTable.isDvName)
        assert(c.remove.forall(n =>
          TxTable.isDvName(n) || TxTable.isMetaToken(n)),
          s"the reference covers no rewrite (v${c.version} ${c.action})")
        if (c.action == "dvdelete") {
          val vectors = dvs.map(n => s"$dir/$n")
          val touched = inferred(vectors, None, merged = false)
            .select("_dv_file").distinct().collect().map(_.getString(0)).toSet
          val prev = t.snapshotAt(c.version - 1)
          val hit = prev.files.filter(f => touched(f.stripPrefix(s"$dir/")))
          Seq(tag(byDvs(inferred(hit, Some(dir), prev.merged), dir, vectors,
            "left_semi"), "delete"))
        } else if (data.isEmpty) Nil
        else Seq(tag(byDvs(inferred(data.map(n => s"$dir/$n"), Some(dir),
          merged = true), dir, t.snapshotAt(c.version).dvs, "left_anti"),
          "insert"))
      }
    t.toLogical(feed.reduce(_.unionByName(_, allowMissingColumns = true)),
      t.snapshot())
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    assert(rows(got) === rows(want), s"$what: rows")
  }

  /** A table shape: its table, a point predicate for `readWhere`, an
    * older version for `readAt` and the start of a change window. */
  private case class Shape(t: TxTable, where: (String, Any), at: Long,
      from: Long)

  private val shapes: Seq[(String, () => Shape)] = Seq(
    "flat" -> { () =>
      val (t, _) = mk()
      (0 until 3).foreach(i => t.append(batch(i * 4 until i * 4 + 4)))
      Shape(t, "id" -> 5L, 1L, -1L)
    },
    "hive-partitioned, with a null and an escaped partition value" -> { () =>
      val (t, _) = mk()
      Seq("a", null, "x/y:z%").zipWithIndex.foreach { case (p, i) =>
        t.appendPartitioned(batch(i * 4 until i * 4 + 4)
          .withColumn("part", lit(p).cast("string")), "part")
      }
      Shape(t, "part" -> "x/y:z%", 1L, -1L)
    },
    "evolved (merged footers)" -> { () =>
      val (t, _) = mk()
      t.append(batch(0 until 4))
      t.append(batch(4 until 8))
      t.appendEvolve(batch(8 until 12).withColumn("extra", col("id") * 3))
      Shape(t, "extra" -> 27L, 1L, -1L)
    },
    "column-mapped, with a rename and a drop" -> { () =>
      val (t, _) = mk()
      t.append(batch(0 until 4).withColumn("extra", col("id") + 1))
      t.renameColumn("payload", "body")
      t.dropColumn("extra")
      t.append(batch(4 until 8).withColumnRenamed("payload", "body"))
      Shape(t, "body" -> "row-6", 0L, 2L)
    },
    "with deletion vectors" -> { () =>
      val (t, _) = mk()
      (0 until 3).foreach(i => t.append(batch(i * 4 until i * 4 + 4)))
      t.deleteVectorWhere("id", 5L)
      t.deleteVectorWhere("id", 9L)
      Shape(t, "id" -> 6L, 3L, -1L)
    },
    "with generated and identity columns" -> { () =>
      val (t, _) = mk()
      t.addGeneratedColumn("twice", "id * 2")
      t.addIdentityColumn("rid")
      t.append(batch(0 until 4))
      t.append(batch(4 until 8))
      Shape(t, "twice" -> 10L, 2L, -1L)
    })

  shapes.foreach { case (name, build) =>
    test(s"reads of a $name table equal Spark's inference over the same files") {
      val sh = build()
      val t = TxTable(spark, sh.t.location) // no schema memo of the writer
      val head = t.snapshot()
      val older = t.snapshotAt(sh.at)
      assertSame(t.read(), reference(t, head), "read()")
      assertSame(t.readAt(sh.at), reference(t, older), s"readAt(${sh.at})")
      val (c, v) = sh.where
      assertSame(t.readWhere(c, v), reference(t, head).where(col(c) === lit(v)),
        s"readWhere($c, $v)")
      assertSame(t.readChanges(sh.from), referenceChanges(t, sh.from),
        s"readChanges(${sh.from})")
      val flat = !head.files.head.stripPrefix(s"${head.base}/").contains("/")
      val schemaRead =
        if (head.merged || !flat) inferred(head.files, Some(head.base), head.merged)
        else inferred(head.files.take(1), None, merged = false)
      assert(t.logicalSchema(head) === t.toLogical(schemaRead, head).schema,
        "logicalSchema")
    }
  }

  /** Writes `df` as the single parquet file `dir/name`. */
  private def writeFile(df: DataFrame, dir: String, name: String): String = {
    val out = Files.createTempDirectory("graft-txscan-part-").toFile
    df.coalesce(1).write.mode("overwrite").parquet(out.getPath)
    val part = out.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new File(dir, name)
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    dest.getPath
  }

  test("an unmerged snapshot reads under the footer Spark samples: the " +
      "smallest path, not the list's head") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-txscan-footers-").toString
    val narrow = writeFile(Seq((1L, 7)).toDF("id", "y"), dir, "b.parquet")
    val wide = writeFile(batch(0 until 2), dir, "a.parquet")
    val s = TxTable.Snapshot(0L, Seq(narrow, wide), Nil, dir)
    val got = s.read(spark)
    assertSame(got, inferred(s.files, Some(dir), merged = false),
      "Snapshot.read")
    assert(got.columns.toSeq === Seq("id", "payload"))
    assert(got.schema("payload").metadata === described)
  }

  test("a read whose sampled file was deleted fails as Spark reports it") {
    val (t, _) = mk()
    (0 until 3).foreach(i => t.append(batch(i * 4 until i * 4 + 4)))
    val s = t.snapshot()
    assert(new File(s.files.min).delete())
    val e = intercept[AnalysisException](t.read())
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    val e2 = intercept[AnalysisException](s.read(spark))
    assert(e2.getCondition === "PATH_NOT_FOUND", e2.getMessage)
  }

  test("a stale pointer at a checkpoint whose parquet sidecar is gone " +
      "resolves through the listing path") {
    val saved = TxTable.CheckpointParquetThreshold
    TxTable.CheckpointParquetThreshold = 2
    try {
      val (t, p) = mk()
      (0 to 21).foreach(i => t.append(batch(i to i))) // ckpts at 10, 20
      val sidecar = new File(f"$p/_log/${10L}%020d.ckpt.parquet")
      assert(sidecar.isDirectory)
      sidecar.listFiles().foreach(_.delete())
      assert(sidecar.delete())
      Files.write(new File(s"$p/_log/_last_checkpoint").toPath,
        "{\"version\":10}".getBytes(StandardCharsets.UTF_8))
      val fresh = TxTable(spark, p)
      val listings = fresh.logListings.get()
      assert(fresh.snapshot().version === 21L)
      assert(fresh.logListings.get() > listings, "the fast path must fall back")
      assert(fresh.read().count() === 22L)
    } finally TxTable.CheckpointParquetThreshold = saved
  }

  /** Jobs `body` launches, counted by a listener over a drained bus. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a read plans without a schema job; a delete and an upsert save one each") {
    val (t, _) = mk()
    (0 until 3).foreach(i =>
      t.append(batch(i * 4 until i * 4 + 4).coalesce(1)))
    assert(t.snapshot().files.size === 3)
    // with Spark's inference per read: read 2, deleteWhere 2, upsert 3
    assert(jobsOf(t.read().write.format("noop").mode("overwrite").save()) === 1)
    assert(jobsOf(t.deleteWhere("id", 5L)) === 2 - 1)
    assert(jobsOf(t.upsert(batch(10 until 14), Seq("id"))) === 3 - 1)
  }
}
