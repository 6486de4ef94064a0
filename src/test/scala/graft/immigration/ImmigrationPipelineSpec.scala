package graft.immigration

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** `ImmigrationPipeline.concurrently`, and how `run` cleans up when a sink
  * of its concurrent wave fails. */
class ImmigrationPipelineSpec extends SparkTestBase {
  import ImmigrationPipeline.{ActionThread, concurrently}

  private def actionThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith(ActionThread))

  test("concurrently: results in input order, each action on a thread of its own") {
    val got = concurrently((0 until 5).map(i => () => {
      Thread.sleep((5 - i) * 30L) // the first finishes last
      (i, Thread.currentThread.getName)
    }))
    assert(got.map(_._1) === (0 until 5))
    assert(got.map(_._2).distinct.size === 5)
    assert(got.forall(_._2.startsWith(ActionThread)))
    assert(actionThreadsAlive.isEmpty)
    assert(concurrently(Seq.empty[() => Int]).isEmpty)
  }

  test("concurrently: waits for a slow action when a fast one throws; later failures suppressed") {
    val slowDone = new AtomicBoolean
    val e = intercept[IllegalStateException] {
      concurrently(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true) },
        () => { Thread.sleep(100); throw new IllegalArgumentException("second") }))
    }
    assert(e.getMessage === "first")
    assert(slowDone.get, "returned before the slow action finished")
    assert(e.getSuppressed.toSeq.map(_.getMessage) === Seq("second"))
    assert(actionThreadsAlive.isEmpty)
  }

  test("concurrently: jobs its actions start carry the caller's job group, per call") {
    val sc = spark.sparkContext
    def jobsIn(group: String): Int = {
      sc.setJobGroup(group, group)
      try concurrently(Seq(
        () => spark.range(100).selectExpr("sum(id)").collect(),
        () => sc.parallelize(1 to 100, 2).map(_ * 2).collect()))
      finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // a second call under a new group must not run on threads of the first
    assert(jobsIn("concurrently-spec-a") >= 2)
    assert(jobsIn("concurrently-spec-b") >= 2)
  }

  test("a failing sink wave rethrows after every sink ends and releases the persists") {
    val dir = Files.createTempDirectory("graft-imm-sinkfail-").toFile
    val notADir = new File(dir, "out")
    Files.writeString(notADir.toPath, "a regular file, not a directory")
    val cfg = ImmigrationPipelineSpec.tinyInput(spark, dir, port = "NYC")
      .copy(outputDir = notADir.getPath)
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](ImmigrationPipeline.run(spark, cfg))
    // all seven sinks fail: the fact's is thrown, the other six ride along
    // (Spark adds a suppressed caller-stack trace of its own)
    assert(e.getSuppressed.count(_.getClass == e.getClass) === 6, e.toString)
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sink job outlived run()")
    assert(sc.getPersistentRDDs.keySet === pinned,
      "the failed run left build()'s persisted frames behind")
    assert(actionThreadsAlive.isEmpty, s"threads left: $actionThreadsAlive")
  }
}

object ImmigrationPipelineSpec {

  /** Writes a one-row I94 month whose port is `port`, a one-city
    * demographics CSV and a SAS-labels file with one code per label (port
    * NYC), under `dir`; returns the config with `dir/out` as output. */
  def tinyInput(spark: SparkSession, dir: File, port: String): ImmigrationConfig = {
    val labels = Seq("/* I94RES */", "  value i94cntyl", "   101 =  'COUNTRY A'", "  ;",
      "/* I94PORT */", "  value $i94prtl", "\t'NYC'\t=\t'NEW YORK, NY'", ";",
      "/* I94MODE */", "  value i94model", "\t1 = 'Air' ;",
      "/* I94ADDR */", "  value i94addrl", "\t'NY'='NEW YORK'", ";",
      "/* I94VISA - Visa codes:", "   1 = Business", "*/", "run ;", "")
    Files.writeString(new File(dir, "labels.SAS").toPath, labels.mkString("\n"))
    Files.writeString(new File(dir, "demographics.csv").toPath,
      "City;State;Median Age;Male Population;Female Population;Total Population;" +
        "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count\n" +
        "New York;New York;36.0;4000000;4000000;8000000;100;300;2.5;NY;White;10\n")
    val doubles = Seq("cicid", "i94yr", "i94mon", "i94res", "arrdate", "i94mode",
      "depdate", "i94bir", "i94visa", "biryear", "admnum")
    val strings = Seq("i94port", "i94addr", "occup", "dtaddto", "gender",
      "airline", "fltno", "visatype")
    val schema = StructType(doubles.map(StructField(_, DoubleType)) ++
      strings.map(StructField(_, StringType)))
    val row = Row.fromSeq(Seq(1.0, 2016.0, 4.0, 101.0, 20545.0, 1.0, 20550.0, 30.0, 1.0,
      1986.0, 1e9) ++ Seq(port, "NY", null, "04302016", "M", "AA", "1", "B2"))
    spark.createDataFrame(java.util.List.of(row), schema)
      .write.parquet(new File(dir, "i94").getPath)
    ImmigrationConfig(s"$dir/i94", s"$dir/demographics.csv", s"$dir/labels.SAS",
      new File(dir, "out").getPath)
  }
}
