package graft.immigration

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkTestBase
import Quality.CheckResult

/** `ImmigrationPipeline.run` on the benchmark's generated I94 fixture,
  * checked against the generator's own numpy model (`perfbench/gen.py`
  * `immigration_expected`), which computes the fact count, the 12 quality
  * outcomes and the Q1–Q3 counts without the engine. The one generator is
  * only called, never copied. Cancelled when python3, numpy or pyarrow is
  * absent. */
class ImmigrationFixtureSpec extends SparkTestBase with BeforeAndAfterAll {

  private val Seed = 7
  private val Size = """{"rows": 2000, "parts": 14}"""

  private val script =
    """import json, sys
      |from pathlib import Path
      |sys.path.insert(0, "perfbench")
      |import gen
      |out, seed, size = Path(sys.argv[1]), int(sys.argv[2]), json.loads(sys.argv[3])
      |gen.write_immigration(out, seed, size)
      |e = gen.immigration_expected(seed, size)
      |print(json.dumps({"fact_rows": e["fact_rows"],
      |    "quality": {k: [p, d] for k, (p, d) in e["quality"].items()},
      |    "by_port": e["by_port"], "by_country": e["by_country"],
      |    "by_student": e["by_student"], "country_name": e["country_name"],
      |    "city_demo": {k: list(v) for k, v in e["city_demo"].items()}}))
      |""".stripMargin

  private lazy val pythonReady: Boolean =
    try Process(Seq("python3", "-c", "import numpy, pyarrow"))
      .!(ProcessLogger(_ => ())) == 0
    catch { case _: Exception => false }

  /** Check-phase telemetry: the SQL execution (action) of every job that
    * starts before the first sink command. Jobs outside any execution, such
    * as the parquet schema inference `build()` runs, are not actions and are
    * not counted. Also the job group of every job. */
  private final class PhaseListener extends SparkListener {
    private val jobExecs = mutable.Buffer.empty[String]
    private val jobGroups = mutable.Buffer.empty[String]
    @volatile var sinkSeen = false
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      prop("spark.sql.execution.id").filter(_ => !sinkSeen).foreach(jobExecs += _)
      jobGroups += prop("spark.jobGroup.id").getOrElse("<none>")
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        sinkSeen = true
      case _ =>
    }
    def execs: Seq[String] = synchronized(jobExecs.toList)
    def groups: Seq[String] = synchronized(jobGroups.toList)
  }

  private final case class Fixture(o: ImmigrationPipeline.Outputs, exp: JsonNode,
      out: File, checkJobExecs: Seq[String], jobGroups: Seq[String])

  private val Group = "immigration-fixture"

  private lazy val fixture: Fixture = {
    val dir = Files.createTempDirectory("graft-imm-fixture-").toFile
    val in = new File(dir, "in")
    val stdout = new StringBuilder
    val code = Process(Seq("python3", "-c", script, in.getPath, Seed.toString, Size),
      new File(".")).!(ProcessLogger(l => { stdout.append(l); () }, System.err.println))
    assert(code === 0, s"fixture generator failed: $stdout")
    val exp = new ObjectMapper().readTree(stdout.toString)
    val out = new File(dir, "out")
    val cfg = ImmigrationConfig(s"$in/i94", s"$in/demographics.csv",
      s"$in/labels.SAS", out.getPath)

    val sc = spark.sparkContext
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    val o = try {
      sc.setJobGroup(Group, Group)
      val o = try ImmigrationPipeline.run(spark, cfg) finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      assert(listener.sinkSeen, "no sink command observed")
      o
    } finally sc.removeSparkListener(listener)
    built = Some(o)
    Fixture(o, exp, out, listener.execs, listener.groups)
  }

  private var built: Option[ImmigrationPipeline.Outputs] = None

  override def afterAll(): Unit = {
    built.foreach { o =>
      o.fact.unpersist(blocking = true)
      o.cityDemographics.unpersist(blocking = true)
    }
    super.afterAll()
  }

  private def counts(n: JsonNode): Map[String, Long] =
    n.fieldNames().asScala.map(k => k -> n.get(k).asLong).toMap

  /** A top-10-then-join result against model counts, allowing any choice
    * among keys tied at the 10th count; `extra(key)` gives the joined
    * columns, or None when the join drops the key. */
  private def checkTopK(name: String, rows: Array[Row], model: Map[String, Long],
      extra: String => Option[Seq[Any]]): Unit = {
    val ranked = model.values.toSeq.sorted(Ordering[Long].reverse)
    val cut = if (ranked.size >= 10) ranked(9) else 0L
    val must = model.collect { case (k, c) if c > cut && extra(k).isDefined => k }.toSet
    assert(rows.length <= 10, s"$name: ${rows.length} rows")
    rows.foreach { r =>
      val (k, c) = (r.getString(0), r.getLong(1))
      assert(model.get(k).contains(c) && c >= cut, s"$name: unexpected row $r")
      assert(extra(k).contains(r.toSeq.drop(2)), s"$name: joined columns of $r")
    }
    val cs = rows.map(_.getLong(1)).toSeq
    assert(cs === cs.sorted(Ordering[Long].reverse), s"$name: not ordered by count")
    assert(must.subsetOf(rows.map(_.getString(0)).toSet), s"$name: missing top keys")
  }

  test("run() on the generated fixture matches the model: fact, 12 checks, Q1-Q3") {
    assume(pythonReady, "python3 with numpy and pyarrow not available")
    val f = fixture
    val factRows = f.exp.get("fact_rows").asLong
    assert(spark.read.parquet(s"${f.out}/fact_immigrations.parquet").count() === factRows)
    val q = f.exp.get("quality")
    val expected = q.fieldNames().asScala.map { k =>
      CheckResult(k, q.get(k).get(0).asBoolean, q.get(k).get(1).asText) }.toSet
    assert(f.o.qualityResults.size === 12)
    assert(f.o.qualityResults.toSet === expected)
    assert(f.o.qualityResults.head === CheckResult("non_empty_fact_immigrations",
      passed = true, s"fact_immigrations has $factRows rows"))

    val cd = f.exp.get("city_demo")
    checkTopK("q1", Analytics.mostVisitedCities(f.o.fact, f.o.cityDemographics).collect(),
      counts(f.exp.get("by_port")), k => Option(cd.get(k)).map(v =>
        Seq(v.get(0).asText, v.get(1).asText, v.get(2).asLong)))
    val cn = f.exp.get("country_name")
    val country = (k: String) => Option(cn.get(k)).map(v => Seq(k, v.asText))
    checkTopK("q2", Analytics.topOriginCountries(f.o.fact, f.o.countries).collect(),
      counts(f.exp.get("by_country")), country)
    checkTopK("q3", Analytics.topStudentOriginCountries(f.o.fact, f.o.countries).collect(),
      counts(f.exp.get("by_student")), country)
  }

  test("every partitioned sink directory holds exactly one part file") {
    assume(pythonReady, "python3 with numpy and pyarrow not available")
    val f = fixture
    def leaves(dir: File, depth: Int): Seq[File] =
      if (depth == 0) Seq(dir)
      else dir.listFiles().toSeq.filter(d => d.isDirectory && d.getName.contains("="))
        .flatMap(leaves(_, depth - 1))
    val factDirs = leaves(new File(f.out, "fact_immigrations.parquet"), 3)
    val cityDirs = leaves(new File(f.out, "dim_city_demographics.parquet"), 1)
    assert(factDirs.nonEmpty && cityDirs.nonEmpty)
    (factDirs ++ cityDirs).foreach { d =>
      val parts = d.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length === 1, s"$d holds ${parts.length} part files")
    }
  }

  test("every unpartitioned dim directory holds exactly one part file") {
    assume(pythonReady, "python3 with numpy and pyarrow not available")
    val f = fixture
    Seq("dim_country", "dim_us_state", "dim_ports", "dim_travel_mode",
        "dim_visa_category").foreach { t =>
      val parts = new File(f.out, s"$t.parquet").list()
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length === 1, s"$t holds ${parts.length} part files")
    }
  }

  test("the check phase launches jobs from at most 2 actions") {
    assume(pythonReady, "python3 with numpy and pyarrow not available")
    val f = fixture
    // Two actions, run side by side: the fact aggregate and the city-demo
    // count; the five dims, cleaned ports included, collect from local
    // relations. Their 16 jobs are 10 for the aggregate (it also builds and
    // persists the fact, whose dedupe shuffle and five dim broadcasts are
    // jobs of their own) and 6 for the city demographics.
    val perJob = s"SQL execution per job: ${f.checkJobExecs}"
    assert(f.checkJobExecs.distinct.size <= 2, perJob)
    assert(f.checkJobExecs.size <= 16, perJob)
  }

  test("every job run() starts carries the caller's job group") {
    assume(pythonReady, "python3 with numpy and pyarrow not available")
    val f = fixture
    assert(f.jobGroups.nonEmpty)
    assert(f.jobGroups.forall(_ == Group), s"job groups: ${f.jobGroups}")
  }
}
