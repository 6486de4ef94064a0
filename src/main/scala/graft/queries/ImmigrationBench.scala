package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.immigration.{Analytics, ImmigrationConfig, ImmigrationPipeline}

/** The reference's three notebook analytics queries benched AT THE
  * REFERENCE'S OWN SCALE (the bundled April-2016 dataset, 2,823,272
  * fact rows) — not the synthetic sf tables.
  *
  * Two-stage (`benchBuild`, the house pattern for write/train-heavy
  * queries): the star-schema build — SAS-label parse, cleaning, 5-way
  * broadcast join — runs ONCE untimed and lands the fact + dims as
  * parquet in a temp dir; the timed thunk is the analytics query over
  * that parquet, the shape a production deployment actually pays per
  * query. The setup also ASSERTS the notebook's golden top-10s against
  * the written tables in the same run — a wrong pipeline fails the
  * setup, which the bench surfaces as the -1.0 sentinel, so a BENCH
  * number for these rows is itself correctness evidence
  * (`ImmigrationE2ESpec` pins the same values in the test suite).
  *
  * These rows are bench-only (`verify = false`): their input is the
  * reference dataset, not the sf-directory tables the DuckDB oracle
  * harness reads, so the golden assertions here and in the E2E spec are
  * the correctness gate.
  */
object ImmigrationBench {

  // Golden values from the reference notebook's published outputs
  // (BASELINE.md; same constants as ImmigrationE2ESpec).
  private val GoldenQ1 = Seq(
    "NYC" -> 470975L, "MIA" -> 326916L, "LOS" -> 290262L,
    "SFR" -> 148239L, "ORL" -> 143991L, "CHI" -> 125484L,
    "HOU" -> 95175L, "FTL" -> 91217L)
  private val GoldenQ2 = Seq(
    "135" -> 339928L, "209" -> 230840L, "111" -> 175445L,
    "582" -> 163778L, "245" -> 159887L, "112" -> 146230L,
    "689" -> 128960L, "276" -> 116534L, "438" -> 99731L,
    "213" -> 87988L)
  private val GoldenQ3 = Seq(
    "245" -> 9760L, "213" -> 2683L, "276" -> 2498L,
    "209" -> 2157L, "582" -> 1817L, "689" -> 1677L,
    "261" -> 1425L, "268" -> 1060L, "696" -> 890L,
    "691" -> 756L)

  /** One pipeline build per JVM, shared by all three queries (the bench
    * warms and times each query separately — six benchBuild calls —
    * and the 2.8M-row star-schema build must not run six times). */
  @volatile private var prepared: Option[String] = None

  private def preparedDir(s: SparkSession): String = synchronized {
    prepared.getOrElse {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-imm-bench-").toString
      val o = ImmigrationPipeline.build(s, ImmigrationConfig.reference(dir))
      o.fact.write.mode("overwrite").parquet(s"$dir/fact")
      o.cityDemographics.write.mode("overwrite").parquet(s"$dir/city_demo")
      o.countries.write.mode("overwrite").parquet(s"$dir/countries")
      o.fact.unpersist(blocking = false)
      o.cityDemographics.unpersist(blocking = false)
      // golden top-10 asserts against the WRITTEN tables — exactly what
      // the timed thunks read
      def top(df: DataFrame, keyIdx: Int, cntIdx: Int): Seq[(String, Long)] =
        df.collect().map(r => (r.getString(keyIdx), r.getLong(cntIdx))).toSeq
      val q1 = top(Analytics.mostVisitedCities(fact(s, dir), cityDemo(s, dir)),
        0, 1)
      require(q1 == GoldenQ1, s"Q1 golden mismatch: $q1")
      val q2 = top(Analytics.topOriginCountries(fact(s, dir), countries(s, dir))
        .select("origin_country_code", "country_visitors"), 0, 1)
      require(q2 == GoldenQ2, s"Q2 golden mismatch: $q2")
      val q3 = top(Analytics.topStudentOriginCountries(
          fact(s, dir), countries(s, dir))
        .select("origin_country_code", "student_visitors"), 0, 1)
      require(q3 == GoldenQ3, s"Q3 golden mismatch: $q3")
      prepared = Some(dir)
      dir
    }
  }

  private def fact(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/fact")
  private def cityDemo(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/city_demo")
  private def countries(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/countries")

  private def mk(name: String,
      run: (SparkSession, String) => DataFrame): GraftQuery = GraftQuery(
    name,
    build = (s, _) => run(s, preparedDir(s)),
    oracle = None, bench = false, verify = false,
    benchBuild = Some((s, _) => {
      val dir = preparedDir(s)
      () => run(s, dir)
    }))

  private val q1 = mk("immigration_q1",
    (s, dir) => Analytics.mostVisitedCities(fact(s, dir), cityDemo(s, dir)))
  private val q2 = mk("immigration_q2",
    (s, dir) => Analytics.topOriginCountries(fact(s, dir), countries(s, dir)))
  private val q3 = mk("immigration_q3",
    (s, dir) => Analytics.topStudentOriginCountries(
      fact(s, dir), countries(s, dir)))

  val queries: Seq[GraftQuery] = Seq(q1, q2, q3)
}
