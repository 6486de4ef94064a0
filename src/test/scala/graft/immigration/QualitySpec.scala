package graft.immigration

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase
import Quality.CheckResult

class QualitySpec extends SparkTestBase {
  import spark.implicits._

  test("strict mode throws on an empty table; warn mode only reports") {
    val results = Seq(Quality.nonEmpty("fact", 0L), Quality.nonEmpty("dim", 1L))
    assert(results === Seq(
      CheckResult("non_empty_fact", passed = false, "fact has 0 rows"),
      CheckResult("non_empty_dim", passed = true, "dim has 1 rows")))
    Quality.enforce(results, strict = false) // must not throw
    intercept[Quality.QualityCheckFailure] {
      Quality.enforce(results, strict = true)
    }
  }

  test("referential check compares fact-column vs whole-dim distincts (ref quirk)") {
    // 2 distinct fact codes == 2 distinct dim ROWS
    val r = Quality.referential("codes", "code", 2L, 2L)
    assert(r === CheckResult("referential_codes", passed = true,
      "fact.code distinct=2 vs dim distinct=2"))
    assert(!Quality.referential("codes", "code", 2L, 3L).passed)
  }

  // The per-action formulas runAll replaced, kept as the reference.
  private def oldNonEmpty(name: String, df: DataFrame): CheckResult = {
    val n = df.count()
    CheckResult(s"non_empty_$name", n > 0, s"$name has $n rows")
  }

  private def oldReferential(name: String, fact: DataFrame, factCol: String,
      dim: DataFrame): CheckResult = {
    val factDistinct = fact.select(factCol).distinct().count()
    val dimDistinct = dim.distinct().count()
    CheckResult(s"referential_$name", factDistinct == dimDistinct,
      s"fact.$factCol distinct=$factDistinct vs dim distinct=$dimDistinct")
  }

  private def oldRunAll(fact: DataFrame, cityDemographics: DataFrame,
      countries: DataFrame, states: DataFrame, ports: DataFrame,
      travelModes: DataFrame, visaCategories: DataFrame): Seq[CheckResult] =
    Seq(
      oldNonEmpty("fact_immigrations", fact),
      oldNonEmpty("dim_city_demographics", cityDemographics),
      oldNonEmpty("dim_ports", ports),
      oldNonEmpty("dim_country", countries),
      oldNonEmpty("dim_us_state", states),
      oldNonEmpty("dim_visa_category", visaCategories),
      oldNonEmpty("dim_travel_mode", travelModes),
      oldReferential("visa_category", fact, "visa_category_code", visaCategories),
      oldReferential("travel_mode", fact, "travel_mode_code", travelModes),
      oldReferential("port", fact, "port_code", ports),
      oldReferential("country", fact, "origin_country_code", countries),
      oldReferential("us_state", fact, "us_state_code", states))

  private val factSchema = StructType(Seq(
    StructField("visa_category_code", StringType),
    StructField("travel_mode_code", StringType),
    StructField("port_code", StringType),
    StructField("origin_country_code", StringType),
    StructField("us_state_code", StringType),
    StructField("age", DoubleType)))

  private def factOf(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), factSchema)

  private def dims = {
    def dim(rows: (String, String)*)(cols: String*) = rows.toDF(cols: _*)
    // duplicate and null-bearing rows: counted as whole rows
    val ports = dim(("NYC", "NEW YORK"), ("NYC", "NEW YORK"), ("MIA", null),
      ("MIA", null), (null, null), ("LOS", "LOS ANGELES"))("port_code", "port_name")
    val countries = dim(("101", "A"), ("101", "B"), ("102", "B"))("country_code", "country_name")
    val states = dim(("NY", "NEW YORK"), ("FL", null), (null, null))("state_code", "state_name")
    val modes = dim(("1", "Air"), ("2", "Sea"))("mode_id", "mode_name")
    val visas = dim(("1", "Business"), ("2", "Pleasure"), ("3", "Student"))(
      "visa_category_id", "visa_category")
    val city = Seq(("NYC", "New York", 8000000L)).toDF("port_code", "city", "total_population")
    (city, countries, states, ports, modes, visas)
  }

  test("fused runAll gives the per-action CheckResults: NULL codes, dup and null dim rows") {
    val (city, countries, states, ports, modes, visas) = dims
    val fact = factOf(
      Row("1", "1", "NYC", "101", "NY", 30.0),
      Row("2", "1", "NYC", "101", null, 31.0), // NULL is one distinct value
      Row("2", null, "MIA", "102", null, 32.0),
      Row("3", null, "MIA", "102", "FL", 33.0),
      Row("3", "2", "LOS", "101", "NY", 34.0),
      Row(null, "2", "LOS", "101", "NY", 35.0))
    val fused = Quality.runAll(fact, city, countries, states, ports, modes, visas)
    assert(fused === oldRunAll(fact, city, countries, states, ports, modes, visas))
    val byName = fused.map(r => r.name -> r.detail).toMap
    assert(byName("referential_visa_category") === "fact.visa_category_code distinct=4 vs dim distinct=3")
    assert(byName("referential_travel_mode") === "fact.travel_mode_code distinct=3 vs dim distinct=2")
    assert(byName("referential_port") === "fact.port_code distinct=3 vs dim distinct=4")
    assert(byName("referential_us_state") === "fact.us_state_code distinct=3 vs dim distinct=3")
    assert(byName("non_empty_dim_ports") === "dim_ports has 6 rows")
  }

  test("fused runAll on an empty fact matches the per-action formulas") {
    val (city, countries, states, ports, modes, visas) = dims
    val fact = factOf()
    val fused = Quality.runAll(fact, city, countries, states, ports, modes, visas)
    assert(fused === oldRunAll(fact, city, countries, states, ports, modes, visas))
    assert(fused.head === CheckResult("non_empty_fact_immigrations", passed = false,
      "fact_immigrations has 0 rows"))
  }

  test("run(strict = true) on an empty fact throws before any sink writes") {
    val in = Files.createTempDirectory("graft-quality-empty-").toFile
    // one I94 row whose port is not in the labels: the inner join empties the fact
    val cfg = ImmigrationPipelineSpec.tinyInput(spark, in, port = "ZZZ")
    val out = new File(cfg.outputDir)

    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Quality.QualityCheckFailure] {
      ImmigrationPipeline.run(spark, cfg, strict = true)
    }
    assert(e.getMessage.contains("non_empty_fact_immigrations: fact_immigrations has 0 rows"))
    assert(!out.exists(), "strict mode wrote output before throwing")
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinned,
      "the failed run left build()'s persisted frames behind")
  }
}
