package graft.immigration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** End-to-end pipeline (ref `etl.py:28-82` `main()`): load → clean →
  * star-schema build → quality checks → partitioned parquet sinks.
  *
  * Same outputs as the reference, at a different cost. The reference
  * re-executes the full source DAG for each of its 17 check actions plus
  * the final write (no `cache()` anywhere in `etl.py`). Here the fact and
  * city demographics are persisted in [[build]]; the checks read the fact
  * once, in one aggregate that also fills its persist ([[Quality.runAll]]);
  * and each partitioned sink is clustered by its partition columns, so
  * every output directory gets one file instead of one per task.
  */
object ImmigrationPipeline {

  final case class Outputs(
      fact: DataFrame, cityDemographics: DataFrame, countries: DataFrame,
      states: DataFrame, ports: DataFrame, travelModes: DataFrame,
      visaCategories: DataFrame, qualityResults: Seq[Quality.CheckResult])

  /** Build every table of the star schema (no writes, no actions). */
  def build(spark: SparkSession, cfg: ImmigrationConfig): Outputs = {
    val immigration = Cleaning.cleanImmigration(Sources.immigration(spark, cfg))
    val demographics = Cleaning.cleanDemographics(Sources.demographics(spark, cfg))
    val countries = Cleaning.cleanCountries(Sources.countries(spark, cfg))
    val ports = Cleaning.cleanPorts(Sources.ports(spark, cfg))
    val states = Cleaning.cleanStates(Sources.states(spark, cfg))
    val travelModes = Sources.travelModes(spark, cfg)
    val visaCategories = Sources.visaCategories(spark, cfg)

    val fact = StarSchema.factImmigrations(
        immigration, countries, states, ports, visaCategories, travelModes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // read by its check, its sink and Q1's broadcast side
    val cityDemo = StarSchema.cityDemographics(demographics, ports)
      .persist(StorageLevel.MEMORY_AND_DISK)

    Outputs(fact, cityDemo, countries, states, ports, travelModes,
      visaCategories, qualityResults = Nil)
  }

  /** Full run: build, check, write. Returns the built tables + check
    * results. */
  def run(spark: SparkSession, cfg: ImmigrationConfig,
      strict: Boolean = false): Outputs = {
    val o = build(spark, cfg)
    val results = Quality.runAll(o.fact, o.cityDemographics, o.countries,
      o.states, o.ports, o.travelModes, o.visaCategories)
    try Quality.enforce(results, strict)
    catch { case e: Quality.QualityCheckFailure =>
      // the caller never gets these frames, so they are released here
      o.fact.unpersist(); o.cityDemographics.unpersist(); throw e }

    val out = cfg.outputDir.stripSuffix("/")
    // Fact partitioned by (entry_year, entry_month, port_code) — partition
    // values render from doubles, e.g. entry_year=2016.0 (ref layout).
    // Hash-clustering on the partition columns first sends each directory's
    // rows to one task, so each directory gets one file.
    val factKeys = Seq("entry_year", "entry_month", "port_code")
    o.fact.repartition(factKeys.map(col): _*).write.mode("overwrite")
      .partitionBy(factKeys: _*)
      .parquet(s"$out/fact_immigrations.parquet")
    o.cityDemographics.repartition(col("state_code")).write.mode("overwrite")
      .partitionBy("state_code")
      .parquet(s"$out/dim_city_demographics.parquet")
    o.countries.write.mode("overwrite").parquet(s"$out/dim_country.parquet")
    o.states.write.mode("overwrite").parquet(s"$out/dim_us_state.parquet")
    o.ports.write.mode("overwrite").parquet(s"$out/dim_ports.parquet")
    o.travelModes.write.mode("overwrite").parquet(s"$out/dim_travel_mode.parquet")
    o.visaCategories.write.mode("overwrite").parquet(s"$out/dim_visa_category.parquet")

    o.copy(qualityResults = results)
  }
}

/** CLI entry: `runMain graft.immigration.ImmigrationPipeline <outDir>`. */
object ImmigrationPipelineMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_immigration_out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val o = ImmigrationPipeline.run(spark, ImmigrationConfig.reference(outDir))
    // the non-empty check already counted the fact; its detail carries it
    o.qualityResults.find(_.name == "non_empty_fact_immigrations")
      .foreach(r => println(s"fact rows: ${r.detail.split(' ')(2)}"))
    o.qualityResults.foreach(r =>
      println(f"${if (r.passed) "PASS" else "FAIL"}%s ${r.name}%-28s ${r.detail}"))
    spark.stop()
  }
}
