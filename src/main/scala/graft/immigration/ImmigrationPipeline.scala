package graft.immigration

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** End-to-end pipeline (ref `etl.py:28-82` `main()`): load → clean →
  * star-schema build → quality checks → partitioned parquet sinks.
  *
  * Same outputs as the reference, at a different cost. The reference
  * re-executes the full source DAG for each of its 17 check actions plus
  * the final write (no `cache()` anywhere in `etl.py`), one action at a
  * time. Here the fact and city demographics are persisted in [[build]],
  * and [[run]] issues its independent actions in two concurrent waves:
  *  1. the checks ([[Quality.runAll]]): the one fact aggregate, which also
  *     fills the fact's persist, beside the city-demographics count, which
  *     fills its own; the dims are local relations and collect without a
  *     job;
  *  2. after [[Quality.enforce]] (strict mode throws before any sink), the
  *     seven sinks, the fact first. Each partitioned sink is clustered by
  *     its partition columns and each dim coalesced, so every output
  *     directory gets one file.
  * On a small month each action is mostly driver work (planning,
  * scheduling, file commits), so serial actions leave most cores idle;
  * Spark's scheduler runs jobs that separate threads submit side by side.
  */
object ImmigrationPipeline {

  final case class Outputs(
      fact: DataFrame, cityDemographics: DataFrame, countries: DataFrame,
      states: DataFrame, ports: DataFrame, travelModes: DataFrame,
      visaCategories: DataFrame, qualityResults: Seq[Quality.CheckResult])

  /** Build every table of the star schema (no writes, no jobs: the one
    * action, in [[Cleaning.cleanPorts]], collects a local relation). */
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

  /** Name prefix of the threads [[concurrently]] creates. */
  val ActionThread = "immigration-action"

  /** Runs each action on a driver thread of its own, submitted in the given
    * order (under FIFO scheduling the earliest job gets free slots first,
    * so put the longest first), and returns the results in that order.
    * Waits for every action, then rethrows the first failure in list order
    * with the others suppressed; no thread or job outlives the call.
    *
    * The threads are created per call, by the caller: Spark's local
    * properties (job group, description, scheduler pool) are inheritable
    * thread-locals copied when a thread is created, so a long-lived pool
    * thread would keep the job group of whichever call created it. */
  def concurrently[T](actions: Seq[() => T]): Seq[T] = {
    val n = new AtomicInteger
    val pool = Executors.newFixedThreadPool(actions.size max 1,
      (r: Runnable) => new Thread(r, s"$ActionThread-${n.incrementAndGet()}"))
    try {
      val futures = actions.map(a => pool.submit(new Callable[T] { def call(): T = a() }))
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Full run: build, check, write. Returns the built tables + check
    * results. */
  def run(spark: SparkSession, cfg: ImmigrationConfig,
      strict: Boolean = false): Outputs = {
    val o = build(spark, cfg)
    // the caller never gets these frames when run throws
    def releasing[T](body: => T): T =
      try body
      catch { case e: Throwable =>
        o.fact.unpersist(); o.cityDemographics.unpersist(); throw e }

    val results = releasing {
      val r = Quality.runAll(o.fact, o.cityDemographics, o.countries,
        o.states, o.ports, o.travelModes, o.visaCategories)
      Quality.enforce(r, strict)
      r
    }

    val out = cfg.outputDir.stripSuffix("/")
    def sink(df: DataFrame, table: String, partitionCols: String*): () => Unit =
      () => df.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(s"$out/$table.parquet")
    // Fact partitioned by (entry_year, entry_month, port_code) — partition
    // values render from doubles, e.g. entry_year=2016.0 (ref layout).
    // Hash-clustering on the partition columns first sends each directory's
    // rows to one task, so each directory gets one file; the 3–660-row dims
    // are coalesced to one file each.
    val factKeys = Seq("entry_year", "entry_month", "port_code")
    releasing(concurrently(Seq(
      sink(o.fact.repartition(factKeys.map(col): _*), "fact_immigrations", factKeys: _*),
      sink(o.cityDemographics.repartition(col("state_code")),
        "dim_city_demographics", "state_code"),
      sink(o.countries.coalesce(1), "dim_country"),
      sink(o.states.coalesce(1), "dim_us_state"),
      sink(o.ports.coalesce(1), "dim_ports"),
      sink(o.travelModes.coalesce(1), "dim_travel_mode"),
      sink(o.visaCategories.coalesce(1), "dim_visa_category"))))

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
