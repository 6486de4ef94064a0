package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.immigration._
import graft.ops.{TextAnalysis, TxTable}
import graft.queries.Registry

object Timed {
  /** Times `body` as one operation of a pass, inside span `span`, with the
    * persisted footprint sampled on either side. */
  def op[T](ops: mutable.Buffer[Op], tr: Tracer, kind: String, span: String)(
      body: => T): T = {
    PinSampler.sample()
    val t0 = System.nanoTime()
    val r = tr.span(span)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, ms, r match {
      case c: TxTable.Commit => c.version
      case _ => -1L
    })
    PinSampler.sample()
    r
  }

  /** Materializes every column of `df` and discards the rows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Best of `reps` wall times of `body`, in ms. */
  def bestMs(reps: Int)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.min

  def rowsJson(rows: Array[Row]): String =
    Json.arr(rows.map(r => Json.arr(r.toSeq.map(v => Json.str(String.valueOf(v))))))

  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}

/** The paper's job: `ImmigrationPipeline.run`, then Analytics Q1-Q3. */
final class EtlWorkload(in: String, work: String) extends Workload {
  import Timed._
  private val cfg = ImmigrationConfig(
    i94ParquetDir = s"$in/i94", demographicsCsv = s"$in/demographics.csv",
    sasLabelsFile = s"$in/labels.SAS", outputDir = s"$work/etl_out")
  private var kept: Seq[(String, String)] = Nil

  def setup(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, tr: Tracer, ops: mutable.Buffer[Op]): Unit = {
    val o = op(ops, tr, "etl", "immigration.run") {
      ImmigrationPipeline.run(spark, cfg)
    }
    val q1 = op(ops, tr, "q1", "immigration.q1") {
      Analytics.mostVisitedCities(o.fact, o.cityDemographics).collect()
    }
    val q2 = op(ops, tr, "q2", "immigration.q2") {
      Analytics.topOriginCountries(o.fact, o.countries).collect()
    }
    val q3 = op(ops, tr, "q3", "immigration.q3") {
      Analytics.topStudentOriginCountries(o.fact, o.countries).collect()
    }
    kept = Seq(
      "quality" -> Json.arr(o.qualityResults.map(r => Json.obj(Seq(
        "name" -> Json.str(r.name), "passed" -> r.passed.toString,
        "detail" -> Json.str(r.detail))))),
      "q1" -> rowsJson(q1), "q2" -> rowsJson(q2), "q3" -> rowsJson(q3))
  }

  /** One call per public step, in `ImmigrationPipeline.run`'s order. Each
    * Spark-side probe materializes its step with a noop sink; a step's own
    * cost is its probe minus the probe of its input. */
  def probes(spark: SparkSession, out: mutable.Map[String, Double]): Unit = {
    out("labels_parse_ms") = bestMs(3) {
      Seq("I94RES", "I94PORT", "I94ADDR", "I94MODE", "I94VISA")
        .foreach(l => SasLabels.parseFile(cfg.sasLabelsFile, l))
    }
    val countries = Cleaning.cleanCountries(Sources.countries(spark, cfg))
    val ports = Cleaning.cleanPorts(Sources.ports(spark, cfg))
    val states = Cleaning.cleanStates(Sources.states(spark, cfg))
    val modes = Sources.travelModes(spark, cfg)
    val visas = Sources.visaCategories(spark, cfg)
    val raw = Sources.immigration(spark, cfg)
    val clean = Cleaning.cleanImmigration(raw)
    val fact = StarSchema.factImmigrations(clean, countries, states, ports, visas, modes)
    out("scan_probe_ms") = bestMs(2)(noop(raw))
    out("clean_probe_ms") = bestMs(2)(noop(clean))
    out("fact_probe_ms") = bestMs(2)(noop(fact))
    out("city_demo_ms") = bestMs(2)(noop(StarSchema.cityDemographics(
      Cleaning.cleanDemographics(Sources.demographics(spark, cfg)), ports)))
  }

  def report(spark: SparkSession): Seq[(String, String)] = kept
}

/** Oracle-backed Registry queries over a seeded corpus, each collected. */
final class CorpusWorkload(in: String, work: String) extends Workload {
  import Timed._
  val names: Seq[String] = Seq(
    "x_quality_linear", "x_dedup_minhash_lsh", "x_dedup_simhash_pairs",
    "x_graph_label_prop", "x_embed_cosine_topk")
  private lazy val queries = {
    val all = Registry.byName
    names.map(all)
  }
  private val kept = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  def setup(spark: SparkSession): Unit = queries

  def pass(spark: SparkSession, tr: Tracer, ops: mutable.Buffer[Op]): Unit =
    queries.foreach { q =>
      op(ops, tr, q.name, s"query.${q.name}") {
        val df = q.build(spark, in)
        val rows = df.collect()
        kept(q.name) = (rows, df.schema)
      }
    }

  /** Kernel micro-calls: noop-sink projections over the documents (each row
    * repeated `Rep` times, so the kernel and not the scan dominates), best of
    * three. A kernel's cost per row is its probe minus its input's probe.
    * The hashed-linear fold costs about a millisecond a row (a 4096-entry
    * map lookup per token), so it runs once over the plain documents. */
  def probes(spark: SparkSession, out: mutable.Map[String, Double]): Unit = {
    val Rep = 20
    val plain = graft.core.Tables.documents(spark, in).select("doc_id", "text").cache()
    val docs = plain.select(col("doc_id"), explode(array_repeat(col("text"), Rep)).as("text"))
      .cache()
    val (rows1, rows) = (plain.count().toDouble, docs.count().toDouble)
    def probe(e: String, df: DataFrame = docs) = bestMs(3)(noop(df.select(expr(e).as("k"))))
    def nsRow(a: Double, b: Double, n: Double = rows) = (a - b) * 1e6 / n
    val base = probe("length(text)")
    val sh = probe("shingle_set(text, 5)")
    out("ws_tokens_ns_row") = nsRow(probe("ws_tokens(text)"), base)
    out("shingle_set_ns_row") = nsRow(sh, base)
    out("minhash_sig_ns_row") = nsRow(probe("minhash_sig(shingle_set(text, 5), 128)"), sh)
    out("simhash64_ns_row") = nsRow(probe("simhash64(text)"), base)
    out("jaro_winkler_ns_row") = nsRow(probe("jaro_winkler(text, reverse(text))"), base)
    val weights = spark.range(4096).select(col("id").as("b"),
      round(((col("id") * 37 + 11) % 201 - 100) / 100.0, 2).as("w"))
    val lin = bestMs(2)(noop(TextAnalysis.linearQualityScore(plain, weights, 4096)))
    out("hash32_fold_ns_row") = nsRow(lin, probe("ws_tokens(text)", plain), rows1)
    docs.unpersist(blocking = true)
    plain.unpersist(blocking = true)
  }

  def report(spark: SparkSession): Seq[(String, String)] = {
    kept.foreach { case (n, (rows, schema)) =>
      writeRows(spark, rows, schema, s"$work/corpus_out/$n")
    }
    Seq("oracle" -> Json.obj(queries.map(q => q.name -> Json.str(q.oracle.get))))
  }
}

/** Seeded rounds of append / upsert / deleteWhere / read on one TxTable. */
final class TxWorkload(in: String, work: String) extends Workload {
  import Timed._
  /** Round r: append `append/r`, upsert `upsert/r`, delete one customer. */
  private val rounds: Seq[(Int, Long)] = {
    val src = scala.io.Source.fromFile(s"$in/rounds.tsv")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(r, cust) = l.split("\t"); (r.toInt, cust.toLong)
    }.toSeq finally src.close()
  }
  private var tableNo = 0
  private var table: TxTable = _
  private var seedVersion = -1L
  private var commitBytes = 0L

  private def freshTable(spark: SparkSession): Unit = {
    if (table != null) deleteTree(new File(table.location))
    table = TxTable(spark, s"$work/tx/t$tableNo")
    tableNo += 1
    seedVersion = table.append(spark.read.parquet(s"$in/seed")).version
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def setup(spark: SparkSession): Unit = freshTable(spark)

  override def prepare(spark: SparkSession): Unit =
    if (table.snapshot().version != seedVersion) freshTable(spark)

  def pass(spark: SparkSession, tr: Tracer, ops: mutable.Buffer[Op]): Unit = {
    var bytes = 0L
    rounds.foreach { case (r, cust) =>
      bytes += op(ops, tr, "append", "tx.append") {
        table.append(spark.read.parquet(f"$in/append/$r%03d"))
      }.bytes
      bytes += op(ops, tr, "upsert", "tx.upsert") {
        table.upsert(spark.read.parquet(f"$in/upsert/$r%03d"), Seq("o_orderkey"))
      }.bytes
      bytes += op(ops, tr, "delete", "tx.delete") {
        table.deleteWhere("o_custkey", cust)
      }.bytes
      op(ops, tr, "read", "tx.read") { noop(table.read()) }
    }
    commitBytes = bytes
  }

  override def passStats(): Seq[(String, String)] = {
    val log = Option(new File(s"${table.location}/_log").listFiles())
      .getOrElse(Array.empty[File])
    Seq("log_files" -> log.length.toString,
      "log_mb" -> Json.num(log.map(Main.dirBytes).sum / 1048576.0),
      "active_files" -> table.snapshot().files.size.toString,
      "commit_bytes" -> commitBytes.toString)
  }

  /** A timed `snapshot()` (log replay) on the last pass's table. */
  def probes(spark: SparkSession, out: mutable.Map[String, Double]): Unit = {
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); table.snapshot(); (System.nanoTime() - t0) / 1e6
    }.sorted
    out("snapshot_ms") = times(2)
  }

  def report(spark: SparkSession): Seq[(String, String)] = {
    table.read().coalesce(1).write.mode("overwrite").parquet(s"$work/tx_final")
    Seq("table_dir" -> Json.str(table.location),
      "seed_version" -> seedVersion.toString)
  }
}
