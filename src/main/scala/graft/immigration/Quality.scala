package graft.immigration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality checks (ref `etl.py:360-411`).
  *
  * The reference's checks can never fail: every branch builds an
  * `Exception(...)` without `raise`, so they only force materialization.
  * Its referential check is also logically inverted for three of the five
  * code columns (the inner-join fact can only LOSE dim codes, so
  * `distinct(fact.code) != distinct(dim)` is the expected state, not an
  * anomaly). The same counts come from two concurrent actions, not 17: ONE
  * fact aggregate beside the city-demographics count (each fills its
  * frame's persist), then a collect per dim, which are local relations
  * and launch no job. Failure behavior is explicit: warn mode
  * (default — the reference's observable log-and-continue) and strict mode
  * (throws on the non-empty checks; the referential comparisons stay
  * report-only because, as published, they'd abort every healthy run).
  */
object Quality {

  final case class CheckResult(name: String, passed: Boolean, detail: String)

  final class QualityCheckFailure(msg: String) extends RuntimeException(msg)

  def nonEmpty(name: String, rows: Long): CheckResult =
    CheckResult(s"non_empty_$name", rows > 0, s"$name has $rows rows")

  /** The reference's referential comparison, verbatim: distinct fact codes
    * vs distinct dim ROWS (its `dim.distinct()` counts whole rows, a quirk). */
  def referential(name: String, factCol: String, factDistinct: Long,
      dimDistinct: Long): CheckResult =
    CheckResult(s"referential_$name", factDistinct == dimDistinct,
      s"fact.$factCol distinct=$factDistinct vs dim distinct=$dimDistinct")

  def runAll(fact: DataFrame, cityDemographics: DataFrame, countries: DataFrame,
      states: DataFrame, ports: DataFrame, travelModes: DataFrame,
      visaCategories: DataFrame): Seq[CheckResult] = {
    // (table, dim, referential check, fact code column), non-empty order
    val dims = Seq(("dim_ports", ports, "port", "port_code"),
      ("dim_country", countries, "country", "origin_country_code"),
      ("dim_us_state", states, "us_state", "us_state_code"),
      ("dim_visa_category", visaCategories, "visa_category", "visa_category_code"),
      ("dim_travel_mode", travelModes, "travel_mode", "travel_mode_code"))
    // The two job-launching actions run side by side, each filling its
    // frame's persist; struct(c) keeps NULL as one value, as
    // select(c).distinct() does.
    val Seq(f, Seq(cityRows)) = ImmigrationPipeline.concurrently(Seq(
      () => fact.agg(count(lit(1)), dims.map(d => count_distinct(struct(col(d._4)))): _*)
        .head().toSeq.map(_.asInstanceOf[Long]),
      () => Seq(cityDemographics.count())))
    // 3–660 rows each, local relations (no job); on all-string rows `Row`
    // equality is Spark's distinct
    require(dims.forall(_._2.schema.forall(_.dataType.typeName == "string")))
    val rows = dims.map(_._2.collect())
    val refs = dims.indices.map(i =>
      referential(dims(i)._3, dims(i)._4, f(i + 1), rows(i).distinct.length))
    Seq(nonEmpty("fact_immigrations", f.head),
      nonEmpty("dim_city_demographics", cityRows)) ++
      dims.indices.map(i => nonEmpty(dims(i)._1, rows(i).length)) ++
      refs.drop(3) ++ refs.take(3) // the reference checks visa and mode first
  }

  /** Warn mode logs failures and continues (the reference's observable
    * behavior); strict mode throws on any failed NON-EMPTY check. */
  def enforce(results: Seq[CheckResult], strict: Boolean): Unit = {
    results.filterNot(_.passed).foreach { r =>
      System.err.println(s"[quality] FAILED ${r.name}: ${r.detail}")
    }
    if (strict) {
      val fatal = results.filter(r => !r.passed && r.name.startsWith("non_empty"))
      if (fatal.nonEmpty)
        throw new QualityCheckFailure(
          fatal.map(r => s"${r.name}: ${r.detail}").mkString("; "))
    }
  }
}
