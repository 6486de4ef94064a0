package graft.immigration

import graft.SparkTestBase
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** Quirk-parity tests for the U1–U5/P4 cleaning semantics (SURVEY §2.3).
  */
class CleaningSpec extends SparkTestBase {
  import spark.implicits._

  test("U1: SAS day offset converts; 0.0 and null map to null (falsiness quirk)") {
    val df = Seq[(java.lang.Double, String)](
      (0.0, "zero"), (1.0, "one"), (17963.0, "apr16"), (null, "null"))
      .toDF("arrdate", "tag")
      .select(col("tag"), Cleaning.sasDateToIso(col("arrdate")).as("d"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("zero") === null)   // 1960-01-01 itself is swallowed
    assert(got("one") === "1960-01-02")
    assert(got("apr16") === "2009-03-07")
    assert(got("null") === null)
  }

  test("U2: birth year bounds [1900, 2016], output is stringified double") {
    val df = Seq[java.lang.Double](1899.0, 1900.0, 1962.0, 2016.0, 2017.0, 0.0, null)
      .toDF("biryear")
      .select(Cleaning.validBirthYear(col("biryear")).as("y"))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq(null, "1900.0", "1962.0", "2016.0", null, null, null))
  }

  test("U3/U4: port name split — two-comma names take element [1], not last") {
    val df = Seq("ANCHORAGE, AK", "NOCOMMA", "WASHINGTON DC, MD, VA")
      .toDF("port_name")
      .select(Cleaning.portCity(col("port_name")).as("city"),
        Cleaning.portState(col("port_name")).as("state"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) === ("ANCHORAGE", "AK"))
    assert(rows(1) === ("NOCOMMA", null))
    assert(rows(2) === ("WASHINGTON DC", "MD")) // [1], NOT "VA"
  }

  test("U5: junk country names → NA (prefix replacement, mixed anchoring)") {
    val df = Seq("No Country Code (100)", "INVALID: UNKNOWN",
      "Collapsed Tanzania (should not show)", "MEXICO", "XINVALID")
      .toDF("country_name")
    val got = Cleaning.cleanCountries(df).as[String].collect().toSeq
    assert(got === Seq("NA", "NA", "NA", "MEXICO", "XNA"))
  }

  test("P4: state code 99 dropped") {
    val df = Seq(("99", "All Other Codes"), ("AK", "ALASKA"))
      .toDF("state_code", "state_name")
    assert(Cleaning.cleanStates(df).collect().map(_.getString(0)).toSeq === Seq("AK"))
  }

  test("cleanPorts: dropDuplicates' rows as a local relation, Spark's trim, no job") {
    val raw = Seq(("NYC", "NEW YORK, NY"), ("NYC", "NEW YORK , NY "), ("NYC", "NEW YORK, NY"),
      ("ANC", "ANCHORAGE,\tAK"), ("XXX", "NOCOMMA"), ("NUL", null),
      ("WAS", "WASHINGTON DC, MD, VA")).toDF("port_code", "port_name")
    val reference = raw.withColumn("city", Cleaning.portCity(col("port_name")))
      .withColumn("state_code", Cleaning.portState(col("port_name")))
      .drop("port_name").na.drop().dropDuplicates()
    val sc = spark.sparkContext
    sc.setJobGroup("clean-ports", "clean-ports")
    val (cleaned, rows) = try {
      val c = Cleaning.cleanPorts(raw)
      (c, c.collect())
    } finally sc.clearJobGroup()
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getJobIdsForGroup("clean-ports").isEmpty)
    assert(cleaned.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(cleaned.schema === reference.schema)
    assert(rows.length === 3)
    assert(rows.toSet === reference.collect().toSet)
    // Spark's trim strips spaces only; a tab stays
    assert(rows.contains(Row("ANC", "ANCHORAGE", "\tAK")))
  }
}
