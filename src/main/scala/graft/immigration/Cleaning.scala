package graft.immigration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleaning transforms (ref `etl.py:231-275`), re-expressed as native
  * Catalyst column trees. The reference runs these as pickled Python UDFs
  * (a per-batch serialization barrier); here the whole clean stays inside
  * whole-stage codegen — the single biggest structural perf win over the
  * reference at scale.
  *
  * Behavioral quirks deliberately preserved (each pinned by a test):
  *  - SAS day-offset 0.0 (i.e. 1960-01-01 itself) converts to null, not a
  *    date — Python falsiness in the reference's UDF (`etl.py:236`);
  *  - birth_year survives as the STRING rendering of a double
  *    (`'1962.0'`) because the reference UDF defaults to StringType;
  *  - port names with two commas take element [1], not the last.
  */
object Cleaning {

  /** U1: SAS day offset (days since 1960-01-01, double) → ISO date string. */
  def sasDateToIso(c: Column): Column =
    when(c.isNotNull && c =!= 0,
      date_format(date_add(to_date(lit("1960-01-01")), c.cast("int")), "yyyy-MM-dd"))

  /** U2: birth year kept (as stringified double) only inside [1900, 2016];
    * 0 is already out of range so the falsiness quirk folds in. */
  def validBirthYear(c: Column): Column =
    when(c.isNotNull && c.between(1900, 2016), c.cast("string"))

  /** U3: city = part before the first comma, trimmed. */
  def portCity(portName: Column): Column =
    when(portName.isNotNull, trim(split(portName, ",").getItem(0)))

  /** U4: state = second comma part (index 1, NOT last), only when the name
    * has more than one part. */
  def portState(portName: Column): Column =
    when(portName.isNotNull && size(split(portName, ",")) > 1,
      trim(split(portName, ",").getItem(1)))

  def cleanImmigration(df: DataFrame): DataFrame =
    df.withColumn("arrdate", sasDateToIso(col("arrdate")))
      .withColumn("depdate", sasDateToIso(col("depdate")))
      .withColumn("biryear", validBirthYear(col("biryear")))
      .dropDuplicates()

  /** The published `etl.py:247-249` only dropDuplicates, but every golden
    * number in the notebook (559 distinct cleaned cities in cell 21 vs
    * 567 raw; dim_city_demographics = 113 in cells 24/35) was produced by
    * a clean that ALSO dropped null-bearing rows (it removes exactly the
    * Puerto-Rico/The-Villages rows with null population fields, cell 22).
    * We match the recorded outputs, not the drifted script. */
  def cleanDemographics(df: DataFrame): DataFrame =
    df.dropDuplicates().na.drop()

  /** The projection runs in Catalyst (Spark's `trim`); over the label
    * `LocalRelation` it folds to a local relation, so the `collect()`
    * launches no job. The rows are deduplicated on the driver and wrapped
    * back as a local relation: `dropDuplicates()` would make every
    * consumer re-run a shuffle aggregate. */
  def cleanPorts(df: DataFrame): DataFrame = {
    val projected = df.withColumn("city", portCity(col("port_name")))
      .withColumn("state_code", portState(col("port_name")))
      .drop("port_name")
      .na.drop()
    df.sparkSession.createDataFrame(
      projected.collect().distinct.toList.asJava, projected.schema)
  }

  /** U5: junk country labels → 'NA'. First alternative anchored, the other
    * two not — replaces the matched PREFIX, so 'INVALID: UNKNOWN' → 'NA'
    * (ref `etl.py:266-269`). */
  def cleanCountries(df: DataFrame): DataFrame =
    df.withColumn("country_name",
      regexp_replace(col("country_name"),
        "^No Country.*|INVALID.*|Collapsed.*", "NA"))

  /** P4: drop the `'99' = All Other Codes` state row. */
  def cleanStates(df: DataFrame): DataFrame =
    df.filter(col("state_code") =!= "99")
}
