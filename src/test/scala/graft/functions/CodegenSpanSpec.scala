package graft.functions

import graft.SparkTestBase
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Asserts the native text/dedup expressions participate in whole-stage
  * codegen — the property that makes them fast. Two checks: the physical
  * plan shows the projection inside a codegen span (the `*(n)` marker),
  * and execution succeeds with codegen fallback DISABLED, so a
  * generated-code compile error fails the suite instead of silently
  * degrading to the interpreted path. */
class CodegenSpanSpec extends SparkTestBase {

  private def hotProjection = spark.read
    .parquet(sf("sf0.001") + "/documents.parquet")
    .select(col("doc_id"),
      Dedup.shingles(col("text")).as("sh"),
      Dedup.simhash64(col("text")).as("sh64"))
    .select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"),
      col("sh64"))

  test("dedup kernel projection sits inside a WholeStageCodegen span") {
    val planStr = hotProjection.queryExecution.executedPlan.toString
    val projLine = planStr.linesIterator
      .find(_.contains("minhash_sig")).getOrElse("")
    assert(projLine.trim.startsWith("*("),
      s"projection not codegen'd:\n$planStr")
    assert(planStr.contains("shingle_set") && planStr.contains("simhash64"))
  }

  test("generated code compiles: execution succeeds with fallback disabled") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      assert(hotProjection.count() > 0)
    } finally spark.conf.set(key, prev)
  }

  test("round-4 expressions codegen too: pq_adc inside a codegen span") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val df = spark.read
        .parquet(sf("sf0.001") + "/embeddings.parquet")
        .selectExpr("vec_id",
          "CAST(array(0, 1, 2, 3) AS ARRAY<INT>) AS codes",
          "CAST(embedding AS ARRAY<DOUBLE>) AS lut")
        .selectExpr("vec_id", "pq_adc(codes, lut) AS adist")
      val planStr = df.queryExecution.executedPlan.toString
      val projLine = planStr.linesIterator
        .find(_.contains("pq_adc")).getOrElse("")
      assert(projLine.trim.startsWith("*("),
        s"projection not codegen'd:\n$planStr")
      assert(df.count() > 0)
    } finally spark.conf.set(key, prev)
    // bloom_might_contain's codegen is pinned by BloomSemiJoinSpec
  }

  test("x_quality_linear: hashed_bucket_fold codegens, no map-lookup fold left") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val df = graft.queries.Registry.byName("x_quality_linear")
        .build(spark, sf("sf0.001"))
      // the model broadcast puts the query under AQE: the codegen spans
      // show in the final plan, so run first
      assert(df.collect().length > 0)
      val planStr = df.queryExecution.executedPlan.toString
      val projLine = planStr.linesIterator
        .find(_.contains("hashed_bucket_fold")).getOrElse("")
      assert(projLine.dropWhile(" +-:".contains(_)).startsWith("*("),
        s"projection not codegen'd:\n$planStr")
      // the per-token map lookup was a linear scan of the model's keys
      assert(!planStr.contains("element_at") &&
        !planStr.contains("aggregate(") && !planStr.contains("lambda"),
        s"interpreted fold in plan:\n$planStr")
    } finally spark.conf.set(key, prev)
  }

  test("round-3 expressions codegen too: nfc_normalize, morton2, jaro_winkler") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val df = spark.read
        .parquet(sf("sf0.001") + "/documents.parquet")
        .selectExpr("doc_id", "nfc_normalize(text) AS t",
          "morton2(doc_id, n_chars) AS z",
          "jaro_winkler(lang, source) AS jw")
      val planStr = df.queryExecution.executedPlan.toString
      val projLine = planStr.linesIterator
        .find(_.contains("morton2")).getOrElse("")
      assert(projLine.trim.startsWith("*("),
        s"projection not codegen'd:\n$planStr")
      assert(df.count() > 0)
    } finally spark.conf.set(key, prev)
  }
}
