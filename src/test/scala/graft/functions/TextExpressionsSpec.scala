package graft.functions

import graft.SparkTestBase
import graft.ops.{Dedup, PortableHash, TextAnalysis, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins the native text/dedup kernels bit-identical to the round-1
  * interpreted HOF folds (re-derived inline here as the reference
  * semantics). The DuckDB oracle SQL was written against the fold forms;
  * these tests are what lets the oracle stay unchanged.
  */
class TextExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  /** Round-1 fold forms, kept as the executable spec of the semantics. */
  private def foldTokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => t =!= "")

  private def foldShingles(text: Column, n: Int): Column = {
    val toks = foldTokens(text)
    val len = size(toks)
    val grams = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc,
        slice(toks, lit(k), greatest(len - (k - 1), lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    array_distinct(
      when(len >= n, slice(grams, lit(1), len - (n - 1)))
        .otherwise(array().cast("array<string>")))
  }

  private def foldMinhash(sh: Column, k: Int): Column = {
    val pairs = transform(transform(sh, s => md5(s)), x => array(
      conv(substring(x, 1, 15), 16, 10).cast(LongType),
      conv(substring(x, 17, 14), 16, 10).cast(LongType)))
    aggregate(pairs, array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc,
        array((0 until k).map(i =>
          p.getItem(0) + lit(i.toLong) * p.getItem(1)): _*),
        (a, b) => least(a, b)))
  }

  /** 64-wide SimHash fold: each token's hash is md5 digest bytes 0-7
    * big-endian, assembled from two 8-hex-char halves so no step leaves
    * the signed 64-bit range; bit j is set iff more than half the tokens
    * carry it. */
  private def foldSimhash(text: Column): Column = {
    def half(t: Column, from: Int): Column =
      conv(substring(md5(t), from, 8), 16, 10).cast(LongType)
    val hs = transform(foldTokens(text),
      t => shiftleft(half(t, 1), 32).bitwiseOR(half(t, 9)))
    val n = size(hs)
    val bitCounts = aggregate(
      hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(j =>
          shiftrightunsigned(h, j).bitwiseAND(lit(1L))): _*),
        (a, b) => a + b))
    val weights = array((0 until 64).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(bitCounts, weights,
        (cnt, w) => when(cnt * 2 > n, w).otherwise(lit(0L))),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** The interpreted hashed-bucket fold `hashed_bucket_fold` replaced:
    * a map lookup per token, summed left to right from 0.0. */
  private def foldBuckets(toks: Column, wmap: Column, buckets: Int): Column =
    aggregate(toks, lit(0.0), (acc, t) =>
      acc + element_at(wmap, PortableHash.hash32(t) % buckets))

  private def foldModel(weights: DataFrame): DataFrame =
    weights.agg(map_from_arrays(
      collect_list(col("b")), collect_list(col("w"))).as("wmap"))

  /** Per sf0.001 document: (doc_id, native raw, fold raw), the native
    * side reading the model row `model` (`keys`, `weights`) and the fold
    * the one-row map `wmap`. */
  private def bucketRaws(model: DataFrame, wmap: DataFrame, buckets: Int)
      : Array[(Long, Option[Double], Option[Double])] =
    docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .crossJoin(wmap).crossJoin(model)
      .select(col("doc_id"),
        call_function("hashed_bucket_fold", col("toks"), col("keys"),
          col("weights"), lit(buckets)).as("native"),
        foldBuckets(col("toks"), col("wmap"), buckets).as("fold"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  /** [[bucketRaws]] for a `(b, w)` table: [[TextAnalysis.linearModel]]
    * against the map the interpreted fold built from it. */
  private def tableRaws(weights: DataFrame, buckets: Int) =
    bucketRaws(TextAnalysis.linearModel(weights), foldModel(weights), buckets)

  private def bits(v: Option[Double]): Option[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  /** x_quality_linear's 4096-bucket model, `b` cast to `keyType`. */
  private def qualityWeights(keyType: String): DataFrame =
    spark.range(4096).select(col("id").cast(keyType).as("b"),
      round(((col("id") * 37 + 11) % 201 - 100) / 100.0, 2).as("w"))

  private lazy val docs =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  test("ws_tokens matches the filtered split fold on real documents") {
    val bad = docs
      .select(TextFunctions.tokens(col("text")).as("a"),
        foldTokens(col("text")).as("b"))
      .where(not(col("a") <=> col("b")))
    assert(bad.count() === 0)
  }

  test("ws_tokens yields [] for blank and whitespace-only text") {
    val got = Seq("", "   ", "\t\n", "a  b").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq.empty)
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq("a", "b"))
  }

  test("shingle_set matches the zip_with n-gram fold as a SET on real documents") {
    val bad = docs
      .select(Dedup.shingles(col("text")).as("a"),
        foldShingles(col("text"), 3).as("b"))
      .where(size(array_except(col("a"), col("b"))) > 0 ||
        size(array_except(col("b"), col("a"))) > 0)
    assert(bad.count() === 0)
  }

  test("minhash_sig matches the interpreted double-hash fold bit-for-bit") {
    val bad = docs
      .select(Dedup.shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .select(Dedup.minhashSignature(col("sh")).as("a"),
        foldMinhash(col("sh"), Dedup.MinHashK).as("b"))
      .where(not(col("a") <=> col("b")))
    assert(bad.count() === 0)
  }

  test("simhash64 matches the interpreted 64-wide zip_with fold bit-for-bit") {
    val bad = docs
      .select(Dedup.simhash64(col("text")).as("a"),
        foldSimhash(col("text")).as("b"))
      .where(not(col("a") <=> col("b")))
    assert(bad.count() === 0)
  }

  test("hashed_bucket_fold matches the interpreted map-lookup fold bit-for-bit") {
    def sameBits(got: Array[(Long, Option[Double], Option[Double])]): Unit =
      got.foreach { case (id, native, fold) =>
        assert(bits(native) === bits(fold), s"doc $id")
      }
    // dense 4096-bucket model, bigint and int keyed: every doc scores
    for (keyType <- Seq("bigint", "int")) {
      val got = tableRaws(qualityWeights(keyType), 4096)
      assert(got.length === 500 && got.forall(_._3.isDefined), keyType)
      sameBits(got)
    }
    // sparse model (every 64th bucket absent): a doc touching a missing
    // bucket scores null, as the fold's lookup does
    val sparse = tableRaws(qualityWeights("bigint").where(col("b") % 64 =!= 0), 4096)
    assert(sparse.exists(_._3.isEmpty) && sparse.exists(_._3.isDefined))
    sameBits(sparse)
    // a null weight (every 64th bucket from 1) in the model row: null too.
    // (A (b, w) table cannot carry one this far: collect_list drops the
    // null and the map build fails — see the guards test.)
    val model = TextAnalysis.linearModel(qualityWeights("bigint"))
      .select(col("keys"), transform(col("weights"), (w, i) =>
        when(i % 64 =!= 1, w)).as("weights"))
    val holes = bucketRaws(model,
      model.select(map_from_arrays(col("keys"), col("weights")).as("wmap")), 4096)
    assert(holes.exists(_._3.isEmpty) && holes.exists(_._3.isDefined))
    sameBits(holes)
  }

  test("hashed_bucket_fold: model guards and null tokens behave as the fold did") {
    // a bad (b, w) table fails while building the model: a duplicate
    // bucket with the same error condition on the native path as on the
    // interpreted fold, a null bucket or weight with an error naming it
    def thrown(f: => Any): Exception with org.apache.spark.SparkThrowable =
      intercept[Exception](f) match {
        case e: Exception with org.apache.spark.SparkThrowable => e
        case e => fail(s"not a SparkThrowable: $e")
      }
    val few = docs.limit(5)
    val fewToks = few.select(TextFunctions.tokens(col("text")).as("toks"))
    def table(rows: (Option[Long], Option[Double])*) =
      spark.createDataFrame(rows).toDF("b", "w")
    val dup = table((Some(0L), Some(1.0)), (Some(1L), Some(-1.0)),
      (Some(1L), Some(0.5)))
    val native = thrown(
      TextAnalysis.linearQualityScore(few, dup, 2).collect()).getCondition
    val fold = thrown(fewToks.crossJoin(foldModel(dup))
      .select(foldBuckets(col("toks"), col("wmap"), 2)).collect())
      .getCondition
    assert(native === "DUPLICATED_MAP_KEY")
    assert(fold === native)
    for (bad <- Seq(table((Some(0L), Some(1.0)), (None, Some(-1.0))),
        table((Some(0L), Some(1.0)), (Some(1L), None)))) {
      val err = thrown(TextAnalysis.linearQualityScore(few, bad, 2).collect())
      assert(err.getMessage.contains(
        "linear model: 1 row(s) with a null bucket or weight"), err.getMessage)
    }
    // a null token nulls the sum; a bucket count < 1 and misaligned
    // keys and weights are refused
    assert(spark.sql("SELECT hashed_bucket_fold(array('a', NULL), " +
      "array(0L, 1L), array(0.5d, 0.25d), 2)").head().isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      "SELECT hashed_bucket_fold(array('a'), array(0L), array(1.0d), 0)"))
    intercept[org.apache.spark.sql.AnalysisException](
      TextAnalysis.linearQualityScore(few, qualityWeights("bigint"), 0))
    val misaligned = intercept[Exception](spark.sql(
      "SELECT hashed_bucket_fold(array('a'), array(0L, 1L), array(1.0d), 2)")
      .collect())
    assert(Iterator.iterate[Throwable](misaligned)(_.getCause)
      .takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("2 buckets but 1 weights")))
  }

  test("minhash_sig skips null array elements instead of crashing the task") {
    // SQL-exposed function: array(...NULL...) has containsNull=true; a
    // null entry must contribute nothing to the component minima
    val r = spark.sql(
      """SELECT minhash_sig(array('x', NULL, 'y'), 4) AS a,
        |       minhash_sig(array('x', 'y'), 4) AS b,
        |       minhash_sig(array(CAST(NULL AS STRING)), 4) AS empty
        |""".stripMargin).head()
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    assert(r.getSeq[Long](2) === Seq.fill(4)(Long.MaxValue))
  }

  test("nfc_normalize recomposes decomposed text and is idempotent") {
    val r = spark.sql(
      "SELECT nfc_normalize('café') AS a, " +
        "nfc_normalize('café') AS b, " +
        "nfc_normalize(nfc_normalize('café')) AS c, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS n").head()
    assert(r.getString(0) === "café") // e + U+0301 -> é
    assert(r.getString(1) === "café") // already composed: unchanged
    assert(r.getString(2) === "café") // idempotent
    assert(r.isNullAt(3))
  }

  test("native expressions resolve from SQL text too") {
    val r = spark.sql(
      """SELECT ws_tokens('A  b') AS t,
        |       shingle_set('a b c d', 3) AS s,
        |       minhash_sig(array('x'), 2) AS m,
        |       simhash64('hello') AS h64,
        |       hashed_bucket_fold(array('a', 'b'), array(0L, 1L),
        |         array(0.5d, 0.25d), 2) AS hb""".stripMargin).head()
    assert(r.getSeq[String](0) === Seq("a", "b"))
    assert(r.getSeq[String](1) === Seq("a b c", "b c d"))
    assert(r.getSeq[Long](2).length === 2)
    assert(r.getLong(3) === 0x5d41402abc4b2a76L) // md5('hello') bytes 0-7
    assert(r.getDouble(4) === 0.75) // md5('a') odd -> 0.25, 'b' even -> 0.5
  }
}
