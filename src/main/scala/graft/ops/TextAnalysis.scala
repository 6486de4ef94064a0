package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis: quality scoring, token statistics,
  * language identification. All per-row narrow transforms — they scale
  * linearly with the scan and never shuffle.
  */
object TextAnalysis {

  /** Small per-language stopword dictionaries for the n-gram/stopword
    * language-ID heuristic. Deliberately tiny — the operator's value is
    * the scoring plumbing; swap in real dictionaries for production. */
  val StopwordsByLang: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zhe", "ta"))

  private def containsLit(values: Seq[String])(t: Column): Column =
    array_contains(array(values.map(lit): _*), t)

  /** Count of tokens that appear in `values`. */
  def stopwordHits(toks: Column, values: Seq[String]): Column =
    size(filter(toks, t => containsLit(values)(t)))

  /** Language-ID by stopword-hit scoring: argmax over per-language hit
    * counts, ties broken by language code; `und` when nothing hits. */
  def langIdCol(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    // build [struct(hits, lang), ...] and take the max — struct ordering
    // compares fields left-to-right, so (hits, lang) max = argmax w/ tie
    // on the *largest* code; negate via reverse alphabet trick is
    // overkill — instead order by (hits, reversed rank) using index.
    val scored = StopwordsByLang.toSeq.sortBy(_._1).reverse.zipWithIndex.map {
      case ((lang, words), idx) =>
        struct(
          stopwordHits(toks, words).as("hits"),
          lit(idx).as("rank"), // later in alphabet = lower rank
          lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Quality-signal columns for a document text column:
    * character/word counts, mean word length, punctuation and stopword
    * ratios, and a blended [0,1] quality score. */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val toks = TextFunctions.tokens(text)
    val nChars = length(text).cast("double")
    val nWords = size(toks).cast("double")
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("double")
    val stops = stopwordHits(toks, StopwordsByLang("en")).cast("double")
    val meanWordLen = when(nWords > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / nWords).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    val stopRatio = when(nWords > 0, stops / nWords).otherwise(lit(0.0))
    // Blend: reward stopword presence and 3-8 char mean words, punish
    // punctuation soup and degenerate lengths.
    val score =
      when(nWords < 5, lit(0.0)).otherwise(
        lit(0.4) * least(stopRatio * 4, lit(1.0)) +
        lit(0.3) * when(meanWordLen.between(3, 8), 1.0).otherwise(0.3) +
        lit(0.3) * (lit(1.0) - least(punctRatio * 5, lit(1.0))))
    Seq(
      "n_chars_m" -> length(text).cast("long"),
      "n_words" -> size(toks).cast("long"),
      "mean_word_len" -> round(meanWordLen, 4),
      "punct_ratio" -> round(punctRatio, 6),
      "stopword_ratio" -> round(stopRatio, 6),
      "quality_score" -> round(score, 4))
  }

  /** documents → per-doc quality signal table. */
  def qualityTable(docs: DataFrame): DataFrame = {
    val cols = qualitySignals(col("text")).map { case (n, c) => c.as(n) }
    docs.select(col("doc_id") +: cols: _*)
  }

  /** documents → predicted language table. */
  def langIdTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("lang_actual"),
      langIdCol(col("text")).as("lang_pred"))

  /** Hashed LINEAR quality classifier inference (the fastText shape the
    * published curation pipelines run at corpus scale): each document is
    * scored `sigmoid(mean of w[hash(token) % B])` against a pretrained
    * bucket-weight table, `keep` = positive margin.
    *
    * `weights` is the model artifact — a (b: bucket id, w: weight)
    * table covering every bucket in [0, B). It is collapsed to a SINGLE
    * row ([[linearModel]]) and broadcast, so a bad table fails once,
    * while the row is built: a duplicate bucket raises
    * `DUPLICATED_MAP_KEY`, and a null bucket or weight raises an error
    * that counts the null rows. Scoring is the native
    * `hashed_bucket_fold` ([[graft.functions.HashedBucketFold]]) over
    * each document's tokens: one md5 and one binary search per token,
    * O(log B), in a strict left fold from 0.0 in token order (not a map
    * lookup: `element_at` on a map scans its keys, linear in B per
    * token). A bucket missing from the model gives a null margin;
    * `buckets` < 1 fails analysis. Inference pays ZERO corpus-side
    * shuffle and stays embarrassingly parallel at 100 TB (contrast
    * `x_dsir_weights`, which must shuffle (doc, bucket) counts because
    * it FITS its model on the corpus — applying a model needs no such
    * pass). The model row is 16 bytes per bucket; a 2^20-bucket
    * production model broadcasts at ~16 MB, the same ballpark as a
    * Bloom runtime filter.
    *
    * The margin rounds to 6 dp BEFORE the sigmoid so an external
    * engine's floating sum order cannot flip `keep` or the 6-dp score. */
  def linearQualityScore(docs: DataFrame, weights: DataFrame,
      buckets: Int): DataFrame = {
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
      .crossJoin(broadcast(linearModel(weights)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        call_function("hashed_bucket_fold", col("toks"), col("keys"),
          col("weights"), lit(buckets)).as("raw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("raw") / col("n_tokens"), 6).as("margin"))
      .select(col("doc_id"), col("n_tokens"), col("margin"),
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6).as("score"),
        (col("margin") > 0).as("keep"))
  }

  /** A (b, w) bucket-weight table as the one-row model
    * [[linearQualityScore]] broadcasts: `keys` (bigint buckets, ascending)
    * and `weights` (double) aligned to them, sorted once here so each
    * lookup can binary-search. A row with a null bucket or weight fails
    * the build by name, counted in the same aggregate (`collect_list`
    * would drop the null and leave the lists misaligned). */
  def linearModel(weights: DataFrame): DataFrame = {
    val nulls = count(when(col("b").isNull || col("w").isNull, lit(1)))
    weights
      .agg(when(nulls > 0, raise_error(concat(lit("linear model: "),
          nulls.cast("string"),
          lit(" row(s) with a null bucket or weight")))).otherwise(
          map_from_arrays(collect_list(col("b")), collect_list(col("w"))))
        .as("wmap"))
      .select(sort_array(map_entries(col("wmap"))).as("e"))
      .select(col("e.key").cast("array<bigint>").as("keys"),
        col("e.value").cast("array<double>").as("weights"))
  }
}
