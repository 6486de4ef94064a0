package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding tokenizer TRAINING, distributed (Sennrich et al.
  * 2016 — the algorithm behind GPT-2/RoBERTa-class vocabularies):
  * starting from characters, repeatedly find the most frequent
  * adjacent symbol pair across the corpus and merge it into a new
  * symbol, N times. The learned merge list IS the tokenizer.
  *
  * Scale shape — the part that matters at 100 TB: training runs on the
  * WORD-FREQUENCY table, not the corpus. The corpus is read once to
  * count words (one map-side-combinable shuffle); from then on every
  * iteration touches only the vocabulary (unique words + counts —
  * millions of rows where the corpus has trillions). Each round is one
  * pair-explode + weighted count (shuffle on pair), one single-row
  * argmax to the driver (the merge decision — O(1) data), and one
  * scan-side merge rewrite, with `localCheckpoint` pinning the
  * segmentation between rounds so the plan never grows.
  *
  * Segmentations are SPACE-JOINED SYMBOL STRINGS and a merge is the
  * doubled-space `replace` rewrite (expand gaps to two spaces, replace
  * `' A  B '` with `' AB '`, collapse): plain left-to-right
  * non-overlapping string replacement — same greedy-left semantics as
  * the reference implementation's list walk, and expressible
  * IDENTICALLY in any SQL engine, which is what makes the whole
  * training loop oracle-checkable against DuckDB.
  */
object Bpe {

  /** One learned merge: `rank` = 1-based merge order, `left`/`right`
    * the merged symbols, `pair_count` the weighted frequency that won
    * the round. */
  final case class Merge(rank: Int, left: String, right: String,
      pair_count: Long)

  /** `words`: (`word`, `freq`) — unique words with corpus counts.
    * Returns the learned merges (in order) and the final per-word
    * segmentation table (`word`, `freq`, `seg` — space-joined
    * symbols), which doubles as the ENCODE lookup: segmenting a corpus
    * whose words are all in the training vocabulary is a join against
    * it. Training stops early if no pair is left to merge. */
  def train(words: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    // initial segmentation: one symbol per character
    var seg = Checkpoints.pin(words.select(col("word"), col("freq"),
      expr("concat_ws(' ', transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1)))").as("seg")))
    val merges = Vector.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      // adjacent symbol pairs, weighted by word frequency — shuffle of
      // (pair, partial count) only, map-side combined
      val pairs = seg
        .select(col("freq"), split(col("seg"), " ").as("ss"))
        .where(size(col("ss")) >= 2)
        .select(col("freq"), explode(expr(
          "zip_with(slice(ss, 1, size(ss) - 1), " +
            "slice(ss, 2, size(ss) - 1), (a, b) -> concat(a, ' ', b))"))
          .as("p"))
        .groupBy("p").agg(sum(col("freq")).as("n"))
      // the round's single-row merge decision: most frequent pair,
      // ties broken lexicographically — deterministic cross-engine
      val top = pairs.orderBy(col("n").desc, col("p")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val n = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += Merge(r, a, b, n)
        val merged = a + b
        // doubled-space rewrite: each gap becomes two spaces so every
        // occurrence of the pair owns its boundaries; plain replace is
        // then exactly greedy-left non-overlapping merging
        val next = Checkpoints.pin(seg.withColumn("seg",
          trim(replace(replace(
            concat(lit(" "), replace(col("seg"), lit(" "), lit("  ")),
              lit(" ")),
            lit(s" $a  $b "), lit(s" $merged ")),
            lit("  "), lit(" ")))))
        // eager pin: the superseded round is never read again
        Checkpoints.release(seg)
        seg = next
        r += 1
      }
    }
    (merges.result(), seg)
  }

  /** The corpus word-frequency table: lowercase whitespace tokens of
    * `documents.text`, counted — the one corpus-scale pass. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Per-document BPE token counts under a trained segmentation: every
    * corpus word is in the training vocabulary by construction, so
    * encoding is a broadcast-or-shuffle join against the segmentation
    * table — no per-document merge walk. */
  def encodeCounts(docs: DataFrame, segTable: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("word"))
      .join(segTable.select(col("word"),
        size(split(col("seg"), " ")).cast("long").as("n_sym")), "word")
      .groupBy("doc_id")
      .agg(sum(col("n_sym")).as("bpe_tokens"),
        count(lit(1)).as("ws_tokens"))
}
