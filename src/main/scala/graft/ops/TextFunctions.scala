package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable text Column builders for the training-data pipeline operators.
  *
  * Everything here is a native Catalyst expression tree (no UDFs): the hot
  * path of a 100 TB document pipeline must stay inside whole-stage codegen
  * and keep the parquet scan prunable to the `text` column alone.
  */
object TextFunctions {

  /** Lower-cased whitespace tokens with empty tokens dropped — the native
    * `ws_tokens` expression ([[graft.functions.WsTokens]]): a single
    * primitive tokenizer loop inside whole-stage codegen. Matches the
    * oracle's `list_filter(str_split_regex(lower(text), '\s+'), t -> t <> '')`
    * on ALL inputs, including blank text (the round-1 `split(trim(...))`
    * form yielded `[""]` there). Requires
    * [[graft.functions.VectorExpressions.register]] on the session (done
    * by every [[graft.core.Tables]] load). */
  def tokens(text: Column): Column = call_function("ws_tokens", text)

  /** BPE-ish lexer: letter runs, digit runs, single punctuation marks.
    * ASCII classes so external SQL engines tokenize identically. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Contiguous word n-grams by zipping n shifted copies of the token
    * array. Lambdas touch only their element variables — referencing the
    * outer token expression inside a lambda body would make Catalyst
    * re-evaluate the tokenization per element (quadratic). */
  def wordNGrams(toks: Column, n: Int): Column = {
    val len = size(toks)
    val grams = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc,
        slice(toks, lit(k), greatest(len - (k - 1), lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    when(len >= n, slice(grams, lit(1), len - (n - 1)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct n-gram shingle set of a document — the native `shingle_set`
    * expression ([[graft.functions.ShingleSet]]): tokenize + n-gram +
    * distinct in one primitive loop, no intermediate token array. */
  def shingles(text: Column, n: Int): Column =
    call_function("shingle_set", text, lit(n))

  /** Whitespace-collapsed, trimmed, lower-cased canonical text. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Deterministic 128-bit content fingerprint of the canonical text. */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))
}
