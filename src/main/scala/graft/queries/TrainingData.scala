package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{TextAnalysis, TextFunctions}

/** Training-data pipeline surface over `documents` / `embeddings` /
  * `events`: dedup, text analysis, similarity, multimodal plumbing.
  * Grows alongside `graft.ops`.
  */
object TrainingData {

  // ---------------------------------------------------------- exact dedup
  /** Exact dedup via content-hash groupBy: at 100 TB you shuffle a 32-byte
    * digest + id, never the document bodies (contrast `dropDuplicates()`
    * over full rows, which shuffles everything). */
  private val dedupExact = GraftQuery(
    "x_dedup_exact_hash",
    (s, d) => Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_fp"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS content_fp,
            MIN(doc_id) AS keeper_id,
            CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY md5(text)"""))

  // ---------------------------------------------------------- token stats
  /** Whitespace + BPE-ish regex token counting (narrow, codegen'd). */
  private val tokenCount = GraftQuery(
    "x_token_count",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_m")),
    Some("""SELECT doc_id,
            CAST(len(list_filter(str_split_regex(lower(text), '\s+'),
                                 t -> t <> '')) AS BIGINT) AS ws_tokens,
            CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
            CAST(length(text) AS BIGINT) AS n_chars_m
            FROM documents"""))

  // ------------------------------------------------------- char entropy
  /** Code-point Shannon entropy per document (codegen'd `char_entropy`
    * kernel) — the cheap gibberish detector: prose sits ~3.5-4.5 bits,
    * base64/hex saturates toward log2(alphabet), repeated-char spam
    * collapses toward 0. Scan-speed, no shuffle; thresholds compose
    * with the quality gate. */
  private val charEntropy = GraftQuery(
    "x_char_entropy",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      round(call_function("char_entropy", col("text")), 6)
        .as("char_entropy")),
    Some("""WITH ch AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, length(text)),
                i -> substring(text, i, 1))) AS c
            FROM documents),
            cc AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS n
                   FROM ch GROUP BY 1, 2),
            tot AS (SELECT doc_id, SUM(n) AS t FROM cc GROUP BY 1)
            SELECT doc_id,
              ROUND(COALESCE(-SUM((n / t) * log2(n / t)), 0.0), 6)
                AS char_entropy
            FROM documents LEFT JOIN cc USING (doc_id)
                           LEFT JOIN tot USING (doc_id)
            GROUP BY doc_id"""))

  // ---------------------------------------------------- bigram log-lik
  /** Perplexity-proxy scoring with a corpus-fit model: token-BIGRAM MLE
    * probabilities are estimated over the whole corpus (one map-side-
    * combinable count shuffle), then every document is scored by its
    * mean log2-likelihood under that model — documents whose word
    * transitions look nothing like the corpus (boilerplate, spam,
    * wrong-language fragments) fall to the tail. The scoring join is
    * deliberately UN-hinted: the distinct-bigram model grows with
    * corpus text (heavy-tailed, no cap), so Spark broadcasts it while
    * it is small and falls back to a co-partitioned shuffle join at
    * vocabulary scales no driver could ship — the same size-adaptive
    * discipline as `Dedup.verifyPairs`. The real-pipeline shape of
    * "filter by LM perplexity" without shipping a neural LM into the
    * engine. */
  private val bigramLoglik = GraftQuery(
    "x_bigram_loglik",
    (s, d) => {
      val toks = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
      val bigrams = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      val model = bigrams.groupBy("bg").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(
          bigrams.agg(count(lit(1)).as("total"))))
        .select(col("bg"), (col("n") / col("total")).as("p"))
      bigrams.join(model, "bg")
        .groupBy("doc_id")
        .agg(round(avg(log2(col("p"))), 6).as("mean_log2p"),
          count(lit(1)).as("n_bigrams"))
    },
    Some("""WITH toks AS (SELECT doc_id,
              list_filter(str_split_regex(lower(text), '\s+'),
                          t -> t <> '') AS toks
            FROM documents),
            bg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM toks WHERE len(toks) >= 2),
            model AS (SELECT bg,
              CAST(COUNT(*) AS DOUBLE)
                / (SELECT COUNT(*) FROM bg) AS p
            FROM bg GROUP BY bg)
            SELECT doc_id, ROUND(AVG(log2(p)), 6) AS mean_log2p,
              CAST(COUNT(*) AS BIGINT) AS n_bigrams
            FROM bg JOIN model USING (bg)
            GROUP BY doc_id"""))

  // --------------------------------------------------- DSIR importance
  /** Data selection via importance weighting (the hashed-n-gram DSIR
    * recipe): score every document by how much more likely its tokens
    * are under a TARGET-domain model than under the raw-corpus model,
    * using Laplace-smoothed hashed-unigram bucket distributions
    * (B = 256 buckets, portable md5 hash). Per-doc weight = the
    * token-count-weighted mean of the per-bucket log ratios;
    * `selected` = more target-like than raw. The target exemplar here
    * is `source = 'src1'` (in production: the trusted corpus the
    * pretraining mix should lean toward).
    *
    * Scale shape: the model is FIXED-SIZE by construction — hashing
    * collapses any vocabulary into B buckets, so both models fit in a
    * broadcast no matter the corpus (the whole point of DSIR's hashed
    * features); the corpus pays one (doc, bucket) count shuffle and a
    * broadcast join back. Per-bucket log-ratios round to 6 before the
    * weighted sum (the sum to 5) so cross-engine `ln` last-ulp noise
    * cannot flip a selection — BM25's rounding discipline. */
  private val dsirWeights = GraftQuery(
    "x_dsir_weights",
    (s, d) => {
      val B = 256
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .withColumn("b", graft.ops.PortableHash.hash32(col("term")) % B)
      val raw = tok.groupBy("b").agg(count(lit(1)).as("nr"))
      val tgt = tok.where(col("source") === "src1")
        .groupBy("b").agg(count(lit(1)).as("nt"))
      val tots = tok.agg(
        count(lit(1)).as("rt"),
        count(when(col("source") === "src1", 1)).as("tt"))
      val lam = raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(tots))
        .select(col("b"),
          round(log((coalesce(col("nt"), lit(0L)) + 1.0) / (col("tt") + B))
            - log((col("nr") + 1.0) / (col("rt") + B)), 6).as("lam"))
      tok.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .join(broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(round(sum(col("c") * col("lam")) / sum(col("c")), 5)
            .as("dsir_logratio"),
          sum(col("c")).cast("long").as("n_tokens"))
        .withColumn("selected", col("dsir_logratio") > 0)
    },
    Some("""WITH toks AS (SELECT doc_id, source,
              list_filter(str_split_regex(lower(text), '\s+'),
                          t -> t <> '') AS toks
            FROM documents),
            tb AS (SELECT doc_id, source,
              CAST('0x' || substring(md5(t.term), 1, 8) AS BIGINT) % 256 AS b
            FROM (SELECT doc_id, source, unnest(toks) AS term
                  FROM toks) t),
            raw AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS nr
                    FROM tb GROUP BY 1),
            tgt AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS nt
                    FROM tb WHERE source = 'src1' GROUP BY 1),
            tots AS (SELECT
              (SELECT CAST(COUNT(*) AS DOUBLE) FROM tb) AS rt,
              (SELECT CAST(COUNT(*) AS DOUBLE) FROM tb
               WHERE source = 'src1') AS tt),
            lam AS (SELECT raw.b,
              ROUND(ln((COALESCE(nt, 0) + 1.0) / (tt + 256))
                    - ln((nr + 1.0) / (rt + 256)), 6) AS lam
            FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots),
            pd AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
                   FROM tb GROUP BY 1, 2)
            SELECT doc_id,
              ROUND(SUM(c * lam) / SUM(c), 5) AS dsir_logratio,
              CAST(SUM(c) AS BIGINT) AS n_tokens,
              (ROUND(SUM(c * lam) / SUM(c), 5) > 0) AS selected
            FROM pd JOIN lam USING (b) GROUP BY doc_id"""))

  // ------------------------------------------------- perplexity buckets
  /** CCNet-style perplexity bucketing: score every document under the
    * corpus-fit bigram LM (the [[bigramLoglik]] derivation), then split
    * the corpus into head / middle / tail TERCILES of the score — the
    * classic curation gate that keeps head+middle and drops (or
    * down-weights) tail. The cut points reduce to ONE broadcast row;
    * the corpus never sorts globally — at 100 TB the ntile-window
    * formulation would funnel every row through one partition, while
    * this shape pays the model shuffle the LM already paid plus a
    * scan-side CASE. Scores round to 6 and the cuts to 4 (coarser, the
    * percentile-filter discipline) so cross-engine interpolation noise
    * cannot flip a bucket.
    *
    * The tercile cuts come from [[graft.ops.Percentiles.exactCont]], NOT
    * Spark's exact `percentile` aggregate: the latter funnels every
    * distinct score of the whole corpus into ONE aggregation buffer,
    * while the histogram form shuffles one row per distinct 6-dp score
    * (bounded by score granularity, not corpus size) and still matches
    * `quantile_cont` bit-for-bit — the oracle stays hash-exact
    * (`PercentilesSpec` pins cut and bucket equality vs the exact
    * aggregate at sf0.1). */
  private val pplBuckets = GraftQuery(
    "x_ppl_buckets",
    (s, d) => {
      val toks = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
      val bigrams = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      val model = bigrams.groupBy("bg").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(bigrams.agg(count(lit(1)).as("total"))))
        .select(col("bg"), (col("n") / col("total")).as("p"))
      val scored = bigrams.join(model, "bg")
        .groupBy("doc_id")
        .agg(round(avg(log2(col("p"))), 6).as("lm_score"))
      val cuts = graft.ops.Percentiles
        .exactCont(scored, "lm_score", Seq(1.0 / 3 -> "c1", 2.0 / 3 -> "c2"))
        .select(round(col("c1"), 4).as("c1"), round(col("c2"), 4).as("c2"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("lm_score"),
          when(col("lm_score") <= col("c1"), lit("tail"))
            .when(col("lm_score") <= col("c2"), lit("middle"))
            .otherwise(lit("head")).as("ppl_bucket"))
    },
    Some("""WITH toks AS (SELECT doc_id,
              list_filter(str_split_regex(lower(text), '\s+'),
                          t -> t <> '') AS toks
            FROM documents),
            bg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM toks WHERE len(toks) >= 2),
            model AS (SELECT bg,
              CAST(COUNT(*) AS DOUBLE)
                / (SELECT COUNT(*) FROM bg) AS p
            FROM bg GROUP BY bg),
            scored AS (SELECT doc_id, ROUND(AVG(log2(p)), 6) AS lm_score
                       FROM bg JOIN model USING (bg) GROUP BY doc_id),
            cuts AS (SELECT
              ROUND(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 4) AS c1,
              ROUND(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 4) AS c2
              FROM scored)
            SELECT doc_id, lm_score,
              CASE WHEN lm_score <= c1 THEN 'tail'
                   WHEN lm_score <= c2 THEN 'middle'
                   ELSE 'head' END AS ppl_bucket
            FROM scored, cuts"""))

  // --------------------------------------------- temperature source mix
  /** Temperature-scaled source sampling (the multilingual-pretraining
    * mixing rule): target share ∝ (token share)^τ with τ = 0.7 — rare
    * sources are up-weighted, dominant ones damped — realized as a
    * deterministic per-source ACCEPT RATE (target/actual, normalized so
    * the most-boosted source keeps everything) applied via the portable
    * id hash. The rate table is |sources| rows broadcast back; the
    * corpus pays one scan with a pushdown-friendly filter, no rand(),
    * no shuffle — rerunning yields the identical sample on any cluster
    * size. Every derived ratio rounds to 6 so libm pow() last-ulp
    * differences cannot flip an accept decision. */
  private val sourceTemperature = GraftQuery(
    "x_source_temperature",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      val bySrc = toks.groupBy("source").agg(sum(col("n_tok")).as("tok"))
      val shares = bySrc
        .crossJoin(broadcast(bySrc.agg(sum(col("tok")).as("tot"))))
        .select(col("source"), round(col("tok") / col("tot"), 6).as("share"))
        .select(col("source"), col("share"),
          round(pow(col("share"), 0.7), 6).as("w"))
      val target = shares
        .crossJoin(broadcast(shares.agg(round(sum(col("w")), 6).as("sw"))))
        .select(col("source"), col("share"),
          round(col("w") / col("sw"), 6).as("p_target"))
      val rated = target.select(col("source"),
        round(col("p_target") / col("share"), 6).as("raw_rate"))
      val rates = rated
        .crossJoin(broadcast(rated.agg(max(col("raw_rate")).as("mr"))))
        .select(col("source"),
          round(col("raw_rate") / col("mr"), 6).as("accept_rate"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(rates), "source")
        .where((graft.ops.PortableHash.hash60(col("doc_id").cast("string"))
          % 1000000L) / lit(1000000.0) < col("accept_rate"))
        .select(col("doc_id"), col("source"), col("accept_rate"))
    },
    Some("""WITH toks AS (SELECT doc_id, source,
              len(list_filter(str_split_regex(lower(text), '\s+'),
                  t -> t <> '')) AS n_tok
            FROM documents),
            bysrc AS (SELECT source, SUM(n_tok) AS tok FROM toks GROUP BY 1),
            shares AS (SELECT source,
              ROUND(CAST(tok AS DOUBLE) / (SELECT SUM(tok) FROM bysrc), 6)
                AS share
            FROM bysrc),
            w AS (SELECT source, share, ROUND(pow(share, 0.7), 6) AS w
                  FROM shares),
            tgt AS (SELECT source, share,
              ROUND(w / (SELECT ROUND(SUM(w), 6) FROM w), 6) AS p_target
            FROM w),
            rated AS (SELECT source, ROUND(p_target / share, 6) AS raw_rate
                      FROM tgt),
            rates AS (SELECT source,
              ROUND(raw_rate / (SELECT MAX(raw_rate) FROM rated), 6)
                AS accept_rate
            FROM rated)
            SELECT doc_id, source, accept_rate
            FROM documents JOIN rates USING (source)
            WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 1000000 / 1000000.0 < accept_rate"""))

  // -------------------------------------------------------- quality score
  /** Length/punctuation/stopword quality signals + blended score. */
  private val qualityScore = GraftQuery(
    "x_quality_score",
    (s, d) => TextAnalysis.qualityTable(Tables.documents(s, d)),
    Some {
      val stops = TextAnalysis.StopwordsByLang("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
            SELECT doc_id, text,
              list_filter(str_split_regex(lower(text), '\\s+'),
                          x -> x <> '') AS toks,
              CAST(length(text) AS DOUBLE) AS nc,
              CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                   AS DOUBLE) AS punct
            FROM documents),
          u AS (
            SELECT doc_id, nc, punct,
              CAST(len(toks) AS DOUBLE) AS nw,
              CAST(len(list_filter(toks,
                   x -> list_contains($stops, x))) AS DOUBLE) AS stops,
              CAST(list_sum(list_transform(toks, x -> length(x)))
                   AS DOUBLE) AS charsum
            FROM t)
          SELECT doc_id,
            CAST(nc AS BIGINT) AS n_chars_m,
            CAST(nw AS BIGINT) AS n_words,
            ROUND(CASE WHEN nw > 0 THEN charsum / nw ELSE 0.0 END, 4)
              AS mean_word_len,
            ROUND(CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END, 6)
              AS punct_ratio,
            ROUND(CASE WHEN nw > 0 THEN stops / nw ELSE 0.0 END, 6)
              AS stopword_ratio,
            ROUND(CASE WHEN nw < 5 THEN 0.0 ELSE
              0.4 * LEAST((CASE WHEN nw > 0 THEN stops / nw ELSE 0.0 END)
                          * 4, 1.0) +
              0.3 * (CASE WHEN (CASE WHEN nw > 0 THEN charsum / nw
                                ELSE 0.0 END) BETWEEN 3 AND 8
                     THEN 1.0 ELSE 0.3 END) +
              0.3 * (1.0 - LEAST((CASE WHEN nc > 0 THEN punct / nc
                                  ELSE 0.0 END) * 5, 1.0)) END, 4)
              AS quality_score
          FROM u"""
    })

  // ------------------------------------------------------- Gopher rules
  /** The published Gopher/MassiveText repetition-free quality gate
    * (Rae et al. 2021, Table A1) as one scan-side pass: per-document
    * rule measurements plus 0/1 flags and the conjunctive keep
    * decision. Every rule is pure column algebra over the tokenized
    * text — word-count bounds, mean-word-length band, symbol-to-word
    * ratio ('#' and '...'), bullet-start / ellipsis-end line fractions,
    * alphabetic-word fraction, required-stopword count — so the gate
    * runs at scan speed with NO shuffle and composes with the
    * pushdown-friendly filters around it: at 100 TB this is a
    * map-stage predicate, exactly like the published pipeline applies
    * it. Ratios divide exact integers (IEEE-identical in any engine),
    * so the flag comparisons are portable without rounding games;
    * reported ratios are rounded for the hash only. */
  private val qualityGopher = GraftQuery(
    "x_quality_gopher",
    (s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id"), col("text"), toks.as("toks"),
        split(col("text"), "\n").as("lines"))
      val reqStops = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")
      val nw = size(col("toks")).cast("double")
      val charsum = aggregate(transform(col("toks"), t => length(t)),
        lit(0), (acc, x) => acc + x).cast("double")
      val nSym = (length(col("text"))
        - length(regexp_replace(col("text"), "#", ""))).cast("double") +
        (length(col("text"))
          - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3.0
      val nLines = size(col("lines")).cast("double")
      val nBullet = size(filter(col("lines"), l =>
        l.startsWith("-") || l.startsWith("*") ||
          l.startsWith("•"))).cast("double")
      val nEllip = size(filter(col("lines"), l =>
        l.endsWith("...") || l.endsWith("…"))).cast("double")
      val nAlpha = size(filter(col("toks"),
        t => t.rlike("[a-z]"))).cast("double")
      val nStops = size(filter(
        lit(reqStops.toArray), w => array_contains(col("toks"), w)))
      val measured = base.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (charsum / nw).as("mwl"),
        (nSym / nw).as("symr"),
        (nBullet / nLines).as("bulf"),
        (nEllip / nLines).as("ellf"),
        (nAlpha / nw).as("alpf"),
        nStops.cast("long").as("n_req_stops"))
      measured.select(
        col("doc_id"), col("n_words"),
        round(col("mwl"), 4).as("mean_word_len"),
        round(col("symr"), 6).as("symbol_ratio"),
        round(col("bulf"), 6).as("bullet_frac"),
        round(col("ellf"), 6).as("ellipsis_frac"),
        round(col("alpf"), 6).as("alpha_frac"),
        col("n_req_stops"),
        (col("n_words") >= 50 && col("n_words") <= 100000)
          .cast("int").as("pass_words"),
        (col("mwl") >= 3.0 && col("mwl") <= 10.0)
          .cast("int").as("pass_word_len"),
        (col("symr") < 0.1).cast("int").as("pass_symbols"),
        (col("bulf") < 0.9).cast("int").as("pass_bullets"),
        (col("ellf") < 0.3).cast("int").as("pass_ellipsis"),
        (col("alpf") > 0.8).cast("int").as("pass_alpha"),
        (col("n_req_stops") >= 2).cast("int").as("pass_stops"))
        .withColumn("keep",
          (col("pass_words") * col("pass_word_len") * col("pass_symbols")
            * col("pass_bullets") * col("pass_ellipsis")
            * col("pass_alpha") * col("pass_stops")).cast("int"))
    },
    Some("""WITH t AS (
        SELECT doc_id, text,
          list_filter(str_split_regex(lower(text), '\s+'),
                      x -> x <> '') AS toks,
          str_split(text, chr(10)) AS lines
        FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / len(toks) AS mwl,
          (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
            + (length(text) - length(replace(text, '...', ''))) / 3.0)
            / len(toks) AS symr,
          CAST(len(list_filter(lines, l -> starts_with(l, '-')
            OR starts_with(l, '*') OR starts_with(l, chr(8226))))
            AS DOUBLE) / len(lines) AS bulf,
          CAST(len(list_filter(lines, l -> ends_with(l, '...')
            OR ends_with(l, chr(8230)))) AS DOUBLE) / len(lines) AS ellf,
          CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
            AS DOUBLE) / len(toks) AS alpf,
          CAST(len(list_filter(['the','be','to','of','and','that',
            'have','with'], w -> list_contains(toks, w))) AS BIGINT)
            AS n_req_stops
        FROM t)
      SELECT doc_id, n_words,
        ROUND(mwl, 4) AS mean_word_len,
        ROUND(symr, 6) AS symbol_ratio,
        ROUND(bulf, 6) AS bullet_frac,
        ROUND(ellf, 6) AS ellipsis_frac,
        ROUND(alpf, 6) AS alpha_frac,
        n_req_stops,
        CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS pass_words,
        CAST(mwl >= 3.0 AND mwl <= 10.0 AS INT) AS pass_word_len,
        CAST(symr < 0.1 AS INT) AS pass_symbols,
        CAST(bulf < 0.9 AS INT) AS pass_bullets,
        CAST(ellf < 0.3 AS INT) AS pass_ellipsis,
        CAST(alpf > 0.8 AS INT) AS pass_alpha,
        CAST(n_req_stops >= 2 AS INT) AS pass_stops,
        CAST(n_words >= 50 AND n_words <= 100000 AS INT)
          * CAST(mwl >= 3.0 AND mwl <= 10.0 AS INT)
          * CAST(symr < 0.1 AS INT)
          * CAST(bulf < 0.9 AS INT)
          * CAST(ellf < 0.3 AS INT)
          * CAST(alpf > 0.8 AS INT)
          * CAST(n_req_stops >= 2 AS INT) AS keep
      FROM m"""))

  // ------------------------------------------------------ text cleaning
  /** Pre-tokenization text canonicalization — the step every curation
    * pipeline runs before hashing or shingling: Unicode NFC (via the
    * engine's codegen'd `nfc_normalize`), C0-control/DEL stripping, and
    * whitespace-run collapse to single spaces with edge trim. The
    * corpus is clean ASCII, so the query first injects a deterministic
    * mess (a decomposed accent, a control byte, doubled spaces, a tab)
    * into every row and the oracle must agree on the repaired text —
    * proving each stage does real work. Entirely scan-side: three
    * codegen'd string kernels, no shuffle, pushdown unaffected. */
  private val textClean = GraftQuery(
    "x_text_clean",
    (s, d) => {
      val mess = concat(col("text"),
        lit("\te\u0301\u0001x  y\u0007 "))
      val clean = trim(regexp_replace(regexp_replace(
        call_function("nfc_normalize", mess),
        "[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]", ""),
        "[\\t\\n\\f\\r ]+", " "))
      Tables.documents(s, d).select(
        col("doc_id"), clean.as("clean_text"),
        length(clean).cast("long").as("n_chars_clean"))
    },
    Some("""WITH deco AS (SELECT doc_id,
          text || chr(9) || 'e' || chr(769) || chr(1) || 'x  y'
               || chr(7) || ' ' AS mess
        FROM documents),
      c AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(nfc_normalize(mess),
            '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g'),
            '[\t\n\f\r ]+', ' ', 'g')) AS clean_text
        FROM deco)
      SELECT doc_id, clean_text,
             CAST(length(clean_text) AS BIGINT) AS n_chars_clean
      FROM c"""))

  // --------------------------------------------------------- fingerprints
  /** Canonical-text md5 document fingerprinting. */
  private val fingerprint = GraftQuery(
    "x_fingerprint",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp_md5")),
    Some("""SELECT doc_id,
            md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
              AS fp_md5
            FROM documents"""))

  // ------------------------------------------------------- events windows
  /** Tumbling-hour event rollup — the batch twin of the Structured
    * Streaming window aggregation (same plan shape as
    * `groupBy(window($"ts", "1 hour"), ...)`). */
  private val eventsHourly = GraftQuery(
    "x_events_hourly_window",
    (s, d) => Tables.events(s, d)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value")),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
              AS hour,
            event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
            ROUND(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2"""))

  // -------------------------------------------------------- gap filling
  /** Calendar-spine gap filling: a dense hourly series per event type,
    * zero-filled where no events landed — what every downstream
    * time-series consumer (charting, anomaly windows, forecasting)
    * needs and sparse group-bys don't give. The spine is generated
    * (hours × types — tiny) and joins against the ALREADY-AGGREGATED
    * hourly table; the raw corpus is scanned exactly once. */
  private val gapFill = GraftQuery(
    "x_events_gap_fill",
    (s, d) => {
      val e = Tables.events(s, d)
      val hourly = e.groupBy(date_trunc("hour", col("ts")).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val bounds = e.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = bounds.select(explode(
        sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
      spine.crossJoin(e.select("event_type").distinct())
        .join(hourly, Seq("h", "event_type"), "left")
        .select(
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"),
          coalesce(col("n"), lit(0)).cast("long").as("n_events"))
    },
    Some("""WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi FROM events),
            sp AS (SELECT unnest(generate_series(lo, hi,
                     INTERVAL 1 HOUR)) AS h FROM b),
            ty AS (SELECT DISTINCT event_type FROM events),
            hc AS (SELECT date_trunc('hour', ts) AS h, event_type,
                     CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2)
            SELECT strftime(sp.h, '%Y-%m-%d %H:%M:%S') AS hour,
              ty.event_type,
              CAST(COALESCE(n, 0) AS BIGINT) AS n_events
            FROM sp CROSS JOIN ty
            LEFT JOIN hc ON hc.h = sp.h AND hc.event_type = ty.event_type"""))

  // ----------------------------------------------------------- language ID
  /** Stopword-hit argmax language identification; ties break to the
    * alphabetically-first language, `und` when nothing hits. */
  private val langId = GraftQuery(
    "x_lang_id",
    (s, d) => TextAnalysis.langIdTable(Tables.documents(s, d)),
    Some {
      val langs = TextAnalysis.StopwordsByLang.keys.toSeq.sorted // de en es fr zh
      def hits(lang: String): String = {
        val lits = TextAnalysis.StopwordsByLang(lang)
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($lits, t)))"
      }
      val hitCols = langs.map(l => s"${hits(l)} AS h_$l").mkString(", ")
      // alphabetical-priority argmax: lang L wins if its hits >= every
      // later language's hits (earlier ones already failed their test)
      val caseArms = langs.init.map { l =>
        val rest = langs.drop(langs.indexOf(l) + 1).map(r => s"h_$r")
        val bound = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
        s"WHEN h_$l >= $bound THEN '$l'"
      }.mkString(" ")
      s"""WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(str_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS toks
            FROM documents),
          h AS (SELECT doc_id, lang, $hitCols FROM toks)
          SELECT doc_id, lang AS lang_actual,
            CASE WHEN ${langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")} = 0
                 THEN 'und' $caseArms ELSE '${langs.last}' END AS lang_pred
          FROM h"""
    })

  // ------------------------------------------------------ sessionization
  /** Batch gap-islands sessionization (window lag + running sum): the
    * relational twin of the streaming `EventStreams.sessionize` state
    * machine. A session breaks after a 30-minute silence; microsecond
    * epoch arithmetic keeps both engines exact. */
  private val sessionize = GraftQuery(
    "x_events_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      val prev = lag(unix_micros(col("ts")), 1).over(w)
      Tables.events(s, d)
        .withColumn("new_sess",
          when(prev.isNull || unix_micros(col("ts")) - prev > gapUs, 1)
            .otherwise(0))
        .withColumn("sess_idx",
          sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          round(sum(col("value")), 2).as("total_value"))
    },
    Some("""WITH x AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events),
            y AS (
              SELECT *, CAST(SUM(new_sess) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
              FROM x)
            SELECT user_id, sess_idx,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
              strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end,
              ROUND(SUM(value), 2) AS total_value
            FROM y GROUP BY 1, 2"""))

  /** The same session semantics through Spark's NATIVE `session_window`
    * operator (dynamic-gap event-time windows): one groupBy instead of
    * two window passes, and the identical call runs under `readStream`
    * with watermark-evicted state — this is the operator the stateful
    * `EventStreams.sessionize` generalizes. Boundary semantics pinned by
    * `EventStreamsSpec` (not guessable from docs): an event arriving at
    * EXACTLY `gap` after the previous one still MERGES into the session
    * — the window end `last event + gap` is inclusive for merging, so
    * the oracle's new-session predicate is strictly `>`, same as the
    * gap-islands form. */
  private val sessionWindow = GraftQuery(
    "x_events_session_window",
    (s, d) => Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("sess_start"),
        col("user_id"), col("n_events"), col("total_value")),
    Some("""WITH x AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events),
            y AS (
              SELECT *, SUM(new_sess) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
              FROM x)
            SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
              user_id,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              ROUND(SUM(value), 2) AS total_value
            FROM y GROUP BY user_id, sess"""))

  // ------------------------------------------------------ JSON extraction
  /** Semi-structured payload access: JSONPath extraction from the events
    * `props` column, then a typed aggregate over the extracted field —
    * the ubiquitous "JSON column in a fact table" shape. */
  private val jsonExtract = GraftQuery(
    "x_json_extract",
    (s, d) => Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        round(avg(col("k")), 4).as("k_avg")),
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS BIGINT) AS k_sum,
            ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
              AS k_avg
            FROM events GROUP BY event_type"""))

  // --------------------------------------------------------- as-of join
  /** As-of temporal enrichment (see [[graft.ops.AsOf]]): every event
    * carries the user's most recent prior (or same-instant) purchase.
    * The oracle is DuckDB's native `ASOF LEFT JOIN` — an independent
    * implementation of the same semantics, so the union+window form is
    * verified against a real temporal-join engine. */
  private val asofJoin = GraftQuery(
    "x_events_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("value")).as("pval"))
        .withColumnRenamed("ts", "pts")
        .withColumn("ts", col("pts")) // join time column, same name as probe
      graft.ops.AsOf.asOfJoin(
          probe = ev.select("event_id", "user_id", "ts"),
          build = purchases.select("user_id", "ts", "pts", "pval"),
          key = "user_id", time = "ts", payload = Seq("pts", "pval"))
        .select(col("event_id"), col("user_id"),
          round(col("pval"), 2).as("last_purchase_value"),
          (unix_micros(col("ts")) - unix_micros(col("pts")))
            .as("us_since_purchase"))
    },
    Some("""WITH p AS (SELECT user_id, ts, MAX(value) AS pval
                       FROM events WHERE event_type = 'purchase'
                       GROUP BY 1, 2)
            SELECT e.event_id, e.user_id,
                   ROUND(p.pval, 2) AS last_purchase_value,
                   epoch_us(e.ts) - epoch_us(p.ts) AS us_since_purchase
            FROM events e ASOF LEFT JOIN p
              ON e.user_id = p.user_id AND e.ts >= p.ts"""))

  // ------------------------------------------------------- interval join
  /** Batch face of the stream-stream interval join
    * ([[graft.streaming.EventStreams.purchaseAttribution]] — the same
    * code, watermarks no-op in batch): views paired with the same user's
    * purchases within the following hour. A range join bounded on both
    * ends, so the streaming form runs with finite state. */
  private val intervalJoin = GraftQuery(
    "x_events_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventStreams.purchaseAttribution(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"))
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          col("purchase_value"),
          (unix_micros(col("pts")) - unix_micros(col("vts"))).as("us_gap"))
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
                       FROM events WHERE event_type = 'view'),
                 p AS (SELECT user_id, event_id AS purchase_id, ts AS pts,
                              value AS purchase_value
                       FROM events WHERE event_type = 'purchase')
            SELECT v.user_id, view_id, purchase_id, purchase_value,
                   epoch_us(pts) - epoch_us(vts) AS us_gap
            FROM v JOIN p ON v.user_id = p.user_id
              AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR"""))

  // ------------------------------------------- interval join (left outer)
  /** Batch face of the LEFT OUTER stream-stream attribution
    * ([[graft.streaming.EventStreams.purchaseAttributionOuter]]):
    * unconverted views — no purchase within the hour — survive with
    * null purchase columns, which is the row class a funnel analysis
    * actually counts. Streaming emits those rows at watermark
    * eviction; batch is the plain left range join the oracle replays. */
  private val intervalJoinOuter = GraftQuery(
    "x_events_interval_join_outer",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventStreams.purchaseAttributionOuter(
          ev.where(col("event_type") === "view"),
          ev.where(col("event_type") === "purchase"))
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          round(col("purchase_value"), 2).as("purchase_value"),
          (unix_micros(col("pts")) - unix_micros(col("vts"))).as("us_gap"))
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
                       FROM events WHERE event_type = 'view'),
                 p AS (SELECT user_id, event_id AS purchase_id, ts AS pts,
                              value AS purchase_value
                       FROM events WHERE event_type = 'purchase')
            SELECT v.user_id, view_id, purchase_id,
                   ROUND(purchase_value, 2) AS purchase_value,
                   epoch_us(pts) - epoch_us(vts) AS us_gap
            FROM v LEFT JOIN p ON v.user_id = p.user_id
              AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR"""))

  // -------------------------------------------------------------- TF-IDF
  /** Top-3 characteristic terms per document by TF-IDF. Fully relational
    * (explode → two hash aggregates → broadcast of the tiny df table and
    * the 1-row corpus count), so it scales as two shuffles of
    * (doc_id, term) pairs. Ranking is over the ROUNDED score — rounding
    * before ranking makes the order identical in any engine despite
    * last-ulp `ln` differences; remaining ties break on the term. */
  private val tfidf = GraftQuery(
    "x_tfidf_top_terms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(str_split_regex(lower(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            tf AS (SELECT doc_id, unnest(toks) AS term FROM toks),
            tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
                    FROM tf GROUP BY 1, 2),
            dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                    FROM tfc GROUP BY 1),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
            scored AS (SELECT doc_id, tfc.term,
                ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
              FROM tfc JOIN dfc ON tfc.term = dfc.term, n)
            SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER
                    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
                  FROM scored)
            WHERE rank <= 3"""))

  /** Keyless-in-time temporal near-pairs via the bucketed range join
    * ([[graft.ops.RangeJoin]]): same-type events within 2 s of each
    * other. The oracle runs the plain theta-join; the engine runs the
    * bucket equi-join that survives table sizes where a theta-join is
    * quadratic — same banding idea as LSH dedup, applied to time. */
  private val temporalPairs = GraftQuery(
    "x_events_temporal_pairs",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      graft.ops.RangeJoin.temporalNearPairs(
        e, keyCol = "event_type", idCol = "event_id", usCol = "us",
        tolUs = 2_000_000L)
    },
    Some("""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us
                       FROM events)
      SELECT a.event_type AS event_type, a.event_id AS a_id,
             b.event_id AS b_id, b.us - a.us AS gap_us
      FROM e a JOIN e b
        ON a.event_type = b.event_type AND a.event_id < b.event_id
       AND abs(a.us - b.us) <= 2000000"""))

  // ---------------------------------------------------------------- BM25
  /** BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a fixed term query —
    * the lexical side of a hybrid search stack (the `x_embed_*` family
    * is the dense side). Scale shape: the query-term filter runs INSIDE
    * the token array (`filter` before `explode`), so the fan-out and
    * the (doc_id, term) shuffle carry only matching terms, never the
    * corpus vocabulary; df and the corpus stats are broadcast back
    * (≤ |query| + 1 rows); ranking is TakeOrderedAndProject. Per-term
    * scores are rounded to 6 before the per-doc sum (and the sum to 5)
    * so cross-engine `ln` last-ulp and summation-order differences
    * cannot flip the ranking — same rounding discipline as
    * [[tfidf]]/IVF, same documented residual boundary risk. */
  private val Bm25Query = Seq("hash", "join", "vector")
  private val bm25 = GraftQuery(
    "x_bm25_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      val dl = toks.select(col("doc_id"),
        size(col("toks")).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        round(avg("dl"), 6).as("avgdl"))
      val tf = toks
        .select(col("doc_id"),
          explode(filter(col("toks"),
            t => t.isInCollection(Bm25Query))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("score", round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
        .groupBy("doc_id")
        .agg(round(sum("score"), 5).as("bm25"),
          count(lit(1)).cast("int").as("n_terms"))
        .orderBy(desc("bm25"), col("doc_id")).limit(10)
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     list_filter(str_split_regex(lower(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM toks),
            stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                             ROUND(AVG(dl), 6) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
                   FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
                   WHERE term IN ('hash', 'join', 'vector')
                   GROUP BY 1, 2),
            dfc AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                    FROM tf GROUP BY 1),
            per AS (SELECT tf.doc_id, ROUND(
                      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                        (tf * 2.2) /
                        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
                    FROM tf JOIN dfc USING (term)
                      JOIN dl ON tf.doc_id = dl.doc_id, stats)
            SELECT doc_id, ROUND(SUM(score), 5) AS bm25,
                   CAST(COUNT(*) AS INTEGER) AS n_terms
            FROM per GROUP BY 1
            ORDER BY bm25 DESC, doc_id LIMIT 10"""))

  // ------------------------------------------ linear classifier inference
  /** Pretrained hashed-linear quality classifier applied at corpus scale
    * ([[TextAnalysis.linearQualityScore]]) — the fastText inference
    * shape: margin = mean bucket weight of the document's hashed tokens,
    * score = sigmoid(margin), keep = positive margin. The "model" here
    * is a deterministic 4096-bucket weight table (derived arithmetically
    * so the oracle rebuilds it bit-for-bit); in production it is the
    * trained artifact loaded from a table. Unlike `x_dsir_weights`
    * (model FITTING — pays a (doc, bucket) shuffle), inference collapses
    * the weights to one broadcast model row and scores scan-side: zero
    * corpus shuffle, the only plan shape that holds at 100 TB. */
  private val qualityLinear = GraftQuery(
    "x_quality_linear",
    (s, d) => {
      val B = 4096
      val weights = s.range(B).select(col("id").as("b"),
        round(((col("id") * 37 + 11) % 201 - 100) / 100.0, 2).as("w"))
      TextAnalysis.linearQualityScore(Tables.documents(s, d), weights, B)
    },
    // Oracle reproduces the engine's margin BIT-EXACTLY (inherited r16
    // defect, found r17; the ENGINE's output is unchanged — this fixes
    // the oracle's side only). Two mechanisms, both required:
    //  1. fold order — the engine folds each document's weights in
    //     token order (`hashed_bucket_fold`, a strict left fold from
    //     0.0, bit-equal to the `aggregate(toks, 0.0, acc + w)` before);
    //     the old unnest-JOIN-SUM summed in DuckDB's arbitrary order,
    //     and a margin one ulp from an exact 6-decimal tie (the
    //     2-decimal weights make ties REAL: 0.0184375 at sf0.001,
    //     0.0934375 at sf0.01) rounds apart under a different order.
    //     list_reduce over a 0.0-prepended list is the same strict
    //     left fold (verified raw-bit-equal on every doc, both SFs).
    //  2. rounding — Spark's round() on a double is HALF_UP over its
    //     SHORTEST decimal string (`BigDecimal.valueOf` parses
    //     `Double.toString`), not over its exact binary value: the
    //     double nearest -1.43/32 prints as -0.0446875 and rounds to
    //     -0.044688, though its exact value is a hair nearer zero.
    //     DuckDB's double-to-VARCHAR cast is the same shortest string
    //     and its DECIMAL ROUND is also half away from zero, so the
    //     oracle rounds that string as a DECIMAL. (DuckDB's ROUND on
    //     the DOUBLE multiplies by 1e6 first, whose own rounding can
    //     cross the tie: 0.09343749999999999·1e6 = 93437.5 exactly.)
    Some("""WITH toks AS (SELECT doc_id,
              list_filter(str_split_regex(lower(text), '\s+'),
                          t -> t <> '') AS toks
            FROM documents),
            w AS (SELECT b,
              ROUND(((b * 37 + 11) % 201 - 100) / 100.0, 2) AS w
            FROM (SELECT unnest(generate_series(0, 4095)) AS b)),
            warr AS (SELECT list(w ORDER BY b) AS wa FROM w),
            folded AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(toks, t ->
                    wa[(CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)
                        % 4096) + 1])),
                (acc, x) -> acc + x) AS raw
            FROM toks, warr WHERE len(toks) >= 1),
            scored AS (SELECT doc_id, n_tokens,
              CAST(ROUND(CAST(CAST(raw / n_tokens AS VARCHAR)
                AS DECIMAL(38, 20)), 6) AS DOUBLE) AS margin
            FROM folded)
            SELECT doc_id, n_tokens, margin,
              CAST(ROUND(CAST(CAST(1.0 / (1.0 + exp(-margin)) AS VARCHAR)
                AS DECIMAL(38, 20)), 6) AS DOUBLE) AS score,
              margin > 0 AS keep
            FROM scored"""))

  // ------------------------------------------------- heavy hitters
  /** SpaceSaving heavy-hitters sketch (`heavy_hitters`
    * TypedImperativeAggregate, [[graft.functions.SpaceSaving]]) in its
    * NO-EVICTION regime: capacity 64 exceeds the per-source vocabulary,
    * so the summary degenerates to exact counting (est = true count,
    * err = 0, merge floors 0) and the per-source top-10 hash-matches
    * the exact window top-10 — the roundtrip proof that the sketch
    * machinery (update, mergeable-summaries merge, serialization)
    * loses nothing when capacity suffices. The eviction regime's
    * certificate is `x_heavy_hitters_bound`; the Zipf-skew guarantee
    * (`count > N/(m+1)` ⇒ present) is `SpaceSavingSpec`'s. */
  private val heavyHitters = GraftQuery(
    "x_heavy_hitters",
    (s, d) => {
      graft.functions.VectorExpressions.register(s)
      Tables.documents(s, d)
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("source")
        .agg(call_function("heavy_hitters", col("term"), lit(64)).as("hh"))
        .select(col("source"), posexplode(col("hh")).as(Seq("pos", "h")))
        .where(col("pos") < 10)
        .select(col("source"), col("h.term").as("term"),
          col("h.est").as("est"), col("h.err").as("err"),
          (col("pos") + 1).cast("int").as("rank"))
    },
    Some("""WITH t AS (SELECT source,
              unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                 x -> x <> '')) AS term
            FROM documents),
            c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS est
                  FROM t GROUP BY 1, 2)
            SELECT source, term, est, CAST(0 AS BIGINT) AS err,
                   CAST(rank AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER
                    (PARTITION BY source ORDER BY est DESC, term) AS rank
                  FROM c)
            WHERE rank <= 10"""))

  /** The EVICTION regime (capacity 8 < vocabulary): summary contents
    * depend on stream/merge order, but the Metwally/Agarwal per-item
    * CERTIFICATE — `est − err ≤ true count ≤ est` — holds under ANY
    * order, so the certificate (joined against exact counts), the
    * saturated entry count, and the token total are the deterministic,
    * cross-engine-checkable facts. A certificate violation anywhere
    * flips a flag to 0 and fails the hash. */
  private val heavyHittersBound = GraftQuery(
    "x_heavy_hitters_bound",
    (s, d) => {
      graft.functions.VectorExpressions.register(s)
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
      val sk = toks.groupBy("source")
        .agg(call_function("heavy_hitters", col("term"), lit(8)).as("hh"),
          count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"), explode(col("hh")).as("h"))
        .select(col("source"), col("n_tokens"), col("h.term").as("term"),
          col("h.est").as("est"), col("h.err").as("err"))
      val exact = toks.groupBy("source", "term")
        .agg(count(lit(1)).as("cnt"))
      sk.join(exact, Seq("source", "term"))
        .groupBy("source")
        .agg(max(col("n_tokens")).as("n_tokens"),
          count(lit(1)).cast("int").as("n_entries"),
          min((col("est") - col("err") <= col("cnt") &&
            col("cnt") <= col("est")).cast("int")).as("bounds_ok"))
    },
    Some("""WITH t AS (SELECT source,
              unnest(list_filter(str_split_regex(lower(text), '\s+'),
                                 x -> x <> '')) AS term
            FROM documents)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   8 AS n_entries, 1 AS bounds_ok
            FROM t GROUP BY source"""))

  // -------------------------------------------- linear classifier TRAIN
  /** TRAIN the hashed linear quality classifier in the engine
    * ([[graft.ops.Logistic.train]] — the fitting half whose inference
    * face is `x_quality_linear`): 3 rounds of full-batch gradient
    * descent over 4096-bucket hashed unigram frequencies, labels =
    * "document is English" (a real separable target the synthetic
    * corpus carries). The oracle replays ALL THREE descent rounds as
    * unrolled CTEs — margins, sigmoid residuals, per-bucket gradients
    * (rounded 6 before the step, the cross-engine float anchor), and
    * the weight updates — then scores every document under the final
    * weights, so the full weight TRAJECTORY is hash-checked, not just
    * a final prediction. */
  private val qualityTrain = GraftQuery(
    "x_quality_train",
    (s, d) => {
      val B = 4096
      val posted = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .withColumn("b", graft.ops.PortableHash.hash32(col("term")) % B)
      val tot = posted.groupBy("doc_id")
        .agg(count(lit(1)).cast("double").as("nt"))
      // x = cnt / (nt + 1/3): the shifted normalizer is the same
      // non-decimal anchor as the gradient divisor — with plain cnt/nt
      // the weights and margins stay products of decimals and CAN land
      // exactly on a 6-decimal rounding tie (observed; the two engines
      // then round it in opposite directions). The 1/3 shift is a
      // uniform ~0.3% feature rescale the fit absorbs.
      // pinned ONCE: both train (which re-pins co-partitioned copies
      // for its loop) and the final score pass consume f — without the
      // checkpoint the explode + two-aggregate derivation re-runs per
      // consumer (score was recomputing the whole chain)
      val f = graft.ops.Checkpoints.pin(posted.groupBy("doc_id", "b")
        .agg(count(lit(1)).as("cnt"))
        .join(tot, "doc_id")
        .select(col("doc_id"), col("b"),
          (col("cnt") / (col("nt") + lit(1.0 / 3.0))).as("x")))
      val l = graft.ops.Checkpoints.pin(Tables.documents(s, d)
        .join(tot.select("doc_id"), "doc_id")
        .select(col("doc_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y")))
      val w = graft.ops.Logistic.train(f, l, lr = 1.0 / 3.0,
        iterations = 3)
      graft.ops.Logistic.score(f, w)
        .join(l, "doc_id")
        .select(col("doc_id"), col("y").cast("int").as("y"),
          round(col("margin"), 6).as("margin"),
          round(col("score"), 6).as("score"),
          col("keep").cast("int").as("pred_en"))
    },
    Some {
      val prelude = """WITH toks AS (SELECT doc_id, lang,
               list_filter(str_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS toks
             FROM documents),
      posted AS (SELECT doc_id,
               CAST('0x' || substring(md5(term), 1, 8) AS BIGINT) % 4096 AS b
             FROM (SELECT doc_id, unnest(toks) AS term
                   FROM toks WHERE len(toks) >= 1)),
      tot AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS nt
              FROM posted GROUP BY 1),
      f AS MATERIALIZED (SELECT p.doc_id, p.b,
              COUNT(*) / (ANY_VALUE(t.nt) + CAST(1 AS DOUBLE) / 3) AS x
             FROM posted p JOIN tot t USING (doc_id)
             GROUP BY p.doc_id, p.b),
      l AS MATERIALIZED (SELECT d.doc_id,
              CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
             FROM documents d JOIN tot USING (doc_id)),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM l),
      w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(1e-9 AS DOUBLE) AS w
             FROM f)"""
      val rounds = (1 to 3).map { i =>
        s""",
      m$i AS MATERIALIZED (SELECT f.doc_id, SUM(w.w * f.x) AS m
             FROM f JOIN w${i - 1} w USING (b) GROUP BY f.doc_id),
      g$i AS MATERIALIZED (SELECT f.b,
              ROUND(SUM((1.0 / (1.0 + exp(-m.m)) - l.y) * f.x)
                / ((SELECT n FROM nn) + CAST(1 AS DOUBLE) / 3), 6) AS g
             FROM f JOIN m$i m USING (doc_id) JOIN l USING (doc_id)
             GROUP BY f.b),
      w$i AS MATERIALIZED (SELECT w.b,
              w.w - (CAST(1 AS DOUBLE) / 3) * COALESCE(g.g, 0) AS w
             FROM w${i - 1} w LEFT JOIN g$i g USING (b))"""
      }.mkString
      prelude + rounds + """
      SELECT f.doc_id, CAST(ANY_VALUE(l.y) AS INTEGER) AS y,
             ROUND(SUM(w.w * f.x), 6) AS margin,
             ROUND(1.0 / (1.0 + exp(-SUM(w.w * f.x))), 6) AS score,
             CAST(SUM(w.w * f.x) > 0 AS INTEGER) AS pred_en
      FROM f JOIN w3 w USING (b) JOIN l ON f.doc_id = l.doc_id
      GROUP BY f.doc_id"""
    })

  // ---------------------------------------------------------------- EWMA
  /** Per-user exponentially-weighted moving average at every event
    * ([[graft.ops.TimeSeries.ewma]], α = 0.3) — the recurrence window
    * functions cannot express without an O(n²) prefix blow-up or an
    * overflowing power-sum rewrite, so the engine runs the O(n)
    * per-key fold (`flatMapGroups`, streaming-compatible state shape).
    * The oracle IS the O(n²) prefix form — windowed prefix lists
    * folded per row by `list_reduce` with the identical
    * `α·x + (1−α)·acc` step (α non-dyadic, so EWMA values never sit
    * exactly on a rounding tie the two engines break differently —
    * dyadic 0.25 over 2-decimal inputs did), so every intermediate
    * EWMA value hash-matches, not just the final one per key. */
  private val eventsEwma = GraftQuery(
    "x_events_ewma",
    (s, d) => {
      import s.implicits._
      val pts = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsUs"), col("value"))
        .as[graft.ops.TimeSeries.Point]
      graft.ops.TimeSeries.ewma(pts, alpha = 0.3).toDF()
        .select(col("user_id"), col("event_id"),
          round(col("ewma"), 6).as("ewma"))
    },
    Some("""WITH o AS (SELECT user_id, event_id,
                   list(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS vs
                 FROM events)
            SELECT user_id, event_id,
                   ROUND(list_reduce(vs,
                     (acc, x) -> CAST(0.3 AS DOUBLE) * x
                       + (1 - CAST(0.3 AS DOUBLE)) * acc), 6) AS ewma
            FROM o"""))

  /** One-sided CUSUM drift statistic per user at every event
    * ([[graft.ops.TimeSeries.cusum]], reference k = 8, alarm h = 30) —
    * EWMA's monitoring sibling and the same O(n²)-free recurrence
    * argument: the oracle folds a zero-seeded prefix list with the
    * identical `max(0, acc + x − k)` step. The 2-decimal inputs keep
    * every CUSUM value at 2 decimals, so the 6-decimal rounding has no
    * tie to break. */
  private val eventsCusum = GraftQuery(
    "x_events_cusum",
    (s, d) => {
      import s.implicits._
      val pts = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsUs"), col("value"))
        .as[graft.ops.TimeSeries.Point]
      graft.ops.TimeSeries.cusum(pts, k = 8.0, h = 30.0).toDF()
        .select(col("user_id"), col("event_id"),
          round(col("cusum"), 6).as("cusum"),
          col("alarm").cast("int").as("alarm"))
    },
    Some("""WITH o AS (SELECT user_id, event_id,
                   list(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS vs
                 FROM events)
            SELECT user_id, event_id,
                   ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), vs),
                     (acc, x) -> greatest(CAST(0 AS DOUBLE),
                       acc + x - CAST(8 AS DOUBLE))), 6) AS cusum,
                   CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE), vs),
                     (acc, x) -> greatest(CAST(0 AS DOUBLE),
                       acc + x - CAST(8 AS DOUBLE))) > 30 AS INTEGER)
                     AS alarm
            FROM o"""))

  val queries: Seq[GraftQuery] = Seq(eventsEwma,
    dedupExact, tokenCount, qualityScore, qualityGopher, textClean,
    charEntropy, bigramLoglik,
    dsirWeights, pplBuckets, sourceTemperature, fingerprint, eventsHourly,
    gapFill, langId, sessionize, sessionWindow, jsonExtract, asofJoin,
    intervalJoin, intervalJoinOuter, tfidf, temporalPairs, bm25,
    qualityLinear, qualityTrain, heavyHitters, heavyHittersBound, eventsCusum)
}
