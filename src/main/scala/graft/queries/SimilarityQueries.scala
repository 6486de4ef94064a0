package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.VectorOps

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, random-hyperplane
  * LSH bucketing as the scale path, and threshold near-dup pairing.
  *
  * Scale notes: the query side is always the broadcast side (queries ≪
  * corpus), so the corpus scan never shuffles for scoring; ranking
  * shuffles only (q_id, n_id, score) triples. The LSH variant cuts the
  * scored candidates by ~2^planes. At a real 100-TB corpus the next step
  * is a `TypedImperativeAggregate` per-partition top-k heap — noted in
  * the roadmap; the window form below is already partial-agg friendly.
  */
object SimilarityQueries {

  private val Planes = VectorOps.hyperplanes(planes = 4, dims = 64)

  /** Persist intermediates reread by several plan branches (the corpus
    * feeding 3+ Lloyd passes, the fitted centroid table feeding assign
    * and probe) — without it Spark re-derives the whole lineage per
    * branch. */
  private def persistedDf(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Corpus with the vector L2 norm precomputed per ROW — cosine per pair
    * then costs one dot product instead of three folds. At k candidates
    * per vector that saves 2k norm folds per corpus row. */
  private def corpus(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // fan out only when the scan is under-parallel (a small local file
    // arrives as 1 split); a corpus-scale scan is already parallel and
    // repartitioning it would shuffle every embedding for nothing
    val emb0 = Tables.embeddings(s, d)
    val par = s.sparkContext.defaultParallelism
    (if (emb0.rdd.getNumPartitions < par) emb0.repartition(par) else emb0)
      .select(
        col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorOps.normNative(col("v")))
  }

  /** Query points: every 100th vector. */
  private def querySet(e: DataFrame): DataFrame =
    e.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  private val cosSql =
    """(list_sum(list_transform(generate_series(1, 64), i -> qv[i] * v[i]))
      | / (qn * nrm))""".stripMargin

  private val embCte =
    """e AS (SELECT vec_id, label, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |            FROM embeddings))""".stripMargin

  private val queryCte =
    """q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
      |      WHERE vec_id % 100 = 0)""".stripMargin

  // ----------------------------------------------------- brute-force topk
  /** Ranked with the engine's `topk_pairs` TypedImperativeAggregate: the
    * map side keeps a k-element buffer per query, so only k·queries rows
    * cross the shuffle — a window `row_number` would shuffle every scored
    * candidate. Ordering (score DESC, id ASC) matches the window form, so
    * the oracle is the standard window SQL. */
  private val cosineTopK = GraftQuery(
    "x_embed_cosine_topk",
    (s, d) => {
      val e = corpus(s, d)
      val scored = e.crossJoin(broadcast(querySet(e)))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (VectorOps.dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("cos"))
      scored.groupBy("q_id")
        .agg(call_function("topk_pairs", col("cos"), col("n_id"), lit(5))
          .as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("q_id"), col("p.id").as("n_id"),
          round(col("p.score"), 6).as("cos_sim"),
          (col("pos") + 1).cast("int").as("rank"))
    },
    Some(s"""WITH $embCte, $queryCte,
      scored AS (SELECT q_id, vec_id AS n_id, $cosSql AS cos
                 FROM e, q WHERE vec_id <> q_id)
      SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
      WHERE rank <= 5"""))

  // --------------------------------------------------------- hybrid search
  /** Metadata-filtered vector search — the retrieval query a real system
    * runs (nobody searches the WHOLE corpus): document predicates (lang,
    * length) restrict the candidate set BEFORE any scoring. Declarative
    * filter-then-score beats the over-fetch-then-post-filter shape ANN
    * services resort to: both table predicates push into their parquet
    * scans (lang and n_chars never reach the join), the doc⋈vector join
    * prunes to the embedded subset, and `topk_pairs` keeps k rows per
    * query on the final shuffle. */
  private val hybridSearch = GraftQuery(
    "x_embed_hybrid_search",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .where(col("lang").isin("en", "de") && col("n_chars") >= 200)
        .select(col("doc_id"))
      val e = corpus(s, d)
      val filtered = e.join(docs, e("vec_id") === docs("doc_id"))
      val scored = filtered.crossJoin(broadcast(querySet(e)))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (VectorOps.dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("cos"))
      scored.groupBy("q_id")
        .agg(call_function("topk_pairs", col("cos"), col("n_id"), lit(5))
          .as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("q_id"), col("p.id").as("n_id"),
          round(col("p.score"), 6).as("cos_sim"),
          (col("pos") + 1).cast("int").as("rank"))
    },
    Some(s"""WITH $embCte, $queryCte,
      fd AS (SELECT doc_id FROM documents
             WHERE lang IN ('en', 'de') AND n_chars >= 200),
      fe AS (SELECT e.* FROM e JOIN fd ON e.vec_id = fd.doc_id),
      scored AS (SELECT q_id, fe.vec_id AS n_id,
                   (list_sum(list_transform(generate_series(1, 64),
                      i -> qv[i] * fe.v[i])) / (qn * fe.nrm)) AS cos
                 FROM fe, q WHERE fe.vec_id <> q_id)
      SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
      WHERE rank <= 5"""))

  // --------------------------------------------------------- LSH-bucketed
  private val annLsh = GraftQuery(
    "x_embed_ann_lsh",
    (s, d) => {
      val e = corpus(s, d)
        .withColumn("bucket", VectorOps.lshBucket(col("v"), Planes))
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("q_bucket"))
      val scored = e.join(broadcast(q),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (VectorOps.dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("cos"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("q_id"), col("n_id"),
          round(col("cos"), 6).as("cos_sim"), col("rank"))
    },
    Some {
      val bucket = VectorOps.sqlLshBucket("v", Planes)
      s"""WITH $embCte,
        be AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM e),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS q_bucket
              FROM be WHERE vec_id % 100 = 0),
        scored AS (SELECT q_id, vec_id AS n_id, $cosSql AS cos
                   FROM be, q
                   WHERE bucket = q_bucket AND vec_id <> q_id)
        SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER
                (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
              FROM scored)
        WHERE rank <= 3"""
    })

  // ------------------------------------------------------------ IVF ANN
  /** Lloyd iterations and probe fan-out of the IVF index. Both engines
    * re-derive the identical centroids: every averaged component is
    * `ROUND(avg, 6)` so cross-engine float-summation-order differences
    * cannot leak into the assignment argmax. Residual risk, acknowledged:
    * rounding is a bridge, not a proof — a mean component landing within
    * ~1 ulp of a 1e-6 boundary can still round apart across engines and
    * cascade through the argmax. With 64 dims × ~40 centroids × 3 rounds
    * on this data the boundary-hit probability is ~1e-10 per run (values
    * are sums of ~50 uniform doubles; verified stable across repeated
    * runs); a production cross-engine contract should compare assignments
    * under a tolerance instead of exact equality. */
  val IvfIters = 3
  val IvfNprobe = 2

  /** Nearest-centroid cell per vector (cosine argmax, ties to the lowest
    * centroid id), carrying the vector through the aggregate so the mean
    * step needs no re-join. */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id"),
        (VectorOps.dotNative(col("v"), col("cv")) / (col("nrm") * col("cn")))
          .as("cos"))
      .groupBy("vec_id")
      .agg(expr("max_by(c_id, struct(cos, -c_id))").as("cell"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))

  /** Base seed stride: every `IvfSeedStride`-th vector becomes a seed
    * centroid. The effective stride WIDENS past n = stride² so the
    * codebook never outgrows √n — see [[seedStride]]. */
  val IvfSeedStride = 50

  /** Effective seed stride for a corpus of n vectors:
    * `max(IvfSeedStride, ⌈√n⌉)` — i.e. the codebook size k ≈ n/stride is
    * CAPPED at √n (the classic IVF sizing). With the fixed stride alone
    * k grows linearly with the corpus, Lloyd assignment — O(n·k) — goes
    * quadratic, and the measured 1×/16×/64× slope blew up ×23.8
    * (SCALE.md). Capping holds assignment at O(n^1.5) and balances the
    * per-cell scan (n/k ≈ √n rows per cell). One count() against the
    * (caller-persisted) corpus decides it — a scalar aggregate, not a
    * collect. At the oracle SF (n = 500) the floor stride of 50 binds,
    * so the DuckDB twin's literal `vec_id % 50 = 0` seeding stays
    * exact; the cap engages only past n = 2 500. */
  private def seedStride(e: DataFrame): Long = {
    val n = e.count()
    math.max(IvfSeedStride.toLong, math.ceil(math.sqrt(n.toDouble)).toLong)
  }

  /** Deterministic k-means: seeds = every [[seedStride]]-th vector,
    * `IvfIters` Lloyd iterations, per-cell means via the engine's
    * `vec_sum` element-wise aggregate (map-side-combinable: each task
    * folds its members into ONE double[64] buffer, so a cell costs 64
    * doubles per task on the shuffle — the posexplode alternative
    * shuffles 64 rows per VECTOR). Empty cells drop out; no runtime
    * randomness anywhere. Means are rounded to 6 places so cross-engine
    * summation order cannot leak into the assignment argmax. */
  private[graft] def kmeansCentroids(e: DataFrame): DataFrame = {
    val seeds = e.where(col("vec_id") % seedStride(e) === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    (1 to IvfIters).foldLeft(seeds) { (cents, _) =>
      // localCheckpoint per iteration: the fold otherwise nests each
      // round's plan inside the next, re-running iteration 1's
      // assignment three times (triangular recomputation) — the
      // centroid table is ~|corpus|/50 rows, trivially cheap to pin.
      // Superseded rounds' checkpoint blocks are released immediately
      // (clearCache never frees them); the final round stays pinned
      // for the assign/probe consumers.
      val next = graft.ops.Checkpoints.pin(
        assignCells(e, cents)
          .groupBy("cell")
          .agg(call_function("vec_sum", col("v")).as("sv"),
            count(lit(1)).as("n"))
          .select(col("cell").as("c_id"),
            transform(col("sv"), x => round(x / col("n"), 6)).as("cv"))
          .withColumn("cn", VectorOps.normNative(col("cv"))))
      graft.ops.Checkpoints.release(cents)
      next
    }
  }

  /** IVF (inverted-file) ANN: k-means centroids (deterministic Lloyd
    * iterations, see [[kmeansCentroids]]); vectors are assigned to their
    * nearest-centroid cell once; a query scans its `IvfNprobe` nearest
    * cells. Assignment and search use `max_by`/`topk_pairs` so only k
    * rows per group cross any shuffle. At production scale the assignment
    * table is written once, bucketed by cell, making the probe a pruned
    * partition read; centroids re-fit offline. */
  /** IVF search over a prepared index: celled corpus (vec_id, v, nrm,
    * cell) + fitted centroids + queries (q_id, qv, qn). Probe picks
    * nprobe cells per query; scoring joins on cell. */
  private[graft] def ivfSearch(
      ce: DataFrame, cents: DataFrame, q: DataFrame): DataFrame = {
    val probe = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qn"),
        (VectorOps.dotNative(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"), col("c_id"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs", col("cos"), col("c_id"),
          lit(IvfNprobe)).as("top"),
        first(col("qv")).as("qv"), first(col("qn")).as("qn"))
      .select(col("q_id"), col("qv"), col("qn"),
        explode(col("top")).as("p"))
      .select(col("q_id"), col("qv"), col("qn"), col("p.id").as("q_cell"))
    ce.join(broadcast(probe),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (VectorOps.dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs", col("cos"), col("n_id"), lit(3))
        .as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("n_id"),
        round(col("p.score"), 6).as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  private def ivfQueries(ce: DataFrame): DataFrame =
    ce.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))

  private val annIvf = GraftQuery(
    "x_embed_ann_ivf",
    (s, d) => {
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      val assign = assignCells(e, cents).select(col("vec_id"), col("cell"))
      val ce = e.join(assign, "vec_id")
      ivfSearch(ce, cents, ivfQueries(e))
    },
    Some(ivfSql),
    // Bench the SEARCH: training + cell assignment run once into a
    // temp-dir index (the production shape — centroids re-fit offline,
    // the assignment table written at indexing time); the timed region
    // is probe + celled scoring over the persisted index.
    benchBuild = Some((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivf-bench-").toString
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      val assign = assignCells(e, cents).select(col("vec_id"), col("cell"))
      e.join(assign, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      cents.write.mode("overwrite").parquet(s"$dir/cents")
      e.unpersist(); cents.unpersist()
      () => {
        val ce = s.read.parquet(s"$dir/index")
        ivfSearch(ce, s.read.parquet(s"$dir/cents"), ivfQueries(ce))
      }
    }))

  /** One Lloyd iteration in DuckDB SQL: argmax-assign against `prev`,
    * then rounded per-dimension means (zipped unnest + ordered list). */
  private def lloydCtes(i: Int, prev: String): String = {
    val cos = s"""(list_sum(list_transform(generate_series(1, 64),
                    i -> e.v[i] * c.cv[i])) / (e.nrm * c.cn))"""
    s"""a$i AS (SELECT vec_id, c_id AS cell FROM (
           SELECT e.vec_id, c.c_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY $cos DESC, c.c_id) AS rn
           FROM e, $prev c) WHERE rn = 1),
       m$i AS (SELECT cell, pos, ROUND(AVG(x), 6) AS mx FROM (
           SELECT a.cell, unnest(e.v) AS x,
                  unnest(generate_series(1, 64)) AS pos
           FROM e JOIN a$i a USING (vec_id))
         GROUP BY cell, pos),
       c$i AS (SELECT cell AS c_id, list(mx ORDER BY pos) AS cv,
                 sqrt(list_sum(list_transform(
                   list(mx ORDER BY pos), x -> x * x))) AS cn
               FROM m$i GROUP BY cell)"""
  }

  private def ivfSql: String = {
    val iters = (1 to IvfIters)
      .map(i => lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")
    val last = s"c$IvfIters"
    val centCos = s"""(list_sum(list_transform(generate_series(1, 64),
                        i -> e.v[i] * c.cv[i])) / (e.nrm * c.cn))"""
    val probeCos = s"""(list_sum(list_transform(generate_series(1, 64),
                         i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn))"""
    s"""WITH $embCte,
      c0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e
             WHERE vec_id % 50 = 0),
      $iters,
      assign AS (SELECT vec_id, c_id AS cell FROM (
          SELECT e.vec_id, c.c_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY $centCos DESC, c.c_id) AS rn
          FROM e, $last c) WHERE rn = 1),
      ce AS (SELECT e.vec_id, e.v, e.nrm, a.cell
             FROM e JOIN assign a USING (vec_id)),
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
            WHERE vec_id % 100 = 0),
      probe AS (SELECT q_id, c_id AS q_cell FROM (
          SELECT q.q_id, c.c_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY $probeCos DESC, c.c_id) AS rn
          FROM q, $last c) WHERE rn <= $IvfNprobe),
      scored AS (SELECT q.q_id, ce.vec_id AS n_id, $cosSql AS cos
                 FROM ce JOIN probe p ON ce.cell = p.q_cell
                         JOIN q ON q.q_id = p.q_id
                 WHERE ce.vec_id <> q.q_id)
      SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
      WHERE rank <= 3"""
  }

  // ------------------------------------------------------------- PQ
  /** Product-quantization ANN ([[graft.ops.ProductQuantization]]): M=16
    * subspace codebooks (deterministic k-means, empty cells carrying
    * their previous centroid so code ids stay dense), vectors stored as
    * 16 small ints — 32× smaller than the raw doubles (64× with the
    * classic M=8/K=256 layout) — and search as M
    * table lookups per pair (`pq_adc`, codegen'd). The search scans ONLY
    * the code table; raw vectors are never touched after encoding. The
    * oracle re-derives the whole pipeline (training included) in DuckDB
    * SQL with the same rounding discipline as the IVF oracle.
    * `PqSpec` pins recall against exact L2 top-k and ADC's
    * approximation error. */
  private val annPq = GraftQuery(
    "x_embed_pq_topk",
    (s, d) => {
      import graft.ops.ProductQuantization
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(ProductQuantization.trainCodebooks(e))
      val codes = ProductQuantization.encode(e, cents)
      val luts = ProductQuantization.queryLuts(
        querySet(e).select(col("q_id"), col("qv").as("v")), cents)
      ProductQuantization.adcTopK(codes, luts, 3)
    },
    Some(pqSql),
    // Bench the SEARCH: codebook training, encoding, and LUT building
    // run once into temp-dir tables (offline at production); the timed
    // region is the ADC scan of the code table.
    benchBuild = Some((s, d) => {
      import graft.ops.ProductQuantization
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pq-bench-").toString
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(ProductQuantization.trainCodebooks(e))
      ProductQuantization.encode(e, cents)
        .write.mode("overwrite").parquet(s"$dir/codes")
      ProductQuantization.queryLuts(
          querySet(e).select(col("q_id"), col("qv").as("v")), cents)
        .write.mode("overwrite").parquet(s"$dir/luts")
      e.unpersist(); cents.unpersist()
      () => ProductQuantization.adcTopK(
        s.read.parquet(s"$dir/codes"), s.read.parquet(s"$dir/luts"), 3)
    }))

  /** One PQ Lloyd iteration in DuckDB: 6-rounded-distance argmin assign
    * (tie to the lowest code), per-(subspace, code, dim) rounded means,
    * and empty cells carrying the previous centroid via LEFT JOIN. */
  private def pqLloydCtes(i: Int, prev: String): String = {
    val dot = s"""list_sum(list_transform(generate_series(1,
                   ${graft.ops.ProductQuantization.SubDim}),
                   i -> s.sv[i] * c.cv[i]))"""
    s"""pa$i AS (SELECT vec_id, m, c FROM (
           SELECT s.vec_id, s.m, c.c_id AS c,
             row_number() OVER (PARTITION BY s.vec_id, s.m
               ORDER BY ROUND(s.sn2 + c.cn2 - 2 * $dot, 6), c.c_id) AS rn
           FROM sub s JOIN $prev c ON s.m = c.m) WHERE rn = 1),
       pm$i AS (SELECT m, c, pos, ROUND(AVG(x), 6) AS mx FROM (
           SELECT a.m, a.c, unnest(s.sv) AS x,
                  unnest(generate_series(1,
                    ${graft.ops.ProductQuantization.SubDim})) AS pos
           FROM sub s JOIN pa$i a ON s.vec_id = a.vec_id AND s.m = a.m)
         GROUP BY m, c, pos),
       pmc$i AS (SELECT m, c AS c_id, list(mx ORDER BY pos) AS cv
                 FROM pm$i GROUP BY m, c),
       pc$i AS (SELECT p.m, p.c_id, COALESCE(n.cv, p.cv) AS cv,
                  list_sum(list_transform(COALESCE(n.cv, p.cv),
                    x -> x * x)) AS cn2
                FROM $prev p LEFT JOIN pmc$i n
                  ON p.m = n.m AND p.c_id = n.c_id)"""
  }

  private def pqSql: String = {
    import graft.ops.ProductQuantization.{Iters, K, SeedStride, M, SubDim}
    val seedMax = SeedStride.toLong * K
    val iters = (1 to Iters)
      .map(i => pqLloydCtes(i, if (i == 1) "pc0" else s"pc${i - 1}"))
      .mkString(",\n")
    val last = s"pc$Iters"
    val dot = s"""list_sum(list_transform(generate_series(1, $SubDim),
                   i -> s.sv[i] * c.cv[i]))"""
    val slice = s"list_slice(v, m * $SubDim + 1, m * $SubDim + $SubDim)"
    s"""WITH pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
      ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
      sub AS (SELECT vec_id, m,
                $slice AS sv,
                list_sum(list_transform($slice, x -> x * x)) AS sn2
              FROM pe CROSS JOIN ms),
      pc0 AS (SELECT m, CAST(vec_id // $SeedStride AS INT) AS c_id,
                sv AS cv, sn2 AS cn2
              FROM sub
              WHERE vec_id % $SeedStride = 0 AND vec_id < $seedMax),
      $iters,
      paf AS (SELECT vec_id, m, c FROM (
          SELECT s.vec_id, s.m, c.c_id AS c,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ROUND(s.sn2 + c.cn2 - 2 * $dot, 6), c.c_id) AS rn
          FROM sub s JOIN $last c ON s.m = c.m) WHERE rn = 1),
      codes AS (SELECT vec_id, list(c ORDER BY m) AS codes
                FROM paf GROUP BY vec_id),
      qlut AS (SELECT s.vec_id AS q_id, s.m, c.c_id,
                 ROUND(s.sn2 + c.cn2 - 2 * $dot, 6) AS d
               FROM sub s JOIN $last c ON s.m = c.m
               WHERE s.vec_id % 100 = 0),
      luts AS (SELECT q_id, list(d ORDER BY m * $K + c_id) AS lut
               FROM qlut GROUP BY q_id),
      scored AS (SELECT l.q_id, c.vec_id AS n_id,
                   list_sum(list_transform(generate_series(1, $M),
                     m -> l.lut[(m - 1) * (len(l.lut) // $M)
                                + c.codes[m] + 1])) AS adist
                 FROM codes c CROSS JOIN luts l
                 WHERE c.vec_id <> l.q_id)
      SELECT q_id, n_id, ROUND(adist, 6) AS pq_dist,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY adist, n_id) AS rank
            FROM scored)
      WHERE rank <= 3"""
  }

  // ---------------------------------------------------------- IVF-PQ
  /** The production ANN architecture, composed from the two halves this
    * module already verifies separately: IVF picks WHICH vectors to
    * score (nprobe nearest cells per query), PQ makes scoring them cheap
    * (ADC over 32×-compressed codes). The search stage touches only
    * (vec_id, cell, codes) — at 100 TB the raw vectors are read exactly
    * once, at indexing time. Oracle = the composed DuckDB derivation of
    * both trainers plus the celled ADC ranking. */
  private val annIvfPq = GraftQuery(
    "x_embed_ivfpq_topk",
    (s, d) => {
      import graft.ops.ProductQuantization
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents).select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      // the compressed index: cell + codes per vector, nothing else
      val indexed = ProductQuantization.encode(e, pqCents)
        .join(cellOf, "vec_id")
      val q = querySet(e)
      val probeLuts = ivfProbeLuts(q, ivfCents, pqCents)
      ivfPqSearch(indexed, probeLuts)
    },
    Some(ivfPqSql),
    // Bench the SEARCH: both trainers, the cell assignment, the code
    // table, and the query probe/LUTs are one-time index builds; the
    // timed region is the celled ADC ranking over the persisted index —
    // the only stage that runs per query batch at production.
    benchBuild = Some((s, d) => {
      import graft.ops.ProductQuantization
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-bench-").toString
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents)
        .select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      ProductQuantization.encode(e, pqCents).join(cellOf, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      val q = querySet(e)
      val probeLuts = ivfProbeLuts(q, ivfCents, pqCents)
      probeLuts
        .write.mode("overwrite").parquet(s"$dir/probe")
      e.unpersist(); ivfCents.unpersist(); pqCents.unpersist()
      () => ivfPqSearch(
        s.read.parquet(s"$dir/index"), s.read.parquet(s"$dir/probe"))
    }))

  // ------------------------------------------------- IVF-PQ + re-rank
  /** The full retrieval architecture: coarse quantizer (IVF cells) →
    * compressed scoring (ADC over codes) → EXACT refinement of the short
    * list. The ADC pass keeps the top `Shortlist` candidates per query;
    * only those ≤ Shortlist·queries rows join back to the raw vectors
    * for exact cosine — at 100 TB the raw-vector read is k rows per
    * query, never a corpus scan. Final ranking is exact, so PQ's
    * quantization error affects RECALL (what made the short list) but
    * never the reported scores or their order. */
  private val ShortList = 10
  private val annIvfPqRerank = GraftQuery(
    "x_embed_ivfpq_rerank",
    (s, d) => {
      import graft.ops.ProductQuantization
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents).select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      val indexed = ProductQuantization.encode(e, pqCents)
        .join(cellOf, "vec_id")
      val q = querySet(e)
      val probeLuts = ivfProbeLuts(q, ivfCents, pqCents)
      rerankStage(adcShortlist(indexed, probeLuts), e, q)
    },
    Some(ivfPqRerankSql),
    // Bench the SEARCH + REFINE: both trainers, the compressed index,
    // the probe/LUTs, and the raw-vector table are one-time builds; the
    // timed region is what runs per query batch — ADC shortlist over the
    // code table, then the k-row exact refine.
    benchBuild = Some((s, d) => {
      import graft.ops.ProductQuantization
      val dir = java.nio.file.Files
        .createTempDirectory("graft-rerank-bench-").toString
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents)
        .select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      ProductQuantization.encode(e, pqCents).join(cellOf, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      val q = querySet(e)
      val probeLuts = ivfProbeLuts(q, ivfCents, pqCents)
      probeLuts
        .write.mode("overwrite").parquet(s"$dir/probe")
      e.select(col("vec_id"), col("v"), col("nrm"))
        .write.mode("overwrite").parquet(s"$dir/vectors")
      q.write.mode("overwrite").parquet(s"$dir/queries")
      e.unpersist(); ivfCents.unpersist(); pqCents.unpersist()
      () => rerankStage(
        adcShortlist(s.read.parquet(s"$dir/index"),
          s.read.parquet(s"$dir/probe")),
        s.read.parquet(s"$dir/vectors"),
        s.read.parquet(s"$dir/queries"))
    }))

  // ------------------------------------------------- hybrid ANN
  /** Filter-aware ANN — the scale-safe successor to
    * [[hybridSearch]]'s filter-then-brute-force shape: the metadata
    * predicate prunes the COMPRESSED candidate table (vec_id, cell,
    * codes) before any distance work, ADC scores only surviving
    * same-cell candidates, and the exact re-rank touches raw vectors
    * for ≤ ShortList rows per query. Where the brute-force hybrid is
    * O(|filtered|·q) dot products over raw vectors — still O(corpus)
    * for broad predicates — this is O(|filtered ∩ probed cells|·q)
    * table lookups over 32×-compressed codes, and the doc predicate
    * pushes into the documents scan exactly as before. Final scores
    * are exact cosine, so PQ error affects recall only (floor pinned
    * by `HybridAnnRecallSpec`). */
  private val hybridDocFilterSql =
    "lang IN ('en', 'de') AND n_chars >= 200"

  /** Probe width for filtered search. A metadata predicate does two
    * things to recall: it thins every probed cell to ~s·|cell|
    * survivors (selectivity s), and it makes the TRUE filtered top-k
    * more distant than the unfiltered top-k (the filter removed closer
    * neighbors) — more distant neighbors have weaker cell locality. So
    * filtered search widens the coarse probe, not the shortlist: 3×
    * the unfiltered width holds recall on this corpus's ~50%-selective
    * doc filter; `HybridAnnRecallSpec` pins the resulting floor. */
  val HybridNprobe = 3 * IvfNprobe

  /** Shortlist depth for filtered search. Widening the probe alone
    * HURT recall at the default depth: every extra cell adds ADC-scored
    * candidates whose quantization error can displace true neighbors
    * from a 10-deep shortlist (measured 0.73 → 0.60 going 4 → 6 probes
    * at depth 10). Filtered search therefore deepens the ADC cut in
    * step with the probe width; the re-rank stays k rows per query —
    * per-query-bounded, never a corpus scan. */
  val HybridShortList = 3 * ShortList

  private def hybridDocIds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .where(col("lang").isin("en", "de") && col("n_chars") >= 200)
      .select(col("doc_id"))

  private def hybridAnnSql: String = rerankSqlFrom(ivfPqSqlWith(
    s"""
      fd AS (SELECT doc_id FROM documents WHERE $hybridDocFilterSql),""",
    s"""
                   JOIN fd ON cd.vec_id = fd.doc_id""",
    nprobe = HybridNprobe), HybridShortList)

  private val hybridAnn = GraftQuery(
    "x_embed_hybrid_ann",
    (s, d) => {
      import graft.ops.ProductQuantization
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents).select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      val indexed = ProductQuantization.encode(e, pqCents)
        .join(cellOf, "vec_id")
      // predicate → id set → prune the CODE table; raw vectors stay
      // untouched until the re-rank's short list
      val filtered = indexed
        .join(hybridDocIds(s, d), indexed("vec_id") === col("doc_id"))
        .drop("doc_id")
      val q = querySet(e)
      val probeLuts = ivfProbeLuts(q, ivfCents, pqCents, HybridNprobe)
      rerankStage(adcShortlist(filtered, probeLuts, HybridShortList), e, q)
    },
    Some(hybridAnnSql),
    // Bench the SEARCH: index/probe/vector tables are one-time builds;
    // the timed region is what a query batch with a fresh predicate
    // costs — filter the code table, ADC shortlist, exact refine.
    benchBuild = Some((s, d) => {
      import graft.ops.ProductQuantization
      val dir = java.nio.file.Files
        .createTempDirectory("graft-hybrid-ann-bench-").toString
      val e = persistedDf(corpus(s, d))
      val ivfCents = persistedDf(kmeansCentroids(e))
      val cellOf = assignCells(e, ivfCents)
        .select(col("vec_id"), col("cell"))
      val pqCents = persistedDf(ProductQuantization.trainCodebooks(e))
      ProductQuantization.encode(e, pqCents).join(cellOf, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      val q = querySet(e)
      ivfProbeLuts(q, ivfCents, pqCents, HybridNprobe)
        .write.mode("overwrite").parquet(s"$dir/probe")
      e.select(col("vec_id"), col("v"), col("nrm"))
        .write.mode("overwrite").parquet(s"$dir/vectors")
      q.write.mode("overwrite").parquet(s"$dir/queries")
      e.unpersist(); ivfCents.unpersist(); pqCents.unpersist()
      () => {
        val idx = s.read.parquet(s"$dir/index")
        val filtered = idx
          .join(hybridDocIds(s, d), idx("vec_id") === col("doc_id"))
          .drop("doc_id")
        rerankStage(
          adcShortlist(filtered, s.read.parquet(s"$dir/probe"),
            HybridShortList),
          s.read.parquet(s"$dir/vectors"),
          s.read.parquet(s"$dir/queries"))
      }
    }))

  /** The prepared query-side table every IVF-PQ variant consumes: each
    * query's `IvfNprobe` nearest cells (cosine argmax over the IVF
    * centroids) joined with its flat ADC lookup table. */
  private def ivfProbeLuts(
      q: DataFrame, ivfCents: DataFrame, pqCents: DataFrame,
      nprobe: Int = IvfNprobe): DataFrame = {
    val probe = q.crossJoin(broadcast(ivfCents))
      .select(col("q_id"),
        (VectorOps.dotNative(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"), col("c_id"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs", col("cos"), col("c_id"),
        lit(nprobe)).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("q_cell"))
    probe.join(graft.ops.ProductQuantization.queryLuts(
      q.select(col("q_id"), col("qv").as("v")), pqCents), "q_id")
  }

  /** ADC scoring over the compressed index, keeping the `ShortList`
    * nearest candidates per query. */
  private def adcShortlist(
      indexed: DataFrame, probeLuts: DataFrame,
      shortList: Int = ShortList): DataFrame =
    indexed.join(broadcast(probeLuts),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("lut")).as("adist"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs",
        -col("adist"), col("vec_id"), lit(shortList)).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("n_id"))

  /** Exact cosine over the short list only: ≤ ShortList rows per query
    * re-read their raw vectors; final order is exact. */
  private def rerankStage(
      shortlist: DataFrame, vectors: DataFrame, q: DataFrame): DataFrame =
    shortlist
      .join(vectors.select(col("vec_id").as("n_id"), col("v"), col("nrm")),
        "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"),
        (VectorOps.dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs", col("cos"), col("n_id"), lit(3))
        .as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("n_id"),
        round(col("p.score"), 6).as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))

  private def ivfPqRerankSql: String = rerankSqlFrom(ivfPqSql)

  /** Extend any ADC-`scored` derivation with the shortlist + exact
    * re-rank tail: cut the base's final adist SELECT, append the
    * `ShortList` cut and the exact-cosine refinement. Shared by the
    * unfiltered re-rank oracle and the hybrid (metadata-filtered) one. */
  private def rerankSqlFrom(
      base: String, shortList: Int = ShortList): String = {
    val cut = base.lastIndexOf("SELECT q_id, n_id, ROUND(adist")
    val prefix = base.substring(0, cut).trim.stripSuffix(",")
    s"""$prefix,
      short AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id, row_number() OVER
            (PARTITION BY q_id ORDER BY adist, n_id) AS rk
          FROM scored) WHERE rk <= $shortList),
      exact AS (SELECT s.q_id, s.n_id,
                  (list_sum(list_transform(generate_series(1, 64),
                     i -> q.qv[i] * e.v[i])) / (q.qn * e.nrm)) AS cos
                FROM short s
                JOIN e ON e.vec_id = s.n_id
                JOIN q ON q.q_id = s.q_id)
      SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM exact)
      WHERE rank <= 3"""
  }

  /** The per-query-batch stage of IVF-PQ: celled ADC ranking over the
    * compressed index; everything it consumes is a prepared table. */
  private def ivfPqSearch(
      indexed: DataFrame, probeLuts: DataFrame): DataFrame =
    indexed.join(broadcast(probeLuts),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("lut")).as("adist"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs",
        -col("adist"), col("vec_id"), lit(3)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("n_id"),
        round(-col("p.score"), 6).as("pq_dist"),
        (col("pos") + 1).cast("int").as("rank"))

  /** The composed oracle: IVF Lloyd CTEs (cosine cells) + PQ Lloyd CTEs
    * (subspace codebooks) + celled ADC ranking. Every CTE family is the
    * one its standalone oracle already validates; only `scored` is new. */
  private def ivfPqSql: String = ivfPqSqlWith("", "")

  /** Same derivation with an optional candidate filter spliced in:
    * `fdCte` contributes a doc-predicate CTE to the WITH list, `fdJoin`
    * restricts the `scored` candidates to its ids — the SQL twin of
    * filtering the compressed index before ADC. */
  private def ivfPqSqlWith(
      fdCte: String, fdJoin: String,
      nprobe: Int = IvfNprobe): String = {
    import graft.ops.ProductQuantization.{Iters => PqIters, K => PqK, M => PqM, SeedStride, SubDim}
    val ivfIters = (1 to IvfIters)
      .map(i => lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")
    val ivfLast = s"c$IvfIters"
    val pqIters = (1 to PqIters)
      .map(i => pqLloydCtes(i, if (i == 1) "pc0" else s"pc${i - 1}"))
      .mkString(",\n")
    val pqLast = s"pc$PqIters"
    val seedMax = SeedStride.toLong * PqK
    val centCos = s"""(list_sum(list_transform(generate_series(1, 64),
                        i -> e.v[i] * c.cv[i])) / (e.nrm * c.cn))"""
    val probeCos = s"""(list_sum(list_transform(generate_series(1, 64),
                         i -> q.qv[i] * c.cv[i])) / (q.qn * c.cn))"""
    val subDot = s"""list_sum(list_transform(generate_series(1, $SubDim),
                   i -> s.sv[i] * c.cv[i]))"""
    val slice = s"list_slice(v, m * $SubDim + 1, m * $SubDim + $SubDim)"
    s"""WITH $embCte,$fdCte
      c0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e
             WHERE vec_id % 50 = 0),
      $ivfIters,
      cellof AS (SELECT vec_id, c_id AS cell FROM (
          SELECT e.vec_id, c.c_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY $centCos DESC, c.c_id) AS rn
          FROM e, $ivfLast c) WHERE rn = 1),
      ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
      sub AS (SELECT vec_id, m,
                $slice AS sv,
                list_sum(list_transform($slice, x -> x * x)) AS sn2
              FROM e CROSS JOIN ms),
      pc0 AS (SELECT m, CAST(vec_id // $SeedStride AS INT) AS c_id,
                sv AS cv, sn2 AS cn2
              FROM sub
              WHERE vec_id % $SeedStride = 0 AND vec_id < $seedMax),
      $pqIters,
      paf AS (SELECT vec_id, m, c FROM (
          SELECT s.vec_id, s.m, c.c_id AS c,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ROUND(s.sn2 + c.cn2 - 2 * $subDot, 6), c.c_id) AS rn
          FROM sub s JOIN $pqLast c ON s.m = c.m) WHERE rn = 1),
      codes AS (SELECT vec_id, list(c ORDER BY m) AS codes
                FROM paf GROUP BY vec_id),
      q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
            WHERE vec_id % 100 = 0),
      probe AS (SELECT q_id, c_id AS q_cell FROM (
          SELECT q.q_id, c.c_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY $probeCos DESC, c.c_id) AS rn
          FROM q, $ivfLast c) WHERE rn <= $nprobe),
      qlut AS (SELECT s.vec_id AS q_id, s.m, c.c_id,
                 ROUND(s.sn2 + c.cn2 - 2 * $subDot, 6) AS d
               FROM sub s JOIN $pqLast c ON s.m = c.m
               WHERE s.vec_id % 100 = 0),
      luts AS (SELECT q_id, list(d ORDER BY m * $PqK + c_id) AS lut
               FROM qlut GROUP BY q_id),
      scored AS (SELECT p.q_id, cd.vec_id AS n_id,
                   list_sum(list_transform(generate_series(1, $PqM),
                     m -> l.lut[(m - 1) * (len(l.lut) // $PqM)
                                + cd.codes[m] + 1])) AS adist
                 FROM codes cd
                   JOIN cellof a ON cd.vec_id = a.vec_id
                   JOIN probe p ON a.cell = p.q_cell
                   JOIN luts l ON l.q_id = p.q_id$fdJoin
                 WHERE cd.vec_id <> p.q_id)
      SELECT q_id, n_id, ROUND(adist, 6) AS pq_dist,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY q_id ORDER BY adist, n_id) AS rank
            FROM scored)
      WHERE rank <= 3"""
  }

  // -------------------------------------------------- threshold near-dups
  /** Cosine near-dup pairs blocked by hyperplane-LSH bucket — the
    * production blocking scheme (no label needed): only same-bucket pairs
    * are scored, cutting candidates ~2^planes while random-hyperplane
    * locality keeps high-cosine pairs mostly co-bucketed. The join
    * strategy is size-adaptive ([[graft.ops.VectorOps.lshNearDupPairs]]):
    * a small corpus broadcasts its build side (probe scan stays fully
    * parallel); past the broadcast ceiling it switches to a bucket-key
    * shuffle join, where parallelism is bucket-bounded — at scale pass
    * more planes so buckets ≫ cores. `LshNearDupStrategySpec` pins the
    * flip. */
  private val lshNearDup = GraftQuery(
    "x_embed_lsh_neardup",
    (s, d) => VectorOps.lshNearDupPairs(corpus(s, d), Planes, minCos = 0.4),
    Some {
      val bucket = VectorOps.sqlLshBucket("v", Planes)
      s"""WITH $embCte,
        be AS (SELECT vec_id, v, nrm, CAST($bucket AS BIGINT) AS bucket FROM e)
        SELECT * FROM (
          SELECT a.bucket AS bucket, a.vec_id AS a_id, b.vec_id AS b_id,
            ROUND(list_sum(list_transform(generate_series(1, 64),
                    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos_sim
          FROM be a JOIN be b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        WHERE cos_sim >= 0.4"""
    })

  /** Cosine near-dup pairs, blocked by `label` (the natural partition
    * key when one exists; [[lshNearDup]] is the label-free variant).
    * Size-adaptive ([[graft.ops.VectorOps.labelNearDupPairs]]): small
    * corpora broadcast the build side; past the ceiling it salts the
    * label key into (label, salt) so the shuffle has |labels| × R
    * distinct keys — never a full-corpus broadcast, never a
    * parallelism-|labels| shuffle. `LabelNearDupStrategySpec` pins the
    * flip and the salted key fan-out. */
  private val cosineNearDup = GraftQuery(
    "x_embed_cosine_neardup",
    (s, d) => VectorOps.labelNearDupPairs(corpus(s, d), "label", minCos = 0.4),
    Some(s"""WITH $embCte
      SELECT * FROM (
        SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
          ROUND(list_sum(list_transform(generate_series(1, 64),
                  i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)
            AS cos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos_sim >= 0.4"""))

  // ------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic deduplication: k-means cells block the
    * pairwise work (the published algorithm's shape), then within each
    * cell a vector is DROPPED when a lower-id cell-mate sits at cosine
    * ≥ threshold — the deterministic keep-first policy. Output: every
    * embedded doc with its cell and keep/drop flag.
    *
    * Scale shape: the only pairwise stage is the within-cell
    * self-join, and [[seedStride]] caps cells at ~√n members, so the
    * candidate volume is O(n^1.5) worst-case and embarrassingly
    * cell-parallel — never all-pairs. Cosines are rounded to 6 before
    * the threshold compare so both engines make identical keep
    * decisions (same boundary discipline as the IVF oracle). The
    * threshold matches the corpus's near-dup convention
    * (`x_embed_cosine_neardup`'s minCos — the synthetic 64-dim
    * vectors sit at low cosines). */
  val SemDedupThreshold = 0.4

  /** The dedup stage over a celled corpus (vec_id, v, nrm, cell):
    * within-cell keep-first flagging — shared by the inline query and
    * the persisted-index bench path. */
  private def semDedupStage(ce: DataFrame): DataFrame = {
    val a = ce.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
    val b = ce.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dropped = a.join(b, Seq("cell"))
      .where(col("b_id") < col("vec_id"))
      .where(round(VectorOps.dotNative(col("v"), col("bv")) /
        (col("nrm") * col("bn")), 6) >= lit(SemDedupThreshold))
      .select(col("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    ce.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }

  private val semDedup = GraftQuery(
    "x_embed_sem_dedup",
    (s, d) => {
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      semDedupStage(e.join(
        assignCells(e, cents).select(col("vec_id"), col("cell")), "vec_id"))
    },
    Some {
      val iters = (1 to IvfIters)
        .map(i => lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}"))
        .mkString(",\n")
      val last = s"c$IvfIters"
      val centCos = s"""(list_sum(list_transform(generate_series(1, 64),
                          i -> e.v[i] * c.cv[i])) / (e.nrm * c.cn))"""
      val pairCos = s"""(list_sum(list_transform(generate_series(1, 64),
                          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm))"""
      s"""WITH $embCte,
        c0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e
               WHERE vec_id % 50 = 0),
        $iters,
        assign AS (SELECT vec_id, c_id AS cell FROM (
            SELECT e.vec_id, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY $centCos DESC, c.c_id) AS rn
            FROM e, $last c) WHERE rn = 1),
        ce AS (SELECT e.vec_id, e.v, e.nrm, a.cell
               FROM e JOIN assign a USING (vec_id)),
        dropped AS (SELECT DISTINCT a.vec_id FROM ce a JOIN ce b
                    ON a.cell = b.cell AND b.vec_id < a.vec_id
                    WHERE ROUND($pairCos, 6) >= $SemDedupThreshold)
        SELECT ce.vec_id, CAST(ce.cell AS BIGINT) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM ce LEFT JOIN dropped d ON ce.vec_id = d.vec_id"""
    },
    // Timed region = the within-cell dedup stage over the persisted
    // celled corpus — production SemDeDup reuses the clustering the
    // embedding/indexing stage already fitted (same shape as the ANN
    // ladder's benchBuild).
    benchBuild = Some((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-semdedup-bench-").toString
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      e.join(assignCells(e, cents).select(col("vec_id"), col("cell")),
          "vec_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      e.unpersist(); cents.unpersist()
      () => semDedupStage(s.read.parquet(s"$dir/index"))
    }))

  // ---------------------------------------------- cluster topic labels
  /** Corpus-exploration operator: label each embedding-space cluster
    * with its distinguishing terms — the deterministic k-means cells of
    * the IVF index crossed with cell-level TF-IDF over the joined
    * documents ("what is cluster 7 about"). Scale shape: cell
    * assignment is the IVF indexing pass (broadcast centroids, one
    * shuffle); term scoring is two (cell, term) hash aggregates plus a
    * broadcast of the per-term cell-frequency table; the ranking window
    * partitions over ~√n cells of vocabulary rows, never over
    * documents. */
  /** The term-scoring stage over a (vec_id, cell) assignment: cell-level
    * TF-IDF with top-5 ranking — shared by the inline query and the
    * persisted-assignment bench path. */
  private def clusterTermStage(cells: DataFrame, docs: DataFrame): DataFrame = {
    val tf = docs.join(cells, docs("doc_id") === cells("vec_id"))
      .select(col("cell"),
        explode(graft.ops.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("cell", "term").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("term").agg(count(lit(1)).as("cf"))
    val n = cells.agg(countDistinct(col("cell")).as("n_cells"))
    val w = Window.partitionBy("cell").orderBy(desc("score"), col("term"))
    tf.join(broadcast(cf), "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_cells") + 1.0) / (col("cf") + 1.0)),
          6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("cell").cast("long").as("cell"), col("term"),
        col("score"), col("rank"))
  }

  private val clusterTopTerms = GraftQuery(
    "x_cluster_top_terms",
    (s, d) => {
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      clusterTermStage(
        assignCells(e, cents).select(col("vec_id"), col("cell")),
        Tables.documents(s, d))
    },
    Some {
      val iters = (1 to IvfIters)
        .map(i => lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}"))
        .mkString(",\n")
      val centCos = s"""(list_sum(list_transform(generate_series(1, 64),
                          i -> e.v[i] * c.cv[i])) / (e.nrm * c.cn))"""
      s"""WITH $embCte,
        c0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e
               WHERE vec_id % 50 = 0),
        $iters,
        assign AS (SELECT vec_id, c_id AS cell FROM (
            SELECT e.vec_id, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY $centCos DESC, c.c_id) AS rn
            FROM e, c$IvfIters c) WHERE rn = 1),
        toks AS (SELECT a.cell,
                   list_filter(str_split_regex(lower(d.text), '\\s+'),
                               t -> t <> '') AS toks
                 FROM documents d JOIN assign a ON d.doc_id = a.vec_id),
        tfc AS (SELECT cell, term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT cell, unnest(toks) AS term FROM toks)
                GROUP BY 1, 2),
        cfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
                FROM tfc GROUP BY 1),
        n AS (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells
              FROM assign),
        scored AS (SELECT cell, tfc.term,
            ROUND(tf * ln((n_cells + 1.0) / (cf + 1.0)), 6) AS score
          FROM tfc JOIN cfc ON tfc.term = cfc.term, n)
      SELECT CAST(cell AS BIGINT) AS cell, term, score,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY cell ORDER BY score DESC, term) AS rank
            FROM scored)
      WHERE rank <= 5"""
    },
    // Timed region = the docs-join + TF-IDF stage over the persisted
    // cell assignment (the clustering is the indexing stage's output).
    benchBuild = Some((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-topterms-bench-").toString
      val e = persistedDf(corpus(s, d))
      val cents = persistedDf(kmeansCentroids(e))
      assignCells(e, cents).select(col("vec_id"), col("cell"))
        .write.mode("overwrite").parquet(s"$dir/cells")
      e.unpersist(); cents.unpersist()
      () => clusterTermStage(s.read.parquet(s"$dir/cells"),
        Tables.documents(s, d))
    }))

  // ------------------------------------------- reciprocal rank fusion
  /** Hybrid lexical + dense retrieval fused with RRF (K = 60): BM25
    * over the fixed term query (same derivation as `x_bm25_search`)
    * and cosine against query vector 0 each produce a top-20, and a
    * document's fused score is Σ 1/(K + rank) over the lists it
    * appears in — the standard fusion that needs NO score calibration
    * between systems. Both ranks are computed on ROUNDED scores with
    * id tie-breaks, so any engine derives identical lists; the
    * 20-row ranked heads are the only single-partition work (the
    * global sorts underneath are TakeOrderedAndProject).
    *
    * Scale shape: the lexical side shuffles only query-term postings
    * (in-array filter before explode), the dense side broadcasts one
    * query row and shuffles (vec_id, cos) pairs; fusion is a
    * full-outer join of two 20-row lists. */
  private val rrfFusion = GraftQuery(
    "x_search_rrf_fusion",
    (s, d) => {
      graft.functions.VectorExpressions.register(s)
      import graft.ops.TextFunctions
      val terms = Seq("hash", "join", "vector")
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("toks"))
      val dl = toks.select(col("doc_id"),
        size(col("toks")).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        round(avg("dl"), 6).as("avgdl"))
      val tf = toks
        .select(col("doc_id"),
          explode(filter(col("toks"), t => t.isInCollection(terms)))
            .as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val lex = tf.join(broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("score", round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
        .groupBy("doc_id").agg(round(sum("score"), 5).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
      val lexRanked = lex.withColumn("lex_rank",
        row_number().over(Window.orderBy(desc("bm25"), col("doc_id")))
          .cast("int"))
      val e = corpus(s, d)
      val q = e.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val dense = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(VectorOps.dotNative(col("qv"), col("v")) /
            (col("qn") * col("nrm")), 6).as("cos"))
        .orderBy(desc("cos"), col("doc_id")).limit(20)
      val denseRanked = dense.withColumn("dense_rank",
        row_number().over(Window.orderBy(desc("cos"), col("doc_id")))
          .cast("int"))
      lexRanked.join(denseRanked, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)),
            6).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id")).limit(10)
    },
    Some(s"""WITH toks AS (
              SELECT doc_id,
                     list_filter(str_split_regex(lower(text), '\\s+'),
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
                      JOIN dl ON tf.doc_id = dl.doc_id, stats),
            lex AS (SELECT doc_id, ROUND(SUM(score), 5) AS bm25
                    FROM per GROUP BY 1
                    ORDER BY bm25 DESC, doc_id LIMIT 20),
            lexr AS (SELECT doc_id, CAST(row_number() OVER
                       (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rank
                     FROM lex),
            $embCte,
            qq AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
            dense AS (SELECT vec_id AS doc_id, ROUND($cosSql, 6) AS cos
                      FROM e, qq WHERE vec_id <> 0
                      ORDER BY cos DESC, doc_id LIMIT 20),
            denser AS (SELECT doc_id, CAST(row_number() OVER
                         (ORDER BY cos DESC, doc_id) AS INTEGER) AS dense_rank
                       FROM dense)
      SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
             l.lex_rank, r.dense_rank,
             ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0) +
                   COALESCE(1.0 / (60 + r.dense_rank), 0), 6) AS rrf
      FROM lexr l FULL OUTER JOIN denser r ON l.doc_id = r.doc_id
      ORDER BY rrf DESC, doc_id LIMIT 10"""))

  // --------------------------------------------------------- MMR re-rank
  /** The 5-step greedy objective UNROLLED as chained CTEs: pick i
    * scores every remaining candidate `0.7·rel − 0.3·max(sim to the
    * i−1 picks)` and takes the row_number-1 row — declaratively
    * exactly what [[graft.ops.Mmr.rerank]]'s in-group loop computes.
    * Generated by a Scala loop because the five steps differ only in
    * the selected-set CTE they join. */
  private val mmrSql: String = {
    val base = s"""WITH $embCte, $queryCte,
      scored AS (SELECT q_id, vec_id AS n_id, $cosSql AS rel
                 FROM e, q WHERE vec_id <> q_id),
      cand AS (SELECT q_id, n_id, rel FROM
                (SELECT *, row_number() OVER
                   (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rr
                 FROM scored) WHERE rr <= 20),
      cv AS (SELECT c.q_id, c.n_id, c.rel, e.v, e.nrm
             FROM cand c JOIN e ON c.n_id = e.vec_id),
      sim AS (SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
               list_sum(list_transform(generate_series(1, 64),
                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS s
              FROM cv a JOIN cv b
                ON a.q_id = b.q_id AND a.n_id <> b.n_id),
      p1 AS (SELECT q_id, n_id, 0.7 * rel AS score FROM
              (SELECT q_id, n_id, rel, row_number() OVER
                 (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rr
               FROM cv) WHERE rr = 1),
      sel1 AS (SELECT q_id, n_id FROM p1)"""
    val steps = (2 to 5).map { i =>
      s""",
      p$i AS (SELECT q_id, n_id, score FROM
               (SELECT q_id, n_id, score, row_number() OVER
                  (PARTITION BY q_id ORDER BY score DESC, n_id) AS rr
                FROM (SELECT c.q_id, c.n_id,
                        0.7 * c.rel - 0.3 * MAX(s.s) AS score
                      FROM cv c
                      JOIN sim s ON s.q_id = c.q_id AND s.a_id = c.n_id
                      JOIN sel${i - 1} x
                        ON x.q_id = s.q_id AND x.n_id = s.b_id
                      WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} z
                        WHERE z.q_id = c.q_id AND z.n_id = c.n_id)
                      GROUP BY c.q_id, c.n_id, c.rel))
              WHERE rr = 1),
      sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
                SELECT q_id, n_id FROM p$i)"""
    }.mkString
    val union = (1 to 5).map(i =>
      s"""SELECT q_id, n_id, ROUND(score, 6) AS mmr,
          CAST($i AS INTEGER) AS rank FROM p$i""")
      .mkString("\n      UNION ALL ")
    base + steps + "\n      " + union
  }

  /** Maximal-Marginal-Relevance diversified re-rank
    * ([[graft.ops.Mmr.rerank]]): over-fetch top-20 cosine candidates
    * per query (the `topk_pairs` map-side-heap stage — only 20·queries
    * rows shuffle), join their vectors back, then run the greedy
    * λ = 0.7 diversity re-rank per query group. The sequential-greedy
    * objective is not a windowed aggregate — per-query `flatMapGroups`
    * is the honest distributed shape (parallel across queries, O(k·n)
    * inside each bounded pool, no pairwise matrix ever shuffled). */
  private val mmrRerank = GraftQuery(
    "x_embed_mmr_rerank",
    (s, d) => {
      import s.implicits._
      val e = persistedDf(corpus(s, d))
      val scored = e.crossJoin(broadcast(querySet(e)))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (VectorOps.dotNative(col("qv"), col("v")) /
            (col("qn") * col("nrm"))).as("cos"))
      val cand = scored.groupBy("q_id")
        .agg(call_function("topk_pairs", col("cos"), col("n_id"), lit(20))
          .as("top"))
        .select(col("q_id"), explode(col("top")).as("p"))
        .select(col("q_id"), col("p.id").as("n_id"), col("p.score").as("rel"))
      val withVec = cand
        .join(e.select(col("vec_id"), col("v"), col("nrm")),
          cand("n_id") === col("vec_id"))
        .select(col("q_id"), col("n_id"), col("rel"), col("v"), col("nrm"))
        .as[graft.ops.Mmr.Cand]
      graft.ops.Mmr.rerank(withVec, k = 5, lambda = 0.7).toDF()
        .select(col("q_id"), col("n_id"),
          round(col("mmr_score"), 6).as("mmr"), col("rank"))
    },
    Some(mmrSql))

  val queries: Seq[GraftQuery] =
    Seq(cosineTopK, hybridSearch, hybridAnn, annLsh, annIvf, annPq,
      annIvfPq, annIvfPqRerank, cosineNearDup, lshNearDup, rrfFusion,
      semDedup, clusterTopTerms, mmrRerank)
}
