package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression half of a
  * large-scale ANN index (IVF picks WHICH vectors to score;
  * PQ makes scoring them cheap).
  *
  * The 64-dim vector space is split into `M` subspaces of `SubDim`
  * dims; each subspace gets its own `K`-centroid codebook (k-means). A
  * vector is stored as M small ints instead of 64 doubles — 32× smaller
  * at the test parameters, 64× with the classic M=8/K=256 layout — and
  * approximate squared L2 distance to a query is M table lookups
  * (`pq_adc`) against the query's per-subspace distance table. At
  * 100 TB of raw embeddings the code table is a few TB and fits the
  * page cache of a modest cluster; search never touches the raw vectors
  * (an optional exact re-rank of the top candidates does, reading k
  * rows per query, not the corpus).
  *
  * Everything is deterministic and cross-engine reproducible, mirroring
  * [[graft.queries.SimilarityQueries]]'s IVF discipline: fixed seeds
  * (the first K vectors at stride `SeedStride`), fixed Lloyd iterations, means
  * rounded to 6 places, distance comparisons on 6-rounded values with
  * id tie-breaks. Unlike the IVF trainer (which drops empty cells), an
  * empty PQ cell CARRIES ITS PREVIOUS CENTROID FORWARD — code ids must
  * stay dense and stable (0..K-1 per subspace) because the ADC lookup
  * table is flat-indexed `m * K + code`.
  */
object ProductQuantization {

  // 16 subspaces of 4 dims: with the test corpora's ~500-vector training
  // sets, 16 cells in a 4-dim subspace quantize far better than 16 cells
  // in an 8-dim one (measured at sf0.01: recall@3 0.33 → 0.67, mean
  // relative ADC error 0.33 → 0.16). A production corpus re-tunes K
  // upward (256 = 1 byte per subspace, the classic layout); the
  // pipeline is parameter-generic.
  val M = 16       // subspaces
  val SubDim = 4   // dims per subspace (M * SubDim = 64)
  val K = 16       // codebook size per subspace
  val Iters = 3    // Lloyd iterations
  val SeedStride = 10

  /** (vec_id, m, sv, sn2): the M subvectors of each vector, with the
    * squared norm precomputed (d² to any centroid then costs one dot
    * product: sn2 + cn2 − 2·sv·cv). Expects columns (id, v). */
  def subvectors(e: DataFrame, idCol: String = "vec_id"): DataFrame =
    e.select(col(idCol), posexplode(array(
        (0 until M).map(m => slice(col("v"), m * SubDim + 1, SubDim)): _*))
      .as(Seq("m", "sv")))
      .withColumn("sn2", VectorOps.dotNative(col("sv"), col("sv")))

  /** Seed codebooks: subvectors of the first K vectors at stride
    * `SeedStride` — pure id arithmetic (`c_id = vec_id / stride`), no
    * sampling, no window, so any engine derives the same seeds. */
  private def seeds(sub: DataFrame): DataFrame =
    sub.where(col("vec_id") % SeedStride === 0 &&
        col("vec_id") < SeedStride.toLong * K)
      .select(col("m"), (col("vec_id") / SeedStride).cast("int").as("c_id"),
        col("sv").as("cv"))
      .withColumn("cn2", VectorOps.dotNative(col("cv"), col("cv")))

  /** Nearest codebook entry per (vector, subspace): min squared distance,
    * 6-rounded with c_id tie-break; the subvector rides through the
    * aggregate so the mean step needs no re-join. */
  private def assign(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"), col("c_id"), col("sv"),
        (col("sn2") + col("cn2") -
          lit(2.0) * VectorOps.dotNative(col("sv"), col("cv"))).as("d2"))
      .groupBy("vec_id", "m")
      .agg(expr("min_by(c_id, struct(round(d2, 6), c_id))").as("c"),
        first(col("sv")).as("sv"))

  /** `Iters` deterministic Lloyd rounds over all M codebooks at once
    * (keyed by (m, c_id) — one job trains all subspaces). Per-cell means
    * via the `vec_sum` element-wise aggregate, rounded to 6 places;
    * empty cells keep their previous centroid. */
  def trainCodebooks(e: DataFrame): DataFrame = {
    val sub = subvectors(e)
    val s0 = seeds(sub)
    // fail fast on a sparse seed set: a corpus missing any of the seed
    // vec_ids (0, stride, …, (K-1)·stride) yields a NON-DENSE codebook,
    // and pq_adc's flat m*K+c LUT indexing (which infers K from
    // lut.length / M) would silently return wrong neighbors. One count
    // over K vectors' subvectors — cheap relative to training.
    val nSeeds = s0.count()
    require(nSeeds == M.toLong * K,
      s"PQ seeding expects vec_ids 0, $SeedStride, …, ${(K - 1) * SeedStride} " +
        s"present: got $nSeeds of ${M * K} seed subvectors; a non-dense " +
        "codebook would misalign pq_adc's flat m*K+c lookup")
    (1 to Iters).foldLeft(s0) { (cents, _) =>
      val means = assign(sub, cents)
        .groupBy(col("m"), col("c").as("c_id"))
        .agg(call_function("vec_sum", col("sv")).as("ssum"),
          count(lit(1)).as("n"))
        .select(col("m"), col("c_id"),
          transform(col("ssum"), x => round(x / col("n"), 6)).as("mcv"))
      // pin per round: the fold otherwise nests each round's plan
      // inside the next (triangular recomputation); superseded rounds'
      // blocks are released immediately (see the IVF trainer)
      val next = Checkpoints.pin(
        cents.select(col("m"), col("c_id"), col("cv").as("pcv"))
          .join(means, Seq("m", "c_id"), "left")
          .select(col("m"), col("c_id"),
            coalesce(col("mcv"), col("pcv")).as("cv"))
          .withColumn("cn2", VectorOps.dotNative(col("cv"), col("cv"))))
      Checkpoints.release(cents)
      next
    }
  }

  /** (vec_id, codes): each vector's M codebook ids, ordered by subspace —
    * the 64×-compressed representation the search scans. */
  def encode(e: DataFrame, cents: DataFrame): DataFrame =
    assign(subvectors(e), cents)
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("c")))),
        s => s.getField("c")).as("codes"))

  /** (q_id, lut): each query's flat ADC table — the 6-rounded squared
    * distance from its m-th subvector to codebook entry (m, c), laid out
    * `[m * K + c]` for `pq_adc`'s positional lookup. */
  def queryLuts(q: DataFrame, cents: DataFrame): DataFrame =
    subvectors(q, "q_id")
      .join(broadcast(cents), Seq("m"))
      .select(col("q_id"), (col("m") * K + col("c_id")).as("idx"),
        round(col("sn2") + col("cn2") -
          lit(2.0) * VectorOps.dotNative(col("sv"), col("cv")), 6).as("d"))
      .groupBy("q_id")
      .agg(transform(
        array_sort(collect_list(struct(col("idx"), col("d")))),
        s => s.getField("d")).as("lut"))

  /** Top-k nearest (smallest approximate d²) corpus vectors per query:
    * one scan of the CODE table (never the raw vectors) against the
    * broadcast query LUTs; `topk_pairs` keeps k rows per query on the
    * shuffle. Ties break to the lower vec_id. */
  def adcTopK(codes: DataFrame, luts: DataFrame, k: Int): DataFrame =
    codes.crossJoin(broadcast(luts))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("lut")).as("adist"))
      .groupBy("q_id")
      .agg(call_function("topk_pairs",
        -col("adist"), col("vec_id"), lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("n_id"),
        round(-col("p.score"), 6).as("pq_dist"),
        (col("pos") + 1).cast("int").as("rank"))
}
