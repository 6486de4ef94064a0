package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed logistic-regression TRAINING over hashed features — the
  * training half of the fastText-shape quality classifier whose
  * inference face is [[TextAnalysis.linearQualityScore]]: fit the
  * bucket-weight table IN the engine instead of importing it. Plain
  * full-batch gradient descent with a FIXED round count — fixed rounds
  * (not a convergence test) are what make the fit deterministic and
  * cross-engine checkable, the same discipline as
  * [[Graph.pageRank]]'s.
  *
  * Scale shape: the weight vector is FIXED-SIZE by construction
  * (hashed buckets — the same property that makes DSIR's models
  * broadcastable), so every round broadcasts the weights to the
  * feature table and pays two doc-keyed/bucket-keyed aggregate
  * shuffles: margins per example, then the gradient per bucket.
  * Nothing example-scale is ever collected; the driver sees only the
  * O(buckets) weight table between rounds.
  *
  * Cross-engine determinism: the per-bucket gradient is ROUNDED (6
  * decimals) before the weight step each round. Margins reach the
  * gradient through `exp`, whose last-ulp noise differs across engines
  * and float summation orders — rounding at each fold point keeps the
  * noise ~1e-13 against a 1e-6 step, so the weight trajectories agree
  * exactly (the same float discipline as `x_dsir_weights`).
  */
object Logistic {

  /** Fit bucket weights. `features`: one row per (doc_id, b, x) —
    * example, bucket, feature value. `labels`: (doc_id, y) with
    * y ∈ {0.0, 1.0}. Weights start at 1e-9 over the OCCURRING buckets
    * (see the tie note at the initializer);
    * each round steps `w ← w − lr · round(∇, 6)` (default lr = 1/3:
    * a NON-DECIMAL rate keeps the weights — and so every margin —
    * off exact decimal rounding ties; a decimal rate times the
    * rounded gradient would put them right back on) where
    * `∇_b = Σ_d (σ(margin_d) − y_d) · x_{d,b} / (N + 1/3)` (see the
    * denominator note below). Returns (b, w). */
  def train(features: DataFrame, labels: DataFrame,
      lr: Double = 1.0 / 3.0, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // (Evaluated and rejected: pinning f/l hash-partitioned by doc_id
    // via repartition+persist to make the per-round doc_id joins
    // exchange-free — at bench scale AQE already broadcasts the small
    // per-round sides, so the columnar cache encode + force job cost
    // MORE than the saved exchanges; localCheckpoint alone is cheaper.
    // An RDD-scan checkpoint drops output partitioning — an explain
    // probe showed it, since removed and kept in git history — so
    // checkpoint cannot carry the layout either.)
    val f = Checkpoints.pin(features.select(col("doc_id"), col("b"), col("x")))
    // r17: labels attach to the feature table ONCE (inner broadcast
    // join, pinned) instead of a per-round residual join — y rides the
    // margin aggregation as max(y) (constant per example), so each
    // round loses the m ⋈ l join and its labels broadcast build.
    // Unlabeled feature rows never contributed a gradient anyway (the
    // old per-round m ⋈ l was inner); the weight vector still
    // initializes over ALL occurring buckets of `features`, so a
    // bucket exclusive to unlabeled examples keeps its 1e-9 exactly as
    // the old left-join no-gradient case did. The broadcast join
    // streams f's rows in order, so per-example margin summation order
    // — and with it the fitted trajectory — is unchanged.
    val fl = Checkpoints.pin(
      f.join(broadcast(labels.select(col("doc_id"), col("y"))), "doc_id"))
    // the +1/3 makes the divisor (and so every rounded gradient)
    // non-decimal: sums of the rational (σ−y)·x terms can land EXACTLY
    // on a decimal rounding tie, which Spark (half-up) and other
    // engines (half-even) break differently — the same non-dyadic
    // anchor trick as the EWMA α. The scale change is absorbed into
    // the (arbitrary) learning rate.
    val n = labels.count().toDouble + 1.0 / 3.0
    // r18: the weight vector lives on the DRIVER between rounds — it
    // is FIXED-SIZE by construction (hashed buckets; the class doc's
    // contract, and MLlib's own iterate-on-the-driver discipline), so
    // each round collects the O(buckets) rounded gradient and applies
    // the step `w ← w − lr·g` in identical IEEE double arithmetic,
    // instead of running a per-round w ⋈ g job + checkpoint + a
    // broadcast-build job over the distributed weight table. Per round
    // exactly ONE action remains (the gradient aggregation); the
    // weights re-enter the plan as a broadcast local relation, whose
    // broadcast build is driver-local (no job). Nothing example-scale
    // is ever collected — only the weight table, the model itself.
    //
    // weights start at 1e-9, not 0: a zero start makes round 1's
    // residuals exactly +-0.5 and the whole first gradient RATIONAL,
    // which can land exactly on a 6-decimal rounding tie (observed:
    // engines then round the same value in opposite directions). The
    // epsilon pushes every round through exp(), whose transcendental
    // offset moves exact ties off the boundary by ~1e-9 — far above
    // the 1e-16 cross-engine sum noise — while being far below any
    // fit-relevant scale.
    val spark = features.sparkSession
    val bType = f.schema("b").dataType
    val wSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b", bType, nullable = false),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    def wFrame(pairs: Seq[(Any, Double)]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        pairs.map { case (b, v) =>
          org.apache.spark.sql.Row(b, v) }.asJava, wSchema)
    }
    // occurring buckets, in one deterministic driver-side order (the
    // order never affects results — weights are only ever hash-joined
    // on b — but a stable frame beats an arbitrary one). A null bucket
    // never matches that join, so it carries no weight and is left out.
    val buckets: Seq[Any] = f.select(col("b")).where(col("b").isNotNull)
      .distinct().collect().toSeq.map(_.get(0)).sortBy(_.toString)
    var w: Seq[(Any, Double)] = buckets.map(_ -> 1e-9)
    var round_ = 0
    while (round_ < iterations) {
      val wb = broadcast(wFrame(w))
      // margins and residuals in ONE aggregation over the label-carrying
      // feature table: y is constant per example, so max(y) recovers it
      // without a join — the per-row residual expression is the same
      // double arithmetic as the former m ⋈ l form, term by term
      val r = fl.join(wb, "b")
        .groupBy("doc_id")
        .agg(sum(col("w") * col("x")).as("m"), max(col("y")).as("y"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")).as("resid"))
      val g: Map[Any, Double] = fl.join(r, "doc_id")
        .groupBy("b")
        .agg(round(sum(col("resid") * col("x")) / lit(n), 6).as("g"))
        .collect().iterator
        .map(row => row.get(0) -> row.getDouble(1)).toMap
      // the LEFT-join step, driver-side: buckets with no gradient this
      // round (no labeled example carries them) step by exactly 0.0
      w = w.map { case (b, wv) => b -> (wv - lr * g.getOrElse(b, 0.0)) }
      round_ += 1
    }
    // the returned local relation reads neither pin
    Checkpoints.release(f, fl)
    wFrame(w)
  }

  /** Score examples under a weight table: margin, sigmoid score, and
    * the positive-margin keep decision — one broadcast join + one
    * doc-keyed aggregate, the inference cost shape. */
  def score(features: DataFrame, weights: DataFrame): DataFrame =
    features.join(broadcast(weights), "b")
      .groupBy("doc_id")
      .agg(sum(col("w") * col("x")).as("margin"))
      .select(col("doc_id"), col("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin")))).as("score"),
        (col("margin") > 0).as("keep"))
}
