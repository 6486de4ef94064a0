package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames. Connected
  * components live in [[Dedup]] (min-label propagation for dedup
  * clustering); this module carries PAGERANK — the canonical iterative
  * link-analysis kernel (Brin & Page 1998), at training-data scale the
  * standard page-importance signal for corpus curation (e.g. a crawl
  * frontier or quality prior computed over the link graph of a 100 TB
  * web snapshot).
  *
  * Scale shape: the edge list is normalized ONCE into
  * `(src, dst, 1/outdeg)` and persisted; each iteration is then one
  * join (ranks ⋈ weighted edges on src) + one aggregation (sum of
  * contributions by dst) — two hash shuffles over edge cardinality,
  * the same cost profile as a GraphX/Pregel superstep, with
  * `localCheckpoint` per round to keep the plan flat (the same
  * lineage-control pattern as [[Dedup.connectedComponents]]). Dangling
  * mass (nodes with no out-edges) is summed into a ONE-ROW frame and
  * broadcast back via crossJoin — never a driver-side collect in the
  * loop, never a full materialization beyond the rank vector itself
  * (O(nodes), the algorithm's irreducible state).
  */
object Graph {

  /** PageRank with damping `d` over a directed edge list (`src`,
    * `dst` columns, any consistent key type; parallel duplicate edges
    * should be pre-deduped by the caller if unwanted — they are
    * counted as weight). Runs EXACTLY `iterations` power-iteration
    * rounds from the uniform vector — fixed rounds, not a convergence
    * test, so results are deterministic and cross-engine checkable.
    * Dangling nodes' mass is redistributed uniformly each round (the
    * standard stochastic-matrix fix), so ranks always sum to 1. */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col("src"), col("dst"))

    // out-degree weighted transition edges, built once for all rounds;
    // localCheckpoint (eager) so each round's double consumption
    // (contribution join + dangling mass) never recomputes the chain
    // AND the planner sees exact materialized sizes — which is what
    // lets it broadcast the rank vector below (a lazy persist measured
    // ~35% slower here: sizes unknown at plan time, no broadcasts)
    val deg = e.groupBy("src").agg(count(lit(1)).as("__outdeg"))
    val weighted = Checkpoints.pin(e.join(deg, "src")
      .select(col("src"), col("dst"),
        (lit(1.0) / col("__outdeg")).as("__w")))
    // nodes with no out-edges: their rank mass has nowhere to go and
    // is teleported uniformly each round; a MIRRORED/regular graph has
    // none at all, and the empty case skips the per-round dangling-mass
    // job entirely (its sum is exactly 0.0 every round, so folding the
    // constant in is bit-identical).
    //
    // SETUP FUSION (r17): the node vector, the node count, and dangling
    // detection all ride ONE pinned aggregation — a src row carries
    // __has_out = 1, a dst row 0, so max(__has_out) = 0 ⟺ no out-edge
    // (exactly the old nodes ⊳ deg anti-join), the count and the
    // dangling total are observe() metrics on the checkpoint's own
    // materialization job, and the dangling frame is a free filter of
    // the pinned vector. Replaces four setup jobs (distinct+checkpoint,
    // count, isEmpty anti-join probe, dangling checkpoint) with one.
    val o = org.apache.spark.sql.Observation()
    val nodesAgg = Checkpoints.pin(
      e.select(col("src").as("node"), lit(1).as("__has_out"))
        .union(e.select(col("dst").as("node"), lit(0).as("__has_out")))
        .groupBy("node").agg(max(col("__has_out")).as("__has_out"))
        .observe(o, count(lit(1)).as("n"),
          sum(lit(1) - col("__has_out")).as("dang")))
    val nodes = nodesAgg.select(col("node"))
    val n = o.get("n").asInstanceOf[Long].toDouble
    val hasDangling = Option(o.get("dang"))
      .exists(_.asInstanceOf[Long] > 0L)
    val dangling = nodesAgg.where(col("__has_out") === 0).select(col("node"))
    // the rank vector is O(nodes) — for graphs whose node set fits a
    // broadcast (most derived entity graphs; NOT a web-scale crawl),
    // shipping it to the edge partitions removes the per-round shuffle
    // of the EDGE list entirely: each round then costs exactly one
    // exchange (the contribution aggregate). Past the threshold the
    // same loop runs with co-partitioned shuffle joins — the adaptive
    // discipline of Dedup.verifyPairs.
    val bcast = n <= 5e6
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df

    // (Evaluated and rejected, r18: looping the rank vector through the
    // driver — collect + re-enter as a local relation — on the
    // broadcast-sized dangling-free path. Measured: job count 21 → 22
    // (JobCountProbe) and shared-sweep wall slightly WORSE; the same
    // collect-loop cost ~0.4 s/round on labelPropagation's A/B
    // (OPTIMIZATION_r18.md, "Graph.labelPropagation"). The per-round
    // localCheckpoint loop stays.)
    var ranks = nodes.withColumn("pr", lit(1.0 / n))
    var round = 0
    while (round < iterations) {
      // contributions and the no-inbox fallback fold into ONE
      // aggregation: every node contributes a literal 0.0 term, so
      // nodes with in-edges sum (terms + 0.0) — exact for doubles —
      // and in-edge-less nodes sum to 0.0, exactly the coalesce the
      // former nodes-LEFT-JOIN-contribs produced, without the join or
      // the contribs broadcast (one exchange per round, not two plans)
      val contribs = weighted
        .join(side(ranks), col("src") === col("node"))
        .select(col("dst").as("node"), (col("pr") * col("__w")).as("__t"))
        .union(nodes.select(col("node"), lit(0.0).as("__t")))
        .groupBy(col("node"))
        .agg(sum(col("__t")).as("__c"))
      val blended =
        if (hasDangling) {
          val dmass = dangling.join(side(ranks), "node")
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dm"))
          contribs.crossJoin(broadcast(dmass)) // one-row scalar, broadcast
            .select(col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (col("__c") + col("__dm") / lit(n))).as("pr"))
        } else contribs.select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("__c")).as("pr"))
      val next = Checkpoints.pin(blended)
      Checkpoints.release(ranks)
      ranks = next
      round += 1
    }
    // the final round reads none of the setup pins
    Checkpoints.release(weighted, nodesAgg)
    ranks
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007) — community
    * detection as fixed-round message passing: every node starts as
    * its own label; each round a node adopts the label most frequent
    * among its IN-neighbors (ties: smallest label; isolated or
    * message-less nodes keep theirs). Fixed rounds + deterministic
    * tie-breaks make the result cross-engine checkable — unlike the
    * asynchronous/randomized variant the paper favors for convergence,
    * which trades determinism away. For exact transitive connectivity
    * use [[Dedup.connectedComponents]]; LPA finds DENSER-than-
    * surroundings groups inside one component.
    *
    * Scale shape per round: one labels⋈edges join, one
    * (dst, label) count aggregate, one per-node argmax (`max_by` on
    * (count, smallest-label) — a partial-aggregable one-pass argmax,
    * not a window sort), `localCheckpoint` pinning each round. */
  /** Label domain bound for [[labelPropagation]]'s packed-argmax fast
    * path: labels must be longs in [0, 2⁴⁰). */
  private val PackBase = 1L << 40

  def labelPropagation(edges: DataFrame, iterations: Int = 3,
      packedLongLabels: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = Checkpoints.pin(edges.select(col("src"), col("dst")))
    // node vector WITH per-node in-degree: the same single exchange the
    // old `distinct` paid (groupBy on the union ≡ distinct), and the
    // max in-degree rides the pin job as an observe() metric — it gates
    // the fused-exchange round shape below (r18), which must not
    // funnel a web-scale hub's raw in-edge list into one partition.
    val nodes0 = e.select(col("src").as("node"), lit(0L).as("__in"))
      .union(e.select(col("dst").as("node"), lit(1L).as("__in")))
      .groupBy(col("node")).agg(sum(col("__in")).as("__in"))
    // packed path's contract checked once, on the O(nodes) vector the
    // loop materializes anyway — a violating key fails the job loudly
    // instead of silently mis-ranking
    val nodes = (if (packedLongLabels)
      nodes0.select(when(col("node") < 0 || col("node") >= PackBase,
        raise_error(concat(lit("labelPropagation(packedLongLabels): node "),
          col("node").cast("string"),
          lit(s" outside [0, $PackBase)")))).otherwise(col("node"))
        .as("node"), col("__in"))
    else nodes0)
    // same adaptive discipline as [[pageRank]]: the label vector is
    // O(nodes) — broadcast it to the edge partitions while it fits, so
    // a round's only exchange is the vote aggregate; shuffle joins
    // past the threshold. The count and max in-degree ride the
    // checkpoint's own materialization job as observe() metrics (r17)
    // instead of separate jobs over the pinned vector.
    val ob = org.apache.spark.sql.Observation()
    val nodesAgg = Checkpoints.pin(nodes
      .observe(ob, count(lit(1)).as("n"), max(col("__in")).as("maxin")))
    val nodesPinned = nodesAgg.select(col("node"))
    val bcast = ob.get("n").asInstanceOf[Long] <= 5000000L
    // FUSED-EXCHANGE rounds (r18, packed path): HashPartitioning(node2)
    // satisfies the ClusteredDistribution of BOTH per-round aggregates
    // (a strict subset of (node2, label)), so one repartition(node2) of
    // the raw vote rows replaces the two aggregate exchanges and the
    // whole round runs in one shuffle + one codegen stage — measured
    // 4.6 → 3.3 s on the bench graph (A/B at sf0.1, OPTIMIZATION_r18.md
    // "Graph.labelPropagation"). The cost is
    // losing map-side partial aggregation on the vote table: every raw
    // vote for a node lands in that node's partition, so the shape is
    // gated on max in-degree — a hub past the gate would concentrate
    // its whole raw in-edge list in one task, exactly the skew the
    // partial-aggregated two-exchange shape absorbs (guide §2.5).
    val fuse = packedLongLabels &&
      Option(ob.get("maxin")).forall(_.asInstanceOf[Long] <= 5000000L)
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // (Evaluated and rejected, r18: looping the label vector through
    // the driver — collect + re-enter as a local relation, saving the
    // per-round checkpoint job and the distributed broadcast build —
    // measured ~0.4 s/round SLOWER than the checkpoint loop at sf0.1
    // (OPTIMIZATION_r18.md "Graph.labelPropagation": operator-with-collect
    // 4.6–5.1 s vs fused-checkpoint 3.1–3.7 s), erasing the
    // fused-exchange win below. The checkpoint loop stays.)
    var labels = nodesPinned.withColumn("label", col("node"))
    var round = 0
    while (round < iterations) {
      // argmax by (count DESC, label ASC) in one partial-aggregable
      // pass. Every node's OWN label rides the same aggregation as a
      // zero-count candidate: a node with real votes never picks it,
      // a message-less node keeps it — the exact keep-own coalesce the
      // former labels-LEFT-JOIN-winner produced, without the per-round
      // join or winner broadcast.
      val next = Checkpoints.pin(if (packedLongLabels) {
        // PACKED fast path (r17): min_by/max_by over a struct ordering
        // key cannot hash-aggregate (struct aggregation buffers are not
        // UnsafeRow-mutable), so the generic path's argmax drops both
        // aggregates to SortAggregate — two extra per-round SORTS of
        // the full vote table outside whole-stage codegen. For long
        // labels in [0, 2⁴⁰) the (count DESC, label ASC) order embeds
        // into ONE decimal: max(__n·2⁴⁰ + (2⁴⁰−1−label)) — primary
        // count DESC, tie smaller label — and max(decimal) is a plain
        // HashAggregate. decimal(38,0), not long, because __n is
        // unbounded (a hub node's in-degree at web scale overflows a
        // long pack); values stay ≤ __n·2⁴⁰ ≪ 10³⁸. The own-label
        // candidate folds in as a zero-weight vote row (sum(__w)
        // instead of count(1)): same groups, same counts, one shape.
        val votes0 = e.join(side(labels), col("src") === col("node"))
          .select(col("dst").as("node2"), col("label"), lit(1L).as("__w"))
          .union(labels.select(col("node").as("node2"), col("label"),
            lit(0L).as("__w")))
        // fused-exchange round shape (see the `fuse` gate note): one
        // hash(node2) repartition feeds BOTH aggregates in one stage
        val votes = (if (fuse) votes0.repartition(col("node2")) else votes0)
          .groupBy(col("node2"), col("label"))
          .agg(sum(col("__w")).as("__n"))
        votes
          .select(col("node2"),
            (col("__n").cast("decimal(25,0)") *
              lit(PackBase).cast("decimal(14,0)") +
              (lit(PackBase - 1) - col("label")).cast("decimal(25,0)"))
              .as("__p"))
          .groupBy(col("node2"))
          .agg(max(col("__p")).as("__pm"))
          .select(col("node2").as("node"),
            (lit(PackBase - 1) -
              pmod(col("__pm"), lit(PackBase).cast("decimal(25,0)"))
                .cast("long")).as("label"))
      } else {
        // generic path: any orderable label type; min_by over the
        // (−count, label) struct — lexicographic struct ordering
        // carries both directions without a window sort (but see the
        // packed path for why this SortAggregates)
        val votes = e.join(side(labels), col("src") === col("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("__n"))
        votes
          .select(col("dst").as("node"), col("label"), col("__n"))
          .union(labels.select(col("node"), col("label"), lit(0L).as("__n")))
          .groupBy(col("node"))
          .agg(expr("min_by(label, struct(-__n, label))").as("label"))
      })
      Checkpoints.release(labels)
      labels = next
      round += 1
    }
    Checkpoints.release(e, nodesAgg)
    labels
  }
}
