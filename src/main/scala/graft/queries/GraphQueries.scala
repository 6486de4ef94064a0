package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Checkpoints, Graph}

/** Link-analysis queries over graphs derived from the testdata. The
  * supplier↔part incidence graph (distinct `lineitem` pairs, mirrored
  * so the bipartite graph is symmetric and dangling-free) stands in
  * for the web link graph a 100 TB corpus-curation pipeline scores:
  * same edge-list representation, same per-iteration join+agg cost.
  */
object GraphQueries {

  /** Fixed-round PageRank ([[graft.ops.Graph.pageRank]], 3 power
    * iterations, d = 0.85) with the oracle's iterations UNROLLED as
    * chained CTEs — each round is declaratively one contribution
    * join + aggregate + teleport blend, which is exactly what the
    * engine's loop executes distributedly. Ranks are scaled by the
    * node count (values ~1) before rounding so the 6-decimal hash
    * compare sits far above both engines' float-summation noise. */
  private val pagerank = GraftQuery(
    "x_graph_pagerank",
    (s, d) => {
      // the distinct edge derivation is consumed by the mirror union
      // and then by every stage of the iteration — materialize it ONCE
      // (without this the lineitem scan + distinct recomputes per
      // consumer: measured the dominant cost of the whole query).
      // Node keys stay NARROW through the whole iteration (guide
      // §2.3): suppkey↦2k, partkey↦2k+1 — longs dedupe, hash, and
      // shuffle at a fraction of the "s"/"p"-prefixed strings' cost;
      // PageRank never compares node ids beyond equality, so the
      // bijection is invisible to the arithmetic and the display
      // strings are rebuilt once, on the O(nodes) result vector.
      val base = Checkpoints.pin(Tables.lineitem(s, d)
        .select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .distinct())
      val edges = base.union(
        base.select(col("dst").as("src"), col("src").as("dst")))
      val ranks = Graph.pageRank(edges, iterations = 3, damping = 0.85)
      // ranks reads its own pin, not the edges
      Checkpoints.release(base)
      // the returned vector is materialized — N is a cheap count of it
      val n = ranks.count().toDouble
      ranks.select(
        when(col("node") % 2 === 0,
          concat(lit("s"), shiftright(col("node"), 1)))
          .otherwise(concat(lit("p"), shiftright(col("node"), 1)))
          .as("node"),
        round(col("pr") * lit(n), 6).as("pr_n"))
    },
    Some("""WITH b AS (SELECT DISTINCT 's' || l_suppkey AS src,
                   'p' || l_partkey AS dst FROM lineitem),
            edges AS (SELECT src, dst FROM b
                      UNION ALL SELECT dst AS src, src AS dst FROM b),
            deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
            c1 AS (SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS c
                   FROM edges e JOIN p0 p ON e.src = p.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            p1 AS (SELECT no.node, 0.15 / (SELECT n FROM nn)
                     + 0.85 * COALESCE(c1.c, 0) AS pr
                   FROM nodes no LEFT JOIN c1 ON no.node = c1.node),
            c2 AS (SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS c
                   FROM edges e JOIN p1 p ON e.src = p.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            p2 AS (SELECT no.node, 0.15 / (SELECT n FROM nn)
                     + 0.85 * COALESCE(c2.c, 0) AS pr
                   FROM nodes no LEFT JOIN c2 ON no.node = c2.node),
            c3 AS (SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS c
                   FROM edges e JOIN p2 p ON e.src = p.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            p3 AS (SELECT no.node, 0.15 / (SELECT n FROM nn)
                     + 0.85 * COALESCE(c3.c, 0) AS pr
                   FROM nodes no LEFT JOIN c3 ON no.node = c3.node)
            SELECT node, ROUND(pr * (SELECT n FROM nn), 6) AS pr_n
            FROM p3"""))

  /** ORDER-ISOMORPHIC long encoding of the node-key strings 'p'||k /
    * 's'||k (1 ≤ k < 10⁹, no leading zeros): lexicographic string order
    * ⟺ signed long order, so every `min`/`min_by` tie-break inside the
    * label-propagation rounds picks the same winner over longs that the
    * oracle picks over strings — unlike PageRank (equality-only keys),
    * LPA's labels ARE compared, so a plain numeric key would change
    * results. Layout: [pfx·10¹⁰ + k·10^(9−len)] ≪ 4 | len, where
    * pfx = 1 for 's' (>' p'), k·10^(9−len) left-aligns the digits
    * (lexicographic digit compare), and len breaks the prefix-string
    * tie ("10" < "100"). All values < 2·10¹⁰·16 ≪ 2⁶³. Narrow keys
    * per guide §2.3: the per-round join + two aggregates shuffle longs
    * instead of 5–7-char strings. */
  private[graft] def encKey(sPrefix: Boolean, k: Column): Column = {
    val len = length(k.cast("string")).cast("long")
    val frac = (k.cast("double") *
      pow(lit(10.0), lit(9.0) - len.cast("double"))).cast("long")
    shiftleft(lit(if (sPrefix) 10000000000L else 0L) + frac, 4)
      .bitwiseOR(len)
  }

  /** Inverse of [[encKey]], applied once to the O(nodes) result. The
    * double division is exact: frac = k·10^(9−len) by construction, so
    * the quotient is the integer k (< 2⁵³), which IEEE division returns
    * exactly. */
  private[graft] def decKey(c: Column): Column = {
    val len = c.bitwiseAND(lit(15L)).cast("double")
    val body = shiftrightunsigned(c, 4)
    val frac = pmod(body, lit(10000000000L))
    val k = (frac.cast("double") / pow(lit(10.0), lit(9.0) - len))
      .cast("long")
    concat(when(body >= lit(10000000000L), lit("s")).otherwise(lit("p")),
      k.cast("string"))
  }

  /** Fixed-round synchronous label propagation
    * ([[graft.ops.Graph.labelPropagation]], 3 rounds) over the same
    * mirrored incidence graph: each round every node adopts its
    * in-neighbors' most frequent label (count DESC, label ASC — the
    * engine's one-pass `min_by` argmax, the oracle's windowed pick:
    * same total order, so the label trajectories agree exactly). The
    * unrolled-CTE oracle checks all three rounds' assignments, not a
    * converged fixpoint — fixed rounds are the determinism contract.
    * Node keys ride the whole iteration as [[encKey]] longs (r17,
    * guide §2.3 "narrower types"): the distinct runs over the numeric
    * pair, every round shuffles longs, and the display strings are
    * rebuilt once on the O(nodes) result — label-order isomorphism
    * makes the trajectory bit-identical to the string form. */
  private val labelProp = GraftQuery(
    "x_graph_label_prop",
    (s, d) => {
      val base = Checkpoints.pin(Tables.lineitem(s, d)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
        .select(encKey(sPrefix = true, col("sk")).as("src"),
          encKey(sPrefix = false, col("pk")).as("dst")))
      val edges = base.union(
        base.select(col("dst").as("src"), col("src").as("dst")))
      // encKey values are < 2·10¹⁰·16 < 2³⁹, inside the packed-argmax
      // domain — the round's two aggregates stay HashAggregates
      val labels =
        Graph.labelPropagation(edges, iterations = 3, packedLongLabels = true)
      Checkpoints.release(base)
      labels.select(decKey(col("node")).as("node"),
        decKey(col("label")).as("label"))
    },
    Some {
      val prelude = """WITH b AS (SELECT DISTINCT 's' || l_suppkey AS src,
                   'p' || l_partkey AS dst FROM lineitem),
            edges AS MATERIALIZED (SELECT src, dst FROM b
                      UNION ALL SELECT dst AS src, src AS dst FROM b),
            nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
            l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""
      val rounds = (1 to 3).map { i =>
        s""",
            v$i AS (SELECT e.dst, l.label, COUNT(*) AS n
                    FROM edges e JOIN l${i - 1} l ON e.src = l.node
                    GROUP BY e.dst, l.label),
            w$i AS (SELECT dst AS node, label FROM
                     (SELECT dst, label, row_number() OVER
                        (PARTITION BY dst ORDER BY n DESC, label) AS rr
                      FROM v$i)
                    WHERE rr = 1),
            l$i AS MATERIALIZED (SELECT n.node,
                     COALESCE(w.label, p.label) AS label
                    FROM nodes n LEFT JOIN w$i w USING (node)
                    JOIN l${i - 1} p ON n.node = p.node)"""
      }.mkString
      prelude + rounds + "\n            SELECT node, label FROM l3"
    })

  def queries: Seq[GraftQuery] = Seq(pagerank, labelProp)
}
