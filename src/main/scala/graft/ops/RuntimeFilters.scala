package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semi-join reduction via a broadcast Bloom filter — the 100 TB answer
  * to "join a huge fact against a selective dimension".
  *
  * A plain equi-join shuffles EVERY fact row on the join key; when the
  * dimension side is selective (filtered to 1% of its keys), 99% of that
  * shuffle is rows that won't survive the join. The reduction builds a
  * Bloom filter over the dimension's keys (distributed build, a few MB
  * for tens of millions of keys at 1% fpp), ships it to the fact scan as
  * a plan constant, and drops non-matching rows IN THE SCAN STAGE —
  * before the exchange. The exact join still runs downstream, so false
  * positives are eliminated and results are identical to the unpruned
  * plan; only the shuffled byte volume changes.
  *
  * Spark's own AQE runtime filter (`InjectRuntimeFilter`) applies the
  * same idea automatically but is gated on size thresholds and creation-
  * side heuristics; this operator makes the reduction explicit and
  * composable — usable when the dimension is the output of arbitrary
  * upstream operators the heuristic can't see through.
  */
object RuntimeFilters {

  /** Distributed Bloom-filter build over `dim`'s `key` column, returned
    * as serialized bytes (a plan-constant payload for
    * `bloom_might_contain`). `expectedItems` sizes the filter; when
    * absent, one count() of the dimension (the SMALL side — this is a
    * scalar aggregate, not a collect) decides it. */
  def bloomBytes(
      dim: DataFrame, key: String,
      fpp: Double = 0.01, expectedItems: Option[Long] = None): Array[Byte] = {
    val n = expectedItems.getOrElse(
      dim.select(key).na.drop().count())
    // an EMPTY dimension never reaches the aggregate: zero input rows
    // leave stat.bloomFilter's merged result with no bit buffer (writeTo
    // NPEs), and semantically the filter should reject everything — which
    // a freshly created empty filter does
    val bloom =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else dim.stat.bloomFilter(key, n, fpp)
    val out = new ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  /** The scan-stage membership predicate for a pre-built filter. */
  def mightContain(bloomSer: Array[Byte], key: Column): Column =
    call_function("bloom_might_contain", lit(bloomSer), key)

  /** `fact ⋈ dim` with the fact side Bloom-pruned before the exchange.
    * Result is IDENTICAL to `fact.join(dim, factKey === dimKey)` — the
    * exact join downstream catches the filter's false positives.
    *
    * `dim` is pinned (eager localCheckpoint) before anything reads it:
    * the dimension is otherwise evaluated three times (count, Bloom
    * build, exact join), and a NONDETERMINISTIC upstream — sampling,
    * time-dependent filters — could hand the Bloom pass and the join
    * pass different key sets, turning Bloom false negatives into
    * silently dropped true join rows. Pinning truncates lineage, so
    * every pass reads the same materialized blocks and silent recompute
    * is impossible (executor loss fails loudly instead of resampling).
    * The pinned blocks live as long as the returned plan; `dim` is the
    * SMALL side by contract, so that residency is a few MB. */
  def prunedJoin(
      fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      fpp: Double = 0.01): DataFrame = {
    val pinned = Checkpoints.pin(dim)
    val bytes = bloomBytes(pinned, dimKey, fpp)
    fact.where(mightContain(bytes, fact(factKey)))
      .join(pinned, fact(factKey) === pinned(dimKey))
  }
}
