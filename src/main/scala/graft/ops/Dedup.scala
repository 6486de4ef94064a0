package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate detection primitives for the document pipeline: word
  * shingles, MinHash signatures + LSH banding, SimHash bit signatures,
  * and exact n-gram Jaccard verification.
  *
  * Scale design (the 100 TB shape, exercised at test SF):
  *  - candidate generation is always a *band/bucket equi-join* — the only
  *    shuffle carries (doc_id, band_key) pairs, never document bodies;
  *  - shingle sets are re-joined by doc_id only for the final verify of
  *    the (tiny) candidate set;
  *  - hot buckets are capped (`MaxBucket`) so one degenerate key cannot
  *    go quadratic — the standard LSH skew guard;
  *  - all hashes are [[PortableHash]] md5 derivatives so the DuckDB
  *    oracle reproduces every value bit-for-bit.
  */
object Dedup {

  val ShingleN = 3
  val MinHashK = 12
  val Bands = 4
  val RowsPerBand = 3 // MinHashK / Bands
  /** Skew guard: LSH buckets larger than this are dropped from candidate
    * generation (a bucket this hot is a stop-phrase artifact, not dup
    * evidence, and would blow up quadratically). */
  val MaxBucket = 100

  /** Distinct `n`-word shingles of a text, from lower-cased whitespace
    * tokens. Empty array when the text has fewer than `n` tokens. Native
    * `shingle_set` expression — one primitive loop per row inside
    * whole-stage codegen (see [[graft.functions.DedupKernels]]). */
  def shingles(text: Column, n: Int = ShingleN): Column =
    TextFunctions.shingles(text, n)

  /** MinHash signature (array of `MinHashK` longs) via Kirsch–
    * Mitzenhacker double hashing: ONE md5 per shingle yields two base
    * hashes h1 (60-bit) and h2 (56-bit), and component `i` is
    * `min over shingles of (h1 + i·h2)` — a standard min-wise family at a
    * twelfth of the hashing cost of independent per-seed digests. The
    * 56-bit cap on h2 keeps `h1 + 11·h2 < 2^61`: no 64-bit overflow in
    * any engine (some SQL engines raise on BIGINT overflow rather than
    * wrap).
    *
    * Native `minhash_sig` expression ([[graft.functions.MinHashSig]]): a
    * primitive long[] loop, one md5 per shingle. The round-1 interpreted
    * HOF fold (`aggregate(transform(...), zip_with(..., least))`) computed
    * identical values but allocated a 12-element array per shingle outside
    * codegen — 64% of the whole sf0.1 bench. Values are bit-identical, so
    * the DuckDB oracle SQL is unchanged. */
  def minhashSignature(sh: Column): Column =
    call_function("minhash_sig", sh, lit(MinHashK))

  /** The `Bands` LSH band keys over a MATERIALIZED signature column (pass
    * a plain column reference, not the [[minhashSignature]] expression —
    * projection collapse would otherwise inline the whole fold once per
    * band). Docs sharing any band key become candidates.
    *
    * Keys are 60-bit md5 prefixes ([[PortableHash.hash60]]), not 32-char
    * md5 STRINGS (r17, guide §2.3): the banding exchange is the dedup
    * family's hottest shuffle — (doc_id, band_idx, band_key) × Bands per
    * doc — and an 8-byte long shuffles, hashes, and compares at a
    * fraction of a 32-char UTF8String. The oracle truncates identically,
    * so bucket membership agrees bit-for-bit; a 60-bit prefix collision
    * (≈2⁻⁶⁰ per key pair, identical in both engines) could only ADD a
    * candidate pair, which the exact-Jaccard verify then gates. */
  def bandKeys(sig: Column): Seq[Column] =
    (0 until Bands).map { b =>
      PortableHash.hash60(concat_ws("|",
        (0 until RowsPerBand).map(r => sig.getItem(b * RowsPerBand + r)): _*))
    }

  /** All ordered pairs (a < b) of a SORTED id array, as structs (a, b).
    * `ids` must be a materialized column (attribute reads per lambda
    * element are cheap; expression subtrees would not be). */
  def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)),
        b => struct(a.as("a"), b.as("b")))))

  /** Exact Jaccard similarity of two (already-distinct) string sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** 64-bit SimHash — the production near-dup width (Manku et al.,
    * WWW'07 use 64-bit fingerprints for exactly the banding reason
    * documented at [[simhashNearDups]]). Native `simhash64` expression
    * ([[graft.functions.SimHash64]]): bit j is set iff tokens whose
    * 64-bit hash (md5 digest bytes 0-7) has bit j outnumber those that
    * don't, in one primitive loop per row — no explode, no shuffle. */
  def simhash64(text: Column): Column = call_function("simhash64", text)

  /** Cache for intermediates that several plan branches re-read (band
    * tables feeding self-joins, shingle sets feeding verify re-joins).
    * Without it Spark recomputes the md5-heavy derivation once per
    * branch — the dominant cost of every LSH query. */
  private def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Fan the hash-heavy projection across all cores WITHOUT moving
    * document bodies when the scan is already parallel (guide §2.4 /
    * §6): a small local parquet arrives in 1–2 partitions and must
    * spread (that shuffle is tiny), but a corpus-scale scan already has
    * ≥ cores splits — an unconditional repartition there re-shuffles
    * every body byte purely to rebalance work the scan has already
    * balanced. Partition count comes from the planned scan, no job
    * runs; results are identical either way (everything downstream is
    * key-grouped, never order-sensitive). */
  private def fanOut(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
  }

  /** doc_id + shingle-set projection, rows with too few tokens dropped.
    * Repartitioned to full parallelism first: the downstream md5 work is
    * CPU-bound per row, and a small parquet source otherwise arrives as a
    * single partition that would serialize the whole hash grind. */
  def shingleTable(docs: DataFrame): DataFrame = {
    fanOut(docs)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
  }

  /** Bounded bucket membership: the cap+1 SMALLEST doc ids of each group
    * via the [[graft.functions.CollectMinK]] TypedImperativeAggregate —
    * O(cap) memory per group DURING accumulation. The naive
    * `sort_array(collect_list(id))` + post-hoc size filter computes the
    * same surviving buckets but cannot short-circuit: one degenerate key
    * (a boilerplate cluster of 10⁶–10⁸ signature-identical docs, a
    * stopword-grade shingle's corpus-cardinality posting list)
    * materializes its ENTIRE membership in a single task's aggregation
    * buffer before the filter can drop it — an executor OOM invisible at
    * test SF. Contract: ≤ cap members ⇒ complete sorted membership
    * (bit-identical to the collect_list form); > cap ⇒ exactly cap+1
    * elements retained, which the downstream `size ≤ cap` filter drops
    * identically — and `ids[0]` is still the bucket's TRUE minimum (the
    * k smallest always include the smallest), the representative a
    * capped-bucket chain fallback pairs against. */
  private def cappedBucketIds(cap: Int): Column =
    call_function("collect_min_k", col("doc_id"), lit(cap + 1)).as("ids")

  /** Candidate pairs of a banded (group keys…, doc_id) table — ONE
    * shuffle: group each bucket with bounded membership
    * ([[cappedBucketIds]]), explode the ordered pairs of each surviving
    * (2 ≤ size ≤ cap) bucket in place. No self-join, no second pass.
    *
    * `chainCapped = true` adds the over-cap fallback: instead of
    * silently dropping a capped bucket's members from clustering, every
    * member pairs with the bucket's true minimum id — a LINEAR pair
    * count (vs the quadratic explosion the cap exists to prevent) that
    * connected-components collapses into one cluster, so mass-duplicated
    * boilerplate still deduplicates. Over-cap keys are few and tiny by
    * construction (degenerate hash values), so they broadcast; the
    * banded table streams against them with no extra shuffle. */
  private def bucketPairs(
      banded: DataFrame, keys: Seq[String], cap: Int,
      chainCapped: Boolean = false): DataFrame = {
    val buckets0 = banded.groupBy(keys.map(col): _*)
      .agg(cappedBucketIds(cap))
    // two consumers when chaining (under-cap explode + over-cap probe):
    // persist so the banding shuffle+agg runs once
    val buckets = if (chainCapped) persisted(buckets0) else buckets0
    val under = buckets
      .where(size(col("ids")).between(2, cap))
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
    val all =
      if (!chainCapped) under
      else {
        val over = buckets.where(size(col("ids")) === cap + 1)
          .select((keys.map(col) :+ col("ids").getItem(0).as("rep")): _*)
        under.union(
          banded.join(broadcast(over), keys)
            .where(col("doc_id") =!= col("rep"))
            .select(col("rep").as("a_id"), col("doc_id").as("b_id")))
      }
    all.distinct()
  }

  /** LSH candidate pairs from a (doc_id, sig) table. One shuffle: group
    * each band bucket with bounded membership, drop the no-pair and
    * over-MaxBucket buckets (skew guard; `chainCapped` instead chains
    * them to their min id), then explode the ordered pairs of each
    * surviving bucket in place — no self-join, no second pass. */
  private[graft] def lshCandidates(
      sig: DataFrame, chainCapped: Boolean = false): DataFrame =
    bucketPairs(
      sig.select(
        col("doc_id"),
        posexplode(array(bandKeys(col("sig")): _*))
          .as(Seq("band_idx", "band_key"))),
      Seq("band_idx", "band_key"), MaxBucket, chainCapped)

  /** Candidate pairs from MinHash-LSH banding over `docs`, verified with
    * exact shingle Jaccard ≥ `threshold`. Output: (a_id, b_id, jaccard).
    */
  /** (doc_id, sig, band_idx, band_key): the banded form of a signature
    * table — the layout a PERSISTED signature index stores, so an
    * incremental consumer's bucket probe is a plain equi-join with no
    * band recomputation on the index side
    * ([[graft.corpus.StreamingIngest.nearDupIndexSink]]). */
  def bandTable(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array(bandKeys(col("sig")): _*))
        .as(Seq("band_idx", "band_key")))

  /** Fraction of agreeing MinHash components — the unbiased Jaccard
    * estimate two signatures carry on their own. Granularity is
    * 1/MinHashK; choose thresholds on band multiples. */
  def signatureSimilarity(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / lit(MinHashK.toDouble)

  /** Signature-only near-dup pairs: LSH banding candidates verified by
    * component agreement (`signatureSimilarity` ≥ minSim) instead of
    * exact shingle Jaccard — the verify a signature INDEX can run after
    * the original text is gone. Estimate variance is 1/√MinHashK, so
    * this is the streaming-ingest filter, not the offline-audit one
    * ([[minhashNearDups]] keeps the exact verify). */
  def signatureNearDups(sigs: DataFrame, minSim: Double): DataFrame =
    lshCandidates(sigs)
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")),
        "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        signatureSimilarity(col("sig_a"), col("sig_b")).as("sim"))
      .where(col("sim") >= minSim)

  def minhashNearDups(
      docs: DataFrame, threshold: Double,
      broadcastLimit: Long = BroadcastVerifyLimit,
      cacheShingles: Boolean = false): DataFrame = {
    // Default: the shingle table is cheap to recompute (one native
    // shingle_set loop per row) but EXPENSIVE to cache (columnar
    // encoding of string arrays), so it is rebuilt per consumer; only
    // the small signature/band tables — reread by several plan
    // branches — persist. `cacheShingles = true` flips that tradeoff:
    // the full shingle table persists once and the verify stage rereads
    // it instead of re-shingling candidate docs. Measured at sf0.1
    // (SCALE.md, `cacheShingles` knob A/B under "Round-4 'regressions'
    // adjudicated"): caching wins ~13% wall-clock when
    // the table fits memory — but the default stays FALSE because the
    // shingle table is the pipeline's largest intermediate (string
    // arrays ≈ 5-10× raw text) and pinning it at corpus scale evicts
    // more valuable working set; the verify stage only needs the
    // ~1%-of-corpus candidate-member slice the rebuild path regenerates
    // cheaply. Flip on for long-document corpora or multi-consumer use.
    val sh0 = shingleTable(docs)
    val sh = if (cacheShingles) persisted(sh0) else sh0
    // NOT persisted (r18): the signature table has exactly ONE consumer
    // here — the banding candidate generator, whose pair output is
    // eagerly checkpointed inside verifyPairs — so a cache would pay
    // the columnar encode of every (doc_id, long[12]) row to serve one
    // scan. (Multi-consumer signature tables — the streaming near-dup
    // index, signatureNearDups callers — persist on the caller's side.)
    val sig =
      sh.select(col("doc_id"), minhashSignature(col("sh")).as("sig"))
    val verified =
      if (cacheShingles)
        verifyPairs(lshCandidates(sig), docs, broadcastLimit,
          cachedShingles = Some(sh))
      else verifyPairs(lshCandidates(sig), docs, broadcastLimit)
    verified
      .select(col("a_id"), col("b_id"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Engine-internal fast variant of [[minhashNearDups]]: identical
    * banding pipeline and exact-Jaccard verification, but signatures come
    * from the XXH64 `minhash_sig_fast` kernel STRAIGHT from text — no
    * shingle strings, no md5. Candidate sets can differ from the portable
    * path only through hash-family randomness; both are verified with the
    * same exact Jaccard, so false positives are impossible either way.
    *
    * Measured honesty (README.md "Scaling evidence": alternating
    * min-of-2, 64× replicated corpus): with the codegen'd kernels both
    * paths are signature-cheap and END-TO-END EQUAL (~6 s either way) —
    * candidate shuffle + verify
    * dominate, and those are identical. The fast path's remaining edge is
    * memory-bandwidth, not CPU: it never materializes shingle STRINGS, so
    * it wins where per-doc shingle payloads are large (long documents) or
    * where the signature table must be recomputed often. Prefer the
    * portable path whenever an external engine must re-derive signature
    * values; reach for this one only with profiler evidence. */
  def minhashNearDupsFast(
      docs: DataFrame, threshold: Double,
      broadcastLimit: Long = BroadcastVerifyLimit): DataFrame = {
    // not persisted — single consumer, same note as [[minhashNearDups]]
    val sig = fanOut(docs)
      .select(col("doc_id"),
        call_function("minhash_sig_fast",
          col("text"), lit(ShingleN), lit(MinHashK)).as("sig"))
      .where(col("sig").isNotNull)
    verifyPairs(lshCandidates(sig), docs, broadcastLimit)
      .select(col("a_id"), col("b_id"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Above this candidate count the broadcast verify (pairs + their
    * shingle sets must fit one broadcast) switches to co-partitioned
    * shuffle joins. The default assumes a few-KB shingle payload per
    * pair (≈150 MB broadcast at the limit) — a corpus of very long
    * documents (100 K+ shingles each) should pass a smaller limit to
    * [[minhashNearDups]]/[[minhashNearDupsFast]], since the broadcast
    * cost scales with pairs × per-doc shingle bytes, not pairs alone. */
  val BroadcastVerifyLimit = 50_000L

  /** Attach both shingle sets to each candidate pair without re-shingling
    * the corpus: the corpus is first narrowed to candidate MEMBERS by a
    * broadcast join on the exploded id set, so the expensive shingle
    * projection runs over candidate docs only. The join strategy then
    * adapts to the measured candidate count (free — the pair table is
    * checkpointed):
    *  - rare candidates (the common case): the pair table broadcasts and
    *    both shingle scans stream through broadcast-hash joins, zero
    *    shuffle of shingle data;
    *  - dense candidates (> [[BroadcastVerifyLimit]], e.g. a corpus of
    *    pervasive templated text): plain co-partitioned joins — AQE
    *    picks shuffled-hash — because a pairs x shingles broadcast
    *    would be GB-scale (measured: 890 K candidates on the 64×
    *    replicated corpus of README.md "Scaling evidence" made the
    *    broadcast build the whole runtime). */
  private def verifyPairs(
      pairs: DataFrame, docs: DataFrame,
      broadcastLimit: Long = BroadcastVerifyLimit,
      cachedShingles: Option[DataFrame] = None): DataFrame = {
    // EAGER localCheckpoint (not lazy persist) for the tiny pair and id
    // tables: several nested broadcast builds consume them, and a lazy
    // persist materializes inside the first broadcast-build thread,
    // re-running candidate generation per consumer before the cache
    // fills (measured 3x end-to-end on that 64× corpus). The candidate
    // count that picks the join regime rides the checkpoint's own
    // materialization job as an observe() metric (r17) — the separate
    // count job over the pinned table is gone; the observe node
    // vanishes with the truncated lineage, so downstream consumers of
    // the checkpoint never re-fire it.
    val o = org.apache.spark.sql.Observation()
    val p = Checkpoints.pin(pairs.observe(o, count(lit(1)).as("n")))
    val nPairs = o.get("n").asInstanceOf[Long]
    // ids stays lazy: it is a trivial scan of the checkpointed p, and a
    // checkpoint of its own would cost one more job than it saves
    val ids = p.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    // candidate members' shingle sets: reread from the caller's cached
    // table when one exists, re-shingled from the narrowed corpus
    // otherwise (the default tradeoff — see minhashNearDups)
    def shingled(narrow: DataFrame => DataFrame): DataFrame =
      cachedShingles match {
        case Some(c) => narrow(c)
        case None    => shingleTable(narrow(docs))
      }
    if (nPairs <= broadcastLimit) {
      val sh = shingled(_.join(broadcast(ids), "doc_id"))
      val shA = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
      val shB = sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
      val withA = shA.join(broadcast(p), "a_id")
      shB.join(broadcast(withA), "b_id")
    } else {
      // dense regime: ids grows with the pair count, so no forced
      // broadcast anywhere — AQE picks from runtime stats
      val sh = shingled(_.join(ids, "doc_id"))
      val shA = sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
      val shB = sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
      p.join(shA, "a_id").join(shB, "b_id")
    }
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Recall guarantee (4 bands of 16 bits over the 64-bit signature —
    * pigeonhole, two signatures within distance 3 agree on at least one
    * whole band) holds for every pair whose shared bucket stays BELOW
    * the [[MaxBucket]] cap: a duplicate cluster larger than the cap is
    * signature-identical in all four bands, so every band bucket it
    * fills is capped and the cluster yields no pairs — by default such
    * mass-duplicated boilerplate escapes clustering entirely.
    * `chainCapped = true` restores it: each capped bucket's members pair
    * with the bucket's minimum id (linear pairs, never quadratic), so
    * connected-components still collapses the cluster.
    * Output: (a_id, b_id, hamming).
    *
    * Scale shape (the r15 fix — the 32-bit variant's 8-bit band keys had
    * only 256 possible values, so every bucket grew linearly with corpus
    * size and the band self-join generated Θ(n²/1024) candidates):
    *  - 16-bit band keys (65,536 values per band) keep bucket population
    *    at true-duplicate density, the published 64-bit design;
    *  - the same [[MaxBucket]] hot-bucket cap as the MinHash path drops
    *    degenerate buckets (empty/boilerplate docs all hash alike)
    *    before they can go quadratic — a capped bucket's members can
    *    still pair through their other three bands;
    *  - candidate generation is ONE shuffle of (band_idx, band_val,
    *    doc_id) — group each bucket, explode ordered pairs in place (the
    *    [[lshCandidates]] pattern), no self-join — and signatures rejoin
    *    by doc_id only for the final O(candidates) hamming check.
    *    Document bodies never shuffle. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      chainCapped: Boolean = false): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding guarantees recall (below the bucket cap) only " +
        s"for hamming <= 3, got $maxHamming")
    // persisted so projection collapse cannot inline the simhash fold
    // into the four band expressions (which would recompute it 5×/row)
    val sig = persisted(fanOut(docs)
      .select(col("doc_id"), simhash64(col("text")).as("sh64")))
    val pairs = bucketPairs(
      sig.select(col("doc_id"),
        posexplode(array((0 until 4).map(k =>
          shiftrightunsigned(col("sh64"), 16 * k).bitwiseAND(lit(65535L))): _*))
          .as(Seq("band_idx", "band_val"))),
      Seq("band_idx", "band_val"), MaxBucket, chainCapped)
    val shA = sig.select(col("doc_id").as("a_id"), col("sh64").as("sh_a"))
    val shB = sig.select(col("doc_id").as("b_id"), col("sh64").as("sh_b"))
    pairs.join(shA, "a_id").join(shB, "b_id")
      .select(col("a_id"), col("b_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Block widths of the 64-bit signature split into `blocks`
    * nearly-equal contiguous bit blocks, low-to-high (64 % blocks
    * extra bits land on the lowest blocks). */
  private[graft] def blockWidths(blocks: Int): Seq[Int] =
    (0 until blocks).map(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))

  /** The C(blocks, t) permuted-table band keys of a 64-bit signature:
    * one key per t-subset of the disjoint bit blocks, each key the
    * concatenation of its blocks' values (≤ 64 bits total for t <
    * blocks, so one long). Pigeonhole: k = blocks − t bit flips touch
    * at most k blocks, leaving ≥ t intact — SOME t-subset is entirely
    * clean, so every pair within hamming ≤ blocks − t shares at least
    * one key. This is the published 64-bit near-dup table scheme
    * (Manku et al., WWW'07 build such block-combination tables for
    * exactly this recall/key-width trade). */
  private[graft] def permutedBandKeys(
      sig: Column, blocks: Int, t: Int): Seq[Column] = {
    val widths = blockWidths(blocks)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockVal(b: Int): Column =
      shiftrightunsigned(sig, offsets(b))
        .bitwiseAND(lit((1L << widths(b)) - 1))
    (0 until blocks).combinations(t).toSeq.map(c =>
      c.foldLeft(lit(0L): Column)((acc, b) =>
        shiftleft(acc, widths(b)).bitwiseOR(blockVal(b))))
  }

  /** SimHash near-dup pairs beyond hamming 3 — the permuted-table
    * generalization of [[simhashNearDups]]: split the 64-bit signature
    * into `blocks` disjoint blocks and band on every t-subset
    * (t = blocks − maxHamming), C(blocks, t) band tables. Recall is
    * the pigeonhole of [[permutedBandKeys]] — guaranteed below the
    * [[MaxBucket]] cap, same qualifier (and same `chainCapped`
    * fallback) as the 4×16 form.
    *
    * The knobs trade key width against table count: hamming 4 at the
    * default 6 blocks keys on ~21-bit pairs (2M+ values — buckets stay
    * at true-duplicate density) across 15 tables, vs the naive
    * 5-block/1-block-key variant whose 13-bit keys (8,192 values)
    * saturate at corpus scale exactly like the r15 8-bit lesson.
    * Candidate generation stays ONE shuffle of (band_idx, band_val,
    * doc_id) — more tables mean a wider explode, never a second pass —
    * and the shuffle still carries longs, never bodies. */
  def simhashNearDupsPermuted(docs: DataFrame, maxHamming: Int = 4,
      blocks: Int = 6, chainCapped: Boolean = false): DataFrame = {
    require(blocks >= 2 && blocks <= 16,
      s"blocks must be in [2, 16], got $blocks")
    require(maxHamming >= 1 && maxHamming < blocks,
      s"permuted banding needs maxHamming in [1, blocks), got " +
        s"$maxHamming of $blocks blocks")
    val t = blocks - maxHamming
    val sig = persisted(fanOut(docs)
      .select(col("doc_id"), simhash64(col("text")).as("sh64")))
    val pairs = bucketPairs(
      sig.select(col("doc_id"),
        posexplode(array(permutedBandKeys(col("sh64"), blocks, t): _*))
          .as(Seq("band_idx", "band_val"))),
      Seq("band_idx", "band_val"), MaxBucket, chainCapped)
    val shA = sig.select(col("doc_id").as("a_id"), col("sh64").as("sh_a"))
    val shB = sig.select(col("doc_id").as("b_id"), col("sh64").as("sh_b"))
    pairs.join(shA, "a_id").join(shB, "b_id")
      .select(col("a_id"), col("b_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair graph — the clustering
    * step of a dedup pipeline (near-dup pairs → clusters → keep one
    * canonical doc per cluster). Deterministic min-label propagation:
    * every vertex starts as its own label and each round takes the min
    * label over itself and its neighbors, so the fixpoint labels each
    * vertex with the smallest id in its component.
    *
    * Scale shape: each round is ONE shuffle of (id, label) long pairs —
    * document bodies never move — and the round count is the component
    * diameter, which for dup clusters is small (dups of a doc are dups
    * of each other, so clusters are near-cliques). Convergence is
    * detected by the monotone-decreasing label checksum (decimal — no
    * 64-bit overflow at any corpus size); the driver-side loop is
    * control flow only, no data ever collects. For adversarial
    * long-chain graphs the standard upgrade is alternating
    * large-star/small-star (O(log n) rounds); not needed for dedup.
    *
    * @param vertices one `id` column, the vertex universe (docs with no
    *                 pair stay singleton clusters of themselves)
    * @param pairs    `a_id`, `b_id` edges (either orientation)
    * @return (id, label) — label = min vertex id of the component
    */
  def connectedComponents(
      vertices: DataFrame, pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val edges = persisted(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .distinct())
    // Propagation runs over the ACTIVE vertices only — those touching at
    // least one edge. The dup graph is tiny relative to the corpus (at
    // 100 TB: millions of pair-vertices vs billions of docs), so the
    // per-round shuffle must not pay for the untouched majority; they
    // rejoin as self-labeled singletons in one final pass.
    //
    // localCheckpoint (not persist): `labels` feeds BOTH branches of the
    // next round's union, so without lineage truncation the logical plan
    // doubles per round — exponential analysis cost by round ~8. The
    // checkpoint keeps each round's plan O(1); on a real cluster use
    // reliable checkpoint(dir) for executor-loss tolerance. Superseded
    // rounds' checkpoint blocks are released via Checkpoints (clearCache
    // does not cover them); only the final labels stay pinned, and the
    // caller's action reads from those.
    // the convergence checksum rides the checkpoint's own
    // materialization job as an observe() metric — a separate agg
    // action per round would double the job count of the loop, and
    // per-round fixed job overhead IS the dominant CC cost at small
    // active sets (measured: 2 jobs/round ≈ 1.9 s at sf0.1, halved by
    // the fusion). The observe node vanishes with the truncated lineage,
    // so downstream consumers of the checkpoint never re-fire it.
    def pinWithChecksum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val o = org.apache.spark.sql.Observation()
      val pinned = Checkpoints.pin(
        df.observe(o, sum(col("label").cast("decimal(38,0)")).as("s")))
      (pinned, o.get("s").asInstanceOf[java.math.BigDecimal])
    }
    // ROUND-1 FUSION (r17): with labels₀(id) = id, round 1's
    // labels₀ ∪ (labels₀ ⋈ edges) reduces algebraically to
    // min(id, min of in-neighbors) — one aggregation straight over the
    // edge list, no join, no init distinct, and no labels₀ pin job.
    // (src,src) rows stand in for the self candidates (every active
    // vertex appears as a src — edges are mirrored), and groupBy+min
    // dedupes, so the separate distinct exchange is gone too. Round 1
    // can never BE the fixpoint when edges exist (any mirrored edge
    // (a,b), a≠b, strictly lowers the larger endpoint's label), so
    // convergence checking starts at round 2, same as before.
    var (labels, sum0) = pinWithChecksum(
      edges.select(col("src").as("id"), col("src").as("label"))
        .union(edges.select(col("dst").as("id"), col("src").as("label")))
        .groupBy("id").agg(min("label").as("label")))
    var converged = sum0 == null // no edges: nothing to propagate
    var iters = 1
    while (!converged && iters < maxIters) {
      val prop = labels.join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"))
      val (next, sum1) = pinWithChecksum(
        labels.union(prop).groupBy("id").agg(min("label").as("label")))
      converged = sum1.compareTo(sum0) == 0
      sum0 = sum1
      Checkpoints.release(labels)
      labels = next
      iters += 1
    }
    edges.unpersist()
    // a silent non-converged return would mislabel clusters (several
    // docs of one component kept as "canonical") — fail loudly instead;
    // min-label propagation needs `diameter` rounds, so hitting this
    // means a pathological long-chain graph that needs a larger budget
    // or the large-star/small-star variant
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters rounds — " +
        "component diameter exceeds the budget; raise maxIters")
    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round upgrade over [[connectedComponents]]'
    * diameter-bounded label propagation, for adversarial long-chain
    * graphs where the diameter exceeds any sane round budget.
    *
    * Per round, two edge rewrites, each ONE groupBy-shuffle of long
    * pairs:
    *  - large-star: every vertex links its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every vertex links its smaller-or-equal neighbors
    *    (and itself) to the minimum of that smaller neighborhood.
    * The edge set monotonically contracts toward a union of stars
    * centered on component minima; convergence = edge multiset stable
    * (count + checksum, both riding the checkpoint job as observe()
    * metrics). Dup clusters are near-cliques, so the default
    * label-propagation variant stays the pipeline default — this one is
    * the flagged escape hatch for pathological graphs.
    *
    * @return (id, label) — label = min vertex id of the component */
  def connectedComponentsStar(
      vertices: DataFrame, pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    def directed(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def norm(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val dir = directed(e)
      val m = dir.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      norm(dir.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = directed(e)
      val smaller = dir.where(col("v") < col("u"))
      val m = smaller.groupBy("u").agg(min(col("v")).as("m"))
      norm(smaller.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    def pinWithSig(df: DataFrame): (DataFrame, (Long, Any)) = {
      val o = org.apache.spark.sql.Observation()
      // edge-multiset signature = count + sum of per-edge xxhash64:
      // order-independent and free of STRUCTURED collisions. The earlier
      // `u * 4e9 + v` encoding was only injective below 4e9 — exactly the
      // billion-id regime this operator is the escape hatch for, where
      // two different contracting edge sets could hash equal and declare
      // convergence early. Hash collisions remain possible but are
      // adversarial-random (~2^-64 per pair), not id-magnitude-driven.
      // decimal accumulator: a sum of random 64-bit hashes overflows
      // LongType under ANSI semantics
      val pinned = Checkpoints.pin(df.observe(o,
        count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("s")))
      (pinned, (o.get("n").asInstanceOf[Long], o.get("s")))
    }
    var (edges, sig0) = pinWithSig(
      norm(pairs.select(col("a_id").as("u"), col("b_id").as("v"))))
    var converged = sig0._1 == 0L // no edges
    var iters = 0
    while (!converged && iters < maxIters) {
      val (next, sig1) = pinWithSig(smallStar(largeStar(edges)))
      converged = sig1 == sig0
      sig0 = sig1
      Checkpoints.release(edges)
      edges = next
      iters += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxIters rounds")
    // fixpoint is a union of stars: each vertex's label is the min of
    // its neighborhood (the star center), roots label themselves
    val labels = directed(edges).groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("id"), least(col("mn"), col("u")).as("label"))
    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Cluster table from a PAIR INPUT — the composition point of a real
    * dedup pipeline, where near-dup pairs are computed once and feed
    * both reporting and clustering: every vertex labeled with its
    * component (min id), the component size, and whether it is the
    * canonical keeper (`id == label`). Filtering `is_canonical` yields
    * the deduplicated corpus. Pair generation stays OUTSIDE — callers
    * chain [[minhashNearDups]] / [[simhashNearDups]] /
    * [[invertedIndexNearDups]] or read persisted pairs, paying the
    * signature stage exactly once per pipeline. */
  def clusterTable(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(vertices, pairs)
    // cluster_size: one (label) shuffle of long pairs; the sizes side is
    // |clusters| rows ≤ |vertices| — broadcast only when genuinely
    // small, so let AQE pick the strategy from runtime stats
    val sizes = comp.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("is_canonical"))
  }

  /** Inverted-index n-gram candidate generation: pairs sharing at least
    * `minShared` *rare* shingles (document frequency ≤ `maxDf`), verified
    * with exact Jaccard ≥ `threshold`. The df cap is the skew guard — a
    * shingle appearing in thousands of docs generates no pairs.
    *
    * The posting shuffle is keyed on a 60-bit [[PortableHash.hash60]] of
    * each shingle, hashed map-side BEFORE the explode: the groupBy then
    * moves (long, long) pairs instead of ~25-byte shingle strings —
    * a 3-4× shuffle-byte reduction that scales with corpus text volume,
    * and the group compare becomes a long compare. md5-derived, so the
    * oracle re-derives identical posting groups; a 60-bit collision
    * would only merge two posting lists IDENTICALLY in both engines,
    * and the exact-Jaccard verify still gates every emitted pair. */
  def invertedIndexNearDups(
      docs: DataFrame, maxDf: Int, minShared: Int, threshold: Double): DataFrame = {
    val sh = shingleTable(docs)
    val posting = sh.select(col("doc_id"),
      explode(transform(col("sh"), s => PortableHash.hash60(s)))
        .as("shingle_h"))
    // one shuffle: each rare shingle's posting list (df = bucket size,
    // capped by maxDf — the skew guard; membership bounded DURING
    // accumulation, see cappedBucketIds: a stopword-grade shingle's
    // posting is corpus-cardinality and must never fill one buffer)
    // explodes to its ordered pairs. Over-cap postings drop outright —
    // a capped posting is by definition not a RARE shingle, so the drop
    // is the operator's semantics, not a recall compromise.
    val pairs = posting.groupBy("shingle_h")
      .agg(cappedBucketIds(maxDf))
      .where(size(col("ids")).between(2, maxDf))
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    verifyPairs(pairs, docs)
      .select(col("a_id"), col("b_id"), col("shared"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC near-duplication — Broder's CONTAINMENT |A∩B| / |A| —
    * the subset-detection twin of the Jaccard pipeline above: a quote,
    * an excerpt, or a wholesale inclusion of one document inside a much
    * larger one scores near 1.0 containment while its Jaccard stays
    * tiny (the union is dominated by the big doc), so symmetric dedup
    * never sees it. Candidate generation is IDENTICAL to
    * [[invertedIndexNearDups]] (rare-shingle posting pairs — one
    * shuffle, df-capped skew guard); verification computes both
    * directed containments exactly and keeps pairs where either
    * direction clears `threshold`. Same scale shape as the Jaccard
    * path: nothing new shuffles, only the verify arithmetic changes. */
  def containmentNearDups(
      docs: DataFrame, maxDf: Int, minShared: Int, threshold: Double): DataFrame = {
    val sh = shingleTable(docs)
    val posting = sh.select(col("doc_id"),
      explode(transform(col("sh"), s => PortableHash.hash60(s)))
        .as("shingle_h"))
    // bounded posting membership (cappedBucketIds) for the same reason
    // as invertedIndexNearDups; over-cap = not rare = correct drop
    val pairs = posting.groupBy("shingle_h")
      .agg(cappedBucketIds(maxDf))
      .where(size(col("ids")).between(2, maxDf))
      .select(explode(orderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      .cast("double")
    verifyPairs(pairs, docs)
      .select(col("a_id"), col("b_id"), col("shared"),
        round(inter / size(col("sh_a")), 6).as("containment_a"),
        round(inter / size(col("sh_b")), 6).as("containment_b"))
      .where(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
  }

  /** Per-document CROSS-corpus duplicated n-gram fraction — the
    * exact-duplication quality signal of the large-corpus filtering
    * literature (fraction of a document's distinct n-grams that occur
    * in ≥ `minDf` documents), complementary to the WITHIN-document
    * `repetition_ratio`. Output: (doc_id, dup_ngrams, total_ngrams,
    * dup_fraction), one row per doc with ≥ 1 shingle.
    *
    * Scale shape: no pair generation anywhere — two linear shuffles on
    * the 60-bit shingle hash (map-combinable df count, then the
    * semi-join marking duplicated postings) and one on doc_id (the
    * per-doc rollup). Head shingles ("of the and") are the expected
    * skew; the semi-join is equi-keyed so AQE's skew-join split
    * handles them, and no bucket ever explodes into pairs. The hash is
    * md5-derived ([[PortableHash.hash60]]) so any engine re-derives
    * identical posting groups. */
  def dupNgramStats(docs: DataFrame, minDf: Int = 2): DataFrame = {
    val sh = shingleTable(docs)
    val posting = sh.select(col("doc_id"),
      explode(transform(col("sh"), s => PortableHash.hash60(s)))
        .as("shingle_h"))
    // posting rows are (doc, DISTINCT shingle) pairs, so count(*) per
    // shingle = document frequency — partial-aggregated map-side
    val dup = posting.groupBy("shingle_h")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select("shingle_h")
    val perDoc = posting.join(dup, Seq("shingle_h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_ngrams"))
    sh.select(col("doc_id"), size(col("sh")).cast("long").as("total_ngrams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        col("total_ngrams"),
        round(coalesce(col("dup_ngrams"), lit(0L)).cast("double") /
          col("total_ngrams"), 6).as("dup_fraction"))
  }

  /** Maximal duplicated token SPANS — the exact-substring-dedup
    * primitive of the training-data literature (find verbatim repeated
    * passages, then cut or down-weight them): positional `k`-gram
    * hashes mark their `[pos, pos+k)` token coverage as duplicated when
    * the gram occurs in ≥2 distinct documents; overlapping or adjacent
    * duplicated grams then merge into maximal per-doc spans
    * (gaps-and-islands over the position sequence — two grams chain
    * when their starts differ by ≤ k). Output: one row per maximal
    * span, `[start_tok, end_tok)` 0-based token offsets plus the
    * supporting gram count. A suffix-array build finds these spans too,
    * but needs a global sort of every suffix; this form is two
    * equi-keyed shuffles (gram-hash df, then the per-doc island window)
    * and reuses the positional n-gram machinery.
    *
    * Scale shape: no pair generation — duplicated-gram detection is a
    * map-combinable count on the 60-bit gram hash, marking is a
    * semi-join on the same key (AQE splits head-gram skew), and island
    * merging windows over each DOC's duplicated positions only (≤
    * tokens per doc, never corpus-wide). The hash is md5-derived
    * ([[PortableHash.hash60]]) so any engine re-derives identical
    * groups. */
  def duplicatedSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // repartition first (the shingleTable rationale: a small parquet
    // source arrives in few partitions and would serialize the md5
    // grind), persist the gram table (both the df-count branch and the
    // island probe read it — unpersisted, the dominant hashing cost
    // runs twice)
    val grams = persisted(fanOut(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(TextFunctions.wordNGrams(col("toks"), k))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        PortableHash.hash60(col("gram")).as("h")))
    // "df >= 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): one
    // partial-aggregable pass with two longs of state per gram, instead
    // of COUNT(DISTINCT)'s (h, doc_id) pre-aggregation — halves the
    // detector's shuffles and removes its per-gram distinct state
    val dup = grams.groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .where(col("mn") =!= col("mx")).select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dup, Seq("h"), "left_semi")
      .select("doc_id", "pos")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("grp", sum("brk").over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("start_tok"),
        (max("pos") + k).cast("long").as("end_tok"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "start_tok", "end_tok", "n_grams")
  }

  /** BYTE-level maximal duplicated spans — the published
    * exact-substring-dedup semantics (the dedup literature's suffix
    *-array pipeline finds verbatim repeats of ≥ ~50 BYTES, not of
    * whitespace tokens): positional byte `k`-grams (every `k`-byte
    * window of the raw text, no tokenization, so duplicates spanning
    * punctuation/whitespace differences in token BOUNDARIES still
    * match byte-exactly), hashed to 60 bits, marked duplicated at
    * df ≥ 2 distinct docs, merged gaps-and-islands per doc exactly
    * like [[duplicatedSpans]]. Output offsets are 0-based BYTE
    * positions `[start_byte, end_byte)`. The token-level twin remains
    * the cheaper diagnostic (k× fewer grams); this form is the
    * published pipeline's cut unit.
    *
    * Scale shape: same two equi-keyed shuffles as the token form — the
    * gram STRING never leaves the scan projection (each window is
    * hashed inside the per-row `transform`, so the exchange carries
    * (doc_id, pos, 8-byte hash), never ×k-amplified text), df is a
    * map-combinable count on the hash, islands window per doc. A
    * suffix array finds the same spans with a global suffix sort;
    * this trades that for linear shuffles, the same trade
    * [[duplicatedSpans]] documents. */
  def duplicatedByteSpans(docs: DataFrame, k: Int = 50,
      portable: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Gram hash choice: md5-60bit (the default) keeps the DuckDB oracle
    // able to re-derive identical duplicate groups; xxhash64
    // (portable = false) is the engine-internal fast path — the OUTPUT
    // carries positions, never hashes, so the two forms produce
    // identical spans unless a hash collision differs between families
    // (~2⁻⁶⁴-scale; `DedupSpec` pins output equality). At 100 TB the
    // hash is the detector's dominant CPU, which is what the fast form
    // buys down — same trade, same precedent as `minhash_sig_fast`.
    def gramHash(c: Column): Column =
      if (portable) PortableHash.hash60(c) else xxhash64(c)
    // same parallelize-then-persist discipline as [[duplicatedSpans]]:
    // ~len hash calls per doc is the dominant cost, must fan out across
    // cores and must run ONCE, not once per consuming branch
    val grams = persisted(fanOut(docs)
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("text")) - (k - 1)),
          p => gramHash(col("text").substr(p, lit(k)))))
          .as(Seq("pos", "h")))) // pos = array index = 0-based byte offset
    // min ≠ max ⟺ df ≥ 2 distinct docs — see [[duplicatedSpans]]
    val dup = grams.groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .where(col("mn") =!= col("mx")).select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dup, Seq("h"), "left_semi")
      .select("doc_id", "pos")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("grp", sum("brk").over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("start_byte"),
        (max("pos") + k).cast("long").as("end_byte"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "start_byte", "end_byte", "n_grams")
  }

  /** The REMOVE step of exact-substring deduplication: cut every token
    * covered by a duplicated span ([[duplicatedSpans]]) and rebuild the
    * document from what survives — the published pipeline drops the
    * repeated passage from all copies rather than dropping whole
    * documents. Span coverage collapses to one array of (start, end)
    * structs per affected document (a few entries — bounded by the
    * duplicated-content volume, not the corpus), joined back by doc id
    * and applied as an index-aware `filter` over the token array: the
    * rewrite itself is scan-side column algebra, so at 100 TB the only
    * data-scale shuffles are the ones the span detector already pays;
    * document bodies never move for the rewrite. Documents with no
    * spans pass through untouched (n_removed = 0). */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val spans = duplicatedSpans(docs, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("spans"))
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<start_tok:long,end_tok:long>>"))
          .as("spans"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (_, i) =>
          !exists(col("spans"), sp =>
            i.cast("long") >= sp("start_tok") &&
              i.cast("long") < sp("end_tok"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** LINE-level corpus deduplication (the CCNet/RefinedWeb curation
    * step): any trimmed non-empty line whose text occurs in at least
    * `minDocs` DISTINCT documents is cut from every document carrying
    * it, and each document is rebuilt from its surviving lines —
    * removing boilerplate (nav bars, cookie banners, license headers)
    * that whole-document dedup can never touch. Empty lines are kept
    * verbatim: they are structure, not content, and hashing them would
    * make every two documents with a blank line "duplicates".
    *
    * Scale shape: the only corpus-scale shuffles carry
    * (doc_id, position, 60-bit line hash) rows — line BODIES never
    * leave their scan. The duplicated-hash set reduces by hash
    * (map-side combinable count-distinct), kill positions collapse to
    * one small array per affected document, and the rewrite is an
    * index-aware array `filter` on the scan side — document text moves
    * zero times. Hashes are [[PortableHash.hash60]] so an external
    * engine derives identical kill sets; only positions and counts
    * reach the output. */
  def dedupLines(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val lines = fanOut(docs)
      .select(col("doc_id"),
        transform(split(col("text"), "\n"), l => trim(l)).as("lines"))
    val posted = persisted(lines
      .select(col("doc_id"),
        posexplode(col("lines")).as(Seq("pos", "line")))
      .where(col("line") =!= "")
      .select(col("doc_id"), col("pos"),
        PortableHash.hash60(col("line")).as("h")))
    // the default minDocs = 2 threshold needs no distinct count:
    // min(doc_id) ≠ max(doc_id) ⟺ ≥ 2 distinct docs (one cheap
    // partial-aggregable pass — see [[duplicatedSpans]]); higher
    // thresholds keep the exact distinct count
    val dup =
      if (minDocs == 2)
        posted.groupBy("h")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .where(col("mn") =!= col("mx")).select("h")
      else posted.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= minDocs)
        .select("h")
    val kill = posted.join(dup, "h")
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("kill"))
    lines.join(kill, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lines"),
        coalesce(col("kill"), array().cast("array<int>")).as("kill"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kill")).cast("long").as("n_removed"),
        array_join(filter(col("lines"), (_, i) =>
          !array_contains(col("kill"), i)), "\n").as("clean_text"))
  }
}
