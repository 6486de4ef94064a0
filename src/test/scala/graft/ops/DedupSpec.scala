package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def shinglesOf(text: String): Seq[String] = {
    Seq(text).toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
      .as[Seq[String]].head()
  }

  test("shingles: 3-word windows, lower-cased, distinct") {
    assert(shinglesOf("A b c d") === Seq("a b c", "b c d"))
    assert(shinglesOf("x y x y x y") === Seq("x y x", "y x y")) // distinct
  }

  test("shingles: fewer than n tokens yields empty array, not an error") {
    assert(shinglesOf("one two") === Seq.empty)
    assert(shinglesOf("") === Seq.empty)
  }

  test("orderedPairs: all a<b pairs of a sorted id array") {
    val df = Seq(Seq(1L, 2L, 3L), Seq(7L), Seq.empty[Long]).toDF("ids")
      .select(Dedup.orderedPairs(col("ids")).as("ps"))
    val got = df.as[Seq[(Long, Long)]].collect().toSeq
    assert(got(0) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
  }

  test("jaccard: exact set overlap") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].head() === 0.5) // 2 shared / 4 total
  }

  test("simhash64: deterministic, equal for equal token multisets") {
    val df = Seq("the quick brown fox", "THE  QUICK  BROWN  FOX", "other words here")
      .toDF("text").select(Dedup.simhash64(col("text")).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) === hs(1)) // case/whitespace-insensitive
    assert(hs(0) !== hs(2))
  }

  test("minhashNearDups finds the planted sf0.001 near-duplicates symmetrically") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.8).collect()
    // every reported pair is ordered and above threshold
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("dedupLines cuts cross-document boilerplate lines, keeps structure") {
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\n\nbody one"),
      (2L, "  COOKIE BANNER  \nbody two\nunique beta"),
      (3L, "body three\ncookie banner stays\nCOOKIE BANNER"),
      (4L, "solo document\nnothing shared")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // the banner line occurs (trimmed) in docs 1,2,3 and is cut everywhere;
    // empty lines are preserved verbatim, unique lines survive
    assert(out(1L) === ((4L, 1L, "unique alpha\n\nbody one")))
    assert(out(2L) === ((3L, 1L, "body two\nunique beta")))
    // "cookie banner stays" differs (case is preserved by trim) → kept
    assert(out(3L) === ((3L, 1L, "body three\ncookie banner stays")))
    assert(out(4L) === ((2L, 0L, "solo document\nnothing shared")))
  }

  test("dedupLines minDocs threshold: a 2-doc line survives minDocs=3") {
    val docs = Seq(
      (1L, "shared line\nown one"),
      (2L, "shared line\nown two"),
      (3L, "own three")
    ).toDF("doc_id", "text")
    val strict = Dedup.dedupLines(docs, minDocs = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(strict === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    val default = Dedup.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(default === Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("dedupLines: repeats WITHIN one document are not corpus duplicates") {
    val docs = Seq(
      (1L, "same line\nsame line\nsame line"),
      (2L, "different content")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // countDistinct(doc_id) = 1 for the repeated line → below minDocs=2
    assert(out === Map(1L -> 0L, 2L -> 0L))
  }

  test("cacheShingles knob changes the plan, never the pairs") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def rows(cache: Boolean) =
      Dedup.minhashNearDups(docs, threshold = 0.8, cacheShingles = cache)
        .collect().map(_.toString).sorted.toSeq
    val rebuilt = rows(cache = false)
    val cached = rows(cache = true)
    assert(rebuilt.nonEmpty)
    assert(rebuilt === cached)
  }

  test("simhash near-dup pairs have small hamming distance") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    Dedup.simhashNearDups(docs, maxHamming = 3).collect().foreach { r =>
      assert(r.getInt(2) <= 3)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("simhashNearDups finds identical docs (hamming 0) below the bucket cap") {
    val docs = (0L until 50L).map(i => (i, "same exact text every time"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs).collect()
    assert(pairs.length === 50 * 49 / 2) // every ordered pair, once
    pairs.foreach(r => assert(r.getInt(2) === 0))
  }

  test("simhashNearDups hot-bucket cap drops degenerate buckets, keeps the rest") {
    // 120 identical docs: every band bucket has 120 > MaxBucket=100
    // members → capped in all four bands → contributes NO pairs (the
    // r15 weak-grade fix: a boilerplate key cannot go quadratic).
    // Two planted near-identical docs in distinct small buckets survive.
    assert(Dedup.MaxBucket === 100) // spec tracks the production cap
    val hot = (0L until 120L).map(i => (i, "boilerplate cookie banner text"))
    val planted = Seq(
      (1000L, "a genuinely distinctive sentence about owls"),
      (1001L, "a genuinely distinctive sentence about owls"))
    val docs = (hot ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1000L, 1001L)))
  }

  test("simhashNearDups chainCapped pairs capped buckets to their min id") {
    // same degenerate 120-doc cluster as above, but chainCapped=true:
    // instead of the cluster escaping clustering entirely, every member
    // pairs with the bucket's true minimum (doc 0) — a LINEAR pair count
    // that connected-components collapses into one cluster. The planted
    // under-cap pair is unchanged.
    val hot = (0L until 120L).map(i => (i, "boilerplate cookie banner text"))
    val planted = Seq(
      (1000L, "a genuinely distinctive sentence about owls"),
      (1001L, "a genuinely distinctive sentence about owls"))
    val docs = (hot ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, chainCapped = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = (1L until 120L).map(i => (0L, i)).toSet
    assert(pairs === chain + ((1000L, 1001L)))
    // the chain clusters: connected components collapses all 120 hot docs
    val verts = docs.select(col("doc_id").as("id"))
    val pairsDf = Dedup.simhashNearDups(docs, chainCapped = true)
      .select("a_id", "b_id")
    val labels = Dedup.connectedComponents(verts, pairsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 120L).foreach(i => assert(labels(i) === 0L))
    assert(labels(1001L) === 1000L)
  }

  test("permutedBandKeys Column form matches the pure-Scala replica") {
    // KernelPropertiesSpec proves the pigeonhole math on a pure-Scala
    // replica of the key function; this pins the Column implementation
    // to that replica so the proof transfers (6 blocks, t=2 — the
    // hamming-4 production configuration)
    val rnd = new scala.util.Random(7)
    def widths(blocks: Int): Seq[Int] =
      (0 until blocks).map(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    def keys(sig: Long, blocks: Int, t: Int): Seq[Long] = {
      val w = widths(blocks)
      val off = w.scanLeft(0)(_ + _).init
      def block(b: Int): Long = (sig >>> off(b)) & ((1L << w(b)) - 1)
      (0 until blocks).combinations(t).toSeq.map(c =>
        c.foldLeft(0L)((acc, b) => (acc << w(b)) | block(b)))
    }
    val sigs = (1 to 50).map(_ => rnd.nextLong())
    val got = sigs.toDF("sh64")
      .select(array(Dedup.permutedBandKeys(col("sh64"), 6, 2): _*).as("ks"))
      .as[Seq[Long]].collect()
    sigs.zip(got).foreach { case (s, ks) =>
      assert(ks === keys(s, 6, 2), f"column/replica split at $s%016x")
    }
  }

  test("simhashNearDupsPermuted finds hamming-4 pairs the 4x16 scheme cannot guarantee") {
    // two docs whose signatures differ in exactly 4 bits, one per
    // 16-bit band, evade the 4x16 banding's pigeonhole; the 6-block
    // permuted tables must still pair them
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val h4 = Dedup.simhashNearDupsPermuted(docs, maxHamming = 4).collect()
    h4.foreach { r =>
      assert(r.getInt(2) <= 4)
      assert(r.getLong(0) < r.getLong(1))
    }
    // the hamming <= 3 subset equals the 4x16 scheme's output exactly:
    // both have perfect recall there and the same verify
    val h3ofH4 = h4.filter(_.getInt(2) <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h3 = Dedup.simhashNearDups(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h3ofH4 === h3)
  }

  test("dupNgramStats: cross-doc duplicated shingles counted, within-doc repeats not") {
    import spark.implicits._
    // doc 0 and 1 share exactly one 3-gram ("common phrase here"); doc 2
    // is pure repetition of its own shingle (distinct-set collapses it,
    // and no other doc carries it → zero duplication); doc 3 too short.
    val docs = Seq(
      (0L, "alpha beta gamma common phrase here", "en"),
      (1L, "common phrase here delta epsilon zeta", "en"),
      (2L, "loop loop loop loop loop loop", "en"),
      (3L, "too short", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.dupNgramStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // 4 shingles per 6-token doc; exactly 2 of each doc's shingles
    // contain the shared tri-gram window? no — sliding windows share
    // only the exact "common phrase here" string: doc0 window at the
    // tail, doc1 at the head → 1 duplicated shingle each
    assert(got(0L) === ((1L, 4L, 0.25)))
    assert(got(1L) === ((1L, 4L, 0.25)))
    assert(got(2L) === ((0L, 1L, 0.0))) // distinct-set → 1 unique shingle
    assert(!got.contains(3L)) // < 3 tokens → no shingles → no row
    // duplicated fraction is NOT symmetric-pair based: a third copy of
    // the phrase raises nothing for docs 0/1 (df already ≥ 2)
    val third = docs.union(
      Seq((4L, "prefix words common phrase here suffix", "en"))
        .toDF("doc_id", "text", "lang"))
    val got3 = Dedup.dupNgramStats(third).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3(0L) === 1L && got3(1L) === 1L && got3(4L) === 1L)
  }

  test("duplicatedSpans: maximal islands, 0-based [start, end) offsets") {
    // docs 0 and 1 share a verbatim 12-token run (positions 3..14 in doc
    // 0, 0..11 in doc 1); doc 2 is all-unique filler
    val shared = (0 until 12).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma $shared tail0 tail1"),
      (1L, s"$shared other words entirely"),
      (2L, (0 until 30).map(i => s"unique$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 12-token run → 3 positional 10-grams, one island covering it all
    assert(got(0L) === ((3L, 15L, 3L)))
    assert(got(1L) === ((0L, 12L, 3L)))
    assert(!got.contains(2L))
  }

  test("duplicatedSpans: gap past k splits islands; within-doc repeats don't fire") {
    val run = (0 until 10).map(i => s"r$i").mkString(" ")
    val gap = (0 until 15).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (0L, s"$run $gap $run"),    // two shared runs, 15-token gap
      (1L, run),                  // second doc makes the run duplicated
      // a doc repeating ITS OWN 10-gram twice: only one distinct doc,
      // countDistinct(doc_id) = 1 < 2 → no span (unless doc 1 matches)
      (2L, s"solo0 solo1 solo2 solo3 solo4 solo5 solo6 solo7 solo8 solo9 " +
        "solo0 solo1 solo2 solo3 solo4 solo5 solo6 solo7 solo8 solo9"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(got(0L) === Set((0L, 10L), (25L, 35L))) // split, not merged
    assert(got(1L) === Set((0L, 10L)))
    assert(!got.contains(2L))
  }

  test("duplicatedByteSpans: byte offsets, agrees with the token twin on ASCII") {
    // docs 0 and 1 share a verbatim 60-byte ASCII passage; on
    // single-space ASCII text the byte-level span must cover exactly
    // the region the token-level span covers (converted to bytes),
    // since both mark the same maximal duplicated run
    val shared = (0 until 12).map(i => f"common$i%02d").mkString(" ") // 12×8+11 = 107 bytes
    val prefix = "alpha beta gamma "                                  // 17 bytes
    val docs = Seq(
      (0L, s"$prefix$shared tail0 tail1"),
      (1L, s"$shared other words entirely"),
      (2L, (0 until 30).map(i => s"unique$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedByteSpans(docs, k = 50)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // one island per doc spanning the shared run PLUS the boundary
    // space — both docs follow the run with ' ', and byte-exact
    // semantics see through token boundaries: the duplicated region is
    // every byte that verbatim-repeats, which is 108 bytes here (the
    // token twin below cannot represent that sub-token extension)
    assert(got(0L) ===
      ((prefix.length.toLong, (prefix.length + shared.length + 1).toLong)))
    assert(got(1L) === ((0L, (shared.length + 1).toLong)))
    assert(!got.contains(2L))
    // token twin on the same fixture: same passage, token offsets —
    // byte and token forms agree on WHAT is duplicated
    val tok = Dedup.duplicatedSpans(docs, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(tok(0L) === ((3L, 15L)) && tok(1L) === ((0L, 12L)))
    assert(tok.keySet === got.keySet)
  }

  test("duplicatedByteSpans fast twin produces identical spans (sf0.001)") {
    // positions, never hashes, reach the output: the xxhash64 form must
    // agree with the md5 form exactly unless a hash collision differs
    // between families — this equality check is the collision alarm
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val portable = Dedup.duplicatedByteSpans(docs)
    val fast = Dedup.duplicatedByteSpans(docs, portable = false)
    assert(portable.count() > 0, "fixture corpus must contain byte dups")
    assert(portable.exceptAll(fast).count() === 0)
    assert(fast.exceptAll(portable).count() === 0)
  }

  test("duplicatedByteSpans: sub-threshold repeats are invisible") {
    // a 30-byte shared string: shorter than k=50, so NO 50-byte window
    // is fully contained in it → no spans at byte level even though
    // shorter-gram machinery would fire
    val small = "x" * 10 + " shared-bit " + "y" * 6 // 30 bytes
    val docs = Seq(
      (0L, small + " " + ("a" * 60)),
      (1L, small + " " + ("b" * 60)))
      .toDF("doc_id", "text")
    assert(Dedup.duplicatedByteSpans(docs, k = 50).count() === 0L)
  }

  test("containment catches a small doc inside a big one; jaccard misses it") {
    // doc 0 = 12 unique tokens; doc 1 = doc 0 verbatim inside 120 tokens
    // of unique filler → containment(0 in 1) = 1.0, jaccard ≈ 0.08
    val small = (0 until 12).map(i => s"quoted$i").mkString(" ")
    val filler = (0 until 120).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (0L, small),
      (1L, s"$filler $small"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentNearDups(
      docs, maxDf = 5, minShared = 5, threshold = 0.9)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length === 1)
    val (a, b, _, ca, cb) = got.head
    assert((a, b) === ((0L, 1L)))
    assert(ca === 1.0)          // every shingle of the small doc is in the big
    assert(cb < 0.1)            // the big doc is NOT contained in the small
    // the symmetric pipeline at a symmetric threshold never surfaces it
    assert(Dedup.invertedIndexNearDups(
      docs, maxDf = 5, minShared = 5, threshold = 0.5).isEmpty)
  }

  test("removeDuplicatedSpans cuts the shared passage, keeps the rest") {
    val shared = (0 until 12).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta gamma $shared tail0 tail1"),
      (1L, s"$shared other words entirely"),
      (2L, "short unique doc"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, k = 10)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 0: span [3, 15) cut → head 3 tokens + 2 tail tokens survive
    assert(got(0L) === ((17L, 12L, "alpha beta gamma tail0 tail1")))
    // doc 1: span [0, 12) cut → only the 3-token tail survives
    assert(got(1L) === ((15L, 12L, "other words entirely")))
    // doc 2: below k tokens — passes through untouched
    assert(got(2L) === ((3L, 0L, "short unique doc")))
  }
}
