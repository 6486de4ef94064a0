package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Seeded randomized properties of the pure JVM kernels — no Spark
  * session needed, so these run in milliseconds and pin the math
  * itself, independent of plan shape. */
class KernelPropertiesSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private def u(s: String): UTF8String = UTF8String.fromString(s)

  test("morton2 is a bijection on the 16-bit grid (inverse recovered per axis)") {
    def compact(v0: Long): Long = { // inverse of MortonKernel.spread
      var v = v0 & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
      v
    }
    (1 to 2000).foreach { _ =>
      val x = rnd.nextInt(1 << 16).toLong
      val y = rnd.nextInt(1 << 16).toLong
      val z = MortonKernel.morton2(x, y)
      assert(z >= 0)
      assert(compact(z) === x)
      assert(compact(z >> 1) === y)
    }
  }

  test("jaro_winkler: symmetry, range, identity, reference agreement") {
    // independent reference implementation (the python twin that was
    // fuzz-verified against DuckDB), written differently from the kernel
    def ref(a: String, b: String): Double = {
      val (la, lb) = (a.length, b.length)
      if (la == 0 || lb == 0) return 0.0
      val w = math.max(math.max(la, lb) / 2 - 1, 0)
      val fb = Array.fill(lb)(false)
      val matchedA = a.zipWithIndex.flatMap { case (c, i) =>
        ((math.max(0, i - w)) to math.min(lb - 1, i + w))
          .find(j => !fb(j) && b(j) == c)
          .map { j => fb(j) = true; (i, j) }
      }
      val m = matchedA.length
      if (m == 0) return 0.0
      val bOrder = matchedA.map(_._2).sorted.map(b(_))
      val t = matchedA.map { case (i, _) => a(i) }
        .zip(bOrder).count { case (x, y) => x != y } / 2
      val j = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3
      if (j <= 0.7) j
      else j + a.zip(b).take(4).takeWhile { case (x, y) => x == y }.size * 0.1 * (1 - j)
    }
    (1 to 3000).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(11))(('a' + rnd.nextInt(5)).toChar).mkString
      val b = Seq.fill(rnd.nextInt(11))(('a' + rnd.nextInt(5)).toChar).mkString
      val ab = JaroWinklerKernel.similarity(u(a), u(b))
      assert(ab === JaroWinklerKernel.similarity(u(b), u(a)), s"asym: '$a' '$b'")
      assert(ab >= 0.0 && ab <= 1.0)
      if (a == b && a.nonEmpty) assert(ab === 1.0)
      assert(math.abs(ab - ref(a, b)) < 1e-12, s"ref mismatch: '$a' '$b'")
    }
  }

  test("minhash component minima only decrease as the shingle set grows") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(30)
      val sh = Seq.fill(n)("s" + rnd.nextInt(1000))
      def sig(xs: Seq[String]): Seq[Long] = DedupKernels
        .minhashSig(new GenericArrayData(
          xs.map(x => u(x).asInstanceOf[Any]).toArray), 12)
        .toLongArray().toSeq
      val full = sig(sh)
      val partial = sig(sh.take(n / 2 + 1))
      assert(full.zip(partial).forall { case (f, p) => f <= p })
    }
  }

  test("shingleSet yields distinct n-grams, each of exactly n tokens") {
    (1 to 300).foreach { _ =>
      val words = Seq.fill(2 + rnd.nextInt(30))("w" + rnd.nextInt(8))
      val arr = DedupKernels.shingleSet(u(words.mkString(" ")), 3)
      val shingles = (0 until arr.numElements())
        .map(i => arr.getUTF8String(i).toString)
      assert(shingles.distinct.size === shingles.size)
      assert(shingles.forall(_.split(" ").length === 3))
      if (words.length >= 3)
        assert(shingles.toSet ===
          words.sliding(3).map(_.mkString(" ")).toSet)
    }
  }

  test("nfcNormalize is idempotent on random combining-mark soup") {
    val marks = Seq('́', '̀', '̈', '̧')
    (1 to 500).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(12))(
        if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar
        else marks(rnd.nextInt(marks.size))).mkString
      val once = DedupKernels.nfcNormalize(u(s)).toString
      val twice = DedupKernels.nfcNormalize(u(once)).toString
      assert(once === twice)
      assert(java.text.Normalizer
        .isNormalized(once, java.text.Normalizer.Form.NFC))
    }
  }

  test("simhash64 ignores token order; single token = its md5-prefix hash") {
    (1 to 300).foreach { _ =>
      val words = Seq.fill(1 + rnd.nextInt(20))("w" + rnd.nextInt(10))
      val h1 = DedupKernels.simhash64(u(words.mkString(" ")))
      val h2 = DedupKernels.simhash64(u(rnd.shuffle(words).mkString(" ")))
      assert(h1 === h2)
    }
    // one token → every bit's majority IS that token's hash bit, so the
    // signature equals the 64-bit token hash (md5 digest bytes 0-7).
    // md5('hello') = 5d41402abc4b2a76 38b9... — pins the hash layout the
    // DuckDB oracle reproduces via substring(md5(t), 1, 16).
    assert(DedupKernels.simhash64(u("hello")) === 0x5d41402abc4b2a76L)
    assert(DedupKernels.simhash64(u("")) === 0L)
  }

  test("4x16-bit banding pigeonhole: hamming <= 3 always shares a band") {
    // the recall guarantee simhashNearDups rests on: flipping at most
    // 3 of 64 bits can touch at most 3 of the 4 disjoint 16-bit bands,
    // so at least one band key survives intact — candidate generation
    // by band equality has PERFECT recall at hamming <= 3. (Hamming 4
    // can evade: one flip per band.)
    def bands(sig: Long): Seq[Long] =
      (0 until 4).map(k => (sig >>> (16 * k)) & 0xFFFFL)
    (1 to 500).foreach { _ =>
      val a = rnd.nextLong()
      val flips = rnd.nextInt(4) // 0..3 bit flips
      val b = (0 until flips).foldLeft(a)((s, _) =>
        s ^ (1L << rnd.nextInt(64)))
      assert(bands(a).zip(bands(b)).exists { case (x, y) => x == y },
        f"no shared band for a=$a%016x b=$b%016x")
    }
    // and the hamming-4 evasion case exists (one flip per band)
    val a = 0L
    val evader = (0 until 4).map(k => 1L << (16 * k)).reduce(_ | _)
    assert(!bands(a).zip(bands(evader)).exists { case (x, y) => x == y })
  }

  test("permuted-table banding pigeonhole holds per (blocks, maxHamming) configuration") {
    // the generalized recall guarantee simhashNearDupsPermuted rests
    // on: k = blocks − t flips touch at most k of the disjoint blocks,
    // leaving ≥ t intact, so SOME t-subset key survives whole. Pure
    // Scala replica of permutedBandKeys (same widths, same
    // combinations order, same concatenation fold).
    def widths(blocks: Int): Seq[Int] =
      (0 until blocks).map(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    def keys(sig: Long, blocks: Int, t: Int): Seq[Long] = {
      val w = widths(blocks)
      val off = w.scanLeft(0)(_ + _).init
      def block(b: Int): Long = (sig >>> off(b)) & ((1L << w(b)) - 1)
      (0 until blocks).combinations(t).toSeq.map(c =>
        c.foldLeft(0L)((acc, b) => (acc << w(b)) | block(b)))
    }
    for {
      blocks <- Seq(4, 5, 6, 8)
      maxHamming <- 1 until blocks
    } {
      val t = blocks - maxHamming
      (1 to 200).foreach { _ =>
        val a = rnd.nextLong()
        val flips = rnd.nextInt(maxHamming + 1) // 0..maxHamming
        val b = (0 until flips).foldLeft(a)((s, _) =>
          s ^ (1L << rnd.nextInt(64)))
        assert(keys(a, blocks, t).zip(keys(b, blocks, t))
          .exists { case (x, y) => x == y },
          f"blocks=$blocks t=$t: no shared key for a=$a%016x b=$b%016x")
      }
      // the hamming maxHamming+1 evasion exists when every one of some
      // (maxHamming+1)-subset of blocks takes a flip — then every
      // t-subset intersects a flipped block (t + maxHamming + 1 >
      // blocks by construction)
      val off = widths(blocks).scanLeft(0)(_ + _).init
      val evader = (0 to maxHamming).map(k => 1L << off(k)).reduce(_ | _)
      assert(!keys(0L, blocks, t).zip(keys(evader, blocks, t))
        .exists { case (x, y) => x == y },
        s"blocks=$blocks t=$t: hamming ${maxHamming + 1} cannot be guaranteed")
    }
  }
}
