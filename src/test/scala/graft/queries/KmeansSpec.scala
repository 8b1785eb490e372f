package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Bit-level pins on the codebook trainer [[TrainingOps.kmeansTrain]] —
  * the property that keeps the q31/q54/q55 gates (whose probes and codes
  * depend on the exact codebook) stable run to run.
  *
  *  - Up to one 1024-row chunk, the trainer equals a plain sequential
  *    Lloyd written here: same first-k init, nearest centroid with the
  *    first index winning ties, sums in sample order from +0.0, empty
  *    clusters keep their centroid, sums divided by the count.
  *  - Past one chunk, sha256 digests over the raw bits of the output pin
  *    the chunk-parallel assign step and the chunk-order fold of its
  *    partials.
  */
class KmeansSpec extends AnyFunSuite {

  private def vecs(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Many exact duplicates: several first-k init centroids never win a
    * point and must keep their previous value.
    */
  private def dupHeavy(n: Int): Array[Array[Double]] = {
    val r = new scala.util.Random(3)
    val base = vecs(10, 8, seed = 4)
    Array.fill(n)(base(r.nextInt(10)).clone) ++ vecs(30, 8, 5)
  }

  /** (centroids, whether some iteration left a cluster empty) */
  private def lloyd(vs: Array[Array[Double]], k: Int,
      iters: Int): (Array[Array[Double]], Boolean) = {
    val dim = vs.head.length
    var cents = vs.take(k).map(_.clone)
    var sawEmpty = false
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      for (v <- vs) {
        def d(c: Array[Double]) =
          v.indices.foldLeft(0.0) { (s, i) => val x = v(i) - c(i); s + x * x }
        var best = 0
        for (c <- 1 until k) if (d(cents(c)) < d(cents(best))) best = c
        counts(best) += 1
        for (i <- 0 until dim) sums(best)(i) += v(i)
      }
      sawEmpty ||= counts.contains(0L)
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
    }
    (cents, sawEmpty)
  }

  private def bits(cs: Array[Array[Double]]): Seq[Long] =
    cs.toSeq.flatMap(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  private def digest(cs: Array[Array[Double]]): String = {
    val buf = java.nio.ByteBuffer.allocate(8 * cs.map(_.length).sum)
    bits(cs).foreach(buf.putLong)
    java.security.MessageDigest.getInstance("SHA-256").digest(buf.array)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("single chunk: bit-equal to a sequential Lloyd") {
    val vs = vecs(300, 16, seed = 1)
    assert(bits(TrainingOps.kmeansTrain(vs, 8, 8)) === bits(lloyd(vs, 8, 8)._1))
  }

  test("single chunk, duplicate-heavy: empty clusters keep their centroid") {
    val vs = dupHeavy(900)
    val (want, sawEmpty) = lloyd(vs, 30, 8)
    assert(sawEmpty, "the input must leave some init centroid without a point")
    assert(bits(TrainingOps.kmeansTrain(vs, 30, 8)) === bits(want))
  }

  // (shape, k, sample, sha256 over the raw bits of kmeansTrain(sample, k, 8))
  private val pinned = Seq(
    ("300 x 16, k = 8", 8, () => vecs(300, 16, seed = 1),
      "3bbd8b37fe8585d295eb52a2e25e4e67fdbed7982b8a0ecb9967c6c035b110ad"),
    ("1500 x 10, k = 20", 20, () => vecs(1500, 10, seed = 6),
      "31231af979a9eada69110703c9a30c2c718e2980496034a8ea0c3ba48427fe95"),
    ("2500 x 12, k = 40", 40, () => vecs(2500, 12, seed = 2),
      "38d6ab05a637e75fc4dc2c0c449ad37722241727a31bf47c2207f0b39842a5d1"),
    ("1530 x 8 duplicate-heavy, k = 30", 30, () => dupHeavy(1500),
      "8be49f94533bc29418a50ebe397d4c198090ad38a5d8e5a35a5d74b8b9d259fa"),
    ("5000 x 16, k = 64", 64, () => vecs(5000, 16, seed = 7),
      "d1e0507ab6e1c145cb089eab44aea23367ea99a6b3404dfc5b498ecaf6e9bb20"))

  pinned.foreach { case (name, k, data, want) =>
    test(s"pinned digest: $name") {
      val got = digest(TrainingOps.kmeansTrain(data(), k, 8))
      info(s"$name -> $got")
      assert(got === want)
    }
  }
}
