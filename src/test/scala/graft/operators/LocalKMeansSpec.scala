package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side Lloyd's fit (the IVF coarse-quantizer trainer) — pure
  * JVM, no SparkSession needed. The contract VectorIndex relies on:
  * deterministic for a seed+input, robust to k >= n, and centroids
  * that actually partition a separable input. */
class LocalKMeansSpec extends AnyFunSuite {

  private def clusteredPoints(nPerCluster: Int, dim: Int): Array[Array[Float]] = {
    // 4 well-separated blobs on the axes, deterministic jitter
    val rnd = new java.util.Random(7L)
    val centers = Array(
      Array.fill(dim)(0f), Array.fill(dim)(10f),
      Array.tabulate(dim)(i => if (i % 2 == 0) 10f else 0f),
      Array.tabulate(dim)(i => if (i % 2 == 0) 0f else 10f))
    centers.flatMap(c => Array.fill(nPerCluster)(
      c.map(x => x + rnd.nextFloat() * 0.5f)))
  }

  test("same seed and input give bit-identical centroids (multithreaded)") {
    val pts = clusteredPoints(500, 32)
    val a = VectorIndex.localKMeans(pts, k = 4, seed = 42L, maxIter = 20)
    val b = VectorIndex.localKMeans(pts, k = 4, seed = 42L, maxIter = 20)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("separable blobs recover their centers") {
    val pts = clusteredPoints(200, 8)
    val centroids = VectorIndex.localKMeans(pts, k = 4, seed = 1L, maxIter = 30)
    // every point's nearest centroid must be within the blob jitter
    val m = VectorIndex.Model(centroids)
    val spread = pts.map { p =>
      val c = centroids(m.nearest(p))
      math.sqrt(p.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.max
    assert(spread < 2.0, s"worst point-to-centroid distance $spread")
  }

  test("k larger than the point count degrades gracefully") {
    val pts = Array(Array(1f, 1f), Array(2f, 2f), Array(3f, 3f))
    val centroids = VectorIndex.localKMeans(pts, k = 10, seed = 3L, maxIter = 5)
    assert(centroids.nonEmpty && centroids.length <= 3)
  }

  test("single point collapses to that point") {
    val centroids = VectorIndex.localKMeans(Array(Array(4f, 5f)), k = 3,
      seed = 9L, maxIter = 5)
    assert(centroids.length == 1)
    assert(centroids(0).sameElements(Array(4f, 5f)))
  }

  test("ranked orders centroids by distance exactly as a per-comparison sort, ties included") {
    // the reference recomputes each centroid's distance inside the
    // sort key, as ranked once did; ranked computes it once per centroid
    def reference(centroids: Array[Array[Float]], v: Array[Float]): Seq[Int] =
      centroids.indices.sortBy { c =>
        val ctr = centroids(c)
        var d = 0.0
        var i = 0
        while (i < math.min(ctr.length, v.length)) {
          val t = ctr(i) - v(i); d += t * t; i += 1
        }
        d
      }(Ordering.Double.TotalOrdering) // what the implicit Ordering[Double] was
    val rnd = new java.util.Random(11L)
    // a coarse grid makes many centroids tie, and the 8 duplicates tie
    // exactly for every query
    val base = Array.fill(24)(Array.fill(4)(rnd.nextInt(3).toFloat))
    val centroids = base ++ base.take(8)
    val m = VectorIndex.Model(centroids)
    val queries = Array.fill(200)(Array.fill(4)(rnd.nextInt(3).toFloat)) ++
      Array.fill(50)(Array.fill(4)(rnd.nextFloat() * 2f))
    queries.foreach { v =>
      val got = m.ranked(v)
      assert(got == reference(centroids, v), s"query ${v.mkString(",")}")
      assert(got.head == m.nearest(v))
    }
  }
}
