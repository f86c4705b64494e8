package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** The query-path kernel contract of [[HnswIndex.search]]: the descent and
  * the beam order candidates with the float kernels, and every distance a
  * search returns is the oracle-exact [[DistanceKernels]] value for its key,
  * ordered by (distance, key). The cases run at the default ef on the beam
  * path (ef × 4 < n), not the exact linear scan. */
class QueryKernelSpec extends AnyFunSuite {

  private val dim = 64
  private val n = 4096
  private val k = 10
  private lazy val mix = new Mixture(21, dim, 256)
  private lazy val data = mix.points(n)
  // perturbed held-out points, never copies of indexed rows
  private lazy val queries = {
    val noise = new scala.util.Random(22)
    mix.points(200).map(_.map(x => x + 0.1f * noise.nextGaussian().toFloat))
  }

  private def build(metric: String): HnswIndex = {
    val idx = new HnswIndex(dim, metric)
    idx.addAll(data.indices.iterator.map(i => (i.toLong, data(i))), 1)
    idx
  }

  private def bruteTopK(metric: String, q: Array[Float], top: Int = k,
      live: Long => Boolean = _ => true): Array[(Long, Double)] = {
    val f = DistanceKernels.forMetric(metric)
    data.indices.filter(i => live(i.toLong)).map(i => (i.toLong, f(q, data(i)))).toArray
      .sortWith { case ((ka, da), (kb, db)) =>
        val c = java.lang.Double.compare(da, db)
        c < 0 || c == 0 && ka < kb
      }.take(top)
  }

  /** Every hit carries its key's exact kernel distance, bit for bit, and
    * the hits ascend by (distance, key). */
  private def assertExactAndOrdered(metric: String, q: Array[Float],
      hits: Array[(Long, Double)]): Unit = {
    val f = DistanceKernels.forMetric(metric)
    hits.foreach { case (key, d) =>
      val exact = f(q, data(key.toInt))
      assert(java.lang.Double.doubleToRawLongBits(d) ==
        java.lang.Double.doubleToRawLongBits(exact),
        s"$metric: key $key returned $d, exact kernel says $exact")
    }
    hits.sliding(2).foreach {
      case Array((ka, da), (kb, db)) =>
        val c = java.lang.Double.compare(da, db)
        assert(c < 0 || c == 0 && ka < kb,
          s"$metric: ($ka, $da) is listed before ($kb, $db)")
      case _ =>
    }
  }

  test("the SIMD float kernels are enabled in the test JVM") {
    // build.sbt passes --add-modules=jdk.incubator.vector to forked JVMs;
    // without it every beam silently runs the scalar float loops
    assert(DistanceKernels.simdEnabled)
  }

  Seq("l2sq", "l2", "cosine", "ip").foreach { metric =>
    test(s"$metric: exact distances in (distance, key) order, recall@10 >= 0.99 " +
        "at default ef, and no deleted key returned") {
      val idx = build(metric)
      var hit = 0
      queries.foreach { q =>
        val hits = idx.search(q, k)
        assert(hits.length == k)
        assertExactAndOrdered(metric, q, hits)
        val truth = bruteTopK(metric, q).map(_._1).toSet
        hit += hits.count(h => truth(h._1))
      }
      val recall = hit.toDouble / (k * queries.length)
      info(f"$metric recall@10 at ef=${idx.efSearch}: $recall%.4f")
      assert(recall >= 0.99, f"$metric recall@10 $recall%.4f < 0.99")

      // delete every query's current top-3: the next search must route
      // around them and still return exact, ordered, live hits
      val deleted = queries.flatMap(q => idx.search(q, 3).map(_._1)).toSet
      deleted.foreach(key => assert(idx.remove(key)))
      queries.foreach { q =>
        val hits = idx.search(q, k)
        assert(hits.length == k)
        assertExactAndOrdered(metric, q, hits)
        hits.foreach { case (key, _) =>
          assert(!deleted(key), s"$metric: deleted key $key came back")
        }
      }
    }
  }

  test("l2sq: with a query's 300 nearest neighbours deleted, search still " +
      "returns k live, exact, ordered hits at default ef") {
    // 300 is past any fixed widening of ef: the deleted nodes must route
    // the beam without taking its result slots
    val idx = build("l2sq")
    val q = queries.head
    val deleted = bruteTopK("l2sq", q, top = 300).map(_._1).toSet
    deleted.foreach(key => assert(idx.remove(key)))
    assert(idx.efSearch.toLong * 4 < n, "the case must run the beam, not the linear scan")
    val hits = idx.search(q, k)
    assert(hits.length == k, s"${hits.length} hits, expected $k")
    assertExactAndOrdered("l2sq", q, hits)
    hits.foreach { case (key, _) => assert(!deleted(key), s"deleted key $key came back") }
    val truth = bruteTopK("l2sq", q, live = key => !deleted(key)).map(_._1).toSet
    val recall = hits.count(h => truth(h._1)).toDouble / k
    info(f"recall@10 over the live rows: $recall%.2f")
    assert(recall >= 0.9, f"recall@10 over the live rows $recall%.2f < 0.9")
  }

  test("cosine: a zero query takes the float kernel's NaN fallback and " +
      "returns the brute-force top-k distances") {
    val idx = build("cosine")
    val zero = new Array[Float](dim)
    val hits = idx.search(zero, k)
    assert(hits.length == k)
    assertExactAndOrdered("cosine", zero, hits)
    assert(hits.map(_._1).distinct.length == k)
    // every indexed row is non-zero, so each sits at cosine distance 1.0
    // from the zero vector: the k hits are any k rows, at those distances
    assert(hits.map(_._2).toSeq == bruteTopK("cosine", zero).map(_._2).toSeq)
  }
}
