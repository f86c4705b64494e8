package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DistanceKernels, HnswIndex}

class HnswIndexSpec extends AnyFunSuite {

  /** Deterministic pseudo-random vectors (no external RNG state). */
  private def vecOf(i: Int, dim: Int): Array[Float] = {
    val a = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      val h = (i * 1103515245L + j * 12345L + 42L) * 2654435761L
      a(j) = ((h >>> 16) % 2000L).toFloat / 100f - 10f
      j += 1
    }
    a
  }

  private def bruteTopK(vecs: Map[Long, Array[Float]], q: Array[Float], k: Int,
      metric: String): Seq[Long] = {
    val d = DistanceKernels.forMetric(metric)
    vecs.toSeq.map { case (id, v) => (d(q, v), id) }.sortBy(x => (x._1, x._2)).take(k).map(_._2)
  }

  test("exact recall on the 9x9x9 grid fixture (hnsw_basic.test shape)") {
    val idx = new HnswIndex(3, "l2sq")
    val all = (for { a <- 1 to 9; b <- 1 to 9; c <- 1 to 9 }
      yield Array(a.toFloat, b.toFloat, c.toFloat)).zipWithIndex
    all.foreach { case (v, i) => idx.add(i.toLong, v) }
    val res = idx.search(Array(1f, 2f, 3f), 3)
    assert(res.length == 3)
    assert(res.head._2 == 0.0) // exact hit [1,2,3]
    assert(res(1)._2 == 1.0 && res(2)._2 == 1.0)
  }

  test("recall@10 >= 0.9 vs brute force on 2000 random 16-d vectors") {
    val dim = 16
    val vecs = (0 until 2000).map(i => i.toLong -> vecOf(i, dim)).toMap
    val idx = new HnswIndex(dim, "l2sq")
    vecs.toSeq.sortBy(_._1).foreach { case (id, v) => idx.add(id, v) }
    var hits = 0; var total = 0
    (0 until 50).foreach { qi =>
      val q = vecOf(10000 + qi, dim)
      val expected = bruteTopK(vecs, q, 10, "l2sq").toSet
      val got = idx.search(q, 10).map(_._1).toSet
      hits += expected.intersect(got).size
      total += 10
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall was $recall")
  }

  test("parallel addAll: same search contracts as serial build") {
    val dim = 16
    val vecs = (0 until 2000).map(i => i.toLong -> vecOf(i, dim)).toMap
    val idx = new HnswIndex(dim, "l2sq")
    idx.addAll(vecs.toSeq.sortBy(_._1).iterator.map { case (id, v) => (id, v) }, 8)
    assert(idx.size == 2000)
    // exhaustive ef makes the graph shape irrelevant: results must be exact
    (0 until 10).foreach { qi =>
      val q = vecOf(20000 + qi, dim)
      val expected = bruteTopK(vecs, q, 10, "l2sq")
      val got = idx.search(q, 10, ef = 4000).map(_._1).toSeq
      assert(got == expected, s"query $qi")
    }
    // default-ef ANN recall stays statistically healthy under parallel build
    // (threshold slightly below the online-add test's: the bulk build
    // shuffles its input and links in rounds, so its graph is a different
    // draw from the same distribution)
    var hits = 0
    (0 until 50).foreach { qi =>
      val q = vecOf(30000 + qi, dim)
      val expected = bruteTopK(vecs, q, 10, "l2sq").toSet
      hits += expected.intersect(idx.search(q, 10).map(_._1).toSet).size
    }
    assert(hits.toDouble / 500 >= 0.85, s"recall was ${hits / 500.0}")
  }

  test("search results are distance-ordered and within k") {
    val dim = 8
    val idx = new HnswIndex(dim, "cosine")
    (0 until 500).foreach(i => idx.add(i.toLong, vecOf(i, dim)))
    val res = idx.search(vecOf(9999, dim), 7)
    assert(res.length == 7)
    assert(res.sliding(2).forall(p => p.head._2 <= p.last._2))
  }

  test("tombstone delete removes from results; compact prunes") {
    val idx = new HnswIndex(3, "l2sq")
    (0 until 100).foreach(i => idx.add(i.toLong, Array(i.toFloat, 0f, 0f)))
    val top = idx.search(Array(0f, 0f, 0f), 1)
    assert(top.head._1 == 0L)
    assert(idx.remove(0L))
    assert(!idx.remove(0L)) // already gone
    assert(idx.search(Array(0f, 0f, 0f), 1).head._1 == 1L)
    assert(idx.deletedCount == 1 && idx.size == 99)
    val compacted = idx.compact()
    assert(compacted.deletedCount == 0 && compacted.size == 99)
    assert(compacted.search(Array(0f, 0f, 0f), 1).head._1 == 1L)
  }

  test("incremental insert after build is searchable (hnsw_insert.test semantics)") {
    val idx = new HnswIndex(3, "l2sq")
    (0 until 50).foreach(i => idx.add(i.toLong, Array(i.toFloat, i.toFloat, i.toFloat)))
    idx.add(777L, Array(-5f, -5f, -5f))
    assert(idx.search(Array(-5f, -5f, -5f), 1).head._1 == 777L)
  }

  test("save/load round-trip preserves results and stats") {
    val dim = 8
    val idx = new HnswIndex(dim, "l2sq")
    (0 until 300).foreach(i => idx.add(i.toLong, vecOf(i, dim)))
    idx.remove(5L)
    val f = Files.createTempDirectory("hnsw").resolve("idx.bin").toString
    idx.save(f)
    val loaded = HnswIndex.load(f)
    assert(loaded.size == idx.size && loaded.deletedCount == idx.deletedCount)
    assert(loaded.dim == dim && loaded.metric == "l2sq")
    val q = vecOf(12345, dim)
    assert(loaded.search(q, 5).toSeq == idx.search(q, 5).toSeq)
    assert(loaded.levels == idx.levels)
  }

  test("stats: levels and per-level node counts are consistent") {
    val idx = new HnswIndex(4, "l2sq")
    (0 until 1000).foreach(i => idx.add(i.toLong, vecOf(i, 4)))
    val stats = idx.levelStats
    assert(stats.head.nodes == 1000) // level 0 holds every node
    assert(stats.map(_.nodes).sliding(2).forall(p => p.head >= p.last))
    assert(idx.approxMemoryBytes > 0 && idx.capacity >= 1000)
  }

  test("option validation mirrors reference errors (hnsw_options.test)") {
    intercept[IllegalArgumentException](new HnswIndex(3, "bogus"))
    intercept[IllegalArgumentException](new HnswIndex(3, "l2sq", m = 1))
    intercept[IllegalArgumentException](new HnswIndex(3, "l2sq", efConstruction = 0))
    intercept[IllegalArgumentException] {
      val idx = new HnswIndex(3, "l2sq")
      idx.add(1L, Array(1f, 2f)) // wrong dimension
    }
  }
}
