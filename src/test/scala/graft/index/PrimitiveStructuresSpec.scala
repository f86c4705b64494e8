package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** Direct unit coverage for the primitive hot-path structures behind the
  * HNSW beam search — a subtle heap bug would not crash anything, it would
  * silently degrade recall, so the ordering contract is pinned here. */
class PrimitiveStructuresSpec extends AnyFunSuite {

  test("PairHeap min-heap pops ascending over random inputs") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { trial =>
      val n = 1 + rnd.nextInt(200)
      val h = new PairHeap(4, min = true)
      val in = Array.fill(n)((rnd.nextDouble() * 100, rnd.nextInt(1000)))
      in.foreach { case (d, id) => h.push(d, id) }
      val out = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (h.size > 0) { out += h.topDist; h.pop() }
      assert(out.toSeq == in.map(_._1).sorted.toSeq, s"trial $trial")
    }
  }

  test("PairHeap max-heap pops descending; interleaved push/pop keeps order") {
    val rnd = new scala.util.Random(11)
    val h = new PairHeap(4, min = false)
    val model = scala.collection.mutable.PriorityQueue.empty[Double]
    (0 until 2000).foreach { _ =>
      if (h.size == 0 || rnd.nextDouble() < 0.6) {
        val d = rnd.nextDouble()
        h.push(d, 0)
        model.enqueue(d)
      } else {
        assert(h.topDist == model.head)
        h.pop()
        model.dequeue()
      }
      assert(h.size == model.size)
    }
    while (h.size > 0) {
      assert(h.topDist == model.head)
      h.pop(); model.dequeue()
    }
  }

  test("PairHeap carries ids with their distances") {
    val h = new PairHeap(4, min = true)
    Seq((3.0, 30), (1.0, 10), (2.0, 20)).foreach { case (d, id) => h.push(d, id) }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    while (h.size > 0) { got += ((h.topDist, h.topId)); h.pop() }
    assert(got.toSeq == Seq((1.0, 10), (2.0, 20), (3.0, 30)))
  }

  test("artifact byte size is a pure function of the key set: shuffled " +
      "insertion order and parallel builds save to identical sizes " +
      "(hnsw_reclaim_storage.test_slow's +5-block recreate bound)") {
    val dim = 8
    val rnd = new scala.util.Random(3)
    val items = Array.tabulate(3000)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat())))
    def bytesOf(build: HnswIndex => Unit): Array[Byte] = {
      val idx = new HnswIndex(dim, "l2sq")
      build(idx)
      val p = java.nio.file.Files.createTempFile("hnsw-det", ".hnsw")
      try { idx.save(p.toString); java.nio.file.Files.readAllBytes(p) }
      finally java.nio.file.Files.delete(p)
    }
    val serial = bytesOf(idx => items.foreach { case (k, v) => idx.add(k, v) })
    val shuffled = bytesOf { idx =>
      new scala.util.Random(99).shuffle(items.toSeq)
        .foreach { case (k, v) => idx.add(k, v) }
    }
    val parallel = bytesOf(_.addAll(items.iterator, 8))
    val parallel2 = bytesOf(_.addAll(items.iterator, 16))
    assert(serial.length == shuffled.length, "insertion order changed the artifact size")
    assert(serial.length == parallel.length, "parallel build changed the artifact size")
    // a bulk build is a pure function of its input, not only in size
    assert(java.util.Arrays.equals(parallel, parallel2),
      "thread count changed the artifact bytes")
  }

  test("parallel build on pre-sorted collinear data stays connected: " +
      "search finds the true tail neighbors every build (repair pass)") {
    // Adversarial shape: keys arrive in ascending coordinate order on
    // COLLINEAR data, where the diversity heuristic keeps no far "bridge"
    // edges, so the end-of-build prune can take away a stretch's only
    // in-links. Before the post-build connectivity repair existed, the
    // earlier concurrent build flaked roughly every other build here with
    // the top-3 ~90 ranks wrong (GraftSqlSpec's hnsw_lateral_join_group
    // replay caught it once in ~5 suite runs).
    (1 to 6).foreach { rep =>
      val idx = new HnswIndex(3, "l2sq")
      val items = (1 until 2000).iterator
        .map(i => (i.toLong, Array(i / 1000f, 0f, 0f)))
      idx.addAll(items, 16)
      assert(idx.levelZeroOrphanCount == 0,
        s"build $rep left ${idx.levelZeroOrphanCount} level-0 orphans")
      val got = idx.search(Array(5f, 5f, 5f), 3).map(_._1).toSet
      assert(got == Set(1999L, 1998L, 1997L), s"build $rep returned $got")
    }
  }

  test("parallel build recall holds across adversarial insert orders " +
      "and thread counts (0 orphans + recall@10 >= 0.9 at ef=64)") {
    // Insert orders whose neighbouring rows arrive together (sorted
    // projections, cluster-by-cluster ingest — exactly how a
    // partitioned/z-ordered corpus arrives) put a round's true nearest
    // neighbours in the same round, where only the brute-force peer pass
    // sees them. Property-check the build across those orders × threads.
    // n exceeds the build's ShuffleBuf span (4096), so this exercises the
    // BLOCK-shuffle regime (random draws from a bounded streaming buffer),
    // not the degenerate full-shuffle of short inputs
    val dim = 16
    val n = 20000
    val rnd = new scala.util.Random(17)
    def noisy(axis0: Double): Array[Float] = {
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.01).toFloat)
      v(0) = axis0.toFloat; v
    }
    val sortedAxis = Array.tabulate(n)(i => (i.toLong, noisy(i / 1000.0)))
    val reversed = sortedAxis.reverse.map { case (k, v) => (k, v) }
    val clustered = {
      // 8 well-separated blobs, inserted blob-by-blob
      val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 10))
      (0 until 8).flatMap { c =>
        Array.tabulate(n / 8) { j =>
          val v = centers(c).clone()
          var d = 0
          while (d < dim) { v(d) += (rnd.nextGaussian() * 0.1).toFloat; d += 1 }
          ((c * (n / 8) + j).toLong, v)
        }
      }.toArray
    }
    for ((label, items) <- Seq("sorted" -> sortedAxis, "reversed" -> reversed,
           "clustered" -> clustered);
         threads <- Seq(8, 16)) {
      val idx = new HnswIndex(dim, "l2sq")
      idx.addAll(items.iterator, threads)
      assert(idx.levelZeroOrphanCount == 0,
        s"$label/$threads: ${idx.levelZeroOrphanCount} level-0 orphans")
      val queries = items.indices.by(400).map(items(_)._2)
      val recalls = queries.map { q =>
        val exact = idx.search(q, 10, ef = n + 1).map(_._1).toSet
        val approx = idx.search(q, 10, ef = 64).map(_._1).toSet
        exact.intersect(approx).size / 10.0
      }
      val mean = recalls.sum / recalls.length
      info(f"$label%-9s threads=$threads%-2d recall@10(ef=64)=$mean%.3f")
      // measured 1.000 on every order/thread combo; the earlier concurrent
      // build read 0.89-0.94 on the sorted orders at 16 threads before it
      // shuffled its input
      assert(mean >= 0.95, f"$label/$threads: recall@10 at ef=64 was $mean%.3f")
    }
  }

  test("property: randomized builds — (n, dim, threads) x insert order " +
      "(uniform/sorted/clustered/duplicate-heavy) x interleaved deletes " +
      "keep 0 level-0 orphans and recall@10 >= 0.95") {
    // The repairConnectivity pass and its protected-edge prune interaction
    // (pruneNeighborsProtected) carry the most state of any build-path
    // code; the two fixed fixtures above pin the known failure shapes —
    // this generator searches for UNKNOWN ones. Per trial: random size,
    // dimension, and thread count; one of four insert orders including
    // duplicate-heavy clusters (many exact-duplicate vectors stress the
    // zero-distance diversity prune); half the trials interleave a
    // tombstone wave between two addAll calls (delete hooks + repair must
    // compose). Post-conditions after EVERY build: levelZeroOrphanCount
    // == 0, no deleted key surfaces, and distance-based (tie-robust)
    // recall@10 at ef=64 >= 0.95 averaged over 8 probes.
    for (trial <- 1 to 12) {
      val rnd = new scala.util.Random(1000 + trial)
      val dim = Seq(4, 8, 16, 32)(rnd.nextInt(4))
      val n = 500 + rnd.nextInt(5500)
      val threads = Seq(4, 8, 16)(rnd.nextInt(3))
      val shape = Seq("uniform", "sorted", "clustered", "dup-clusters")(rnd.nextInt(4))
      def gauss(scale: Double): Array[Float] =
        Array.fill(dim)((rnd.nextGaussian() * scale).toFloat)
      val base: Array[Array[Float]] = shape match {
        case "uniform" => Array.fill(n)(gauss(1.0))
        case "sorted" =>
          // ascending along axis 0 with small noise: the correlated-order
          // regime (z-ordered/partitioned corpora stream in like this)
          Array.tabulate(n) { i =>
            val v = gauss(0.01); v(0) = (i / 500.0).toFloat; v
          }
        case "clustered" =>
          val k = 4 + rnd.nextInt(8)
          val centers = Array.fill(k)(gauss(10.0))
          Array.tabulate(n) { i =>
            val c = centers(i * k / n) // cluster-by-cluster arrival
            val v = gauss(0.1)
            var d = 0; while (d < dim) { v(d) += c(d); d += 1 }; v
          }
        case "dup-clusters" =>
          // few distinct points, each repeated many times back-to-back:
          // whole build rounds of exact duplicates
          val k = 5 + rnd.nextInt(20)
          val distinct = Array.fill(k)(gauss(5.0))
          Array.tabulate(n)(i => distinct(i * k / n).clone())
      }
      val items = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val idx = new HnswIndex(dim, "l2sq")
      val deleted: Set[Long] =
        if (rnd.nextBoolean()) {
          val (a, b) = items.splitAt(n / 2)
          idx.addAll(a.iterator, threads)
          val dels = a.iterator.map(_._1).filter(_ => rnd.nextInt(10) == 0).toArray
          dels.foreach(k => assert(idx.remove(k)))
          idx.addAll(b.iterator, threads)
          dels.toSet
        } else { idx.addAll(items.iterator, threads); Set.empty }
      val label = s"trial $trial ($shape n=$n dim=$dim threads=$threads " +
        s"deleted=${deleted.size})"
      assert(idx.levelZeroOrphanCount == 0,
        s"$label: ${idx.levelZeroOrphanCount} level-0 orphans")
      val live = items.filterNot(kv => deleted.contains(kv._1))
      val probes = Array.fill(8)(live(rnd.nextInt(live.length))._2)
      val recalls = probes.map { q =>
        val exactKth = idx.search(q, 10, ef = n + 1).last._2
        val approx = idx.search(q, 10, ef = 64)
        approx.foreach { case (key, _) =>
          assert(!deleted.contains(key), s"$label: deleted key $key surfaced") }
        // tie-robust: a hit is any result within the exact k-th distance
        approx.count(_._2 <= exactKth * (1 + 1e-9) + 1e-12) / 10.0
      }
      val mean = recalls.sum / recalls.length
      info(f"$label%-60s recall@10(ef=64)=$mean%.3f")
      assert(mean >= 0.95, f"$label: recall@10 at ef=64 was $mean%.3f")
    }
  }

  test("IntVec add/contains/clear/foreach over growth boundaries") {
    val v = new IntVec(4)
    (0 until 1000).foreach(i => v.add(i * 3))
    assert(v.length == 1000 && v(999) == 2997)
    assert(v.contains(0) && v.contains(2997) && !v.contains(1))
    var sum = 0L
    v.foreach(sum += _)
    assert(sum == (0 until 1000).map(_ * 3L).sum)
    v.clear()
    assert(v.length == 0 && !v.contains(0))
  }
}
