package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** Graph invariants of the bulk build ([[HnswIndex.addAll]]) against online
  * inserts ([[HnswIndex.add]]). A bulk build lets neighbour lists overflow to
  * twice their cap and prunes them once at its end; whatever the route, the
  * graph a caller sees holds every list within its level's cap and saves to
  * the capacity-padded size a parallel build of the same keys saves to, and
  * a bulk-built graph has no level-0 orphan. A bulk build saves the same
  * bytes at every thread count. */
class BulkBuildSpec extends AnyFunSuite {

  private def keyed(vs: Array[Array[Float]], from: Long = 0L) =
    vs.indices.map(i => (from + i, vs(i))).toArray

  private def savedBytes(idx: HnswIndex): Array[Byte] = {
    val f = java.io.File.createTempFile("bulk-build", ".hnsw")
    try { idx.save(f.getPath); java.nio.file.Files.readAllBytes(f.toPath) }
    finally { f.delete(); () }
  }

  private def assertInvariants(label: String, idx: HnswIndex): Unit = {
    assert(idx.overfullListCount == 0,
      s"$label: ${idx.overfullListCount} neighbour lists over their cap")
    assert(idx.levelZeroOrphanCount == 0,
      s"$label: ${idx.levelZeroOrphanCount} level-0 orphans")
  }

  test("task build threads split the stage's slots over its tasks, capped at 16") {
    assert(ShardedHnswIndex.taskBuildThreads(slots = 4, tasks = 1) == 4)
    assert(ShardedHnswIndex.taskBuildThreads(slots = 4, tasks = 4) == 1)
    assert(ShardedHnswIndex.taskBuildThreads(slots = 64, tasks = 2) == 16)
    assert(ShardedHnswIndex.taskBuildThreads(slots = 1, tasks = 8) == 1)
  }

  private val dim16 = 16
  private lazy val items16 = keyed(new Mixture(5, dim16, 32).points(3000))
  private def fresh16() =
    new HnswIndex(dim16, "l2sq", m = 8, m0 = 16, efConstruction = 64)
  private lazy val parallelBytes = {
    val idx = fresh16()
    idx.addAll(items16.iterator, 4)
    assertInvariants("four-thread bulk", idx)
    savedBytes(idx)
  }

  test("serial and four-thread bulk builds keep every list within its cap, " +
      "leave no orphans, and save to the same size") {
    // the same bytes, not just the same size, at 1, 2 and 4 threads; the
    // 5000-row input is longer than the build's 4096-row shuffle buffer
    val items5k = keyed(new Mixture(6, dim16, 32).points(5000))
    for ((label, items) <- Seq("3000 rows" -> items16, "5000 rows" -> items5k)) {
      val saved = Seq(1, 2, 4).map { threads =>
        val idx = fresh16()
        idx.addAll(items.iterator, threads)
        assertInvariants(s"$label, $threads-thread bulk", idx)
        threads -> savedBytes(idx)
      }.toMap
      Seq(1, 2).foreach { threads =>
        assert(java.util.Arrays.equals(saved(threads), saved(4)),
          s"$label: the $threads-thread bulk build saved other bytes than the " +
            "four-thread build")
      }
    }
  }

  test("200 online adds on a built graph keep every list within its cap " +
      "after each add, and save to the parallel build's size") {
    // online adds prune at cap but run no connectivity repair, so unlike a
    // bulk build they carry no orphan post-condition
    val (first, rest) = items16.splitAt(items16.length - 200)
    val online = fresh16()
    online.addAll(first.iterator, 4)
    rest.foreach { case (k, v) =>
      online.add(k, v)
      assert(online.overfullListCount == 0, s"add($k) left a list over its cap")
    }
    assert(savedBytes(online).length == parallelBytes.length,
      "online adds saved a different size than the parallel build")
  }

  test("a delta spilled without tombstones is sealed with no level-0 orphan") {
    // online adds prune at cap and run no repair: these 3000 leave an orphan
    val items = keyed(new Mixture(8, dim16, 32).points(3000))
    val online = fresh16()
    items.foreach { case (k, v) => online.add(k, v) }
    assert(online.levelZeroOrphanCount >= 1,
      "the online-add graph has no orphan; the spill below would test nothing")
    // the sharded index builds its delta with the first shard's knobs, so
    // its pre-spill delta is the graph above, add for add
    val seedShard = fresh16()
    seedShard.add(-1L, Array.fill(dim16)(0f))
    val seedPath = java.io.File.createTempFile("spill-seed", ".hnsw")
    seedShard.save(seedPath.getPath)
    val sharded = new ShardedHnswIndex(Array(ShardMeta.of(seedPath.getPath, seedShard)))
    val key = IndexCatalog.DeltaSpillRowsConfKey
    val before = sys.props.get(key)
    sys.props(key) = items.length.toString
    try items.foreach { case (k, v) => sharded.insert(k, v) }
    finally before match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
    assert(sharded.pendingDeltaSize == 0 && sharded.shards.length == 2)
    val spilled = sharded.shards.last
    try {
      assert(spilled.count == items.length)
      val sealedGraph = HnswIndex.load(spilled.path)
      assert(sealedGraph.levelZeroOrphanCount == 0,
        s"the spilled shard holds ${sealedGraph.levelZeroOrphanCount} level-0 orphans")
    } finally {
      new java.io.File(spilled.path).delete()
      seedPath.delete()
    }
  }

  test("serial bulk recall@10 on a 4096 x 64 mixture is within 0.005 of the " +
      "online-add build") {
    val dim = 64
    val mix = new Mixture(11, dim, 256)
    val items = keyed(mix.points(4096))
    // perturbed held-out points, never copies of indexed rows
    val noise = new scala.util.Random(12)
    val queries = mix.points(300).map(_.map(x => x + 0.1f * noise.nextGaussian().toFloat))
    val truth = queries.map { q =>
      items.map { case (k, v) => (DistanceKernels.l2sq(q, v), k) }
        .sortBy(_._1).take(10).map(_._2).toSet
    }
    def recall(idx: HnswIndex): Double =
      queries.indices.map(i =>
        idx.search(queries(i), 10, ef = 10).count(h => truth(i)(h._1)) / 10.0
      ).sum / queries.length

    val online = new HnswIndex(dim, "l2sq")
    items.foreach { case (k, v) => online.add(k, v) }
    val bulk = new HnswIndex(dim, "l2sq")
    bulk.addAll(items.iterator, 1)
    assertInvariants("serial bulk", bulk)
    val (rOnline, rBulk) = (recall(online), recall(bulk))
    info(f"recall@10 at ef=10: online $rOnline%.4f, serial bulk $rBulk%.4f")
    assert(rBulk >= rOnline - 0.005,
      f"serial bulk recall $rBulk%.4f fell more than 0.005 below online $rOnline%.4f")
  }
}
