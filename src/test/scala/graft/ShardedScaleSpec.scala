package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.index.{IndexCatalog, ShardCache, ShardedHnswIndex}

/** Scale contracts of the sharded index (the 100TB path), pinned as specs:
  * artifact placement, per-shard tombstone attribution, bounded executor
  * residency for the KNN-join search, and executor-built batch ingest. */
class ShardedScaleSpec extends GraftSparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def beforeAll(): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Graft.registerTable(spark, "scale_t", emb)
    IndexCatalog.dropIndex("scale_idx")
    IndexCatalog.createIndex(spark, "scale_idx", "scale_t", "embedding",
      Map("ef_search" -> "600"), sharded = true, numShards = 4)
  }

  private def idx: ShardedHnswIndex =
    IndexCatalog.get("scale_idx").get.index.asInstanceOf[ShardedHnswIndex]

  private def someRowids(n: Int): Seq[Long] =
    spark.table("scale_t").select(col(Graft.RowIdCol)).as[Long].sort().take(n).toSeq

  private def queryVec(id: Int): Array[Float] =
    spark.table("scale_t").filter($"vec_id" === id)
      .select($"embedding").head().getSeq[Float](0).toArray

  test("delete of a never-indexed key returns false and corrupts nothing") {
    val sizeBefore = idx.size
    assert(!idx.delete(987654321L))
    assert(idx.size == sizeBefore && idx.deletedCount == 0)
  }

  test("deletes are attributed to their owning shard only (bounded over-fetch)") {
    val victims = someRowids(6).take(3)
    victims.foreach(v => assert(idx.delete(v)))
    // attribution is exact in-session: delete() verifies membership on the
    // Bloom-pruned candidate shards before tombstoning, and a shard's
    // searches exclude exactly the keys attributed to it
    val counts = idx.shards.map(s => idx.tombstonesForShard(s.path))
    assert(counts.sum == 3)
    // attribution matches true shard membership exactly (shard artifacts are
    // immutable — the tombstones live at the sharded-index level)
    val expected = idx.shards.map(s =>
      victims.count(v => ShardCache.get(s.path).contains(v)))
    assert(counts.toSeq == expected.toSeq)
    // the tombstoned keys are really gone from search
    victims.foreach(v => assert(!idx.contains(v)))
  }

  test("deleteAll: shard-major batch delete matches per-key semantics") {
    val sizeBefore = idx.size
    val tombsBefore = idx.shards.map(s => idx.tombstonesForShard(s.path)).sum
    // keys disjoint from the earlier attribution test's victims
    val present = someRowids(20).drop(10).take(6)
    val absent = Seq(111222333L, 444555666L)
    val deleted = idx.deleteAll(present ++ absent)
    assert(deleted.toSet == present.toSet,
      "batch delete must delete exactly the present keys")
    assert(idx.size == sizeBefore - present.size)
    assert(idx.shards.map(s => idx.tombstonesForShard(s.path)).sum ==
      tombsBefore + present.size, "tombstones attribute per owning shard")
    // idempotent: already-tombstoned and absent keys delete nothing
    assert(idx.deleteAll(present ++ absent).isEmpty)
    assert(idx.size == sizeBefore - present.size)
    present.foreach(v => assert(!idx.contains(v)))
  }

  test("local compacted() writes replacement artifacts under the SHARED artifact dir") {
    val compacted = idx.compacted().asInstanceOf[ShardedHnswIndex]
    // a driver-local temp dir would be unresolvable by executors on a real
    // cluster; every shard artifact must live under indexArtifactDir
    compacted.shards.foreach { s =>
      assert(s.path.startsWith(IndexCatalog.indexArtifactDir),
        s"shard artifact ${s.path} escaped ${IndexCatalog.indexArtifactDir}")
    }
    assert(compacted.deletedCount == 0)
    assert(compacted.size == idx.size)
  }

  test("searchBatch matches per-query search under a 1-entry shard cache (residency bound)") {
    val qs = Array(queryVec(1), queryVec(2), queryVec(3))
    val single = qs.map(q => idx.search(q, 5, ef = 600).toSeq)
    sys.props("graft.shardCache.maxEntries") = "1"
    ShardCache.clear()
    try {
      val batch = idx.searchBatch(qs, 5, ef = 600)
      // shard-major walk: only ONE shard graph resident at any point
      assert(ShardCache.residentCount <= 1)
      (0 until qs.length).foreach(i => assert(batch(i).toSeq == single(i)))
    } finally {
      sys.props.remove("graft.shardCache.maxEntries")
      ShardCache.clear()
    }
  }

  test("checkpoint-restore proxy resolves to the sharded index; a pinned ef " +
      "takes the same path as the live instance (round-15 advice)") {
    val live = idx
    val dir = java.nio.file.Files.createTempDirectory("resolve-proxy").toString
    live.save(s"$dir/idx")
    val proxy = new graft.index.LazyLoadedIndex(s"$dir/idx")
    val resolved = graft.index.VectorIndex.resolve(proxy)
    // the dispatch contract: resolve unwraps to the REAL index class, so
    // every call site's `case sh: ShardedHnswIndex` arm fires for restored
    // indexes too (previously they fell into the generic 3-arg search that
    // re-floored a user-pinned ef and loaded shards driver-side)
    assert(resolved.isInstanceOf[ShardedHnswIndex])
    val q = queryVec(5)
    // pinned tiny ef: both instances read identical immutable artifacts, so
    // the pinned fan-out must return identical results through the proxy
    val viaProxy = resolved.asInstanceOf[ShardedHnswIndex]
      .search(q, 3, ef = 3, efPinned = true)
    val direct = live.search(q, 3, ef = 3, efPinned = true)
    assert(viaProxy.toSeq == direct.toSeq)
  }

  test("30% of keys deleted: search, searchBatch and searchDistributed each " +
      "return the same k live hits at default ef, recall@10 >= 0.9 over the live rows") {
    val n = 20000
    val dim = 16
    val k = 10
    // deterministic hash-derived coordinates in (-1, 1), 4 shards of ~5k
    // rows: the default per-shard ef stays far below a quarter of a shard,
    // so every shard search runs the beam, not the exact linear scan
    val vecCols = array((0 until dim).map(d =>
      ((xxhash64($"id", lit(d)) % 100000L) / 100000.0).cast("float")): _*)
    Graft.registerTable(spark, "del30_t",
      spark.range(n).select($"id".as("vec_id"), vecCols.as("embedding")))
    IndexCatalog.dropIndex("del30_idx")
    try {
      IndexCatalog.createIndex(spark, "del30_idx", "del30_t", "embedding",
        Map.empty, sharded = true, numShards = 4)
      val sh = IndexCatalog.get("del30_idx").get.index.asInstanceOf[ShardedHnswIndex]
      val rows = spark.table("del30_t")
        .select(col(Graft.RowIdCol), $"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
      val deleted = rows.collect { case (key, id, _) if id % 10 < 3 => key }.toSet
      assert(sh.deleteAll(deleted.toSeq).size == deleted.size)
      assert(sh.size == n - deleted.size)
      val live = rows.filterNot(r => deleted(r._1))
      val f = graft.index.DistanceKernels.forMetric(sh.metric)
      // 50 probes, every 397th row: deleted rows among them too
      val probes = rows.filter(_._2 % 397 == 0).map(_._3).take(50)
      val batch = sh.searchBatch(probes, k)
      var hit = 0
      probes.zipWithIndex.foreach { case (q, i) =>
        val local = sh.search(q, k)
        val distributed = sh.searchDistributed(spark.sparkContext, q, k)
        Seq(local, batch(i), distributed).foreach { hits =>
          assert(hits.length == k)
          hits.foreach { case (key, _) => assert(!deleted(key), s"deleted key $key came back") }
        }
        assert(batch(i).toSeq == local.toSeq, s"probe $i: searchBatch differs from search")
        assert(distributed.toSeq == local.toSeq, s"probe $i: searchDistributed differs from search")
        // tie-robust hit test against the exact k-th live distance
        val kth = live.map(r => f(q, r._3)).sorted.apply(k - 1)
        hit += local.count(_._2 <= kth * (1 + 1e-9) + 1e-12)
      }
      val recall = hit.toDouble / (k * probes.length)
      info(f"recall@10 over the live rows with 30%% deleted: $recall%.3f")
      assert(recall >= 0.9, f"recall@10 $recall%.3f < 0.9")
    } finally {
      IndexCatalog.dropIndex("del30_idx")
      Graft.dropTable(spark, "del30_t")
    }
  }

  test("bulk insertInto lands as executor-built shards, not a driver delta (100k rows)") {
    // deterministic unique vectors: coord j = bits 3j..3j+2 of the id
    def vecs(ids: org.apache.spark.sql.DataFrame) = ids.select(
      $"id".as("vec_id"),
      array((0 until 8).map(j =>
        (shiftright($"id", 3 * j) % 8).cast("float")): _*).as("embedding"))
    Graft.registerTable(spark, "bulk_t", vecs(spark.range(1000).toDF("id")))
    IndexCatalog.dropIndex("bulk_idx")
    IndexCatalog.createIndex(spark, "bulk_idx", "bulk_t", "embedding",
      Map("ef_search" -> "200000", "ef_construction" -> "16", "m" -> "8"),
      sharded = true, numShards = 2)
    val sh = IndexCatalog.get("bulk_idx").get.index.asInstanceOf[ShardedHnswIndex]
    val shardsBefore = sh.shards.length
    sys.props("graft.ingest.rowsPerShard") = "25000"
    try {
      val batch = vecs(spark.range(1000, 100000).toDF("id"))
      Graft.insertInto(spark, "bulk_t", batch)
    } finally sys.props.remove("graft.ingest.rowsPerShard")
    // the 99k batch became whole shard artifacts; the driver delta stayed empty
    assert(sh.pendingDeltaSize == 0)
    assert(sh.shards.length == shardsBefore + 4)
    assert(sh.size == 100000)
    // searches see old + new data exactly (ef >= N ⇒ exhaustive per shard)
    val probeId = 87654L
    val probe = Array.tabulate(8)(j => ((probeId >> (3 * j)) & 7).toFloat)
    val top = Graft.indexTopK(spark, "bulk_idx", probe, 1)
      .select($"vec_id", $"dist").head()
    assert(top.getLong(0) == probeId && top.getDouble(1) == 0.0)
    val oldProbe = Array.tabulate(8)(j => ((42L >> (3 * j)) & 7).toFloat)
    assert(Graft.indexTopK(spark, "bulk_idx", oldProbe, 1)
      .select($"dist").head().getDouble(0) == 0.0)
  }
}
