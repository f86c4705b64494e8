package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.index.{IndexCatalog, LazyLoadedIndex, ShardCache}

/** Persistence lifecycle parity with the reference
  * (test/sql/hnsw/hnsw_insert.test steps 0-7 and
  * hnsw_experimental_persistence.test:14-17): the persistence gate, a
  * CHECKPOINT that persists artifacts + catalog manifest, a simulated
  * restart with LAZY reload, and inserts after restart reaching the index. */
class PersistenceLifecycleSpec extends GraftSparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val ckptDir =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  override def beforeAll(): Unit = {
    IndexCatalog.clear()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Graft.registerTable(spark, "life_t", emb)
    IndexCatalog.createIndex(spark, "life_idx", "life_t", "embedding")
  }

  test("checkpoint refuses without the experimental-persistence gate") {
    spark.conf.unset(IndexCatalog.PersistenceConfKey)
    val e = intercept[IllegalStateException] {
      IndexCatalog.checkpoint(spark, ckptDir)
    }
    assert(e.getMessage.contains("hnsw_enable_experimental_persistence"))
    // a refused CHECKPOINT leaves the directory untouched — in particular
    // no storage-family manifest a later restoreAll could resurrect
    assert(!graft.index.ArtifactIO.exists(s"$ckptDir/storage-catalog.manifest"))
    assert(!graft.index.ArtifactIO.exists(s"$ckptDir/catalog.manifest"))
  }

  test("checkpoint -> restart -> lazy reload -> insert after restart") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    try {
      val sizeBefore = IndexCatalog.get("life_idx").get.index.size
      val q = spark.table("life_t").filter($"vec_id" === 5)
        .select($"embedding").head().getSeq[Float](0).toArray
      val before = Graft.indexTopK(spark, "life_idx", q, 5)
        .select($"vec_id").as[Long].collect()

      // CHECKPOINT, then simulate a restart: catalog gone, storage remains
      IndexCatalog.checkpoint(spark, ckptDir)
      IndexCatalog.clear()
      assert(IndexCatalog.get("life_idx").isEmpty)

      // restore re-registers WITHOUT deserializing (deferred load)
      IndexCatalog.restoreAll(spark, ckptDir)
      val entry = IndexCatalog.get("life_idx").get
      assert(entry.index.isInstanceOf[LazyLoadedIndex])

      // first access loads; results identical to pre-restart
      val after = Graft.indexTopK(spark, "life_idx", q, 5)
        .select($"vec_id").as[Long].collect()
      assert(after.toSeq == before.toSeq)

      // step 4 of hnsw_insert.test: inserts after restart reach the index
      val probe = Array.fill(64)(42f)
      val newRows = Seq((123456L, probe.toSeq, 0)).toDF("vec_id", "embedding", "label")
        .select($"vec_id", $"embedding".cast("array<float>"), $"label")
      Graft.insertInto(spark, "life_t", newRows)
      assert(IndexCatalog.get("life_idx").get.index.size == sizeBefore + 1)
      assert(Graft.indexTopK(spark, "life_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 123456L)

      // second restart cycle: the inserted vector survives re-checkpoint
      IndexCatalog.checkpoint(spark, ckptDir)
      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, ckptDir)
      assert(Graft.indexTopK(spark, "life_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 123456L)
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("WAL: DML between checkpoint and crash replays on restore (hnsw_insert_wal.test)") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-wal").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "wal_t", emb)
      IndexCatalog.dropIndex("wal_idx")
      IndexCatalog.createIndex(spark, "wal_idx", "wal_t", "embedding",
        Map("ef_search" -> "600"))
      IndexCatalog.checkpoint(spark, dir)
      val sizeAtCkpt = IndexCatalog.get("wal_idx").get.index.size

      // post-checkpoint DML: an insert and a delete, both only in the WAL
      val probe = Array.fill(64)(33f)
      val newRows = Seq((555000L, probe.toSeq, 0)).toDF("vec_id", "embedding", "label")
        .select($"vec_id", $"embedding".cast("array<float>"), $"label")
      Graft.insertInto(spark, "wal_t", newRows)
      val victimVec = spark.table("wal_t").filter($"vec_id" === 7)
        .select($"embedding").head().getSeq[Float](0).toArray
      Graft.deleteFrom(spark, "wal_t", $"vec_id" === 7)

      // crash: catalog lost WITHOUT a fresh checkpoint; artifacts + WAL remain
      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      val restored = IndexCatalog.get("wal_idx").get.index
      assert(restored.size == sizeAtCkpt) // +1 insert, -1 delete
      assert(Graft.indexTopK(spark, "wal_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 555000L)
      assert(Graft.indexTopK(spark, "wal_idx", victimVec, 1)
        .select($"vec_id").as[Long].head() != 7L)

      // a sharded index replays big-batch shard appends from the WAL too
      Graft.registerTable(spark, "wal_sh_t", emb)
      IndexCatalog.dropIndex("wal_sh_idx")
      IndexCatalog.createIndex(spark, "wal_sh_idx", "wal_sh_t", "embedding",
        Map("ef_search" -> "2000"), sharded = true, numShards = 2)
      IndexCatalog.checkpoint(spark, dir)
      sys.props("graft.ingest.shardBatchThreshold") = "50"
      try {
        val batch = emb.filter($"vec_id" < 100)
          .select(($"vec_id" + 700000).as("vec_id"), $"embedding", $"label")
        Graft.insertInto(spark, "wal_sh_t", batch)
      } finally sys.props.remove("graft.ingest.shardBatchThreshold")
      val shSize = IndexCatalog.get("wal_sh_idx").get.index.size
      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      val shRestored = IndexCatalog.get("wal_sh_idx").get.index
      assert(shRestored.size == shSize)
      // vec 700042 duplicates vec 42's vector (the batch is shifted clones),
      // so both sit at distance 0 — the replayed shard must surface the clone
      val bprobe = spark.table("wal_sh_t").filter($"vec_id" === 700042L)
        .select($"embedding").head().getSeq[Float](0).toArray
      assert(Graft.indexTopK(spark, "wal_sh_idx", bprobe, 2)
        .select($"vec_id").as[Long].collect().toSet.contains(700042L))
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("WAL: a post-checkpoint DROP INDEX stays dropped after restore; " +
      "a same-name recreate's records don't replay onto the old artifact") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-drop-wal").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "dw_t", emb)
      IndexCatalog.dropIndex("dw_idx")
      IndexCatalog.createIndex(spark, "dw_idx", "dw_t", "embedding",
        Map("ef_search" -> "600"))
      IndexCatalog.checkpoint(spark, dir)
      val sizeAtCkpt = IndexCatalog.get("dw_idx").get.index.size

      // post-checkpoint epoch: DML, then DROP, then recreate + more DML
      Graft.insertInto(spark, "dw_t",
        Seq((888000L, Seq.fill(64)(44f), 0)).toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))
      assert(IndexCatalog.dropIndex("dw_idx"))
      IndexCatalog.createIndex(spark, "dw_idx", "dw_t", "embedding",
        Map("ef_search" -> "600"))
      Graft.insertInto(spark, "dw_t",
        Seq((888001L, Seq.fill(64)(45f), 0)).toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))

      // crash + restore: the manifest's dw_idx was dropped this epoch — it
      // must NOT resurrect, and the recreate's records must not replay onto
      // the old artifact (the recreate is only covered by the NEXT checkpoint)
      IndexCatalog.clear()
      val alive = IndexCatalog.restoreAll(spark, dir)
      assert(!alive.exists(_.name == "dw_idx"))
      assert(IndexCatalog.get("dw_idx").isEmpty,
        s"dropped index resurrected with size " +
          s"${IndexCatalog.get("dw_idx").map(_.index.size)} (ckpt was $sizeAtCkpt)")
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("storage-backed families survive restart via the checkpoint manifest") {
    import graft.index.{IvfIndex, TermIndex}
    val dir = java.nio.file.Files.createTempDirectory("graft-storage-ckpt").toString
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("sl_emb")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").createOrReplaceTempView("sl_docs")
    IvfIndex.drop("sl_ivf"); TermIndex.drop("sl_term")
    IvfIndex.create(spark, "sl_ivf", "sl_emb", "embedding", nLists = 4)
    TermIndex.create(spark, "sl_term", "sl_docs", "doc_id", "text", nBuckets = 4)
    val qv = spark.table("sl_emb").where($"vec_id" === 3)
      .select($"embedding").head().getSeq[Float](0).toArray
    val ivfBefore = IvfIndex.search(spark, "sl_ivf", qv, 5, nProbe = 4,
        tieBreak = Seq("vec_id"))
      .select($"vec_id").as[Long].collect().toSeq
    val termBefore = TermIndex.search(spark, "sl_term", Seq("the"), 5)
      .select($"doc_id").as[Long].collect().toSeq

    // storage checkpoint needs NO persistence gate (nothing in-memory to
    // serialize); it rides the same CHECKPOINT call as HNSW
    spark.conf.unset(IndexCatalog.PersistenceConfKey)
    graft.index.StorageIndexCatalog.checkpoint(dir)
    // simulated restart: driver registries gone, artifacts still on disk
    IvfIndex.clearRegistryOnly(); TermIndex.clearRegistryOnly()
    assert(IvfIndex.get("sl_ivf").isEmpty && TermIndex.get("sl_term").isEmpty)

    val n = graft.index.StorageIndexCatalog.restore(dir)
    assert(n >= 2)
    val ivfAfter = IvfIndex.search(spark, "sl_ivf", qv, 5, nProbe = 4,
        tieBreak = Seq("vec_id"))
      .select($"vec_id").as[Long].collect().toSeq
    val termAfter = TermIndex.search(spark, "sl_term", Seq("the"), 5)
      .select($"doc_id").as[Long].collect().toSeq
    assert(ivfAfter == ivfBefore && termAfter == termBefore)
  }

  test("armed manifest follows post-checkpoint appends, compactions and " +
      "batch watermarks (checkpoint -> mutate -> crash -> restore is current)") {
    import graft.index.{IvfIndex, StorageIndexCatalog, TermIndex}
    val dir = java.nio.file.Files.createTempDirectory("graft-armed").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.where($"vec_id" % 2 === 0).createOrReplaceTempView("armed_seed")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").createOrReplaceTempView("armed_docs")
    IvfIndex.drop("armed_ivf"); TermIndex.drop("armed_term")
    IvfIndex.create(spark, "armed_ivf", "armed_seed", "embedding", nLists = 4)
    TermIndex.create(spark, "armed_term", "armed_docs", "doc_id", "text",
      nBuckets = 4)
    StorageIndexCatalog.checkpoint(dir) // arms the manifest

    // post-checkpoint mutations: an IVF append extends covering radii, a
    // term compaction swaps the artifact path, a streaming batch advances
    // the idempotency watermark — all must survive a crash WITHOUT another
    // explicit checkpoint
    IvfIndex.append(spark, "armed_ivf", emb.where($"vec_id" % 2 === 1))
    val radiiLive = IvfIndex.get("armed_ivf").get.listRadii
    val compacted = TermIndex.compact(spark, "armed_term")
    TermIndex.appendBatch(spark, "armed_term",
      spark.table("armed_docs").limit(0), batchId = 7L)

    // crash: registries gone, manifest + artifacts remain
    IvfIndex.clearRegistryOnly(); TermIndex.clearRegistryOnly()
    StorageIndexCatalog.restore(dir)

    assert(IvfIndex.get("armed_ivf").get.listRadii == radiiLive,
      "restored IVF radii must include the append's extension — stale radii " +
        "silently drop in-radius rows")
    assert(TermIndex.get("armed_term").get.path == compacted.path,
      "restored term entry must point at the compacted artifact (the " +
        "pre-compaction path was deleted)")
    // the replayed micro-batch no-ops instead of double-applying
    val statsBefore = TermIndex.get("armed_term").get
    TermIndex.appendBatch(spark, "armed_term",
      spark.table("armed_docs").limit(5), batchId = 7L)
    assert(TermIndex.get("armed_term").get.nDocs == statsBefore.nDocs,
      "an already-applied batchId replayed after restart must not " +
        "double-apply postings/stats")
    StorageIndexCatalog.disarm()
  }

  test("stale pre-checkpoint WAL epochs are inert on restore " +
      "(crash between manifest publish and segment cleanup)") {
    import graft.index.ArtifactIO
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "ep_t", emb)
      IndexCatalog.dropIndex("ep_idx")
      IndexCatalog.createIndex(spark, "ep_idx", "ep_t", "embedding",
        Map("ef_search" -> "600"))
      IndexCatalog.checkpoint(spark, dir)
      val probe = Array.fill(64)(44f)
      Graft.insertInto(spark, "ep_t",
        Seq((666000L, probe.toSeq, 0)).toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))
      // stash the current epoch's segments before the next checkpoint
      // deletes them
      val oldEpochDir = ArtifactIO.list(s"$dir/ep_idx.wal").head
      val segs = ArtifactIO.list(oldEpochDir)
      val stashDir = java.nio.file.Files.createTempDirectory("graft-epoch-stash").toString
      def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
      segs.foreach(f => ArtifactIO.copy(f, s"$stashDir/${base(f)}"))
      // the second checkpoint captures the insert in the artifact; putting
      // the old segments back simulates a crash after the manifest rename
      // but before the segment cleanup
      IndexCatalog.checkpoint(spark, dir)
      val sizeAtCkpt = IndexCatalog.get("ep_idx").get.index.size
      segs.foreach(f => ArtifactIO.copy(s"$stashDir/${base(f)}", f))
      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      val restored = IndexCatalog.get("ep_idx").get.index
      assert(restored.size == sizeAtCkpt,
        "a stale epoch's insert must not re-apply onto an artifact that " +
          "already contains it")
      assert(Graft.indexTopK(spark, "ep_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 666000L)
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("WAL shard appends don't double-attach when the artifact is newer " +
      "than the manifest (crash between persistAll and manifest publish)") {
    import graft.index.ArtifactIO
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-shwin").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "shwin_t", emb)
      IndexCatalog.dropIndex("shwin_idx")
      IndexCatalog.createIndex(spark, "shwin_idx", "shwin_t", "embedding",
        Map("ef_search" -> "2000"), sharded = true, numShards = 2)
      IndexCatalog.checkpoint(spark, dir)
      val manifestStash =
        java.nio.file.Files.createTempDirectory("graft-shwin-man").toString
      ArtifactIO.copy(s"$dir/catalog.manifest", s"$manifestStash/m")

      // post-checkpoint big-batch insert → one WAL shard-append record
      sys.props("graft.ingest.shardBatchThreshold") = "50"
      try {
        val batch = emb.filter($"vec_id" < 100)
          .select(($"vec_id" + 800000).as("vec_id"), $"embedding", $"label")
        Graft.insertInto(spark, "shwin_t", batch)
      } finally sys.props.remove("graft.ingest.shardBatchThreshold")
      val shSize = IndexCatalog.get("shwin_idx").get.index.size

      // stash this epoch's WAL segments, then checkpoint again: the new
      // artifact CONTAINS the appended shards (paths rewritten to
      // shard-N.hnsw). Putting the old manifest and old segments back
      // simulates a crash after persistAll but before the manifest
      // publish/segment cleanup — restore then sees an artifact NEWER
      // than its manifest and replays a shard append the artifact
      // already reflects.
      def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
      val epochDir = ArtifactIO.list(s"$dir/shwin_idx.wal").head
      val segs = ArtifactIO.list(epochDir)
      val segStash =
        java.nio.file.Files.createTempDirectory("graft-shwin-seg").toString
      segs.foreach(f => ArtifactIO.copy(f, s"$segStash/${base(f)}"))
      IndexCatalog.checkpoint(spark, dir)
      ArtifactIO.copy(s"$manifestStash/m", s"$dir/catalog.manifest")
      segs.foreach(f => ArtifactIO.copy(s"$segStash/${base(f)}", f))

      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      val restored = IndexCatalog.get("shwin_idx").get.index
      assert(restored.size == shSize,
        "replaying a shard append the restored artifact already contains " +
          s"must no-op (got ${restored.size}, expected $shSize)")
      // duplicate-key probe: vec 800042 clones vec 42's vector; a doubled
      // shard would surface the same key more than once in the top-k
      val bprobe = spark.table("shwin_t").filter($"vec_id" === 800042L)
        .select($"embedding").head().getSeq[Float](0).toArray
      val ids = Graft.indexTopK(spark, "shwin_idx", bprobe, 2)
        .select($"vec_id").as[Long].collect().toSeq
      assert(ids.distinct.length == ids.length,
        s"duplicate keys in search results after recovery: $ids")
      assert(ids.contains(800042L), s"replayed shard missing from top-k: $ids")
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("ShardMeta.sameShard: mixed-version metas (one side pre-Bloom-filter) " +
      "compare by weak identity instead of never matching") {
    import graft.index.{LongBloomFilter, ShardMeta}
    def meta(path: String, count: Int, bf: LongBloomFilter) =
      ShardMeta(path, 8, "l2sq", count, 1, Seq.empty, 0L, 100L, bf)
    val bf = LongBloomFilter.create(4); Seq(1L, 2L, 3L).foreach(bf.add)
    val bf2 = LongBloomFilter.create(4); Seq(7L, 8L, 9L).foreach(bf2.add)

    // both sides filtered: content identity, rename-stable
    assert(ShardMeta.sameShard(
      meta("/a/shard-0.hnsw", 3, bf), meta("/b/renamed-7.hnsw", 3, bf)))
    assert(!ShardMeta.sameShard(
      meta("/a/shard-0.hnsw", 3, bf), meta("/a/shard-0.hnsw", 3, bf2)))

    // MIXED version (the advisor's gap): a WAL record and a restored
    // artifact shard straddling the filter-format boundary must still be
    // comparable — same (count, dim, basename) dedups, instead of the
    // String-vs-tuple fingerprints silently never matching
    assert(ShardMeta.sameShard(
      meta("/wal/shard-0.hnsw", 3, null), meta("/ckpt/shard-0.hnsw", 3, bf)))
    assert(ShardMeta.sameShard(
      meta("/wal/shard-0.hnsw", 3, bf), meta("/ckpt/shard-0.hnsw", 3, null)))
    assert(!ShardMeta.sameShard(
      meta("/wal/shard-0.hnsw", 3, null), meta("/ckpt/shard-0.hnsw", 4, bf)))

    // both legacy: pre-fingerprint path behavior
    assert(ShardMeta.sameShard(
      meta("/x/shard-1.hnsw", 3, null), meta("/y/shard-1.hnsw", 3, null)))
    assert(!ShardMeta.sameShard(
      meta("/x/shard-1.hnsw", 3, null), meta("/x/shard-2.hnsw", 3, null)))
  }

  test("legacy single-file WAL (pre-segment format) is migrated and " +
      "replayed on restore, and post-restore DML can log again") {
    import graft.index.ArtifactIO
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "leg_t", emb)
      IndexCatalog.dropIndex("leg_idx")
      IndexCatalog.createIndex(spark, "leg_idx", "leg_t", "embedding",
        Map("ef_search" -> "600"))
      IndexCatalog.checkpoint(spark, dir)
      val probe = Array.fill(64)(55f)
      Graft.insertInto(spark, "leg_t",
        Seq((777000L, probe.toSeq, 0)).toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))
      val size = IndexCatalog.get("leg_idx").get.index.size

      // rewrite the on-disk state into the PRE-SEGMENT format the old
      // code wrote: an epoch-less bare-Seq manifest, and all WAL records
      // appended to ONE file at <name>.wal (where the segment directory
      // lives today)
      def readAll(p: String): Array[Byte] = {
        val in = ArtifactIO.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](1 << 16)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toByteArray
        } finally in.close()
      }
      val manifestPath = s"$dir/catalog.manifest"
      val manifestObj = {
        val in = new java.io.ObjectInputStream(ArtifactIO.open(manifestPath))
        try in.readObject() finally in.close()
      }
      val bareEntries = manifestObj.asInstanceOf[(Long, Seq[_])]._2
      val mout = new java.io.ObjectOutputStream(ArtifactIO.create(manifestPath))
      try mout.writeObject(bareEntries) finally mout.close()
      val walRoot = s"$dir/leg_idx.wal"
      val segBytes = ArtifactIO.list(walRoot)
        .flatMap(d => ArtifactIO.list(d)).filter(_.endsWith(".seg")).sorted
        .map(readAll)
      assert(segBytes.nonEmpty, "expected post-checkpoint WAL segments")
      val concat = segBytes.reduce(_ ++ _)
      ArtifactIO.deleteRecursive(walRoot)
      val wout = ArtifactIO.create(walRoot) // plain FILE at the dir's path
      try wout.write(concat) finally wout.close()

      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      val restored = IndexCatalog.get("leg_idx").get.index
      assert(restored.size == size,
        s"legacy WAL records were not replayed (got ${restored.size}, " +
          s"expected $size)")
      assert(Graft.indexTopK(spark, "leg_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 777000L)
      // the write path used to die here: creating a segment under a path
      // occupied by the legacy FILE
      Graft.insertInto(spark, "leg_t",
        Seq((777001L, Array.fill(64)(56f).toSeq, 0))
          .toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))
      assert(ArtifactIO.isDirectory(walRoot) &&
        ArtifactIO.list(walRoot).exists(_.endsWith("000002.seg")),
        s"post-migration DML must land as the next segment: ${ArtifactIO.list(walRoot)}")
    } finally spark.conf.unset(IndexCatalog.PersistenceConfKey)
  }

  test("manifest publish is crash-safe: a complete .tmp left between " +
      "delete and rename still restores") {
    import graft.index.{IvfIndex, StorageIndexCatalog}
    val dir = java.nio.file.Files.createTempDirectory("graft-torn").toString
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("torn_emb")
    IvfIndex.drop("torn_ivf")
    IvfIndex.create(spark, "torn_ivf", "torn_emb", "embedding", nLists = 4)
    StorageIndexCatalog.checkpoint(dir)
    StorageIndexCatalog.disarm()
    // crash window: the old manifest was deleted, the fully-written .tmp
    // was not yet renamed into place
    graft.index.ArtifactIO.rename(s"$dir/storage-catalog.manifest",
      s"$dir/storage-catalog.manifest.tmp")
    IvfIndex.clearRegistryOnly()
    assert(StorageIndexCatalog.restore(dir) >= 1)
    assert(IvfIndex.get("torn_ivf").isDefined)
    StorageIndexCatalog.disarm()
    IvfIndex.drop("torn_ivf")
  }

  test("full lifecycle against an explicit file:-scheme URI " +
      "(artifacts, checkpoint, WAL all through the Hadoop FileSystem API)") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val base = java.nio.file.Files.createTempDirectory("graft-uri").toString
    val uriCkpt = s"file:$base/ckpt"
    val oldProp = sys.props.get("graft.indexes.dir")
    sys.props("graft.indexes.dir") = s"file:$base/artifacts"
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Graft.registerTable(spark, "uri_t", emb)
      IndexCatalog.dropIndex("uri_idx")
      IndexCatalog.createIndex(spark, "uri_idx", "uri_t", "embedding",
        Map("ef_search" -> "2000"), sharded = true, numShards = 2)
      // executor-built shard artifacts landed under the file: URI
      val shards = IndexCatalog.get("uri_idx").get.index
        .asInstanceOf[graft.index.ShardedHnswIndex].shards
      assert(shards.forall(_.path.startsWith("file:")))

      val q = spark.table("uri_t").filter($"vec_id" === 5)
        .select($"embedding").head().getSeq[Float](0).toArray
      val before = Graft.indexTopK(spark, "uri_idx", q, 5)
        .select($"vec_id").as[Long].collect().toSeq

      IndexCatalog.checkpoint(spark, uriCkpt)
      // post-checkpoint DML: the WAL segment publishes through the URI too
      val probe = Array.fill(64)(77f)
      Graft.insertInto(spark, "uri_t",
        Seq((909000L, probe.toSeq, 0)).toDF("vec_id", "embedding", "label")
          .select($"vec_id", $"embedding".cast("array<float>"), $"label"))

      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, uriCkpt)
      val after = Graft.indexTopK(spark, "uri_idx", q, 5)
        .select($"vec_id").as[Long].collect().toSeq
      assert(after == before)
      assert(Graft.indexTopK(spark, "uri_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 909000L)
    } finally {
      oldProp match {
        case Some(v) => sys.props("graft.indexes.dir") = v
        case None => sys.props.remove("graft.indexes.dir")
      }
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
    }
  }

  test("CHECKPOINT reclaims a dropped index's artifact and WAL dir " +
      "(hnsw_reclaim_storage.test_slow); live indexes keep theirs") {
    import graft.index.ArtifactIO
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-reclaim").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Graft.registerTable(spark, "reclaim_t", emb)
    try {
      IndexCatalog.createIndex(spark, "rc_a", "reclaim_t", "embedding")
      IndexCatalog.createIndex(spark, "rc_b", "reclaim_t", "embedding")
      IndexCatalog.checkpoint(spark, dir)
      assert(ArtifactIO.exists(s"$dir/rc_a.hnsw"))
      assert(ArtifactIO.exists(s"$dir/rc_b.hnsw"))

      // drop ONE: its artifact and WAL dir go at the next checkpoint, the
      // survivor's stay; the dropped name is gone from the manifest so a
      // restore never needs the WAL drop-record to keep it dead
      IndexCatalog.dropIndex("rc_a")
      assert(ArtifactIO.exists(s"$dir/rc_a.wal"), "drop record armed")
      IndexCatalog.checkpoint(spark, dir)
      assert(!ArtifactIO.exists(s"$dir/rc_a.hnsw"), "dropped artifact leaked")
      assert(!ArtifactIO.exists(s"$dir/rc_a.wal"), "dropped WAL dir leaked")
      assert(ArtifactIO.exists(s"$dir/rc_b.hnsw"))

      // drop the other too (the suite's life_idx is still live, so this
      // checkpoint takes the non-empty path and reclaims rc_b)
      IndexCatalog.dropIndex("rc_b")
      IndexCatalog.checkpoint(spark, dir)
      assert(!ArtifactIO.exists(s"$dir/rc_b.hnsw"))

      // a FRESH session (never checkpointed to or restored from dir) with
      // an empty catalog must NOT destroy dir's durable state: its empty
      // CHECKPOINT is an unrelated session's, not a statement that dir's
      // indexes are gone
      IndexCatalog.clear()
      IndexCatalog.checkpoint(spark, dir)
      assert(ArtifactIO.exists(s"$dir/catalog.manifest"),
        "un-owning session's empty checkpoint must not erase the manifest")

      // an OWNING session (restored from dir) that drops every index and
      // checkpoints reclaims what the previous manifest persisted and
      // retires the manifest itself — durable state is "no indexes", with
      // no WAL drop-record needed
      val restored = IndexCatalog.restoreAll(spark, dir)
      restored.foreach(e => IndexCatalog.dropIndex(e.name))
      IndexCatalog.checkpoint(spark, dir)
      assert(!ArtifactIO.exists(s"$dir/catalog.manifest"))
      assert(ArtifactIO.list(dir).forall(p => !p.endsWith(".hnsw")),
        "empty-catalog checkpoint must reclaim every persisted artifact")
      assert(ArtifactIO.list(dir).forall(p => !p.endsWith(".wal")),
        "empty-catalog checkpoint must sweep every WAL dir")
      assert(IndexCatalog.restoreAll(spark, dir).isEmpty)
    } finally {
      IndexCatalog.dropIndex("rc_a"); IndexCatalog.dropIndex("rc_b")
      Graft.dropTable(spark, "reclaim_t")
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
    }
  }

  test("dropIndex evicts a restored sharded index's shards from the shard cache") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-evict").toString
    try {
      Graft.registerTable(spark, "evict_t", spark.read.parquet(s"$sfDir/embeddings.parquet"))
      IndexCatalog.createIndex(spark, "evict_idx", "evict_t", "embedding",
        sharded = true, numShards = 2)
      IndexCatalog.checkpoint(spark, dir)
      IndexCatalog.clear()
      IndexCatalog.restoreAll(spark, dir)
      assert(IndexCatalog.get("evict_idx").get.index.isInstanceOf[LazyLoadedIndex])

      ShardCache.clear()
      val probe = spark.table("evict_t").filter($"vec_id" === 3)
        .select($"embedding").head().getSeq[Float](0).toArray
      assert(Graft.indexTopK(spark, "evict_idx", probe, 1)
        .select($"vec_id").as[Long].head() == 3L)
      assert(ShardCache.residentCount > 0)

      assert(IndexCatalog.dropIndex("evict_idx"))
      assert(ShardCache.residentCount == 0, "a dropped restored index's shards stay cached")
    } finally {
      IndexCatalog.dropIndex("evict_idx")
      Graft.dropTable(spark, "evict_t")
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
    }
  }

  test("catalog.manifest publish is crash-safe: a complete .tmp left between " +
      "delete and rename still restores the index") {
    spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-tmp").toString
    try {
      Graft.registerTable(spark, "cattmp_t", spark.read.parquet(s"$sfDir/embeddings.parquet"))
      IndexCatalog.createIndex(spark, "cattmp_idx", "cattmp_t", "embedding")
      IndexCatalog.checkpoint(spark, dir)
      IndexCatalog.clear()
      graft.index.ArtifactIO.rename(s"$dir/catalog.manifest", s"$dir/catalog.manifest.tmp")
      IndexCatalog.restoreAll(spark, dir)
      assert(IndexCatalog.get("cattmp_idx").isDefined)
      assert(graft.index.ArtifactIO.exists(s"$dir/catalog.manifest"),
        ".tmp republished as the manifest")
    } finally {
      IndexCatalog.dropIndex("cattmp_idx")
      Graft.dropTable(spark, "cattmp_t")
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
    }
  }
}
