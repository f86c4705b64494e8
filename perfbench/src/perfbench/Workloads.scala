package perfbench

import scala.collection.mutable

import graft.{Graft, TableCatalog}
import graft.index.{IndexCatalog, ShardCache, ShardedHnswIndex, VectorIndex}

/** What a workload hands back: the gated end-to-end metrics (the same
  * names on every workload), the workload's own named metrics for the full
  * record, the request kind its per-layer roll-up is taken over, the
  * per-layer values measured outside requests, and how many index searches
  * one such request makes. */
final case class Outcome(e2e: Map[String, Double], named: Map[String, Any],
    primaryKind: String, layer: Map[String, Double], searchesPerRequest: Int = 1)

object Workloads {
  lazy val all: Map[String, Bench => Outcome] = Map(
    "serve_topk" -> serveTopk,
    "batch_knn_join" -> batchKnnJoin,
    "ingest_maintain" -> ingestMaintain)

  private val CreateIndex = "CREATE INDEX items_idx ON items USING HNSW (vec)"

  /** Set-ups of a single-graph index: one untimed set-up on a quarter of
    * the rows warms the JVM (its cold time is kept in the record), then
    * `setups` timed ones.
    * Returns (setup_s, build_s) medians and every repetition's (setup,
    * build) seconds, the cold one first. */
  private def singleGraphSetups(b: Bench): (Double, Double, Seq[(Double, Double)]) = {
    val s = b.setup(Some(CreateIndex), b.sizes.rows / 4) +:
      (1 to b.sizes.setups).map(_ => b.setup(Some(CreateIndex), b.sizes.rows))
    (Stats.median(s.tail.map(_._1)), Stats.median(s.tail.map(_._2)), s)
  }

  private def ids(n: Int): Array[Long] = Array.tabulate(n)(_.toLong)

  /** Index-layer state of `name` at this point of the run. */
  def indexState(name: String): Map[String, Double] = {
    val idx = VectorIndex.resolve(IndexCatalog.get(name).get.index)
    val (shards, delta) = idx match {
      case sh: ShardedHnswIndex => (sh.shards.length, sh.pendingDeltaSize)
      case _ => (1, 0)
    }
    Map(
      "index.mem_bytes" -> idx.approxMemoryBytes.toDouble,
      "index.levels" -> idx.levels.toDouble,
      "index.shards" -> shards.toDouble,
      "index.shard_cache_resident" -> ShardCache.residentCount.toDouble,
      "index.delta_rows" -> delta.toDouble,
      "index.deleted_keys" -> idx.deletedCount.toDouble)
  }

  /** Closed-loop SQL top-k on one single-graph index: phase 1 with one
    * client, phase 2 with four. */
  val serveTopk: Bench => Outcome = { b =>
    val (setupS, buildS, reps) = singleGraphSetups(b)
    b.mark("setup done")
    val pool = b.queryPool(b.sizes.queryPool, 2)
    val exact = Exact.topK(ids(b.sizes.rows), b.base, _ => true, pool, b.k, b.cpus)
    // warm-up: JIT and codegen settle before anything is timed; four
    // clients pass the planner and executor paths four times as often as
    // one, so most of the JIT's fall in latency is over before timing
    val clients = math.min(4, b.cpus)
    b.closedLoop(pool, exact, clients, b.sizes.warmSeconds, 1 << 22)
    b.requests.clear()
    b.mark("warm-up done")
    val region = new Region
    val (lat1, _) = b.closedLoop(pool, exact, 1, b.opts.seconds * 0.6, 0)
    val (lat4, el4) = b.closedLoop(pool, exact, clients, b.opts.seconds * 0.4, 1 << 20)
    val gc = region.end()
    b.mark("measured")
    val qps4 = lat4.length / el4
    val (tailP, tailV) = Stats.tail(lat1)
    val searchUs = if (b.tracer.on) b.directSearchUs("items_idx", pool) else Double.NaN
    Outcome(
      e2e = Map(
        "setup_s" -> setupS,
        "topk_p50_ms" -> Stats.median(lat1),
        "recall_at_10" -> b.recall,
        "throughput_per_s" -> qps4),
      named = Map(
        "topk_p50_ms" -> Stats.median(lat1),
        s"topk_p${tailP}_ms" -> tailV,
        "topk_samples_1c" -> lat1.length,
        "topk_lat_1c_ms" -> lat1,
        "topk_qps_4c" -> qps4,
        "topk_clients" -> clients,
        "topk_p50_ms_4c" -> Stats.median(lat4),
        "topk_samples_4c" -> lat4.length,
        "build_s" -> buildS,
        "build_vectors_per_s" -> b.sizes.rows / buildS,
        "setup_reps_s" -> reps.map(_._1),
        "build_reps_s" -> reps.map(_._2)),
      primaryKind = "topk",
      layer = gc ++ indexState("items_idx") ++ Map(
        "index.build_s" -> buildS,
        "index.search_us" -> searchUs))
  }

  private val JoinSql =
    """SELECT probes.id AS pid, nbr FROM probes, LATERAL (
      |  SELECT items.id AS nbr, array_distance(items.vec, probes.vec) AS dist
      |  FROM items ORDER BY dist LIMIT 10)""".stripMargin

  /** One SQL LATERAL KNN join over a probe table, written to the noop sink,
    * repeated for the run; then a short single-client top-k phase on the
    * same index. */
  val batchKnnJoin: Bench => Outcome = { b =>
    val (setupS, buildS, reps) = singleGraphSetups(b)
    b.mark("setup done")
    val probes = b.queryPool(b.sizes.probes, 3)
    b.frame(0L, probes, b.cpus).createOrReplaceTempView("probes")
    val sample = probes.indices.take(b.sizes.probeSample).toArray
    val exact = Exact.topK(ids(b.sizes.rows), b.base, _ => true,
      sample.map(probes), b.k, b.cpus)
    // verification pass (also the warm-up): every probe gets k neighbours,
    // the sampled probes are scored against the exact answers
    b.checks.op("join answer") {
      val r = b.request("join_check", JoinSql)(_.collect())
      val byProbe = r.out.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)) }
      b.rewriteExpected.incrementAndGet()
      val indexed = b.planShows(r.df, "HnswKnnJoin")
      if (indexed) b.rewriteHit.incrementAndGet()
      val wrongSize = byProbe.count(_._2.length != b.k) + (probes.length - byProbe.size)
      val recalls = sample.indices.map(i =>
        b.tally(byProbe.getOrElse(sample(i).toLong, Array.empty[Long]).toSet, exact(i)))
      Seq(
        if (wrongSize > 0) Some(s"$wrongSize probes without exactly ${b.k} neighbours") else None,
        if (Stats.mean(recalls) < 0.9) Some(f"sampled recall ${Stats.mean(recalls)}%.3f below 0.9") else None,
        if (!indexed) Some("not planned onto HnswKnnJoin") else None).flatten
    }
    // one untimed statement to the noop sink, so the timed ones start warm
    b.checks.op("join warm-up") {
      b.request("join_warm", JoinSql)(_.write.format("noop").mode("overwrite").save())
      Nil
    }
    b.requests.clear()
    b.mark("verified")
    val region = new Region
    val rates = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (b.opts.seconds * 0.8 * 1e9).toLong
    while (rates.length < 2 || System.nanoTime() < deadline) {
      b.checks.op("join") {
        val r = b.request("join", JoinSql)(
          _.write.format("noop").mode("overwrite").save())
        rates += probes.length / (r.ms / 1e3)
        b.resultRows.put(r.id, probes.length.toLong * b.k)
        b.rewriteExpected.incrementAndGet()
        val indexed = b.planShows(r.df, "HnswKnnJoin")
        if (indexed) b.rewriteHit.incrementAndGet()
        if (indexed) Nil else Seq("not planned onto HnswKnnJoin")
      }
    }
    val gc = region.end()
    // probes/s over the whole join phase: every statement's time counts,
    // the slow ones too, as they do for a batch caller
    val probesPerS = rates.length * probes.length / rates.map(probes.length / _).sum
    b.mark("joins done")
    // single-client point reads beside the batch job
    val pool = b.queryPool(b.sizes.joinReads, 2)
    val exactReads = Exact.topK(ids(b.sizes.rows), b.base, _ => true, pool, b.k, b.cpus)
    // the joins do not run the point-read path; warm it the way serve_topk
    // does, for a shorter time
    b.closedLoop(pool, exactReads, math.min(4, b.cpus), b.sizes.warmSeconds / 4, 1 << 22)
    val reads = pool.indices.map(i => (i, b.topk(pool(i), i)))
    reads.foreach { case (i, r) => b.checkTopk("topk answer", r, exactReads(i)) }
    val lat = reads.map(_._2.ms)
    b.mark("reads done")
    val searchUs = if (b.tracer.on) b.directSearchUs("items_idx", sample.take(200).map(probes))
      else Double.NaN
    Outcome(
      e2e = Map(
        "setup_s" -> setupS,
        "topk_p50_ms" -> Stats.median(lat),
        "recall_at_10" -> b.recall,
        "throughput_per_s" -> probesPerS),
      named = Map(
        "join_probes_per_s" -> probesPerS,
        "join_statements" -> rates.length,
        "join_rates_per_s" -> rates.toSeq,
        "join_probes_per_statement" -> probes.length,
        "topk_p50_ms" -> Stats.median(lat),
        "topk_samples_1c" -> lat.length,
        "build_s" -> buildS,
        "build_vectors_per_s" -> b.sizes.rows / buildS,
        "setup_reps_s" -> reps.map(_._1),
        "build_reps_s" -> reps.map(_._2)),
      primaryKind = "join",
      layer = gc ++ indexState("items_idx") ++ Map(
        "index.build_s" -> buildS,
        "index.search_us" -> searchUs),
      searchesPerRequest = probes.length)
  }

  /** Writes beside reads on a route-sharded index, at the engine's default
    * shard sizes: timed CREATE INDEX, DML rounds with read bursts,
    * checkpoints, one compaction after the rounds (direct searches time the
    * sharded fan-out just before and just after it), and a simulated
    * restart. */
  val ingestMaintain: Bench => Outcome = { b =>
    val sz = b.sizes
    val spark = b.spark
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    if (b.opts.smoke) {
      // the tiny self-test size sits below the engine's default thresholds;
      // scale them down so the same paths run: a sharded base index and
      // bulk inserts built as shards
      spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, (sz.rows / 4).toString)
      spark.conf.set(IndexCatalog.AutoShardRowsConfKey, (sz.rows / 4).toString)
      sys.props("graft.ingest.shardBatchThreshold") = sz.bulkRows.toString
    }
    // the untimed first set-up (a quarter of the rows) also builds and
    // drops the index, so the timed build below runs on a warm JVM
    val cold = b.setup(Some(CreateIndex), sz.rows / 4)
    IndexCatalog.dropIndex("items_idx")
    val setups = (1 to sz.ingestSetups).map(_ => b.setup(None, sz.rows)._1)
    val ckpt = s"${b.root}/ckpt"
    TableCatalog.arm(ckpt)
    b.statement("config", "SET hnsw_enable_experimental_persistence = true")
    b.mark("setup done")
    val buildS = b.statement("index.build", CreateIndex)
    b.mark("index built")

    // the benchmark's model of the live table, for exact answers and counts
    val allIds = mutable.ArrayBuffer.from(ids(sz.rows))
    val allVecs = mutable.ArrayBuffer.from(b.base)
    val deleted = mutable.HashSet.empty[Long]
    def liveCount: Long = allIds.length - deleted.size
    def exactFor(qs: Array[Array[Float]]) =
      Exact.topK(allIds.toArray, allVecs.toArray, id => !deleted(id), qs, b.k, b.cpus)
    def shardCount: Int = VectorIndex.resolve(IndexCatalog.get("items_idx").get.index) match {
      case sh: ShardedHnswIndex => sh.shards.length
      case _ => 1
    }
    var nextId = sz.rows.toLong
    val pool = b.queryPool(sz.queryPool, 2)
    var cursor = 0
    val readLat = mutable.ArrayBuffer.empty[Double]
    // a burst's first `warm` reads meet a table the DML just changed (a new
    // plan shape, new files); they are checked but not timed
    def burst(n: Int, warm: Int): Unit = {
      val qs = Array.tabulate(warm + n)(i => pool((cursor + i) % pool.length))
      val ex = exactFor(qs)
      qs.indices.foreach { i =>
        val r = b.topk(qs(i), cursor + i)
        if (i >= warm) readLat += r.ms
        b.checkTopk("topk answer", r, ex(i))
      }
      cursor += qs.length
    }
    val bulkS = mutable.ArrayBuffer.empty[Double]
    val smallS = mutable.ArrayBuffer.empty[Double]
    val deleteMs = mutable.ArrayBuffer.empty[Double]
    val checkpointS = mutable.ArrayBuffer.empty[Double]
    var inserted = 0L
    def insertBulk(stream: Long): Unit = b.checks.op("insert bulk") {
      val vs = b.mix.points(sz.bulkRows, stream)
      b.frame(nextId, vs, b.cpus).createOrReplaceTempView("stage")
      bulkS += b.statement("dml.insert_bulk", "INSERT INTO items SELECT id, vec FROM stage")
      vs.indices.foreach { i => allIds += nextId + i; allVecs += vs(i) }
      nextId += vs.length; inserted += vs.length
      Nil
    }
    def insertSmall(stream: Long): Unit = b.checks.op("insert small") {
      val vs = b.mix.points(sz.smallRows, stream)
      val values = vs.indices.map(i => s"(${nextId + i}, ${SqlText.vecLiteral(vs(i))})")
      smallS += b.statement("dml.insert_small", s"INSERT INTO items VALUES ${values.mkString(", ")}")
      vs.indices.foreach { i => allIds += nextId + i; allVecs += vs(i) }
      nextId += vs.length; inserted += vs.length
      Nil
    }
    def delete(residue: Int): Unit = b.checks.op("delete") {
      deleteMs += 1e3 * b.statement("dml.delete", s"DELETE FROM items WHERE id % 500 = $residue")
      allIds.foreach(id => if (id % 500 == residue) deleted += id)
      Nil
    }
    def checkCounts(what: String): Unit = b.checks.op(what) {
      val rows = spark.table("items").count()
      val indexed = IndexCatalog.get("items_idx").get.index.size.toLong
      Seq(
        if (rows != liveCount) Some(s"table has $rows rows, expected $liveCount") else None,
        if (indexed != liveCount) Some(s"index has $indexed keys, expected $liveCount") else None
      ).flatten
    }
    def checkpoint(): Unit = b.checks.op("checkpoint") {
      checkpointS += b.statement("catalog.checkpoint", s"CHECKPOINT '$ckpt'")
      Nil
    }

    b.requests.clear()
    val region = new Region
    // reads before any DML must plan onto the index
    burst(sz.burstReads / 2, 1)
    // topk_p50_ms is taken over the reads between DML rounds only; the
    // reads before any DML and after the restart are reported on their own
    val beforeDml = readLat.toList
    readLat.clear()
    // each round reads a larger table, so the pooled reads cluster by
    // round and their median falls in the gap between clusters; the metric
    // is the median of the per-round medians
    val roundP50 = mutable.ArrayBuffer.empty[Double]
    var peakShards = shardCount
    // SQL top-k over a table that DML turned into a filtered union is not
    // rewritten onto the index (see Bench.strictPlans): these reads are
    // checked for their answers, and their rewrite misses are counted
    b.strictPlans = false
    for (r <- 0 until sz.ingestRounds) {
      insertBulk(100L + r)
      insertSmall(200L + r)
      delete((r * 97 + 13) % 500)
      checkCounts("round counts")
      peakShards = math.max(peakShards, shardCount)
      b.mark(s"round $r dml")
      burst(sz.burstReads, sz.burstWarm)
      roundP50 += Stats.median(readLat.takeRight(sz.burstReads).toSeq)
      b.mark(s"round $r reads")
      if (r % 2 == 1) checkpoint()
    }
    b.strictPlans = true
    b.mark("rounds done")
    // index-layer state with the rounds' delta rows and tombstones, which
    // compaction folds away
    val layerState = indexState("items_idx")
    // the sharded fan-out, timed on the index directly just before and
    // just after compaction
    val probe = pool.take(40)
    val shardsBefore = shardCount
    val searchUsBefore = b.directSearchUs("items_idx", probe)
    var compactS = Double.NaN
    b.checks.op("compact") {
      compactS = b.statement("catalog.compact", "PRAGMA hnsw_compact_index('items_idx')")
      Nil
    }
    val shardsAfter = shardCount
    val searchUsAfter = b.directSearchUs("items_idx", probe)
    b.mark("compacted")
    checkCounts("compact counts")
    // storage after vacuum, measured on the durable state a restart reads
    Graft.vacuumTable("items")
    checkpoint()
    val storageBytes = Seq("tables", "indexes", "ckpt")
      .map(d => graft.SessionTuning.dirBytes(s"${b.root}/$d")).sum
    val storageAmp = storageBytes.toDouble / (liveCount * b.dim * 4L)
    val checkpointBytes = graft.SessionTuning.dirBytes(ckpt)
    // DML after the last checkpoint lives only in the WAL until restore
    insertSmall(300L)
    delete(499)
    // the restart must give the index the same answers: fixed probes are
    // searched on the index directly before and after it
    val fixed = pool.take(sz.fixedProbes)
    val fixedExact = exactFor(fixed)
    def indexAnswers(): Seq[Seq[Long]] = {
      val e = IndexCatalog.get("items_idx").get
      val ef = IndexCatalog.effectiveEf(spark, e)
      val idx = VectorIndex.resolve(e.index)
      fixed.toSeq.map(q => idx.search(q, b.k, ef).map(_._1).toSeq)
    }
    def idSet(): Array[Long] = spark.table("items").select("id").collect().map(_.getLong(0)).sorted
    val before = indexAnswers()
    val idsBefore = idSet()

    b.mark("pre-restart answers")
    // simulated restart: tables and catalog forgotten, caches dropped
    Graft.forgetAllTables(spark)
    IndexCatalog.clear()
    ShardCache.clear()
    var restoreS = Double.NaN
    b.checks.op("restore") {
      restoreS = b.call("catalog.restore")(IndexCatalog.restoreAll(spark, ckpt))._2
      Nil
    }
    b.checkTopk("first answer after restore", b.topk(fixed(0), 0), fixedExact(0))
    b.checks.op("restart check") {
      val idsAfter = idSet()
      val after = indexAnswers()
      val resurrected = idsAfter.count(deleted.contains)
      Seq(
        if (idsAfter.length != idsBefore.length)
          Some(s"${idsAfter.length} rows after restart, ${idsBefore.length} before") else None,
        if (resurrected > 0) Some(s"$resurrected deleted rows resurrected") else None,
        if (!idsAfter.sameElements(idsBefore)) Some("row ids differ after restart") else None,
        if (after != before) Some("fixed-probe index answers differ after restart") else None
      ).flatten
    }
    checkCounts("restart counts")
    b.mark("restart checked")
    // serving again from the restored index
    val served = readLat.length
    burst(sz.burstReads / 2, 1)
    val restoredLat = readLat.drop(served)
    readLat.remove(served, restoredLat.length)
    val gc = region.end()
    b.mark("served")
    val insertRowsPerS = inserted / (bulkS.sum + smallS.sum)
    Outcome(
      // set-up is generate + register (median of the repetitions) plus the
      // timed CREATE INDEX, the same parts as the other workloads' set-up
      e2e = Map(
        "setup_s" -> (Stats.median(setups) + buildS),
        "topk_p50_ms" -> Stats.median(roundP50.toSeq),
        "recall_at_10" -> b.recall,
        "throughput_per_s" -> insertRowsPerS),
      named = Map(
        "build_vectors_per_s" -> sz.rows / buildS,
        "insert_rows_per_s" -> insertRowsPerS,
        "delete_p50_ms" -> Stats.median(deleteMs.toSeq),
        "compact_s" -> compactS,
        "checkpoint_s" -> Stats.median(checkpointS.toSeq),
        "restore_s" -> restoreS,
        "storage_amp" -> storageAmp,
        "topk_p50_ms" -> Stats.median(roundP50.toSeq),
        "topk_p50_ms_rounds" -> roundP50.toSeq,
        "topk_p50_ms_pooled" -> Stats.median(readLat.toSeq),
        "topk_samples_1c" -> readLat.length,
        "topk_p50_ms_before_dml" -> Stats.median(beforeDml),
        "topk_p50_ms_restored" -> Stats.median(restoredLat.toSeq),
        "topk_samples_restored" -> restoredLat.length,
        "search_us_before_compact" -> searchUsBefore,
        "search_us_after_compact" -> searchUsAfter,
        "build_s" -> buildS,
        "setup_register_s" -> Stats.median(setups),
        "shards_peak" -> peakShards,
        "cold_setup_s" -> cold._1,
        "setup_reps_s" -> setups,
        "shards_before_compact" -> shardsBefore,
        "shards_after_compact" -> shardsAfter,
        "live_rows" -> liveCount),
      primaryKind = "topk",
      layer = gc ++ layerState ++ Map(
        "index.build_s" -> buildS,
        "index.search_us" -> (if (b.tracer.on) b.directSearchUs("items_idx", probe) else Double.NaN),
        "dml.insert_bulk_ms" -> Stats.median(bulkS.toSeq) * 1e3,
        "dml.insert_small_ms" -> Stats.median(smallS.toSeq) * 1e3,
        "dml.delete_ms" -> Stats.median(deleteMs.toSeq),
        "catalog.checkpoint_ms" -> Stats.median(checkpointS.toSeq) * 1e3,
        "catalog.compact_ms" -> (if (compactS.isNaN) 0.0 else compactS * 1e3),
        "catalog.checkpoint_bytes" -> checkpointBytes.toDouble,
        "catalog.restore_ms" -> (if (restoreS.isNaN) 0.0 else restoreS * 1e3)))
  }
}

/** GC time and heap peak over a measured region. */
final class Region {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum
  private val pools = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .filter(_.getType == MemoryType.HEAP)
  private val gc0 = { pools.foreach(_.resetPeakUsage()); gcMs }

  def end(): Map[String, Double] = Map(
    "jvm.gc_ms" -> (gcMs - gc0).toDouble,
    "jvm.heap_peak_mb" -> pools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}
