package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in (GRAFT_SLOW=1) ANN envelope at reference scale THROUGH THE
  * 100 TB PATH: 1,000,000 vectors built as a 32-shard index on executors
  * (one serial sub-graph per task, only ShardMeta returning to the
  * driver — the exact shape a 1000-executor cluster runs), then measured
  * for graph-mode recall@10 and per-probe latency at the default
  * ef_search=64 against exact exhaustive-path baselines — in THREE states:
  * clean, tombstone-heavy (10% of keys deleted; the reference documents
  * deletes degrading the index until compaction — reference README.md:67,
  * delete hooks src/hnsw/hnsw_index.cpp:466-482), and post-compact
  * (distributed shard rewrite). Deletes must not tax the search: the
  * deleted state stays within 1.5x the clean p50 and 0.01 of its recall.
  * Complements RECLAIM_1M.json (storage semantics at 1M) with the
  * SEARCH-quality envelope at 1M; results land in ANN_1M.json. The
  * sf0.1-scale counterparts are q81/q82's per-run recall gate and
  * RecallSpec's ef curve. */
class AnnScaleSpec extends AnyFunSuite {

  test("1M-row 32-shard ANN envelope: build, recall/latency clean -> 10% " +
      "deleted -> compacted (writes ANN_1M.json)", SlowTest) {
    assume(sys.env.get("GRAFT_SLOW").exists(_.nonEmpty),
      "set GRAFT_SLOW=1 to run the 1M-row ANN envelope (~10+ min)")
    val spark = TestSpark.spark
    val n = 1000000
    val dim = 32
    val shards = 32
    val table = "ann1m"
    val index = "ann1m_idx"
    // Deterministic synthetic corpus: coordinates derived from
    // xxhash64(id, dim) — no RNG state, so the spec is replayable and the
    // artifact sizes comparable across runs. Values land in (-1, 1).
    val vecCols = array((0 until dim).map(d =>
      ((xxhash64(col("id"), lit(d)) % 100000L) / 100000.0).cast("float")): _*)
    val df = spark.range(n).select(col("id").as("vec_id"),
      vecCols.as("embedding"))
    Graft.registerTable(spark, table, df)
    try {
      val t0 = System.nanoTime()
      graft.index.IndexCatalog.createIndex(spark, index, table, "embedding",
        Map.empty, sharded = true, numShards = shards)
      val buildSec = (System.nanoTime() - t0) / 1e9
      def liveIndex(): graft.index.VectorIndex =
        graft.index.IndexCatalog.get(index).get.index
      val idx = liveIndex()
      assert(idx.size == n, s"index holds ${idx.size} of $n vectors")

      // 100 probes spread across the corpus (ids ending in 0000 — disjoint
      // from the id%10==7 delete set below, so probes stay live throughout)
      val probes = spark.table(table)
        .where(col("vec_id") % 10000 === 0)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getSeq[Float](1).toArray)
      assert(probes.length == 100)

      // exact k-th distance per probe via the exhaustive path (ef >= N
      // degenerates every shard's beam into a bounded-heap linear scan);
      // tombstones filter inside the index, so a post-delete call is exact
      // over the LIVE set
      def exactBaseline(ix: graft.index.VectorIndex): (Array[Double], Double) = {
        var nanos = 0L
        val kth = probes.map { q =>
          val s0 = System.nanoTime()
          val r = ix.search(q, 10, ef = ix.size + 1)
          nanos += System.nanoTime() - s0
          r.last._2
        }
        (kth, nanos / 1e6 / probes.length)
      }

      // graph-mode probes at the default ef, warmed then timed one by one;
      // forbidden = keys that must never surface (deleted-state check)
      def measure(ix: graft.index.VectorIndex, exactKth: Array[Double],
          forbidden: Long => Boolean): (Double, Array[Double]) = {
        probes.take(5).foreach(q => ix.search(q, 10, ef = 64))
        val latMs = new Array[Double](probes.length)
        val recalls = probes.indices.map { i =>
          val s0 = System.nanoTime()
          val res = ix.search(probes(i), 10, ef = 64)
          latMs(i) = (System.nanoTime() - s0) / 1e6
          res.foreach { case (key, _) =>
            assert(!forbidden(key), s"deleted key $key surfaced in results") }
          // tie-robust hit test, same as the q79-q82 gate
          res.count(_._2 <= exactKth(i) * (1 + 1e-9) + 1e-12) / 10.0
        }
        java.util.Arrays.sort(latMs)
        (recalls.sum / recalls.length, latMs)
      }
      def pct(lat: Array[Double], p: Double): Double =
        lat(math.min(lat.length - 1, (p * lat.length).toInt))

      // ---- state 1: clean -------------------------------------------------
      val (exactClean, exactMsClean) = exactBaseline(idx)
      val (recallClean, latClean) = measure(idx, exactClean, _ => false)

      // ---- state 2: tombstone-heavy (10% deleted, shard-major batch) ------
      // Index keys are the engine's ROWIDS (__rowid, minted by registerTable
      // — partition-encoded, NOT the dense vec_id), same contract as the
      // reference's row_t deletes (reference src/hnsw/hnsw_index.cpp:466).
      // Deleting by assumed 0..n keys silently no-ops for every row outside
      // partition 0 — so resolve vec_id%10==7 to its actual rowids first.
      val delKeys = spark.table(table)
        .where(col("vec_id") % 10 === 7)
        .select(col(Graft.RowIdCol))
        .collect().map(_.getLong(0)).toIndexedSeq
      assert(delKeys.length == n / 10)
      val sharded = (idx match {
        case l: graft.index.LazyLoadedIndex => l.resolved
        case x => x
      }).asInstanceOf[graft.index.ShardedHnswIndex]
      val tDel = System.nanoTime()
      val actuallyDeleted = sharded.deleteAll(delKeys)
      val deleteSec = (System.nanoTime() - tDel) / 1e9
      assert(actuallyDeleted.length == delKeys.length)
      assert(idx.size == n - delKeys.length,
        s"size after delete: ${idx.size}")
      assert(idx.deletedCount == delKeys.length)
      val delSet = delKeys.toSet
      // exact baseline over the LIVE set (deleted rows change the answers)
      val (exactDel, _) = exactBaseline(idx)
      val (recallDel, latDel) = measure(idx, exactDel, delSet.contains)

      // ---- state 3: post-compact (distributed shard rewrite) --------------
      val tComp = System.nanoTime()
      graft.index.IndexCatalog.compactIndex(spark, index)
      val compactSec = (System.nanoTime() - tComp) / 1e9
      val idx2 = liveIndex()
      assert(idx2.size == n - delKeys.length)
      assert(idx2.deletedCount == 0, "compaction must clear every tombstone")
      // live set unchanged by compaction -> the deleted-state exact
      // baseline still holds bit-for-bit
      val (recallComp, latComp) = measure(idx2, exactDel, delSet.contains)

      assert(recallClean >= 0.9 - 1e-9, f"clean recall $recallClean%.3f")
      assert(recallDel >= 0.9 - 1e-9, f"deleted-state recall $recallDel%.3f")
      assert(recallComp >= 0.9 - 1e-9, f"post-compact recall $recallComp%.3f")
      // deleted nodes route each shard's beam but take no result slot, so
      // the deleted state costs about what the clean one does, at the same
      // recall, before any compaction
      assert(pct(latDel, 0.5) <= 1.5 * pct(latClean, 0.5),
        f"deleted-state p50 ${pct(latDel, 0.5)}%.2f ms > 1.5 x clean p50 " +
          f"${pct(latClean, 0.5)}%.2f ms")
      assert(recallDel >= recallClean - 0.01 - 1e-9,
        f"deleted-state recall $recallDel%.3f < clean $recallClean%.3f - 0.01")

      def r2(v: Double) = math.rint(v * 100) / 100
      def r3(v: Double) = math.rint(v * 1000) / 1000
      def stateRow(recall: Double, lat: Array[Double]): String =
        s"""{"recall_at_10_ef64": ${r3(recall)}, "probe_ms_p50": ${r2(pct(lat, 0.50))}, "probe_ms_p95": ${r2(pct(lat, 0.95))}, "probe_ms_max": ${r2(lat.last)}}"""
      val json =
        s"""{
           |  "_provenance": "written by AnnScaleSpec (GRAFT_SLOW=1): 1,000,000 deterministic dim-32 vectors built as a 32-shard HNSW on executors (serial sub-graph per task, ShardMeta-only driver traffic — the 100 TB build shape), then 100 graph-mode probes at default ef_search=64 measured driver-side through the sharded fan-out against exact exhaustive-path baselines, in three states: clean, 10% tombstoned (batch shard-major delete; baselines recomputed over the live set; asserts no deleted key ever surfaces), and after distributed compaction (one Spark task per shard) — the reference's documented degrade-then-recover lifecycle.",
           |  "rows": $n,
           |  "dim": $dim,
           |  "shards": $shards,
           |  "build_sec": ${r2(buildSec)},
           |  "build_vectors_per_sec": ${math.rint(n / buildSec)},
           |  "exact_scan_ms_mean": ${r2(exactMsClean)},
           |  "clean": ${stateRow(recallClean, latClean)},
           |  "deleted_10pct": ${stateRow(recallDel, latDel)},
           |  "post_compact": ${stateRow(recallComp, latComp)},
           |  "deleted_keys": ${delKeys.length},
           |  "delete_sec": ${r2(deleteSec)},
           |  "compact_sec": ${r2(compactSec)}
           |}
           |""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("ANN_1M.json"), json)
      info(f"build ${r2(buildSec)}s (${math.rint(n / buildSec)}%.0f vec/s); " +
        f"recall clean/del/compact $recallClean%.3f/$recallDel%.3f/$recallComp%.3f; " +
        f"p50 ms ${pct(latClean, 0.5)}%.2f/${pct(latDel, 0.5)}%.2f/${pct(latComp, 0.5)}%.2f; " +
        f"compact ${r2(compactSec)}s")
    } finally {
      graft.index.IndexCatalog.dropIndex(index)
      Graft.dropTable(spark, table)
      ()
    }
  }
}
