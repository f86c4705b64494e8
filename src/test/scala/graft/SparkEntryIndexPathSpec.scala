package graft

/** The driver's oracle compares only RESULTS; these assertions pin that the
  * index-path queries in SparkEntry actually execute through the engine's
  * index operators (a silent fall-back to brute force would still pass the
  * oracle — the plan shape is the point, mirroring the reference's EXPLAIN
  * assertions in test/sql/hnsw/hnsw_basic.test:19-22). */
class SparkEntryIndexPathSpec extends GraftSparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q16_index_topk executes through HnswIndexScan") {
    val p = plan("q16_index_topk")
    assert(p.contains("HnswIndexScan"), p)
  }

  test("q17_index_knn_join executes through HnswKnnJoin") {
    val p = plan("q17_index_knn_join")
    assert(p.contains("HnswKnnJoin"), p)
  }

  test("q27's SQL LATERAL decorrelation is rewritten onto the index") {
    // the reference's flagship lateral SQL (hnsw_lateral_join.test:19-27)
    // must not silently fall back to the brute-force domain cross join
    val p = plan("q27_lateral_knn")
    assert(p.contains("HnswKnnJoin"), p)
    // a nested-loop join may appear ONLY as the NULL-probe scan branch the
    // rewrite unions in for a nullable outer vector (empty at runtime here;
    // AQE collapses it) — never as the primary plan
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("Union"), p)
  }

  test("q35_sharded_topk executes through HnswIndexScan over a SHARDED index") {
    val p = plan("q35_sharded_topk")
    assert(p.contains("HnswIndexScan"), p)
    val tag = Integer.toHexString(sfDir.hashCode)
    val e = graft.index.IndexCatalog.get(s"qshard_idx_$tag").get
    assert(e.index.isInstanceOf[graft.index.ShardedHnswIndex],
      s"expected ShardedHnswIndex, got ${e.index.getClass.getSimpleName}")
    assert(e.index.asInstanceOf[graft.index.ShardedHnswIndex].shards.length == 8)
  }

  test("q36_sharded_knn_join executes through HnswKnnJoin over a SHARDED index") {
    val p = plan("q36_sharded_knn_join")
    assert(p.contains("HnswKnnJoin"), p)
    val tag = Integer.toHexString(sfDir.hashCode)
    val e = graft.index.IndexCatalog.get(s"qshard_idx_$tag").get
    assert(e.index.isInstanceOf[graft.index.ShardedHnswIndex])
  }

  test("q86 arms the cosine-graph recall gate and its measured values pass") {
    // a recall regression specific to cosine graph descent must throw here,
    // not hide behind q86's rows-only driver check
    SparkEntry.queries("q86_neardup_ann")(spark, sfDir).collect()
    val r = SparkEntry.cosineGraphRecall(spark)
    assert(r.nonEmpty, "q86 should have armed the cgraph recall gate")
    val (topk, knn) = r.get
    assert(topk >= 0.9 - 1e-9, s"topk recall $topk")
    assert(knn >= 0.95 - 1e-9, s"knn recall $knn")
  }

  test("q19_index_crud's final fetch is an index search result join") {
    // indexTopK is the guaranteed index path: HnswIndexScan joins the search
    // result to the table by rowid, keeping only the k hits, so no
    // range-partitioned sort of the table appears in the plan
    val p = plan("q19_index_crud")
    assert(p.contains("HnswIndexScan") && !p.contains("rangepartitioning"), p)
  }
}
