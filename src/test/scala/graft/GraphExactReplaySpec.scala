package graft

import org.apache.spark.sql.functions._
import graft.functions.vector

/** Exact-mode replay for the six oracle-less graph queries (q79–q82, q86,
  * q87) at the driver's correctness sf (0.01): with the session ef
  * override raised past the table size, every HNSW descent is an
  * exhaustive scan — the same ef≥N equivalence every ORACLE-PINNED index
  * query (q16/q17/q28/q65) relies on — so the EXECUTED plans must replay
  * HASH-EXACT against index-free twins. The per-run recall gates cover
  * approximation quality at graph ef; this spec pins the PLUMBING (index
  * rewrite, broadcast descent, sharded fan-out + k-way merge, join and
  * rollup shape) at full equality, deterministically: the sf0.01 fixture's
  * top-(k+1) distances are pairwise distinct for every probe used here
  * (asserted inline, FixtureTieBreakSpec-style), so no equidistant
  * reordering can flake the comparison. */
class GraphExactReplaySpec extends GraftSparkSpec {
  private val dir = "/root/testdata/sf0.01"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .where(col("embedding").isNotNull)
    .select(col("vec_id"), col("embedding"))

  /** Run `body` with the session-level exhaustive-ef pin (the reference's
    * `SET hnsw_ef_search`), always restoring the shared session's prior
    * value. */
  private def withExhaustiveEf[A](body: => A): A = {
    val key = graft.index.IndexCatalog.EfSearchConfKey
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1000000")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("sf0.01 probe set is tie-free (top-11 distances pairwise distinct " +
      "for vec 0 and top-4 for all 100 knn-join probes)") {
    import spark.implicits._
    val all = emb.as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
    def dists(q: Array[Float]) = all.map { case (id, v) =>
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i).toDouble - q(i).toDouble; d += t * t; i += 1 }
      (d, id)
    }
    val q0 = all.find(_._1 == 0L).get._2
    val top11 = dists(q0).sortBy(_._1).take(11).map(_._1)
    assert(top11.distinct.length == top11.length, "q79/q81 probe has ties")
    all.filter(_._1 < 100).foreach { case (qid, q) =>
      val top4 = dists(q).sortBy(_._1).take(4).map(_._1)
      assert(top4.distinct.length == top4.length, s"probe $qid has tied top-4")
    }
  }

  test("q79/q81 (graph top-k, single + sharded) replay hash-exact at " +
      "exhaustive ef against the index-free TopN") {
    withExhaustiveEf {
      // secondary sort key keeps the HNSW TopN rewrite from firing (the
      // rule requires a single-dist ORDER BY), so this is brute force over
      // the same scan with the same distance expression
      val qv = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
      val brute = emb
        .withColumn("dist", vector.array_distance_sq(col("embedding"), lit(qv)))
        .orderBy(col("dist").asc_nulls_last, col("vec_id")).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
      assert(!brute.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
      val expect = brute.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      for (q <- Seq("q79_graph_topk", "q81_sharded_graph_topk")) {
        val got = SparkEntry.queries(q)(spark, dir).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == expect, q)
      }
    }
  }

  test("q80/q82 (graph knn-join, single + sharded) replay hash-exact at " +
      "exhaustive ef against the index-free window join") {
    withExhaustiveEf {
      import org.apache.spark.sql.expressions.Window
      val outer = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("dist"), col("vec_id"))
      val brute = outer.crossJoin(emb)
        .withColumn("dist", vector.array_distance_sq(col("qvec"), col("embedding")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
      val expect = brute.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      for (q <- Seq("q80_graph_knn_join", "q82_sharded_graph_knn_join")) {
        val got = SparkEntry.queries(q)(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        assert(got == expect, q)
      }
    }
  }

  test("q86/q87 (ANN near-dup, ANN outliers) replay hash-exact at " +
      "exhaustive ef against their oracle-verified exact twins (q28/q65)") {
    withExhaustiveEf {
      // q28 and q65 are the DECLARED exact-pin twins (ef_search >= n by
      // construction) and pass the DuckDB oracle — equality here extends
      // the oracle's reach to the graph-mode plumbing at exact mode
      val exact28 = SparkEntry.queries("q28_embedding_neardup")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val got86 = SparkEntry.queries("q86_neardup_ann")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got86 == exact28, "q86 != q28 at exhaustive ef")
      val exact65 = SparkEntry.queries("q65_knn_outliers")(spark, dir)
        .collect().map(_.toSeq).toSeq
      val got87 = SparkEntry.queries("q87_outliers_ann")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got87 == exact65, "q87 != q65 at exhaustive ef")
    }
  }
}
