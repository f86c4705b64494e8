package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in (GRAFT_SLOW=1) reproduction of the round-14 scale-recall findings
  * WITHOUT the ephemeral scale_sf10 fixture: a copy-structured corpus (2000
  * deterministic base vectors × 50 signed-permutation copies = 100k cosine
  * vectors, the same copy transform ScaleGen uses — orthogonal, so
  * within-copy geometry is preserved and copies sit at the base rate to
  * each other) is exactly the input class on which fixed build defaults
  * lost the recall gate a decade up (0.818 @ ef=64 at 200k) and the sharded
  * fan-out sat on the gate edge (0.902). Pins:
  *
  *   1. a single graph built with the conf's KNOB arm (100k > the 16384
  *      threshold → M=32/efC=256) holds recall@10 ≥ 0.95 at the DEFAULT
  *      ef=64, and reaches at least the default build's recall;
  *   1b. the same conf's ROUTE arm (bounded executor shards + the fan-out
  *      ef floor) holds recall@10 ≥ 0.95 at default ef, with every shard
  *      bounded by autoShardRows;
  *   2. a 16-shard fan-out (6250 rows/shard, default build options — shards
  *      small by design) holds union recall@10 ≥ 0.95 AND union recall@3
  *      ≥ 0.95 at default ef through the per-shard ef floor
  *      (ShardedHnswIndex.fanoutEf).
  *
  * The unit-level policy/formula pins live in AutoScaleSpec/FanoutEfSpec.
  * This spec is the end-to-end recall claim on reproducible data, and the
  * way to measure these recalls: `GRAFT_SLOW=1 sbt "testOnly
  * graft.RecallScaleSpec"`. */
class RecallScaleSpec extends AnyFunSuite {

  test("copy-structured 100k corpus: knob-raised single graph, auto-routed " +
      "shards, and floored 16-shard fan-out hold recall at default ef",
      SlowTest) {
    assume(sys.env.get("GRAFT_SLOW").exists(_.nonEmpty),
      "set GRAFT_SLOW=1 to run the 100k recall reproduction (~1-2 min)")
    val spark = TestSpark.spark
    val dim = 64
    val base = 2000
    val copies = 50
    val vecCols = array((0 until dim).map(d =>
      ((xxhash64(col("id"), lit(d)) % 100000L) / 100000.0).cast("float")): _*)
    val baseDf = spark.range(base).select(col("id"), vecCols.as("embedding"))
    val corpus = (0 until copies).map { k =>
      baseDf.select(
        (col("id") + lit(k * 10000000L)).as("vec_id"),
        ScaleGen.signedPermutation(col("embedding"), dim, k).as("embedding"))
    }.reduce(_ unionAll _)
    Graft.registerTable(spark, "rscale_t", corpus)
    val n = base * copies

    def recallAt(index: String, k: Int, probes: Int): Double = {
      val idx = graft.index.IndexCatalog.get(index).get.index
      // probe stride over the BASE id space (round-15 advice: a stride over
      // the full n only ever matched base id 0, so every probe was a signed
      // permutation of ONE vector); the deterministic hash order then
      // spreads the picks across copies as well as bases
      val stride = math.max(1, base / probes)
      val qs = spark.table("rscale_t")
        .where(col("vec_id") % 10000000L % stride === 0)
        .orderBy(xxhash64(col("vec_id")))
        .limit(probes).collect()
        .map(_.getSeq[Float](1).toArray)
      assert(qs.length == probes)
      var hits = 0
      qs.foreach { q =>
        val exactKth = idx.search(q, k, n + 1).last._2
        hits += idx.search(q, k, -1) // default ef resolution
          .count(_._2 <= exactKth * (1 + 1e-9) + 1e-12)
      }
      hits.toDouble / (qs.length * k)
    }

    def withMode[T](mode: String)(body: => T): T =
      // set/try/finally: a throwing build must not leak the conf into the
      // shared TestSpark session (round-15 advice)
      try {
        spark.conf.set(graft.index.IndexCatalog.AutoScaleConfKey, mode)
        body
      } finally spark.conf.unset(graft.index.IndexCatalog.AutoScaleConfKey)

    try {
      // arm 1: the KNOB-raised single graph vs the default build
      graft.index.IndexCatalog.createIndex(spark, "rscale_def", "rscale_t",
        "embedding", Map("metric" -> "cosine"))
      val defRecall = recallAt("rscale_def", 10, 40)
      val eK = withMode("true") {
        graft.index.IndexCatalog.createIndex(spark, "rscale_auto",
          "rscale_t", "embedding", Map("metric" -> "cosine"))
      }
      assert(eK.options.m == graft.index.IndexCatalog.AutoScaleM,
        "100k rows must trip the 16384-row knob threshold")
      val autoRecall = recallAt("rscale_auto", 10, 40)
      info(f"single graph recall@10 at default ef: default-build " +
        f"$defRecall%.3f, knob-raised $autoRecall%.3f")
      assert(autoRecall >= 0.95,
        f"knob-raised single graph recall $autoRecall%.3f < 0.95")
      assert(autoRecall + 1e-9 >= defRecall,
        "knob-raised build must not lose recall vs the default build")

      // arm 1b: the ROUTE arm (bounded executor shards + the fan-out floor)
      val eR = withMode("route") {
        graft.index.IndexCatalog.createIndex(spark, "rscale_route",
          "rscale_t", "embedding", Map("metric" -> "cosine"))
      }
      val shR = eR.index match {
        case s: graft.index.ShardedHnswIndex => s
        case other => fail(s"100k rows must trip the 16384-row threshold " +
          s"and route to a sharded build, got ${other.getClass.getSimpleName}")
      }
      assert(shR.shards.forall(_.count <= 16384),
        "routed shards must respect the autoShardRows bound")
      val routeRecall = recallAt("rscale_route", 10, 40)
      info(f"auto-routed (${shR.shards.length} shards) recall@10 at " +
        f"default ef: $routeRecall%.3f")
      assert(routeRecall >= 0.95,
        f"auto-routed build recall $routeRecall%.3f < 0.95")

      // arm 2: the explicit sharded fan-out with the per-shard ef floor
      graft.index.IndexCatalog.createIndex(spark, "rscale_sh", "rscale_t",
        "embedding", Map("metric" -> "cosine"),
        sharded = true, numShards = 16)
      val sh10 = recallAt("rscale_sh", 10, 40)
      val sh3 = recallAt("rscale_sh", 3, 40)
      info(f"16-shard fan-out recall at default ef: @10 $sh10%.3f, @3 $sh3%.3f")
      assert(sh10 >= 0.95, f"sharded fan-out recall@10 $sh10%.3f < 0.95")
      assert(sh3 >= 0.95, f"sharded fan-out recall@3 $sh3%.3f < 0.95")
    } finally {
      Seq("rscale_def", "rscale_auto", "rscale_route", "rscale_sh")
        .foreach(graft.index.IndexCatalog.dropIndex(_))
    }
  }
}
