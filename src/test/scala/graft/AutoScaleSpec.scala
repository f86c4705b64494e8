package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.index.{IndexCatalog, ShardedHnswIndex, SingleHnswIndex}

/** Scale-aware build arms (IndexCatalog.AutoScaleConfKey): the policy
  * resolution only — which arm fires, when the threshold trips, and that
  * user options always win. The recall/build-cost motivation is measured,
  * not spec'd (specs stay fast by driving the threshold/shard-rows confs
  * down instead of building 65k+ graphs). End-to-end recall on 100k
  * copy-structured data is RecallScaleSpec's job (opt-in, GRAFT_SLOW=1);
  * build time is the benchmark's `index.build_s`. */
class AutoScaleSpec extends GraftSparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def beforeAll(): Unit = {
    // 200 deterministic dim-4 vectors — tiny build, policy decided by the
    // lowered threshold conf, never by real scale
    val emb = (0 until 200).map { i =>
      (i.toLong, Array(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    Graft.registerTable(spark, "ascale_t", emb)
  }

  override def afterAll(): Unit = {
    spark.conf.unset(IndexCatalog.AutoScaleConfKey)
    spark.conf.unset(IndexCatalog.AutoScaleThresholdConfKey)
    spark.conf.unset(IndexCatalog.AutoShardRowsConfKey)
  }

  private def built[T](name: String, options: Map[String, String] = Map.empty,
      sharded: Boolean = false)(f: graft.index.IndexEntry => T): T = {
    IndexCatalog.dropIndex(name)
    val e = IndexCatalog.createIndex(spark, name, "ascale_t", "embedding",
      options, sharded = sharded)
    try f(e) finally { IndexCatalog.dropIndex(name); () }
  }

  test("conf off (default): the faithful single graph at any n") {
    spark.conf.unset(IndexCatalog.AutoScaleConfKey)
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    built("ascale_off") { e =>
      assert(e.index.isInstanceOf[SingleHnswIndex])
      assert(e.options.m == 16 && e.options.efConstruction == 128)
    }
  }

  // --- the "knobs" arm (probe-heavy single graphs) -----------------------

  test("knobs arm above threshold: unset knobs scale to (32, 256), " +
      "m0 follows 2*M, still a single graph — and no count() pre-pass") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "true")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    built("ascale_on") { e =>
      assert(e.index.isInstanceOf[SingleHnswIndex])
      assert(e.options.m == IndexCatalog.AutoScaleM)
      assert(e.options.efConstruction == IndexCatalog.AutoScaleEfC)
      assert(e.options.m0 == 2 * IndexCatalog.AutoScaleM)
      assert(e.index.size == 200)
    }
  }

  test("knobs arm below threshold: untouched") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "knobs")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "1000")
    built("ascale_small") { e =>
      assert(e.options.m == 16 && e.options.efConstruction == 128)
    }
  }

  test("knobs arm: explicit knob wins; the unset sibling still scales") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "true")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    built("ascale_m", Map("m" -> "8")) { e =>
      assert(e.options.m == 8)
      assert(e.options.efConstruction == IndexCatalog.AutoScaleEfC)
    }
    built("ascale_efc", Map("ef_construction" -> "64")) { e =>
      assert(e.options.efConstruction == 64)
      assert(e.options.m == IndexCatalog.AutoScaleM)
    }
  }

  test("knobs arm: both knobs explicit — nothing scales") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "true")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    built("ascale_both", Map("m" -> "8", "ef_construction" -> "64")) { e =>
      assert(e.options.m == 8 && e.options.efConstruction == 64)
    }
  }

  test("knobs arm: an explicit M0 is preserved alongside a scaled M") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "true")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    built("ascale_m0", Map("m0" -> "12")) { e =>
      assert(e.options.m == IndexCatalog.AutoScaleM && e.options.m0 == 12)
    }
  }

  // --- the "route" arm (build/DML-bound fan-out) -------------------------

  test("route arm above threshold: bounded executor shards") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "64")
    built("ascale_rt") { e =>
      val sh = e.index match {
        case s: ShardedHnswIndex => s
        case other => fail(s"200 rows > threshold 50 must route to a " +
          s"sharded build, got ${other.getClass.getSimpleName}")
      }
      assert(sh.size == 200)
      // every shard is bounded by the autoShardRows cap — the per-shard
      // recall contract — even if the scan handed one task everything
      assert(sh.shards.forall(_.count <= 64),
        s"shard sizes ${sh.shards.map(_.count).mkString(",")} exceed the cap")
      // reference defaults per shard — the route never raises knobs
      assert(e.options.m == 16 && e.options.efConstruction == 128)
    }
  }

  test("route arm below threshold: folds back to a single graph with " +
      "exact-search parity") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "1000")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "64")
    val q = Array(10.0f, 3.0f, 10.0f, 1.0f)
    val folded = built("ascale_fold") { e =>
      assert(e.index.isInstanceOf[SingleHnswIndex],
        "200 rows <= threshold 1000 must fold to a single graph")
      assert(e.index.size == 200)
      e.index.search(q, 5, 201).toSeq
    }
    spark.conf.unset(IndexCatalog.AutoScaleConfKey)
    val direct = built("ascale_direct")(_.index.search(q, 5, 201).toSeq)
    assert(folded == direct,
      "exhaustive search through the folded graph must equal the direct build")
  }

  test("route arm: explicit options survive into every shard verbatim") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "64")
    built("ascale_opts", Map("m" -> "8", "ef_construction" -> "64",
        "ef_search" -> "500")) { e =>
      assert(e.options.m == 8 && e.options.efConstruction == 64 &&
        e.options.efSearch == 500)
      val sh = e.index.asInstanceOf[ShardedHnswIndex]
      // the shard ARTIFACTS carry the pinned knobs, not just the entry
      val g = graft.index.HnswIndex.load(sh.shards.head.path)
      assert(g.m == 8 && g.efConstruction == 64 && g.efSearch == 500)
    }
  }

  test("route arm + exhaustive ef_search option stays exact vs brute force") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "64")
    val q = Array(57.0f, 1.0f, 5.0f, 1.0f)
    val viaIndex = built("ascale_exact", Map("ef_search" -> "100000")) { e =>
      assert(e.index.isInstanceOf[ShardedHnswIndex])
      e.index.search(q, 5).toSeq
    }
    val brute = spark.table("ascale_t").collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val d = graft.index.DistanceKernels.l2sq(q, v)
        (r.getLong(0), d)
      }.sortBy(p => (p._2, p._1)).take(5).toSeq
    assert(viaIndex == brute)
  }

  test("route-sharded index: a bulk INSERT appends exactly one shard, the " +
      "index holds the live rows, and top-k recall against brute force " +
      "is >= 0.95") {
    // thresholds scaled down the way the benchmark's smoke size scales
    // them: 2000 rows, route threshold and shard rows at a quarter of
    // that, the bulk batch threshold at the 256-row insert
    val dim = 16
    val rnd = new scala.util.Random(21)
    val centres = Array.fill(32, dim)(rnd.nextGaussian().toFloat)
    def points(n: Int): Array[Array[Float]] = Array.fill(n) {
      val c = centres(rnd.nextInt(centres.length))
      Array.tabulate(dim)(j => (c(j) + 0.8 * rnd.nextGaussian()).toFloat)
    }
    def frame(from: Long, vs: Array[Array[Float]]) =
      vs.indices.map(i => (from + i, vs(i))).toDF("id", "vec")
    val base = points(2000)
    val bulk = points(256)
    Graft.registerTable(spark, "ascale_bulk", frame(0L, base))
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "500")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "500")
    val batchKey = "graft.ingest.shardBatchThreshold"
    val prevBatch = sys.props.get(batchKey)
    sys.props(batchKey) = "256"
    IndexCatalog.dropIndex("ascale_bulk_idx")
    try {
      IndexCatalog.createIndex(spark, "ascale_bulk_idx", "ascale_bulk", "vec")
      def sharded = graft.index.VectorIndex.resolve(
        IndexCatalog.get("ascale_bulk_idx").get.index).asInstanceOf[ShardedHnswIndex]
      val before = sharded.shards.length
      assert(before >= 4, s"2000 rows at 500 per shard built $before shards")
      frame(2000L, bulk).createOrReplaceTempView("ascale_stage")
      GraftSql.sql(spark, "INSERT INTO ascale_bulk SELECT id, vec FROM ascale_stage")
      val idx = sharded
      assert(idx.shards.length == before + 1,
        s"the 256-row bulk INSERT must append one shard: $before -> ${idx.shards.length}")
      assert(idx.pendingDeltaSize == 0, "a bulk INSERT must not land in the delta")
      val live = spark.table("ascale_bulk").select("__rowid", "id", "vec").collect()
      assert(live.length == 2256)
      assert(idx.size == live.length, s"index holds ${idx.size} keys for ${live.length} rows")

      val idOf = live.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = live.map(r => (r.getLong(1), r.getSeq[Float](2).toArray))
      val queries = points(20)
      def exact(q: Array[Float]): Set[Long] = rows
        .map { case (id, v) => (graft.index.DistanceKernels.l2sq(q, v), id) }
        .sortBy(_._1).take(10).map(_._2).toSet
      def sqlTopK(q: Array[Float]): Set[Long] = {
        val lit = q.map(java.lang.Float.toString).mkString("[", ",", s"]::FLOAT[$dim]")
        GraftSql.sql(spark,
          s"SELECT id FROM ascale_bulk ORDER BY array_distance(vec, $lit) LIMIT 10")
          .collect().map(_.getLong(0)).toSet
      }
      def mean(xs: Seq[Double]) = xs.sum / xs.length
      val truth = queries.map(exact)
      val sqlRecall = mean(queries.indices.map(i =>
        sqlTopK(queries(i)).intersect(truth(i)).size / 10.0))
      // the index's own fan-out, which reads the appended shard
      val indexRecall = mean(queries.indices.map(i =>
        idx.search(queries(i), 10).map(h => idOf(h._1)).toSet
          .intersect(truth(i)).size / 10.0))
      info(f"recall@10: SQL top-k $sqlRecall%.3f, index fan-out $indexRecall%.3f")
      assert(sqlRecall >= 0.95, f"SQL top-k recall@10 $sqlRecall%.3f")
      assert(indexRecall >= 0.95, f"index fan-out recall@10 $indexRecall%.3f")
    } finally {
      prevBatch match {
        case Some(v) => sys.props(batchKey) = v
        case None => sys.props.remove(batchKey)
      }
      IndexCatalog.dropIndex("ascale_bulk_idx")
      Graft.dropTable(spark, "ascale_bulk")
    }
  }

  test("explicitly-sharded builds ignore the conf (numShards wins, " +
      "no chunking)") {
    spark.conf.set(IndexCatalog.AutoScaleConfKey, "route")
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    spark.conf.set(IndexCatalog.AutoShardRowsConfKey, "8")
    IndexCatalog.dropIndex("ascale_sh")
    val e = IndexCatalog.createIndex(spark, "ascale_sh", "ascale_t",
      "embedding", Map.empty, sharded = true, numShards = 2)
    try {
      val sh = e.index.asInstanceOf[ShardedHnswIndex]
      assert(sh.shards.length == 2,
        "explicit numShards=2 must not be re-chunked by autoShardRows=8")
      assert(e.options.m == 16 && e.options.efConstruction == 128)
    } finally { IndexCatalog.dropIndex("ascale_sh"); () }
  }

  test("empty table: both arms fall back to the declared-dimensions " +
      "empty index") {
    spark.conf.set(IndexCatalog.AutoScaleThresholdConfKey, "50")
    Graft.registerTable(spark, "ascale_empty",
      spark.table("ascale_t").where(lit(false)))
    Seq("true", "route").foreach { mode =>
      spark.conf.set(IndexCatalog.AutoScaleConfKey, mode)
      IndexCatalog.dropIndex("ascale_e")
      val e = IndexCatalog.createIndex(spark, "ascale_e", "ascale_empty",
        "embedding", Map("dimensions" -> "4"))
      try assert(e.index.size == 0 && e.index.dim == 4)
      finally { IndexCatalog.dropIndex("ascale_e"); () }
    }
  }
}
