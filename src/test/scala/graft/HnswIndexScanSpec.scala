package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.functions.vector
import graft.functions.MinByK.minByK
import graft.index.{IndexCatalog, VectorIndex}
import graft.plans.{HnswIndexScan, HnswIndexScanExec}

/** The index top-k plan: the rewrite wraps the indexed relation in one
  * HnswIndexScan filter node, so `ORDER BY dist LIMIT k` runs as a single
  * job with no broadcast, no semi join and no range exchange, and answers
  * exactly as the former `rel LEFT SEMI JOIN hits` shape did. */
class HnswIndexScanSpec extends GraftSparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val (table, index, dim, k) = ("scan_spec_items", "scan_spec_idx", 16, 10)

  override def beforeAll(): Unit = {
    val rnd = new Random(17)
    // every 10th row has a NULL vector: the index never holds it, and the
    // NULLS LAST top-k must not return it
    val rows = (0 until 400).map { i =>
      val v = if (i % 10 == 0) null else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i.toLong, i % 3, v)
    }
    Graft.registerTable(spark, table, rows.toDF("id", "grp", "vec"))
    IndexCatalog.createIndex(spark, index, table, "vec")
  }

  override def afterAll(): Unit = IndexCatalog.dropIndex(index)

  private def queryVec(id: Long): Array[Float] =
    spark.table(table).where($"id" === id).select($"vec").head().getSeq[Float](0).toArray

  private def withEf[A](ef: String)(body: => A): A = {
    val key = IndexCatalog.EfSearchConfKey
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, ef)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withDist(df: DataFrame, q: Array[Float]): DataFrame =
    df.withColumn("dist", vector.array_distance_sq($"vec", lit(q)))

  private def topK(q: Array[Float], where: Option[Column] = None): DataFrame = {
    val t = withDist(spark.table(table), q)
    where.fold(t)(t.where).orderBy($"dist".asc_nulls_last).limit(k).select($"id", $"dist")
  }

  /** The plan shape this node replaced: the relation semi-joined (by
    * broadcast) to the index's k hits, with the same query above. */
  private def semiJoinTopK(q: Array[Float], where: Option[Column]): DataFrame = {
    val entry = IndexCatalog.get(index).get
    val hits = VectorIndex.resolve(entry.index)
      .search(q, k, IndexCatalog.effectiveEf(spark, entry)).map(_._1).toSeq
    val t = spark.table(table)
    val cands = withDist(
      t.join(broadcast(hits.toDF("hit")), t(Graft.RowIdCol) === $"hit", "left_semi"), q)
    where.fold(cands)(cands.where).orderBy($"dist".asc_nulls_last).limit(k).select($"id", $"dist")
  }

  private def answer(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Spark jobs `body` starts, counted by a SparkListener. Listener events
    * are delivered in order, so once a marker job's end has been seen every
    * job `body` started has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"hnsw-scan-spec-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new AtomicInteger
    val markerJob = new AtomicInteger(-1)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`marker`) => markerJob.set(e.jobId)
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("ORDER BY dist LIMIT k over a single-graph index runs as one job: " +
      "no broadcast, no semi join, no range exchange") {
    val df = topK(queryVec(1))
    val jobs = jobsOf(df.collect())
    val p = df.queryExecution.executedPlan.toString
    assert(jobs == 1, p)
    assert(p.contains("HnswIndexScan") && p.contains("TakeOrderedAndProject"), p)
    Seq("BroadcastExchange", "LeftSemi", "rangepartitioning").foreach { s =>
      assert(!p.contains(s), s"$s in\n$p")
    }
  }

  test("min_by form over the index plans no broadcast") {
    val q = queryVec(2)
    val df = withDist(spark.table(table), q).agg(minByK($"id", $"dist", k).as("ids"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HnswIndexScan"), p)
    assert(!p.contains("Broadcast") && !p.contains("LeftSemi"), p)
    assert(df.as[Seq[Long]].head().length == k)
  }

  test("optimizing the rewritten plan again keeps one HnswIndexScan") {
    val optimized = topK(queryVec(3)).queryExecution.optimizedPlan
    val again = spark.sessionState.optimizer.execute(optimized)
    assert(again.collect { case s: HnswIndexScan => s }.length == 1, again.treeString)
  }

  test("answers equal the former semi-join shape, with a WHERE above the " +
      "candidates and NULL-vector rows present") {
    withEf("1000") {
      for (id <- Seq(1L, 5L, 33L); where <- Seq(None, Some($"grp" === 1))) {
        val q = queryVec(id)
        val got = answer(topK(q, where))
        assert(got == answer(semiJoinTopK(q, where)), s"probe $id, where $where")
        if (where.isEmpty) assert(got.length == k && got.forall(_._1 % 10 != 0))
        else assert(got.length < k && got.forall(_._1 % 3 == 1), got)
      }
    }
  }

  test("a top-k over an empty indexed table returns no rows") {
    val empty = "scan_spec_empty"
    Graft.registerTable(spark, empty, spark.table(table).drop(Graft.RowIdCol).where(lit(false)))
    IndexCatalog.createIndex(spark, s"${empty}_idx", empty, "vec", Map("dimensions" -> s"$dim"))
    try {
      val df = withDist(spark.table(empty), queryVec(1))
        .orderBy($"dist".asc_nulls_last).limit(k)
      assert(df.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
      assert(df.collect().isEmpty)
    } finally { IndexCatalog.dropIndex(s"${empty}_idx"); () }
  }

  test("SQL metrics: index hits equal k, output rows at most k, search time " +
      "recorded once") {
    val df = topK(queryVec(4))
    df.collect()
    val exec = df.queryExecution.executedPlan.collectFirst { case e: HnswIndexScanExec => e }
    assert(exec.isDefined, df.queryExecution.executedPlan.toString)
    val m = exec.get.metrics
    assert(m("numHits").value == k)
    assert(m("numOutputRows").value > 0 && m("numOutputRows").value <= k)
    assert(m("searchTime").value > 0)
  }

  test("indexTopK's dist equals the index's own hit distances bit for bit " +
      "(l2sq, cosine, ip)") {
    val q = queryVec(7)
    for (metric <- Seq("l2sq", "cosine", "ip")) {
      val name = if (metric == "l2sq") index else s"scan_spec_${metric}_idx"
      if (name != index)
        IndexCatalog.createIndex(spark, name, table, "vec", Map("metric" -> metric))
      try {
        val entry = IndexCatalog.get(name).get
        val hits = VectorIndex.resolve(entry.index)
          .search(q, k, IndexCatalog.effectiveEf(spark, entry))
        val got = Graft.indexTopK(spark, name, q, k)
          .select(col(Graft.RowIdCol), $"dist").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        def bits(hs: Seq[(Long, Double)]) =
          hs.sortBy(_._1).map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }
        assert(got.length == k, metric)
        assert(bits(got.toSeq) == bits(hits.toSeq), metric)
      } finally if (name != index) { IndexCatalog.dropIndex(name); () }
    }
  }

  test("indexTopK over a single graph runs as one job with no broadcast") {
    val df = Graft.indexTopK(spark, index, queryVec(8), k)
    val jobs = jobsOf(df.collect())
    val p = df.queryExecution.executedPlan.toString
    assert(jobs == 1, p)
    assert(p.contains("HnswIndexScan") && p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("indexRadiusSearch and mmrTopK fetch their rows without a broadcast join") {
    val q = queryVec(9)
    val radius = Graft.indexRadiusSearch(spark, index, q, 10.0, initialK = 4)
    val mmr = Graft.mmrTopK(spark, index, q, k = 3, poolSize = 12)
    for (df <- Seq(radius, mmr)) {
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  test("a malformed graft.hnsw.efSearch fails with a message naming the key") {
    val key = IndexCatalog.EfSearchConfKey
    // the session SET itself rejects it; a JVM property is the one way a
    // malformed value still reaches the read, at execution
    val atSet = intercept[IllegalArgumentException](withEf("fast")(()))
    assert(atSet.getMessage.contains(key), atSet)
    val prevProp = sys.props.get(key)
    sys.props(key) = "fast"
    try {
      val e = intercept[Exception](topK(queryVec(6)).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => String.valueOf(t.getMessage).contains(IndexCatalog.EfSearchConfKey)),
        chain)
      assert(!chain.exists(_.isInstanceOf[NumberFormatException]), chain)
      val direct = intercept[IllegalArgumentException](
        Graft.indexTopK(spark, index, queryVec(6), k))
      assert(direct.getMessage.contains(IndexCatalog.EfSearchConfKey))
    } finally prevProp match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
