package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Graft, GraftSql, SqlRewrite}
import graft.index.IndexCatalog

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, smoke: Boolean, root: String)

/** Input sizes. `full` is what the recorded runs use; `smoke` is the tiny
  * end-to-end self-test size. */
final case class Sizes(rows: Int, queryPool: Int, warmSeconds: Double,
    setups: Int, ingestSetups: Int, probes: Int, probeSample: Int, joinReads: Int,
    ingestRounds: Int, bulkRows: Int, smallRows: Int, burstReads: Int, burstWarm: Int,
    fixedProbes: Int)

object Sizes {
  val full = Sizes(rows = 20000, queryPool = 200, warmSeconds = 6.0, setups = 2, ingestSetups = 2,
    probes = 5000, probeSample = 500, joinReads = 20,
    ingestRounds = 2, bulkRows = 4096, smallRows = 16, burstReads = 10, burstWarm = 2,
    fixedProbes = 4)
  val smoke = Sizes(rows = 2000, queryPool = 24, warmSeconds = 0.5, setups = 2, ingestSetups = 2,
    probes = 300, probeSample = 60, joinReads = 6,
    ingestRounds = 3, bulkRows = 256, smallRows = 4, burstReads = 4, burstWarm = 1,
    fixedProbes = 4)
}

/** Counts operations and the ones that failed: an operation fails when it
  * throws or when a check on its output does not hold. */
final class Checks {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val notes = new ConcurrentLinkedQueue[String]()

  /** One operation: `body` returns its problems (empty = correct). */
  def op(what: String)(body: => Seq[String]): Unit = {
    attempted.incrementAndGet()
    val problems =
      try body
      catch { case NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) {
      failed.incrementAndGet()
      if (notes.size < 40) notes.add(s"$what: ${problems.mkString("; ").take(400)}")
    }
  }

  def errorRate: Double =
    if (attempted.get == 0) 0.0 else failed.get.toDouble / attempted.get
}

/** One timed request through the public SQL surface. */
final case class Req[A](id: String, spanId: Long, stmt: String, df: DataFrame,
    out: A, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** State shared by the workloads of one run: the session, the seeded
  * inputs, the tracer and the checks. */
final class Bench(val spark: SparkSession, val opts: Opts, val sizes: Sizes,
    val tracer: Tracer, val checks: Checks, val cpus: Int, val root: String) {

  val dim = 64
  val k = 10
  // many clusters, so one seed's layout is statistically like another's
  val mix = new Mixture(opts.seed, dim, clusters = 256)
  val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private val born = System.nanoTime()
  /** (phase, seconds since the run began), for the record's timeline. */
  val timeline = new ConcurrentLinkedQueue[(String, Double)]()
  def mark(phase: String): Unit = timeline.add((phase, (System.nanoTime() - born) / 1e9))

  private val reqIds = new AtomicLong(0)
  /** (kind, request) of every timed request, for the per-layer roll-up. */
  val requests = new ConcurrentLinkedQueue[(String, Req[_])]()
  /** Result rows per request id (for rows read per result row). */
  val resultRows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Statements that should plan onto an index operator, and those that did. */
  val rewriteExpected = new AtomicLong
  val rewriteHit = new AtomicLong
  /** Whether a top-k that misses the index is a failed operation. The
    * engine does not rewrite SQL top-k over a table that DML turned into a
    * filtered union, so ingest_maintain turns this off around the reads
    * between its DML rounds only: their misses are counted here (and in the
    * rewrite ratio) instead of failing them. */
  @volatile var strictPlans = true
  val rewriteMisses = new AtomicLong
  /** Recall tally pooled over every checked answer. */
  private val recallHit = new AtomicLong
  private val recallTot = new AtomicLong

  def frame(ids: Long, vecs: Array[Array[Float]], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.indices.map(i => Row(ids + i, vecs(i).toSeq)), partitions), schema)

  /** Run `stmt` through GraftSql.sql and `run` over the resulting frame,
    * timed as one request with its own Spark job group. */
  def request[A](kind: String, stmt: String)(run: DataFrame => A): Req[A] = {
    val rid = s"r${reqIds.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(rid, kind, interruptOnCancel = false)
    val reqSpan = tracer.nextId()
    val t0 = System.nanoTime()
    try {
      val df = tracer.span(reqSpan, rid, "sql")(GraftSql.sql(spark, stmt))
      val out = tracer.span(reqSpan, rid, "exec")(run(df))
      val t1 = System.nanoTime()
      if (tracer.on) tracer.spans.add(Span(reqSpan, 0L, rid, s"request.$kind", t0, t1))
      val r = Req(rid, reqSpan, stmt, df, out, t0, t1)
      requests.add((kind, r))
      r
    } finally sc.clearJobGroup()
  }

  /** Statement outside the per-request accounting (DDL, DML, maintenance):
    * returns seconds, recorded as a `layer` span when tracing. */
  def statement(layer: String, stmt: String): Double = {
    val rid = s"r${reqIds.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(rid, layer, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      GraftSql.sql(spark, stmt)
      val t1 = System.nanoTime()
      tracer.record(0L, rid, layer, t0, t1)
      (t1 - t0) / 1e9
    } finally sc.clearJobGroup()
  }

  /** Timed call into a layer's public function (catalog, index). */
  def call[A](layer: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    tracer.record(0L, s"r${reqIds.incrementAndGet()}", layer, t0, t1)
    (a, (t1 - t0) / 1e9)
  }

  def topkSql(q: Array[Float], form: Int): String = {
    val lit = SqlText.vecLiteral(q)
    if (form % 4 == 3) s"SELECT min_by(id, array_distance(vec, $lit), $k) AS ids FROM items"
    else s"SELECT id FROM items ORDER BY array_distance(vec, $lit) LIMIT $k"
  }

  /** One SQL top-k request; 3 of 4 use ORDER BY … LIMIT, 1 of 4 min_by. */
  def topk(q: Array[Float], form: Int): Req[Array[Long]] =
    request("topk", topkSql(q, form)) { df =>
      val rows = df.collect()
      if (form % 4 == 3) rows.headOption.map(_.getSeq[Long](0).toArray).getOrElse(Array.empty[Long])
      else rows.map(_.getLong(0))
    }

  def planShows(df: DataFrame, node: String): Boolean =
    df.queryExecution.executedPlan.toString.contains(node)

  /** Check a top-k answer: k distinct ids, at least one exact neighbour,
    * plan shape. Recorded as one operation; recall itself is pooled over
    * the run (an approximate index may miss on a single hard query). */
  def checkTopk(what: String, r: Req[Array[Long]], exact: Array[Long]): Unit =
    checks.op(what) {
      val got = r.out
      resultRows.put(r.id, got.length.toLong)
      val rec = tally(got.toSet, exact)
      rewriteExpected.incrementAndGet()
      val indexed = planShows(r.df, "HnswIndexScan")
      if (indexed) rewriteHit.incrementAndGet()
      else if (!strictPlans) rewriteMisses.incrementAndGet()
      Seq(
        if (got.length != exact.length) Some(s"${got.length} ids, expected ${exact.length}") else None,
        if (got.distinct.length != got.length) Some("duplicate ids") else None,
        if (exact.nonEmpty && rec == 0.0) Some("none of the exact neighbours returned") else None,
        if (!indexed && strictPlans) Some("not planned onto HnswIndexScan") else None).flatten
    }

  /** Pool one answer into the recall tally; returns its own recall. */
  def tally(found: Set[Long], exact: Array[Long]): Double = {
    val hit = exact.count(found.contains)
    recallHit.addAndGet(hit)
    recallTot.addAndGet(exact.length)
    if (exact.isEmpty) 1.0 else hit.toDouble / exact.length
  }

  def recall: Double =
    if (recallTot.get == 0) Double.NaN else recallHit.get.toDouble / recallTot.get

  def rewriteRatio: Double =
    if (rewriteExpected.get == 0) Double.NaN else rewriteHit.get.toDouble / rewriteExpected.get

  /** Query vectors; their literals print each float's shortest exact
    * form, so the engine parses the very values the exact answers use. */
  def queryPool(n: Int, stream: Long): Array[Array[Float]] = mix.queries(n, stream)

  /** Closed loop of top-k requests over `pool` from `clients` threads for
    * `seconds`; returns per-request latencies (ms) and elapsed seconds.
    * Answers are checked after the loop, outside the timed region. */
  def closedLoop(pool: Array[Array[Float]], exact: Array[Array[Long]],
      clients: Int, seconds: Double, offset: Int): (Seq[Double], Double) = {
    val done = new ConcurrentLinkedQueue[(Int, Req[Array[Long]])]()
    val next = new AtomicLong(offset)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement().toInt
          val qi = i % pool.length
          // a request that throws is a failed operation; one that
          // answers is counted when its answer is checked below
          try done.add((qi, topk(pool(qi), i)))
          catch { case NonFatal(e) => checks.op("topk")(Seq(e.toString)) }
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val rs = done.asScala.toSeq
    rs.foreach { case (qi, r) => checkTopk("topk answer", r, exact(qi)) }
    (rs.map(_._2.ms), elapsed)
  }

  /** Direct index searches with the same queries (the index layer alone). */
  def directSearchUs(name: String, pool: Array[Array[Float]]): Double = {
    val entry = IndexCatalog.get(name).get
    val ef = IndexCatalog.effectiveEf(spark, entry)
    val idx = graft.index.VectorIndex.resolve(entry.index)
    val us = pool.map { q =>
      val (_, s) = call("index.search")(idx.search(q, k, ef))
      s * 1e6
    }
    Stats.median(us.toSeq)
  }

  /** The generated base table's vectors (ids 0 until rows). */
  var base: Array[Array[Float]] = Array.empty

  /** One setup of `rows` rows: generate, register the table and
    * (optionally) build the index. Returns (setup seconds, build seconds). */
  def setup(build: Option[String], rows: Int): (Double, Double) = {
    if (Graft.isRegisteredTable("items")) {
      IndexCatalog.list.filter(_.table == "items").foreach(e => IndexCatalog.dropIndex(e.name))
      Graft.dropTable(spark, "items")
    }
    val sc = spark.sparkContext
    val rid = s"r${reqIds.incrementAndGet()}"
    sc.setJobGroup(rid, "setup", interruptOnCancel = false)
    val t0 = System.nanoTime()
    base = mix.points(rows, 1)
    Graft.registerTable(spark, "items", frame(0L, base, cpus))
    sc.clearJobGroup()
    val t1 = System.nanoTime()
    tracer.record(0L, rid, "setup.register", t0, t1)
    val buildS = build.map(stmt => statement("index.build", stmt)).getOrElse(0.0)
    ((System.nanoTime() - t0) / 1e9, buildS)
  }

  def replayPreprocess(stmt: String): Double = {
    val t0 = System.nanoTime()
    SqlRewrite.preprocess(stmt,
      spark.conf.getOption(GraftSql.CosineInfixConfKey).exists(_.toBoolean),
      spark.conf.getOption(GraftSql.NullOrderConfKey).exists(_.toBoolean))
    (System.nanoTime() - t0) / 1e6
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p99/p95/p90/p75/p50 that has at least ten samples
    * beyond it: (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = Seq(99, 95, 90, 75, 50).find(p => xs.length * (100 - p) / 100.0 >= 10)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
