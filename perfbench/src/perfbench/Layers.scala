package perfbench

import scala.jdk.CollectionConverters._

import graft.index.DistanceKernels

/** The traced run's per-layer roll-up, taken over the workload's primary
  * requests (`Outcome.primaryKind`): times are per-request medians, counts
  * and bytes per-request means. Layers a workload never calls report 0. */
object Layers {
  val names: Seq[String] = Seq(
    "sql.dispatch_ms", "sql.preprocess_ms",
    "plans.analysis_ms", "plans.optimize_ms", "plans.physical_ms", "plans.index_rewrite_ratio",
    "exec.run_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.task_gc_ms", "exec.rows_read", "exec.rows_read_per_result",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "index.search_us", "index.search_share", "index.build_s", "index.mem_bytes",
    "index.levels", "index.shards", "index.shard_cache_resident", "index.delta_rows",
    "index.deleted_keys", "index.kernel_l2sq_ns", "index.kernel_l2sqF_ns",
    "dml.insert_bulk_ms", "dml.insert_small_ms", "dml.delete_ms",
    "catalog.compact_ms", "catalog.checkpoint_ms", "catalog.checkpoint_bytes", "catalog.restore_ms",
    "jvm.gc_ms", "jvm.heap_peak_mb")

  private def overlapMs(s: Span, phases: Seq[(Long, Long)]): Double =
    phases.map { case (a, z) => math.max(0L, math.min(z, s.end) - math.max(a, s.start)) }
      .sum / 1e6

  def rollUp(b: Bench, o: Outcome): (Map[String, Double], Map[String, Double], Seq[Map[String, Any]]) = {
    val tr = b.tracer
    val reqs = b.requests.asScala.toSeq.filter(_._1 == o.primaryKind).map(_._2)
    val reqIds = reqs.map(_.id).toSet
    val tasksBy = tr.tasks.asScala.toSeq.groupBy(_.group)

    // plan phases from each request's QueryExecution tracker become spans
    // under the sql or exec span whose interval holds them
    val bySpanReq = tr.spans.asScala.toSeq.groupBy(_.request)
    val perReq = reqs.map { r =>
      val own = bySpanReq.getOrElse(r.id, Nil)
      val sql = own.find(_.name == "sql")
      val exec = own.find(_.name == "exec")
      val ph = r.df.queryExecution.tracker.phases.map { case (n, p) =>
        n -> (tr.fromWallMs(p.startTimeMs), tr.fromWallMs(p.endTimeMs))
      }
      def holder(start: Long): Long =
        Seq(sql, exec).flatten.find(s => start >= s.start && start < s.end)
          .map(_.id).getOrElse(r.spanId)
      ph.foreach { case (n, (s0, s1)) => tr.record(holder(s0), r.id, s"plans.$n", s0, s1) }
      def phaseMs(n: String) = ph.get(n).map { case (s0, s1) => (s1 - s0) / 1e6 }.getOrElse(0.0)
      val parseAnalyze = Seq("parsing", "analysis").flatMap(ph.get)
      val optPlan = Seq("optimization", "planning").flatMap(ph.get)
      val ts = tasksBy.getOrElse(r.id, Nil)
      val rows = ts.map(_.recordsRead).sum.toDouble
      val results = Option(b.resultRows.get(r.id)).map(_.doubleValue).getOrElse(0.0)
      Map(
        "sql.dispatch_ms" -> sql.map(s => s.dur / 1e6 - overlapMs(s, parseAnalyze)).getOrElse(0.0),
        "sql.preprocess_ms" -> b.replayPreprocess(r.stmt),
        "plans.analysis_ms" -> (phaseMs("parsing") + phaseMs("analysis")),
        "plans.optimize_ms" -> phaseMs("optimization"),
        "plans.physical_ms" -> phaseMs("planning"),
        "exec.run_ms" -> exec.map(s => s.dur / 1e6 - overlapMs(s, optPlan)).getOrElse(0.0),
        "exec.jobs" -> tr.jobs(r.id).toDouble,
        "exec.stages" -> tr.stages(r.id).toDouble,
        "exec.tasks" -> ts.length.toDouble,
        "exec.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "exec.task_gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "exec.rows_read" -> rows,
        "exec.rows_read_per_result" -> (if (results > 0) rows / results else 0.0),
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "request_ms" -> r.ms)
    }
    // plan phases arrive in whole milliseconds, so they are averaged; the
    // other times are medians
    val timeKeys = Set("sql.dispatch_ms", "sql.preprocess_ms", "exec.run_ms", "request_ms")
    val agg: Map[String, Double] =
      if (perReq.isEmpty) Map.empty
      else perReq.head.keys.map { key =>
        val xs = perReq.map(_(key))
        key -> (if (timeKeys(key)) Stats.median(xs) else Stats.mean(xs))
      }.toMap
    val (l2, l2f) = kernelNs(b.dim)
    val searchUs = o.layer.getOrElse("index.search_us", Double.NaN)
    val measured = agg - "request_ms" ++ o.layer ++ Map(
      "plans.index_rewrite_ratio" -> b.rewriteRatio,
      "index.search_share" ->
        searchUs * o.searchesPerRequest / (agg.getOrElse("request_ms", Double.NaN) * 1e3),
      "index.kernel_l2sq_ns" -> l2,
      "index.kernel_l2sqF_ns" -> l2f)
    val layers = names.map(n => n -> measured.get(n).filterNot(_.isNaN).getOrElse(0.0)).toMap

    // Spark job/stage/task spans: parent is the enclosing span of the same
    // request (exec or statement span for jobs, job for stages, stage for
    // tasks)
    val all = tr.spans.asScala.toSeq
    val linked = all.groupBy(_.request).values.flatMap { own =>
      def within(s: Span, cands: Seq[Span]) =
        cands.filter(c => s.start >= c.start && s.start <= c.end).sortBy(_.dur).headOption
      val hosts = own.filter(s => s.parent >= 0 && !s.name.startsWith("plans."))
      val jobs = own.filter(_.name == "spark.job")
      val stages = own.filter(_.name == "spark.stage")
      own.map {
        case s if s.name == "spark.job" => s.copy(parent = within(s, hosts).map(_.id).getOrElse(0L))
        case s if s.name == "spark.stage" => s.copy(parent = within(s, jobs).map(_.id).getOrElse(0L))
        case s if s.name == "spark.task" => s.copy(parent = within(s, stages).map(_.id).getOrElse(0L))
        case s => s
      }
    }.toSeq
    val self = Tracer.selfTimes(linked)
    val selfByName = linked.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e6
    }
    val t0 = if (linked.isEmpty) 0L else linked.map(_.start).min
    val spans = linked.sortBy(_.start).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request, "name" -> s.name,
        "start_us" -> (s.start - t0) / 1000, "dur_us" -> s.dur / 1000,
        "self_us" -> self(s.id) / 1000, "primary" -> reqIds(s.request))
    }
    (layers, selfByName, spans)
  }

  /** ns per call of the scalar and float build-side l2sq kernels, median
    * of five passes over 256 vector pairs. */
  def kernelNs(dim: Int): (Double, Double) = {
    val r = new java.util.SplittableRandom(7)
    val xs = Array.fill(512, dim)(r.nextDouble().toFloat)
    def bench(f: (Array[Float], Array[Float]) => Double): Double = {
      val calls = 400000
      var sink = 0.0
      val passes = (0 until 6).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += f(xs(i & 255), xs(256 + (i & 255))); i += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }
      if (sink == 42.0) println(sink) // keep the loop observable
      Stats.median(passes.tail)
    }
    (bench(DistanceKernels.l2sq), bench(DistanceKernels.l2sqF))
  }
}
