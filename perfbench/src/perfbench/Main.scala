package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{ProcStat, SessionTuning, TableCatalog}
import graft.index.DistanceKernels
import org.apache.spark.perfbench.ListenerDrain

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --record FILE [--smoke]`. Builds the session the way the engine's entry
  * points do, runs the workload, and writes the full result record (env
  * stamp, end-to-end metrics, the workload's named metrics, checks and,
  * when traced, per-layer metrics and spans). `run.py` prints it. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val opts = Opts(
      workload = a("workload"),
      seed = a("seed").toLong,
      seconds = a("seconds").toInt,
      trace = a("trace") == "1",
      smoke = args.contains("--smoke"),
      root = a("root"))
    val run = Workloads.all.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    val sizes = if (opts.smoke) Sizes.smoke else Sizes.full
    val root = opts.root
    sys.props("graft.tables.dir") = s"$root/tables"
    sys.props("graft.indexes.dir") = s"$root/indexes"
    val cpus = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cpus]"

    val load0 = loadAvg()
    val steal0 = ProcStat.stealTotalTicks()
    val spark = SessionTuning.tuned(SparkSession.builder().master(master), root, cpus)
      .appName(s"perfbench-${opts.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(opts.trace)
    tracer.install(spark.sparkContext)
    val checks = new Checks
    val b = new Bench(spark, opts, sizes, tracer, checks, cpus, root)

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "smoke" -> opts.smoke)
    val outcome =
      try Some(run(b))
      catch {
        case scala.util.control.NonFatal(e) =>
          checks.op(s"workload ${opts.workload}")(Seq(e.toString + " at " +
            e.getStackTrace.take(6).mkString(" < ")))
          None
      }
    val steal1 = ProcStat.stealTotalTicks()
    val load1 = loadAvg()
    record("env") = Map(
      "nproc" -> cpus,
      "master" -> master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "source_rev" -> sys.props.getOrElse("perfbench.rev", "unknown"),
      "seed" -> opts.seed,
      "rows" -> sizes.rows,
      "simd_kernels" -> DistanceKernels.simdEnabled,
      "load_avg_before" -> load0,
      "load_avg_after" -> load1,
      "steal_pct" -> ProcStat.stealPct(steal0, steal1))
    val ratio = b.rewriteRatio
    val recall = b.recall
    outcome.foreach { o =>
      record("end_to_end") = o.e2e
      record("named") = o.named ++ Map("error_rate" -> checks.errorRate)
      if (opts.trace) {
        ListenerDrain(spark.sparkContext)
        val (layers, selfMs, spans) = Layers.rollUp(b, o)
        record("per_layer") = layers
        record("layer_self_ms") = selfMs
        val tracePath = a("spans")
        write(tracePath, Json(Map("workload" -> opts.workload, "seed" -> opts.seed,
          "spans" -> spans)))
        record("spans_file") = tracePath
      }
    }
    record("timeline") = b.timeline.asScala.map { case (p, t) => Map(p -> t) }.toSeq
    record("checks") = Map(
      "recall_at_10" -> recall,
      "index_rewrite_ratio" -> ratio,
      "rewrite_misses_not_failed" -> b.rewriteMisses.get,
      "failures" -> checks.notes.asScala.toSeq)
    // every rewrite miss must be one a lenient phase counted (the others
    // already failed their operation)
    val unexplainedMisses = b.rewriteExpected.get - b.rewriteHit.get - b.rewriteMisses.get
    val correct = outcome.isDefined && checks.failed.get == 0 &&
      unexplainedMisses == 0 && recall >= 0.9
    record("correct") = correct
    record("attempted") = math.max(1L, checks.attempted.get)
    record("failed") = checks.failed.get
    write(a("record"), Json(record))
    TableCatalog.disarm()
    spark.stop()
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
