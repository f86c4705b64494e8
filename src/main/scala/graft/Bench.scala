package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry: one JSON line with per-query seconds at the sf dir in
  * SPARK_GRAFT_SF_DIR. Each query is FULLY materialized through the noop
  * sink — `count()` would let Catalyst prune unreferenced compute-heavy
  * projections and report fantasy numbers. Failures propagate: a broken
  * query must break the bench, not score as fast.
  *
  * Measurement protocol (round 6 found suite-interference corrupting a
  * whole query window — q54 read 6.2× its isolated cost):
  *  - warm-up pass over every query (JIT/codegen/parquet footers out of
  *    the measured numbers; session-cached index builds split out as
  *    `build_*` metrics),
  *  - `settle()` after EVERY query execution, warm-up and measured alike:
  *    unpersist leaked blocks and System.gc() so the ContextCleaner
  *    reclaims broadcast/shuffle debt OUTSIDE the timed region instead of
  *    mid-measurement (the old every-8th-query cadence let one query's
  *    debt land in a later query's timing),
  *  - TWO measured passes, per-query MIN: robust to one-off environmental
  *    load (GC ticks, co-tenant CPU) that a single pass bakes in. The
  *    budget degradation ladder NEVER silently drops pass B (round 10 —
  *    the round-9 grading record fell to passes:1 exactly on the machine
  *    where min-of-two mattered): full pass B, else a lean-settle pass B,
  *    else a PARTIAL pass B (worst passA/denominator ratio first, filling
  *    the remaining budget, coverage emitted as "pass_b_coverage"), and
  *    only a zero remaining budget yields a single-pass record, which
  *    self-labels with "degraded":true,
  *  - contention self-diagnosis (round 9 — BENCH_r08 read q44 at 7.3× its
  *    isolated warm cost purely from co-tenant machine load, in BOTH
  *    passes, which per-query min cannot remove): the 1-minute system
  *    load average is sampled around every measured pass and emitted with
  *    the record, and any query whose min-of-two exceeds 2× its
  *    denominator — isolated warm cost (ISOLATED.json) where an entry
  *    exists, committed bench history (BENCH_FULL.json) otherwise, so
  *    EVERY query is covered (round 10: the round-9 record's three worst
  *    numbers had no ISOLATED entry and sailed through un-re-passed) — is
  *    re-run, keeping the overall min and counting the re-runs in the
  *    record, so a contended run either converges to the quiet-machine
  *    number or carries the evidence that explains why it could not.
  *    Hypervisor steal is additionally sampled around EVERY measured query
  *    run ("query_steal" in the full record): a short co-tenant burst is
  *    visible on the specific queries it hit instead of averaging down to
  *    noise across a whole pass.
  *
  * Output protocol: the harness that invokes this captures only the LAST
  * ~2000 characters of stdout and json-parses the final line, so the last
  * stdout line is a COMPACT JSON (`qNN`/`bNN` keys, 2-decimal seconds —
  * ~1.2k chars for 80 queries + 14 builds) emitted RAW (build.sbt sets
  * `run / outputStrategy := StdoutOutput`; sbt's default LoggedOutput
  * would re-emit it as "[info] <line>", which is unparseable). The
  * full-precision, full-name JSON goes to the file named by BENCH_OUT
  * (default `BENCH_FULL.json` in the working directory). */
object Bench {
  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val skip = skipped()
    // scale-adaptive shuffle width + size-first AQE coalescing, blocking
    // shuffle cleanup for settle()'s drain-wait, log level ERROR
    val spark = SessionTuning.session(sfDir)

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Post-query settle, all OUTSIDE the timed region. Two leaks otherwise
    // degrade late-running queries as the suite grows (suite-interaction,
    // invisible when a query runs isolated — q45 measured 2.9 s alone vs
    // 6.4 s late in a 77-query suite in round 5; q54/q55/q56 read 3.6–6.2×
    // their isolated cost in round 6's every-8th-query GC cadence):
    //  - localCheckpoint blocks: each op materializes its own intermediates
    //    per invocation; ~300 executions' blocks pile up in the block
    //    manager. Unpersist (blocking) drops them.
    //  - broadcasts + shuffle files: freed by the ContextCleaner only when
    //    the JVM garbage-collects the driver-side handles; a 100+ GiB heap
    //    GCs rarely on its own, so the debt otherwise lands as a
    //    mid-measurement GC in whatever query runs when the heap fills.
    // Session-cached index state is driver/parquet-resident, never a
    // persisted RDD, so none of this touches shared state.
    //
    // Round 7's residual defect: System.gc() RETURNS BEFORE the cleanup it
    // triggers runs. GC only ENQUEUES the dead handles' weak references;
    // the ContextCleaner thread drains that queue asynchronously, so the
    // previous query's removeBroadcast/removeShuffle RPCs and shuffle-file
    // deletions executed INSIDE the next query's timed region — in both
    // measured passes identically, which per-query min cannot remove
    // (q45 read 3.15 s in BENCH_r07 vs 0.86 s isolated warm, 3.7×, right
    // after q44's shingle-rollup debt). Fix: after GC, wait (bounded) for
    // the cleaner's pending-reference buffer to stop shrinking — drained
    // means the cleanup ran HERE, outside any timed region (gcAndDrain).
    // 1-minute system load average (OperatingSystemMXBean; /proc fallback):
    // sampled at the boundaries of every measured region so the record can
    // distinguish "plan regression" from "driver machine was busy" without
    // a judge rerun. -1 = platform cannot report it.
    def loadAvg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (l >= 0) l
      else scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble).getOrElse(-1.0)
    }
    // Cumulative (steal, total) CPU ticks from /proc/stat. Load average
    // cannot see HYPERVISOR STEAL — a co-tenant burst on a virtualized
    // host inflates every measured query while loadavg stays at the
    // bench's own footprint (observed: uniform 2-6x inflation at loadavg
    // ~4 on 32 cores with 14% measured steal). Sampling cumulative ticks
    // at the same boundaries as the load samples lets the record carry
    // steal%-per-measured-region. None on non-Linux: degrade, not fail.
    def cpuTicks(): Option[(Long, Long)] = ProcStat.stealTotalTicks()
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val tickSamples = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def loadSample(label: String): Unit = {
      loadSamples += (label -> loadAvg())
      cpuTicks().foreach(tickSamples(label) = _)
    }
    // steal% across a measured region (pre/post tick snapshots)
    def stealPct(pre: String, post: String): Option[Double] =
      for {
        (s0, t0) <- tickSamples.get(pre)
        (s1, t1) <- tickSamples.get(post)
        if t1 > t0
      } yield 100.0 * (s1 - s0) / (t1 - t0)
    loadSample("start")

    // Committed isolated warm costs (same machine class, quiet) — the
    // denominator for the >2× contention re-pass below. Regex-parsed
    // (no JSON dep); absent file or key disables the re-pass for that
    // query rather than failing the bench. The file carries a structured
    // top-level "sf" key (legacy files: parsed out of the provenance
    // sentence); entries only transfer within the same scale (an sf0.1
    // denominator under sf1 numerators would flag every query), so a
    // mismatch discards the map — and the discard is recorded in-band
    // (`denominators.discarded`) rather than silently disarming the
    // re-pass.
    var isoDiscarded = ""
    val isoWarm: Map[String, Double] = scala.util.Try {
      val path = sys.env.getOrElse("SPARK_GRAFT_ISOLATED", "ISOLATED.json")
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val isoSf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(m => new java.io.File(m.group(1)).getName)
        .orElse("""at (\S+) local\[""".r.findFirstMatchIn(txt)
          .map(m => new java.io.File(m.group(1)).getName))
      if (!isoSf.contains(new java.io.File(sfDir).getName)) {
        isoDiscarded = s"isolated file sf=${isoSf.getOrElse("unparsed")} != " +
          s"run sf=${new java.io.File(sfDir).getName}"
        Map.empty[String, Double]
      } else {
        val obj = """(?s)"isolated_warm"\s*:\s*\{(.*?)\}""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(obj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }.getOrElse(Map.empty)
    // Fallback denominator when a query has no ISOLATED entry: the committed
    // full-precision bench record from the previous round (BENCH_FULL.json
    // at this commit). Weaker than an isolated warm cost — it embeds suite
    // context and the machine it was cut on — but it means EVERY query has
    // a denominator, so the contention re-pass is never blind: round 9's
    // driver record read q52 at 5.3x its quiet cost and zero re-passes
    // fired because only 15 of 84 queries had ISOLATED entries.
    // The hist file is also this run's default OUTPUT (BENCH_OUT), so an
    // sf1 run with defaults overwrites it — after which an sf0.1 bench
    // would read ~10x-scale denominators and the >2x re-pass could never
    // fire. Guard: the record carries its own "sf"; denominators only
    // transfer within the same scale, so a basename mismatch discards the
    // whole fallback map (isolated entries still apply). Same-sf, the
    // fallback remains the PREVIOUS LOCAL run by design — weaker than
    // ISOLATED.json, never authoritative.
    // Candidates in order: the env override, then the committed records
    // for each scale this repo benches — the first file whose own "sf"
    // matches the current run wins, so an sf1 run self-serves from the
    // committed BENCH_sf1.json and the re-pass is armed at EVERY scale
    // with a committed record, not just sf0.1.
    val histMin: Map[String, Double] = {
      val candidates = sys.env.get("SPARK_GRAFT_BENCH_HIST").toSeq ++
        Seq("BENCH_FULL.json", "BENCH_sf1.json")
      candidates.iterator.map { path =>
        scala.util.Try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)), "UTF-8")
          val histSf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
            .map(m => new java.io.File(m.group(1)).getName)
          if (!histSf.contains(new java.io.File(sfDir).getName))
            Map.empty[String, Double]
          else {
            val obj = """(?s)"queries"\s*:\s*\{(.*?)\}""".r
              .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
            """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(obj)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
        }.getOrElse(Map.empty[String, Double])
      }.find(_.nonEmpty).getOrElse(Map.empty)
    }
    def denominator(n: String): Option[Double] =
      isoWarm.get(n).orElse(histMin.get(n))

    var settleNanos = 0L
    var sinceGc = 0
    def settle(everyN: Int = 1): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      sinceGc += 1
      if (sinceGc >= everyN) {
        gcAndDrain(spark, t0)
        sinceGc = 0
      }
      settleNanos += System.nanoTime() - t0
    }

    // Warm-up outside timing: JVM, codegen, and parquet-footer costs land
    // here instead of inflating the first measured query. Index builds are
    // session-cached (SparkEntry.setupIndexOnce / sharedIndex / IVF reuse) —
    // running one query from each index family here moves the build cost out
    // of the measured runs, so per-query times compare across rounds; each
    // family's steady-state REBUILD (post-JIT, measured after a session-
    // artifact drop) is reported as its own `build_*` metric below.
    run("q01_pricing_summary")
    // build_* metrics (round 11 semantics): the family's FIRST run — build
    // + family JIT/codegen — is untimed warm-up; the family's session
    // artifacts are then dropped and the measured number is the steady-
    // state REBUILD, with its own steal window. This is the exact protocol
    // ISOLATED.json's build denominators use, so the >2× contention
    // re-pass below compares like with like (the old first-run numbers
    // carried 2-5× of one-time JIT that would have tripped the bar on
    // every quiet run). Cross-round note: b-numbers drop once at this
    // semantics change; the rebuild cost is the comparable quantity.
    val buildTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val buildSteal = scala.collection.mutable.Map.empty[String, Double]
    // a skipped build metric also skips its warm-up query's cold run here
    // (the query itself is gone from `names` below when skipped by name)
    val activeBuilds = builds.filterNot { case (q, metric, _) =>
      skip(q) || skip(metric)
    }
    activeBuilds.foreach { case (q, metric, _) =>
      run(q) // cold: family JIT + first artifact build, untimed
      settle()
      SparkEntry.dropBuildArtifacts(spark, sfDir, q)
      settle() // drop + GC cost outside the timed rebuild
      val k0 = cpuTicks()
      val t0 = System.nanoTime()
      run(q)
      val dt = (System.nanoTime() - t0) / 1e9
      buildSteal(metric) = (for { (s0, c0) <- k0; (s1, c1) <- cpuTicks()
        if c1 > c0 } yield 100.0 * (s1 - s0) / (c1 - c0)).getOrElse(-1.0)
      settle()
      buildTimes(metric) = dt
    }
    // Then warm EVERY query once: the measured passes below report
    // steady-state plan cost, not first-invocation codegen/JIT — without
    // this, regex- and aggregate-heavy queries carry 3-10 s of one-time
    // compilation that swamps cross-round comparison. Per-query work that
    // is PART of the operator (shuffles, localCheckpoint materializations)
    // still re-executes inside the measured runs.
    // (every-2nd-query GC here: warm-up runs are not timed, so interference
    // is harmless — this only bounds total bench wall-clock; the boundary
    // settle() below enters the measured passes with a clean heap)
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip)
    names.foreach { q => run(q); settle(everyN = 2) }
    settle()

    // One measured query execution with its OWN steal window: tick
    // snapshots around just this run, so a 30-second co-tenant burst shows
    // up on the queries it hit instead of averaging down to "4%" across a
    // 300-second pass (exactly what round 9's driver record showed while
    // individual queries sat at 5x). steal = -1 when /proc/stat is absent.
    def timedRun(name: String): (Double, Double) = {
      val k0 = cpuTicks()
      val t0 = System.nanoTime()
      run(name)
      val dt = (System.nanoTime() - t0) / 1e9
      val steal = (for { (s0, c0) <- k0; (s1, c1) <- cpuTicks(); if c1 > c0 }
        yield 100.0 * (s1 - s0) / (c1 - c0)).getOrElse(-1.0)
      (dt, steal)
    }
    def measuredPass(settleEveryN: Int): Map[String, (Double, Double)] =
      names.map { name =>
        val s = timedRun(name)
        settle(settleEveryN) // outside the timed region
        name -> s
      }.toMap
    var settleMark = settleNanos
    def settleSince(): Double = {
      val d = (settleNanos - settleMark) / 1e9; settleMark = settleNanos; d
    }
    loadSample("passA_pre")
    val passAStart = System.nanoTime()
    val passA = measuredPass(settleEveryN = 1)
    val passAEnd = System.nanoTime()
    loadSample("passA_post")
    val settleASec = settleSince()
    // The second pass is the integrity mechanism (per-query min across two
    // passes removes one-off environmental noise), so the wall-clock budget
    // must not silently trade it away — that is exactly what happened to
    // the round-9 grading record (passes:1 on the one machine where
    // min-of-two mattered most). Degradation ladder, in order:
    //  1. full pass B (settle after every query) if it projects to fit
    //     SPARK_GRAFT_BENCH_BUDGET (projected = elapsed + pass A's wall,
    //     since pass B costs about the same);
    //  2. LEAN pass B (settle every 3rd query — ~2/3 of the settle cost
    //     dropped, slightly noisier but still a second independent sample
    //     for min-of-two) if THAT projects to fit;
    //  3. PARTIAL lean pass B: second samples for as many queries as the
    //     remaining budget holds, worst passA/denominator ratio first — the
    //     queries that most need min-of-two always get it, and the record
    //     carries "pass_b_coverage" so a partial pass is self-describing
    //     (round 10: the cliff used to drop pass B WHOLESALE on the exact
    //     machines — bursty-steal hosts — where min-of-two mattered most);
    //  4. only a literally-zero remaining budget yields a single-pass
    //     record, and it SELF-LABELS with "degraded":true.
    // Malformed budget values fall back to the default — a bad env var
    // must not discard the minutes of measurement already done.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(480)
    val elapsedA = (passAEnd - wallStart) / 1e9
    val passAWall = (passAEnd - passAStart) / 1e9
    val fullFits = elapsedA + passAWall <= budgetSec
    val leanFits = elapsedA + (passAWall - settleASec * 2.0 / 3.0) <= budgetSec
    val (passB, passBArm) =
      if (fullFits || leanFits) {
        loadSample("passB_pre")
        val p = measuredPass(settleEveryN = if (fullFits) 1 else 3)
        loadSample("passB_post")
        (p, if (fullFits) "full" else "lean")
      } else {
        // partial: spend what's left (minus a reserve for the contention
        // re-pass below — sized to the re-pass CAP, so the budget cannot
        // overrun even when the re-pass spends its full window) on
        // ratio-ordered second samples. Per-query cost is estimated from
        // its own passA wall share; the loop also re-checks real elapsed
        // time so an estimate error cannot blow the budget.
        val reserve =
          if (names.exists(n => denominator(n).isDefined)) 120.0 else 10.0
        val perQueryOverhead =
          math.max(0.0, passAWall - passA.values.map(_._1).sum) / names.size / 3
        def ratio(n: String): Double =
          denominator(n).map(passA(n)._1 / _).getOrElse(Double.MaxValue)
        val order = names.sortBy(n => -ratio(n))
        loadSample("passB_pre")
        val partial = scala.collection.mutable.Map.empty[String, (Double, Double)]
        var projected = (System.nanoTime() - wallStart) / 1e9
        for (n <- order) {
          val est = passA(n)._1 + perQueryOverhead
          val real = (System.nanoTime() - wallStart) / 1e9
          if (math.max(projected, real) + est <= budgetSec - reserve) {
            partial(n) = timedRun(n)
            settle(everyN = 3)
            projected = math.max(projected, real) + est
          }
        }
        loadSample("passB_post")
        // uncovered queries fall back to their passA sample (same tuple
        // INSTANCE — coverage below counts genuine second samples by `ne`)
        (names.map(n => n -> partial.getOrElse(n, passA(n))).toMap, "partial")
      }
    // coverage = queries with a genuine second sample (identity fallbacks
    // excluded by construction above only for the partial arm)
    val passBCoverage =
      if (fullFits || leanFits) names.size
      else names.count(n => passB(n) ne passA(n))
    val nPasses = if (passBCoverage > 0) 2 else 1
    val degraded = nPasses == 1
    // one mode field instead of a boolean pair: a partial arm that landed
    // ZERO second samples is a degraded single-pass record, not "lean"
    val passBMode = if (degraded) "none" else passBArm

    // Contention re-pass: co-tenant load can inflate a query in BOTH
    // passes identically (the one failure mode min-of-two cannot remove —
    // BENCH_r08's q44 at 7.3×). Any query whose min exceeds 2× its
    // denominator — isolated warm cost when ISOLATED.json has an entry,
    // committed bench history otherwise, so NO query is exempt — is re-run
    // (up to twice, stopping once it lands back under the bar), keeping
    // the overall min; the re-run counts and the steal% of each winning
    // sample ship in the record so a re-passed value is never mistaken
    // for a first-try one. Only meaningful at the sf the denominators
    // were measured at (sf0.1); bounded so a genuinely-regressed plan (re-
    // runs won't help) cannot stall the bench past the harness window.
    val finalMin = scala.collection.mutable.Map[String, Double](
      names.map(n => n -> math.min(passA(n)._1, passB(n)._1)): _*)
    // steal% observed on the run that produced each query's final value
    val minSteal = scala.collection.mutable.Map[String, Double](
      names.map { n =>
        n -> (if (passA(n)._1 <= passB(n)._1) passA(n)._2 else passB(n)._2)
      }: _*)
    val repassCounts = scala.collection.mutable.Map.empty[String, Int]
    // re-pass wherever denominators exist: ISOLATED entries (sf-guarded
    // above) or a same-sf committed bench record — at a scale with
    // neither, denominator() is empty everywhere and this no-ops, which
    // is what the old sf0.1-only gate expressed less generally
    if (names.exists(n => denominator(n).isDefined)) {
      val repassStart = System.nanoTime()
      val repassCapSec = 120.0
      loadSample("repass_pre")
      for (n <- names; den <- denominator(n)) {
        var tries = 0
        while (finalMin(n) > 2.0 * den && tries < 2 &&
            (System.nanoTime() - repassStart) / 1e9 < repassCapSec) {
          val (dt, steal) = timedRun(n)
          settle()
          if (dt < finalMin(n)) { finalMin(n) = dt; minSteal(n) = steal }
          tries += 1
          repassCounts(n) = repassCounts.getOrElse(n, 0) + 1
        }
      }
      loadSample("repass_post")
      // builds re-pass too (round 11 — the driver's round-10 record had
      // b16/b18/b35 at ~2× with no self-diagnosis): a build whose first-run
      // cost exceeds 2× its denominator gets its family's session artifacts
      // dropped and re-executes the build, keeping the min. The re-run is a
      // warm-JVM rebuild (family JIT already done), which is exactly the
      // shape ISOLATED.json's build denominators are measured in, so a
      // quiet machine converges. Shares the repass window/cap.
      loadSample("brepass_pre")
      for ((q, metric, _) <- activeBuilds; den <- denominator(metric)) {
        var tries = 0
        while (buildTimes(metric) > 2.0 * den && tries < 2 &&
            (System.nanoTime() - repassStart) / 1e9 < repassCapSec) {
          SparkEntry.dropBuildArtifacts(spark, sfDir, q)
          settle() // drop + GC cost lands outside the timed rebuild
          val (dt, steal) = timedRun(q)
          settle()
          if (dt < buildTimes(metric)) {
            buildTimes(metric) = dt; buildSteal(metric) = steal
          }
          tries += 1
          repassCounts(metric) = repassCounts.getOrElse(metric, 0) + 1
        }
      }
      loadSample("brepass_post")
    }
    val repassTotal = repassCounts.values.sum
    // Mechanical over-bar accounting (round-12 verdict: the record commit
    // said 8/104 over-bar, the artifacts computed to 14 — because the count
    // was narrative). The record now carries the list itself: every entry
    // whose FINAL value (post min-of-passes, post re-pass) still exceeds
    // 2.0× its denominator, with the ratio, so the count is a `jq length`
    // away and the denominator snapshot is the same one the re-pass used.
    val overBar: Seq[(String, Double)] =
      (names.map(n => n -> finalMin(n)) ++ buildTimes.toSeq).flatMap {
        case (n, v) => denominator(n) match {
          case Some(den) if v > 2.0 * den => Some(n -> v / den)
          case _ => None
        }
      }.sortBy(-_._2)
    val overBarJson = overBar.map { case (n, r) =>
      s"\"" + n + "\":" + "%.2f".formatLocal(java.util.Locale.ROOT, r)
    }.mkString("{", ",", "}")
    val buildMetrics = buildTimes.toSeq
    val results = names.map(n => n -> finalMin(n))
    // Graph-mode recall, measured by the q79/q80 gate during this session's
    // build_graph_index warm-up (the gate runs once per session and THROWS
    // below threshold — reaching here means it passed). Emitted as metrics
    // so the record carries the measured NUMBER, auditable per run, not
    // just absence-of-exception.
    val recallMetrics = SparkEntry.graphRecall(spark).toSeq.flatMap {
      case (r79, r80) => Seq("recall79" -> r79, "recall80" -> r80)
    } ++ SparkEntry.shardedGraphRecall(spark).toSeq.flatMap {
      case (r81, r82) => Seq("recall81" -> r81, "recall82" -> r82)
    } ++ SparkEntry.cosineGraphRecall(spark).toSeq.flatMap {
      case (rTopk, rKnn) =>
        Seq("recall86topk" -> rTopk, "recall86" -> rKnn)
    }
    val all = results ++ buildMetrics ++ recallMetrics
    val total = results.map(_._2).sum

    // RECALL_GATE.json: the per-run measured recalls of the approximate-by-
    // design graph queries NEXT TO their gate thresholds, as a first-class
    // artifact — CORRECTNESS marks q79–q82 "no_oracle", which under-sells a
    // per-run measured gate (the gate THROWS below threshold, so reaching
    // here means every value listed passed). Thresholds mirror
    // SparkEntry.recallGate: topk >=0.9, knn-join >=0.95.
    val recallGateEntries =
      SparkEntry.graphRecall(spark).toSeq.flatMap { case (r79, r80) =>
        Seq(("q79_graph_topk", 0.9, r79), ("q80_graph_knn_join", 0.95, r80))
      } ++ SparkEntry.shardedGraphRecall(spark).toSeq.flatMap { case (r81, r82) =>
        Seq(("q81_sharded_graph_topk", 0.9, r81),
          ("q82_sharded_graph_knn_join", 0.95, r82))
      } ++ SparkEntry.cosineGraphRecall(spark).toSeq.flatMap {
        case (rTopk, rKnn) =>
          Seq(("q86_cosine_graph_topk", 0.9, rTopk),
            ("q86_cosine_graph_knn_join", 0.95, rKnn))
      }
    if (recallGateEntries.nonEmpty) {
      // provenance + sf in-band, and a non-sf0.1 run writes an sf-suffixed
      // default path: the committed RECALL_GATE.json is the sf0.1 grading
      // artifact and must not be silently overwritten with recalls measured
      // on different data (same failure shape as the histMin guard above)
      val sfBase = new java.io.File(sfDir).getName
      val gatePath = sys.env.getOrElse("RECALL_GATE_OUT",
        if (sfBase == "sf0.1") "RECALL_GATE.json"
        else s"RECALL_GATE_$sfBase.json")
      val gateJson = recallGateEntries.map { case (q, th, m) =>
        s"""\"$q\":{"threshold":$th,"measured":$m,"pass":${m >= th - 1e-9}}"""
      }.mkString(
        s"""{"_provenance":"graft.Bench per-run recall gate: measured by SparkEntry.recallGate against the same index's exhaustive path during this run's session index builds","sf":"$sfDir",""",
        ",", "}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(gatePath),
        gateJson.getBytes("UTF-8"))
    }

    // Full-precision, full-name JSON → file (for STATUS and human diffing).
    // settle_sec = total un-timed drain cost (unpersist + GC + cleaner
    // drain-wait) across the whole run — the price of keeping cleanup out
    // of the timed regions, reported so a drain regression is visible.
    val outPath = sys.env.getOrElse("BENCH_OUT", "BENCH_FULL.json")
    val fullQs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // load = 1-min system load average sampled at each measured-region
    // boundary; repassed = per-query contention re-run counts (values in
    // `queries` are min across base passes AND re-runs). Together these
    // let a reader adjudicate contended-looking numbers from the record
    // alone.
    val loadJson = loadSamples
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // steal = hypervisor-steal CPU% over each measured region (passA/
    // passB/repass) — the contention channel loadavg cannot see. A region
    // with steal in the double digits explains uniformly-inflated numbers
    // without any plan regression.
    val stealRegions = Seq("passA", "passB", "repass", "brepass").flatMap(r =>
      stealPct(s"${r}_pre", s"${r}_post").map(r -> _))
    val stealJson = stealRegions
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val repassJson = repassCounts.toSeq.sorted
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // query_steal = steal% observed during the exact run that produced each
    // query's final value (-1 = /proc/stat unavailable). Per-QUERY, not
    // per-pass: a short co-tenant burst is visible on the queries it hit.
    val queryStealJson = names.map(n =>
      s"\"" + n + "\":" +
        "%.2f".formatLocal(java.util.Locale.ROOT, minSteal(n)))
      .mkString("{", ",", "}")
    // build_steal = steal% during the run that produced each build_* value
    val buildStealJson = buildTimes.keys.map(m =>
      s"\"" + m + "\":" +
        "%.2f".formatLocal(java.util.Locale.ROOT, buildSteal.getOrElse(m, -1.0)))
      .mkString("{", ",", "}")
    // denominator_src: how many queries the contention re-pass could see
    // via each source — full coverage means the record can self-diagnose
    // EVERY query, not just the ISOLATED.json subset.
    val denIso = names.count(isoWarm.contains)
    val denHist = names.count(n => !isoWarm.contains(n) && histMin.contains(n))
    val denNone = names.size - denIso - denHist
    val skippedJson = skip.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$nPasses,"degraded":$degraded,"pass_b_mode":"$passBMode","pass_b_coverage":"$passBCoverage/${names.size}","settle_sec":${settleNanos / 1e9},"denominators":{"isolated":$denIso,"bench_hist":$denHist,"none":$denNone,"discarded":"$isoDiscarded"},"load":$loadJson,"steal_pct":$stealJson,"query_steal":$queryStealJson,"build_steal":$buildStealJson,"repassed":$repassJson,"over_bar":$overBarJson,"skipped":$skippedJson,"queries":$fullQs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes("UTF-8"))

    // Compact line LAST on stdout: `q45_decontaminate` → `q45`,
    // `build_shared_index` → `b16` (the query number whose warm-up timed the
    // build), seconds to 2 decimals. Budget: the whole line must fit the
    // harness's ~2000-char tail window WITH room for trailing sbt noise —
    // ~1.2k chars at 94 entries.
    val buildShort = builds.map { case (_, metric, short) => metric -> short }.toMap
    def shortKey(k: String): String =
      buildShort.getOrElse(k, k.takeWhile(_ != '_'))
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale would make this (the harness's only parsed
    // line) invalid JSON
    def sec2(v: Double): String =
      "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // recall entries get 3 decimals: they audit a >=0.95 gate, where two
    // decimals could round a marginal value onto the threshold
    val compactQs = all
      .map {
        case (k, v) if k.startsWith("recall") =>
          s"""\"$k\":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}"""
        case (k, v) => s"""\"${shortKey(k)}\":${sec2(v)}"""
      }
      .mkString("{", ",", "}")
    spark.stop()
    // settle_sec/repass/load_max in the compact line (the artifact the
    // driver grades): settle cost visible, re-run count visible, and the
    // worst load sample so a contended window is self-evident in-line.
    val loadMax = if (loadSamples.isEmpty) -1.0 else loadSamples.map(_._2).max
    val stealMax = if (stealRegions.isEmpty) -1.0 else stealRegions.map(_._2).max
    // "degraded":true / a partial pass-B coverage ride in the compact line
    // only when real (a degraded or partial record must be self-labeling
    // even in the truncated artifact); omitted in the common full-coverage
    // case to protect the ~2000-char tail-window budget.
    val degradedTag = (if (degraded) "\"degraded\":true," else "") +
      (if (passBCoverage > 0 && passBCoverage < names.size)
        s""""pass_b":"$passBCoverage/${names.size}",""" else "") +
      (if (skip.nonEmpty) s""""skipped":${skip.size},""" else "")
    val line =
      s"""{"metric":"total","value":${sec2(total)},"unit":"sec","passes":$nPasses,$degradedTag"settle_sec":${sec2(settleNanos / 1e9)},"repass":$repassTotal,"load_max":${sec2(loadMax)},"steal_max":${sec2(stealMax)},"queries":$compactQs,"sf":"${new java.io.File(sfDir).getName}"}"""
    println(line)
    System.out.flush()
  }

  /** SPARK_GRAFT_SKIP: comma-separated query/build-metric names excluded
    * from a run, for scale records where an entry's WORK is quadratic by
    * construction (the sf10 fixture's exhaustive exact pins — their
    * documented scale path, the ANN twins, stays in). Bench's exclusion is
    * self-describing: the full record carries the list under "skipped" and
    * the compact line carries a count, so a skipped record can never read
    * as full coverage. IsolatedSweep honours the same list, so a scale
    * sweep excludes exactly the entries its record skips. Unknown names
    * fail fast — a typo must not silently run the entry it meant to
    * skip. */
  private[graft] def skipped(): Set[String] = {
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = skip -- SparkEntry.queries.keySet -- builds.map(_._2)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SKIP names unknown entries: ${unknown.mkString(",")}")
    skip
  }

  /** System.gc(), then wait until the ContextCleaner's pending-reference
    * buffer stops moving, so the broadcast/shuffle cleanup the GC enqueued
    * runs now, outside the next timed region. The cleaner polls its queue
    * every 100 ms, so one stable 150 ms window after the size stops moving
    * means the queue is empty and the (blocking-mode) cleanup tasks have
    * run. Capped at 3 s after `t0` so a wedged cleaner can't stall a
    * run. */
  private[graft] def gcAndDrain(spark: SparkSession, t0: Long): Unit = {
    System.gc()
    val capNanos = 3_000_000_000L
    var prev = cleanerPending(spark)
    var stableMs = 0
    while (stableMs < 150 && (System.nanoTime() - t0) < capNanos) {
      Thread.sleep(50)
      val cur = cleanerPending(spark)
      if (cur == prev) stableMs += 50 else { stableMs = 0; prev = cur }
    }
  }

  /** Size of the ContextCleaner's pending-reference buffer, read
    * reflectively. A field rename in a future Spark reads 0: the drain
    * then sees a constant size and exits after one stability window, a
    * fixed post-GC pause rather than a failed run. */
  private def cleanerPending(spark: SparkSession): Int =
    try {
      val cleaner = classOf[org.apache.spark.SparkContext]
        .getMethod("cleaner").invoke(spark.sparkContext)
        .asInstanceOf[Option[AnyRef]].get
      val f = cleaner.getClass.getDeclaredField("referenceBuffer")
      f.setAccessible(true)
      f.get(cleaner).asInstanceOf[java.util.Set[_]].size
    } catch { case _: Throwable => 0 }

  /** (warm-up query, full metric name, compact key) — the warm-up query is
    * the first consumer of a session-cached index/artifact family, so its
    * first run times the build. package-visible: IsolatedSweep sweeps the
    * same list for the `build_*` denominators. */
  private[graft] val builds: Seq[(String, String, String)] = Seq(
    ("q16_index_topk", "build_shared_index", "b16"),
    ("q35_sharded_topk", "build_sharded_index", "b35"),
    ("q18_index_info", "build_q18_index", "b18"),
    ("q28_embedding_neardup", "build_q28_index", "b28"),
    ("q30_ivf_topk", "build_q30_ivf", "b30"),
    ("q41_pq_topk", "build_q41_pq", "b41"),
    ("q43_ivfpq_topk", "build_q43_ivfpq", "b43"),
    ("q53_bm25_indexed", "build_q53_term", "b53"),
    ("q55_sq_topk", "build_q55_sq", "b55"),
    ("q22_minhash_lsh_pairs", "build_dedup_sigs", "b22"),
    ("q24_jaccard_pairs", "build_shingle_index", "b24"),
    ("q23_simhash", "build_simhash_index", "b23"),
    ("q71_dedup_spans", "build_clean_corpus", "b71"),
    ("q79_graph_topk", "build_graph_index", "b79"),
    ("q81_sharded_graph_topk", "build_sharded_graph_index", "b81"),
    ("q86_neardup_ann", "build_q86_graph", "b86"))
}
