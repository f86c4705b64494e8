package graft

/** ISOLATED.json writer: sweeps EVERY SparkEntry query (inclusion rule
  * enforced by construction — round 9's hand-maintained entry list drifted
  * stale against its own stated rule) and records each query's isolated
  * warm cost with the steal% of the winning sample.
  *
  * Protocol per query, in one JVM with nothing else timed between a
  * query's own runs: one untimed cold run (JIT/codegen/parquet footers and
  * any session-cached index build land here), then up to
  * SPARK_GRAFT_SWEEP_ATTEMPTS (default 4) timed warm runs with per-run
  * hypervisor-steal%. The first sample under SPARK_GRAFT_SWEEP_STEAL
  * (default 2.0%) is accepted; otherwise all attempts run and the MIN-time
  * sample wins, its (elevated) steal recorded in-band — a contended entry
  * is conservatively HIGH, which only loosens Bench's >2x re-pass bar,
  * never tightens it.
  *
  * Output: ISOLATED.json (env SPARK_GRAFT_ISOLATED_OUT) with `_provenance`
  * (machine model/cores, sf dir, sweep params), `isolated_warm`
  * (name -> seconds; the flat object Bench regex-parses), and `steal`
  * (name -> steal% of the winning sample). */
object IsolatedSweep {
  def main(args: Array[String]): Unit = {
    // args = query-name prefixes: sweep only those and
    // MIN-MERGE into the existing file — the refresh path for entries whose
    // recorded sample was contended (their `steal` value says so). Min is
    // the right merge: a lower honest sample tightens the re-pass bar,
    // which only makes the bench stricter on itself. No args = full sweep,
    // file rewritten outright.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // clamp, don't crash: an explicit 0/negative value would otherwise make
    // best.get throw AFTER potentially many queries' work
    val attempts = sys.env.get("SPARK_GRAFT_SWEEP_ATTEMPTS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .map(math.max(1, _)).getOrElse(4)
    val stealCap = sys.env.get("SPARK_GRAFT_SWEEP_STEAL")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption).getOrElse(2.0)
    // SPARK_GRAFT_SKIP (Bench.skipped): a scale sweep (e.g. sf10's
    // ISOLATED denominators) must exclude exactly the entries its record
    // skips, or the sweep spends an hour on the by-design-quadratic exact
    // pins the record never runs
    val skip = Bench.skipped()
    // same session as Bench, so the isolated times are the denominators
    // of a like-configured run (cores, shuffle tuning, blocking cleanup)
    val spark = SessionTuning.session(sfDir)
    val master = spark.sparkContext.master

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // same post-run drain as Bench.settle: unpersist leaked blocks, then
    // GC and wait for the ContextCleaner so the cleanup IO lands HERE,
    // outside the next timed run
    def settle(): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      Bench.gcAndDrain(spark, t0)
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.startsWith))
      .filterNot(skip)
    val warm = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    names.foreach { name =>
      run(name) // cold: build/JIT cost, untimed
      settle()
      var best: Option[(Double, Double)] = None
      var i = 0
      var accepted = false
      while (i < attempts && !accepted) {
        val k0 = ProcStat.stealTotalTicks()
        val t0 = System.nanoTime()
        run(name)
        val dt = (System.nanoTime() - t0) / 1e9
        val steal = ProcStat.stealPct(k0, ProcStat.stealTotalTicks()).getOrElse(-1.0)
        settle()
        if (best.forall(_._1 > dt)) best = Some((dt, steal))
        accepted = steal >= 0 && steal <= stealCap
        i += 1
      }
      val (sec, steal) = best.get
      warm(name) = (sec, steal)
      println(f"[sweep] $name%-28s ${sec}%.2f s  steal ${steal}%.1f%%" +
        (if (!accepted) s"  (no sample under $stealCap%% in $attempts tries)" else ""))
    }

    // `build_*` denominators (round 11 — the round-10 driver record had
    // three ~2× builds with no self-diagnosis because builds had no
    // ISOLATED entries): same protocol as queries, except each timed run
    // first DROPS the family's session artifacts so the build re-executes.
    // The cold run carries family JIT + the first build; timed runs are
    // warm-JVM rebuilds — the same shape Bench's build re-pass produces,
    // so its >2× comparison is like-for-like.
    val buildEntries = Bench.builds.filter { case (q, metric, _) =>
      args.isEmpty || args.exists(a => q.startsWith(a) || metric.startsWith(a))
    }.filterNot { case (q, metric, _) => skip(q) || skip(metric) }
    buildEntries.foreach { case (q, metric, _) =>
      run(q) // cold: JIT + first build, untimed
      settle()
      var best: Option[(Double, Double)] = None
      var i = 0
      var accepted = false
      while (i < attempts && !accepted) {
        SparkEntry.dropBuildArtifacts(spark, sfDir, q)
        settle() // drop + GC cost outside the timed rebuild
        val k0 = ProcStat.stealTotalTicks()
        val t0 = System.nanoTime()
        run(q)
        val dt = (System.nanoTime() - t0) / 1e9
        val steal = ProcStat.stealPct(k0, ProcStat.stealTotalTicks()).getOrElse(-1.0)
        settle()
        if (best.forall(_._1 > dt)) best = Some((dt, steal))
        accepted = steal >= 0 && steal <= stealCap
        i += 1
      }
      val (sec, steal) = best.get
      warm(metric) = (sec, steal)
      println(f"[sweep] $metric%-28s ${sec}%.2f s  steal ${steal}%.1f%%" +
        (if (!accepted) s"  (no sample under $stealCap%% in $attempts tries)" else ""))
    }
    spark.stop()

    def num(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_ISOLATED_OUT", "ISOLATED.json")
    // targeted refresh: fold the existing file's entries in, keeping the
    // MIN per swept query and every un-swept entry verbatim. GUARD: the
    // merge is only valid within one scale — a prior sf0.1 file merged
    // into an sf1 refresh would relabel cross-scale times as same-scale
    // denominators (the merged file's provenance is stamped with the
    // CURRENT sfDir, which Bench trusts), making the >2x re-pass fire on
    // everything. Parse the prior file's own scale (structured "sf" key;
    // provenance regex for pre-key files) and skip the merge on mismatch.
    if (args.nonEmpty) scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outPath)), "UTF-8")
      val priorSf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1))
        .orElse("""at (\S+) local\[""".r.findFirstMatchIn(txt)
          .map(m => new java.io.File(m.group(1)).getName))
      val curSf = new java.io.File(sfDir).getName
      if (!priorSf.contains(curSf)) {
        println(s"[sweep] prior $outPath is for sf '${priorSf.getOrElse("?")}' " +
          s"!= current '$curSf': NOT merging prior entries (file will hold " +
          "only this run's swept entries)")
        throw new IllegalStateException("sf mismatch") // abort the Try body
      }
      def obj(field: String): Map[String, Double] = {
        val body = (s"""(?s)"$field"\\s*:\\s*\\{(.*?)\\}""": String).r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      val oldWarm = obj("isolated_warm"); val oldSteal = obj("steal")
      val allKeys = SparkEntry.queries.keys.toSeq ++ Bench.builds.map(_._2)
      for (k <- allKeys.sorted; v <- oldWarm.get(k)) {
        warm.get(k) match {
          case Some((nv, _)) if nv <= v => // fresh sample wins, keep it
          case _ => warm(k) = (v, oldSteal.getOrElse(k, -1.0))
        }
      }
      // LinkedHashMap insertion order drifted (swept-first): rebuild sorted
      val sorted = warm.toSeq.sortBy(_._1)
      warm.clear(); sorted.foreach { case (k, v) => warm(k) = v }
    }
    val model = scala.util.Try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/cpuinfo")), "UTF-8")
        .linesIterator.find(_.startsWith("model name"))
        .map(_.split(":", 2)(1).trim).getOrElse("unknown")
    }.getOrElse("unknown")
    val mode =
      if (args.isEmpty)
        s"over ALL ${names.size} SparkEntry queries + ${buildEntries.size} " +
          "build families (each timed build run preceded by a session-" +
          "artifact drop so the build re-executes)"
      else s"targeted refresh of ${names.size + buildEntries.size} entries MIN-merged into the prior file, now ${warm.size} entries"
    val prov = s"graft.IsolatedSweep $mode " +
      s"(inclusion rule enforced by construction) at $sfDir $master on " +
      s"'$model' x${Runtime.getRuntime.availableProcessors()} cores. Per query: " +
      s"1 untimed cold run (JIT + session-cached index builds), then up to " +
      s"$attempts timed warm runs with per-run /proc/stat steal%; first sample " +
      s"<= $stealCap%% steal accepted, else min-time sample kept with its steal " +
      s"recorded in `steal` — a contended entry is conservatively high, which " +
      s"only loosens the >2x re-pass bar. The denominator for Bench's " +
      s"contention re-pass and the in-suite/isolated ratios in STATUS.md."
    val warmJson = warm.map { case (k, (s, _)) => s"\"$k\": ${num(s)}" }
      .mkString("{", ", ", "}")
    val stealJson = warm.map { case (k, (_, st)) => s"\"$k\": ${num(st)}" }
      .mkString("{", ", ", "}")
    // structured "sf" key: Bench's scale guard parses this directly (the
    // provenance-sentence regex remains only as a legacy fallback)
    val out = s"""{"_provenance": "$prov", "sf": "${new java.io.File(sfDir).getName}", "unit": "sec", "isolated_warm": $warmJson, "steal": $stealJson}""" + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.getBytes("UTF-8"))
    println(s"[sweep] wrote $outPath (${warm.size} entries)")
  }
}
