package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftConf

/** The session every entry point runs on (Bench, Verify, IsolatedSweep,
  * ScaleGen: [[session]]), and the scale-adaptive shuffle tuning inside it
  * ([[tuned]], which the benchmark harness applies to its own builder).
  *
  * Round-17 verdict: with `spark.sql.shuffle.partitions = cpus` flat, the
  * 32-core sf0.1 suite ran ~15% SLOWER than the 8-core run — every
  * sub-second query paid 32-task scheduling on kilobyte shuffles. A flat
  * lower constant would just trade the loss to the shuffle-heavy queries
  * (q24/q56/builds) and stop scaling with data. Two data-driven settings
  * instead (guide §2.2 "fewer, larger reduce partitions ... let AQE
  * coalesce"):
  *
  *  - `initialPartitions`: the pre-AQE shuffle width grows with INPUT
  *    BYTES (one initial partition per SPARK_GRAFT_SHUFFLE_TARGET_MB of
  *    on-disk input, default 4 MB ≈ 16–32 MB in-memory), floored at the
  *    core count so a big machine never starts narrower than its cores,
  *    and capped at SPARK_GRAFT_MAX_PARTITIONS (default 4096 — at 100 TB
  *    the right ceiling is cluster-sized; set it with the cluster).
  *  - AQE partition coalescing switched from parallelism-first to
  *    SIZE-first (`parallelismFirst=false`, advisory
  *    SPARK_GRAFT_ADVISORY_MB, default 1 MB): after each shuffle's real
  *    byte counts are known, reducers are packed to the advisory size, so
  *    a kilobyte exchange under a sub-second query collapses to ONE task
  *    while a multi-GB exchange keeps its width. Per-query adaptivity no
  *    single constant can express.
  *
  * Everything is env-parameterized with local defaults; nothing reads the
  * benched corpus itself (only the directory's file sizes — metadata, not
  * results). */
object SessionTuning {

  /** A `local[N]` session over the data in `sfDir`: N from
    * SPARK_GRAFT_CPUS, else every available processor; [[tuned]] shuffle
    * settings; UI off; UTC session time zone; blocking shuffle cleanup;
    * the graft extensions; log level ERROR.
    *
    * Shuffle cleanup is fire-and-forget by default: the ContextCleaner
    * dispatches removeShuffle and moves on, so the file deletion IO can
    * land inside the NEXT query's timed region. Blocking mode makes the
    * cleaner thread wait per task, so Bench's and IsolatedSweep's drain
    * wait actually covers the deletions. ERROR, not WARN: repeated
    * function-registration WARNs would land in Bench's 2000-char
    * stdout-tail window and crowd out its JSON line. */
  def session(sfDir: String): SparkSession = {
    GraftConf.init() // a malformed graft.* .config fails at getOrCreate
    val cpus = GraftConf.Cpus.get.getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = tuned(SparkSession.builder().master(s"local[$cpus]"),
        sfDir, cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Recursive byte size of the files under `dir` (0 if absent), read
    * through the path's Hadoop FileSystem (see [[graft.index.ArtifactIO.treeBytes]]). */
  def dirBytes(dir: String): Long = graft.index.ArtifactIO.treeBytes(dir)

  /** Pre-AQE shuffle partition count: input-bytes-derived, floored at the
    * core count, capped. SPARK_GRAFT_SHUFFLE_PARTITIONS overrides. */
  def initialPartitions(sfDir: String, cpus: Int): Int =
    GraftConf.ShufflePartitions.get.getOrElse {
      val targetMb = GraftConf.ShuffleTargetMb.get.getOrElse(4)
      val cap = GraftConf.MaxPartitions.get.getOrElse(4096)
      val byInput =
        math.ceil(dirBytes(sfDir) / (targetMb * 1024.0 * 1024.0)).toInt
      math.min(math.max(byInput, math.max(cpus, 1)), cap)
    }

  /** Apply the scale-adaptive shuffle settings to a session builder.
    *
    * Advisory default is 1 MB, NOT the 64 MB a cluster would use: measured
    * at sf0.1/local[32], 16 MB size-first coalescing serialized the
    * CPU-dense reduce stages whose bytes are small but whose per-byte cost
    * is high (q24 2.52→1.85 s, q56 1.88→1.60 s, q44 0.93→0.66 s warm going
    * 16 MB→1 MB) — AQE packs by bytes and cannot see CPU density. 1 MB
    * still collapses the kilobyte exchanges under sub-second queries to
    * one task. On a production cluster set SPARK_GRAFT_ADVISORY_MB to
    * 64–256 (guide §2.2): there the per-partition fixed costs (fetch
    * round-trips, task scheduling over the network) dwarf local-mode's,
    * and reduce work per byte is amortized across machines. */
  def tuned(b: SparkSession.Builder, sfDir: String,
      cpus: Int): SparkSession.Builder = {
    val advisoryMb = GraftConf.AdvisoryMb.get.getOrElse(1)
    b.config("spark.sql.shuffle.partitions", initialPartitions(sfDir, cpus))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryMb}m")
      // executeTake escalation (limit/head collects scan 1 partition, then
      // 4x more per retry — each retry a full sequential job) is tuned for
      // selective limits over huge scans; here every partition is small and
      // a driver probe that needs most rows (materializeQterms' bounded
      // collect, embQueryVec's filtered head) pays 3-4 back-to-back jobs'
      // fixed latency for nothing. Default max(cpus, 16), NOT "all": at
      // sf0.1/local[32] that is every partition in one job (measured: q56
      // in-suite 2.35 -> 2.01 s and the vector-probe family 1.3-1.6x),
      // while at sf10's ~380 input-derived partitions a SELECTIVE head()
      // (embQueryVec's vec_id filter, answered by the first partitions)
      // must not scan the whole table — a 4096 default measured q27/q53/
      // q54/q68/q80 0.6-0.9 s slower each at sf10.
      .config("spark.sql.limit.initialNumPartitions",
        GraftConf.LimitInitialPartitions.get.getOrElse(math.max(cpus, 16)))
  }
}
