package org.apache.spark.sql.graft

import java.util.Locale

import org.apache.spark.internal.config.ConfigEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Every graft configuration knob, declared once.
  *
  * The `graft.*` keys are Spark SQL conf entries: Spark parses and
  * validates a value where it is set (`spark.conf.set`, SQL `SET`, a
  * builder `.config`), its error names the key, and `SET -v` lists each key
  * with its doc. Every entry is read in one order ([[Entry.get]]): the
  * session's explicit setting, else the JVM property of the same name
  * (parsed by the entry, so a bad one names the key too), else the default.
  * The property is the only source inside an executor task, where no
  * `graft.*` session conf arrives.
  *
  * The `SPARK_GRAFT_*` environment variables size the session before it
  * exists, so they are not conf entries.
  *
  * Lives under `org.apache.spark.sql` because `SQLConf.buildConf` returns a
  * `private[spark]` builder. An entry validates only once this object has
  * initialized and registered it: [[init]] forces that at session start. */
object GraftConf {

  final class Entry[T] private[GraftConf] (entry: ConfigEntry[T]) {
    val key: String = entry.key

    def get(conf: SQLConf): T =
      if (conf.contains(key)) conf.getConf(entry)
      else sys.props.get(key).fold(conf.getConf(entry))(entry.valueConverter)

    /** Read through the calling thread's conf: the active session's on the
      * driver, none in an executor task. */
    def get(): T = get(SQLConf.get)

    def get(spark: SparkSession): T = get(spark.sessionState.conf)

    /** Run `body` with this entry set to `value` in `spark`'s session, then
      * restore the session's explicit setting, or its absence. */
    def withValue[A](spark: SparkSession, value: String)(body: => A): A = {
      val conf = spark.sessionState.conf
      val prev = if (conf.contains(key)) Some(conf.getConfString(key)) else None
      conf.setConfString(key, value)
      try body
      finally prev.fold(conf.unsetConf(key))(conf.setConfString(key, _))
    }
  }

  /** A `SPARK_GRAFT_*` integer environment variable. */
  final class EnvInt private[GraftConf] (val name: String) {
    /** The variable's value when set; a malformed one fails naming it. */
    def get: Option[Int] = sys.env.get(name).map(v => v.trim.toIntOption
      .getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer, got '$v'")))
  }

  /** Registers every entry (by initializing this object). */
  def init(): Unit = ()

  private def conf(key: String, doc: String) = SQLConf.buildConf(key).doc(doc)
  private def entry[T](e: ConfigEntry[T]) = new Entry(e)

  val OptimizerEnabled = entry(conf("graft.optimizer.enabled",
    "Whether graft's optimizer rewrites run (cosine-distance canonicalization, " +
      "top-k and KNN-join index scans). PRAGMA disable_optimizer and " +
      "enable_optimizer set it.")
    .booleanConf.createWithDefault(true))

  val EfSearch = entry(conf("graft.hnsw.efSearch",
    "Query-time HNSW ef for every index (the reference's SET hnsw_ef_search). " +
      "A set value is a pin: sharded fan-out searches use it verbatim instead " +
      "of raising it to the per-shard floor. Unset, each index's build-time " +
      "ef_search applies.")
    .intConf.createOptional)

  val AutoScaleBuild = entry(conf("graft.hnsw.autoScaleBuild",
    "Scale-aware CREATE INDEX arm, case-insensitive. off or false: one graph " +
      "with the given knobs. true or knobs: past autoScaleThreshold rows, " +
      "unset M and ef_construction rise to (32, 256). route: past it, one " +
      "scan builds bounded executor shards. Explicitly sharded builds ignore it.")
    .stringConf.transform(_.trim.toLowerCase(Locale.ROOT))
    .checkValues(Set("off", "false", "true", "knobs", "route"))
    .createWithDefault("off"))

  val AutoScaleThreshold = entry(conf("graft.hnsw.autoScaleThreshold",
    "Rows past which the autoScaleBuild arms apply.")
    .longConf.createWithDefault(16384L))

  val AutoShardRows = entry(conf("graft.hnsw.autoShardRows",
    "Rows per shard of a route CREATE INDEX, and compaction's output target.")
    .intConf.createWithDefault(16384))

  val DeltaSpillRows = entry(conf("graft.hnsw.deltaSpillRows",
    "Rows at which a sharded index's driver-side DML delta graph is sealed " +
      "into a shard artifact: the memtable-flush bound that keeps driver heap " +
      "constant under sustained ingest. A spilled delta is a routed shard, so " +
      "the default matches autoShardRows.")
    .intConf.createWithDefault(16384))

  val ExperimentalPersistence = entry(conf(
    "graft.hnsw.enableExperimentalPersistence",
    "Allow HNSW indexes in a persistent database and their CHECKPOINT (the " +
      "reference's hnsw_enable_experimental_persistence, " +
      "src/hnsw/hnsw_index_plan.cpp:21-30).")
    .booleanConf.createWithDefault(false))

  val PersistentDatabase = entry(conf("graft.database.persistent",
    "The session models a persistent database (the reference replayer's load, " +
      "or a deployment whose tables and indexes must survive restart): CREATE " +
      "INDEX then requires graft.hnsw.enableExperimentalPersistence, as the " +
      "reference does for on-disk databases.")
    .booleanConf.createWithDefault(false))

  private def tmpDir(name: String): String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/" + name

  val IndexesDir = entry(conf("graft.indexes.dir",
    "Directory (any Hadoop filesystem URI) for index artifacts. Default: " +
      "graft-indexes under java.io.tmpdir.")
    .stringConf.checkValue(_.trim.nonEmpty, "must be a non-empty path")
    .createWithDefaultFunction(() => tmpDir("graft-indexes")))

  val TablesDir = entry(conf("graft.tables.dir",
    "Directory (any Hadoop filesystem URI) for engine-managed table data. " +
      "Default: graft-tables under java.io.tmpdir.")
    .stringConf.checkValue(_.trim.nonEmpty, "must be a non-empty path")
    .createWithDefaultFunction(() => tmpDir("graft-tables")))

  val IngestShardBatchThreshold = entry(conf("graft.ingest.shardBatchThreshold",
    "INSERT batches of at least this many rows reach a sharded index as " +
      "executor-built shards instead of the driver-side delta graph.")
    .intConf.createWithDefault(4096))

  val IngestRowsPerShard = entry(conf("graft.ingest.rowsPerShard",
    "Target rows per shard that such an INSERT builds.")
    .intConf.createWithDefault(262144))

  val SqlCosineInfix = entry(conf("graft.sql.cosineInfix",
    "GraftSql reads <=> as the reference dialect's cosine distance; false " +
      "keeps Spark's null-safe equality.")
    .booleanConf.createWithDefault(true))

  val SqlDuckdbNullOrder = entry(conf("graft.sql.duckdbNullOrder",
    "GraftSql sorts NULLs last on ASC, as DuckDB does; false keeps Spark's " +
      "NULLS FIRST.")
    .booleanConf.createWithDefault(true))

  val ShardCacheMaxEntries = entry(conf("graft.shardCache.maxEntries",
    "Shard graphs each JVM keeps loaded (LRU).")
    .intConf.createWithDefault(32))

  val QTermsLocalCap = entry(conf("graft.qterms.local.cap",
    "Rows of the exploded (query, term) table that BM25 batch scoring holds " +
      "on the driver; a larger table is checkpointed instead.")
    .intConf.createWithDefault(1 << 19))

  /** `local[N]` cores of the entry points' session. Default: all. */
  val Cpus = new EnvInt("SPARK_GRAFT_CPUS")
  /** Pre-AQE shuffle partitions; overrides the input-size rule. */
  val ShufflePartitions = new EnvInt("SPARK_GRAFT_SHUFFLE_PARTITIONS")
  /** On-disk input MB per initial shuffle partition. Default 4. */
  val ShuffleTargetMb = new EnvInt("SPARK_GRAFT_SHUFFLE_TARGET_MB")
  /** Cap on the input-derived initial partitions. Default 4096. */
  val MaxPartitions = new EnvInt("SPARK_GRAFT_MAX_PARTITIONS")
  /** AQE advisory partition size in MB. Default 1. */
  val AdvisoryMb = new EnvInt("SPARK_GRAFT_ADVISORY_MB")
  /** `spark.sql.limit.initialNumPartitions`. Default max(cores, 16). */
  val LimitInitialPartitions = new EnvInt("SPARK_GRAFT_LIMIT_INITIAL_PARTITIONS")
}
