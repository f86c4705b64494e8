package graft

import graft.index.{IndexCatalog, ShardCache, ShardedHnswIndex}
import graft.ops.TextSearch

/** Every ad hoc integer knob parses through [[Knobs]]: a malformed value
  * fails with an IllegalArgumentException naming its key, and a valid one
  * reads as it always did. Each case restores the prior value of what it
  * sets (JVM property, session conf or environment variable). */
class KnobsSpec extends GraftSparkSpec {

  private def withProp[T](key: String, value: String)(body: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The JVM's environment map is read-only from Java; the backing map of
    * `System.getenv()` is reached reflectively (java.util is opened to the
    * test JVM, see build.sbt) so a case can set a variable and restore it. */
  private def withEnv[T](key: String, value: String)(body: => T): T = {
    val env = System.getenv()
    val f = env.getClass.getDeclaredField("m")
    f.setAccessible(true)
    val m = f.get(env).asInstanceOf[java.util.Map[String, String]]
    val prev = m.put(key, value)
    try body
    finally { if (prev == null) m.remove(key) else m.put(key, prev) }
  }

  private def assertNamesKey(key: String)(read: => Any): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(key), e.getMessage)
  }

  test("graft.ingest.shardBatchThreshold") {
    val key = "graft.ingest.shardBatchThreshold"
    withProp(key, "x")(assertNamesKey(key)(Graft.shardBatchThreshold))
    withProp(key, "8")(assert(Graft.shardBatchThreshold == 8))
  }

  test("graft.ingest.rowsPerShard") {
    val key = "graft.ingest.rowsPerShard"
    withProp(key, "x")(assertNamesKey(key)(Graft.ingestRowsPerShard))
    withProp(key, "1000")(assert(Graft.ingestRowsPerShard == 1000))
  }

  test("graft.shardCache.maxEntries") {
    val key = "graft.shardCache.maxEntries"
    withProp(key, "x")(assertNamesKey(key)(ShardCache.maxEntries))
    withProp(key, "5")(assert(ShardCache.maxEntries == 5))
  }

  test("graft.qterms.local.cap") {
    val key = "graft.qterms.local.cap"
    withProp(key, "x")(assertNamesKey(key)(TextSearch.qtermsLocalCap))
    withProp(key, "2")(assert(TextSearch.qtermsLocalCap == 2))
  }

  test("graft.hnsw.autoShardRows (compaction target): conf, then property") {
    val key = IndexCatalog.AutoShardRowsConfKey
    withConf(key, "x")(assertNamesKey(key)(ShardedHnswIndex.compactTargetRows))
    withProp(key, "x")(assertNamesKey(key)(ShardedHnswIndex.compactTargetRows))
    withProp(key, "99") {
      assert(ShardedHnswIndex.compactTargetRows == 99)
      withConf(key, "77")(assert(ShardedHnswIndex.compactTargetRows == 77))
    }
  }

  test("graft.hnsw.deltaSpillRows: conf, then property") {
    val key = IndexCatalog.DeltaSpillRowsConfKey
    withConf(key, "x")(assertNamesKey(key)(ShardedHnswIndex.deltaSpillRows))
    withProp(key, "x")(assertNamesKey(key)(ShardedHnswIndex.deltaSpillRows))
    withProp(key, "99") {
      assert(ShardedHnswIndex.deltaSpillRows == 99)
      withConf(key, "77")(assert(ShardedHnswIndex.deltaSpillRows == 77))
    }
  }

  test("graft.hnsw.efSearch (IndexCatalog.resolveEf)") {
    val key = IndexCatalog.EfSearchConfKey
    // a set value decides the ef before the index entry is consulted
    withConf(key, "x")(assertNamesKey(key)(
      IndexCatalog.resolveEf(null, spark.conf.getOption)))
    withConf(key, " 40 ")(assert(
      IndexCatalog.resolveEf(null, spark.conf.getOption) == ((40, true))))
  }

  test("SPARK_GRAFT_CPUS fails before any session is built") {
    val key = "SPARK_GRAFT_CPUS"
    withEnv(key, "x")(assertNamesKey(key)(SessionTuning.session(sfDir)))
  }

  test("SessionTuning's env knobs") {
    def tune() = SessionTuning.tuned(
      org.apache.spark.sql.SparkSession.builder(), sfDir, 4)
    Seq("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SHUFFLE_TARGET_MB",
      "SPARK_GRAFT_MAX_PARTITIONS", "SPARK_GRAFT_ADVISORY_MB",
      "SPARK_GRAFT_LIMIT_INITIAL_PARTITIONS").foreach { key =>
      withEnv(key, "x")(assertNamesKey(key)(tune()))
    }
    withEnv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")(
      assert(SessionTuning.initialPartitions(sfDir, 4) == 7))
    withEnv("SPARK_GRAFT_MAX_PARTITIONS", "3")(
      assert(SessionTuning.initialPartitions(sfDir, 4) == 3))
  }
}
