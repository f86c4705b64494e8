package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftConf

import graft.index.{IndexCatalog, ShardedHnswIndex}
import graft.plans.GraftOptimizerGate

/** Every graft knob is declared once in [[GraftConf]]. Table-driven over
  * its `graft.*` entries: Spark rejects a malformed value at
  * `spark.conf.set` and at SQL `SET`, the entry's own parse rejects it as a
  * JVM property at the read, and each error names the key; a valid value
  * reads the same from the session as from the property, and the session
  * wins. The env entries fail in `SessionTuning`, naming the variable. Each
  * case restores what it sets (session conf, JVM property, environment). */
class KnobsSpec extends GraftSparkSpec {

  private def sqlConf = spark.sessionState.conf

  private def withProp[T](key: String, value: String)(body: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  /** Sets `key` in the session (`null`: unsets it) and restores the
    * session's explicit setting, or its absence, afterwards. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = if (sqlConf.contains(key)) Some(sqlConf.getConfString(key)) else None
    if (value == null) spark.conf.unset(key) else spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
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
    assert(!e.isInstanceOf[NumberFormatException], e)
    assert(e.getMessage.contains(key), e.getMessage)
  }

  /** One `graft.*` entry: a value Spark must reject, a valid one, the read
    * a call site makes and what that valid value reads as. */
  private case class Knob(key: String, bad: String, good: String,
      read: () => Any, expect: Any, title: Option[String] = None,
      extra: () => Unit = () => ())

  private val knobs = Seq(
    Knob(GraftOptimizerGate.ConfKey, "yes", "false",
      () => GraftOptimizerGate.enabled(sqlConf), false),
    Knob(IndexCatalog.EfSearchConfKey, "x", " 40 ",
      // a set value decides the ef before the index entry is consulted
      () => IndexCatalog.resolveEf(null, sqlConf), (40, true),
      Some("graft.hnsw.efSearch (IndexCatalog.resolveEf)")),
    Knob(IndexCatalog.AutoScaleConfKey, "rout", "Route",
      () => GraftConf.AutoScaleBuild.get(spark), "route"),
    Knob(IndexCatalog.AutoScaleThresholdConfKey, "x", "5000000000",
      () => GraftConf.AutoScaleThreshold.get(spark), 5000000000L,
      Some("graft.hnsw.autoScaleThreshold, at the read and inside CREATE INDEX"),
      () => autoScaleThresholdInCreateIndex()),
    Knob(IndexCatalog.AutoShardRowsConfKey, "x", "99",
      () => GraftConf.AutoShardRows.get(), 99,
      Some("graft.hnsw.autoShardRows (compaction target): conf, then property")),
    Knob(IndexCatalog.DeltaSpillRowsConfKey, "x", "99",
      () => GraftConf.DeltaSpillRows.get(), 99,
      Some("graft.hnsw.deltaSpillRows: conf, then property")),
    Knob(IndexCatalog.PersistenceConfKey, "yes", "true",
      () => GraftConf.ExperimentalPersistence.get(spark), true),
    Knob(IndexCatalog.PersistentDatabaseConfKey, "yes", "true",
      () => GraftConf.PersistentDatabase.get(spark), true),
    Knob("graft.indexes.dir", " ", "/tmp/knobs-indexes",
      () => IndexCatalog.indexArtifactDir, "/tmp/knobs-indexes"),
    Knob("graft.tables.dir", " ", "/tmp/knobs-tables",
      () => Graft.defaultTableDir, "/tmp/knobs-tables"),
    Knob("graft.ingest.shardBatchThreshold", "x", "8",
      () => GraftConf.IngestShardBatchThreshold.get(spark), 8),
    Knob("graft.ingest.rowsPerShard", "1.5", "1000",
      () => GraftConf.IngestRowsPerShard.get(spark), 1000),
    Knob(GraftSql.CosineInfixConfKey, "yes", "false",
      () => GraftConf.SqlCosineInfix.get(spark), false),
    Knob(GraftSql.NullOrderConfKey, "yes", "false",
      () => GraftConf.SqlDuckdbNullOrder.get(spark), false),
    Knob("graft.shardCache.maxEntries", "x", "5",
      () => GraftConf.ShardCacheMaxEntries.get(), 5),
    Knob("graft.qterms.local.cap", "x", "2",
      () => GraftConf.QTermsLocalCap.get(), 2))

  knobs.foreach { k =>
    test(k.title.getOrElse(k.key)) {
      withConf(k.key, null) {
        assertNamesKey(k.key)(spark.conf.set(k.key, k.bad))
        assertNamesKey(k.key)(GraftSql.sql(spark, s"SET ${k.key}=${k.bad}"))
        assert(!sqlConf.contains(k.key), "a rejected value never lands")
        withProp(k.key, k.bad)(assertNamesKey(k.key)(k.read()))
        withProp(k.key, k.good)(assert(k.read() == k.expect))
        // the session's explicit setting wins over the property
        withProp(k.key, k.bad)(withConf(k.key, k.good)(assert(k.read() == k.expect)))
        k.extra()
      }
    }
  }

  private def autoScaleThresholdInCreateIndex(): Unit = {
    val key = IndexCatalog.AutoScaleThresholdConfKey
    Graft.registerTable(spark, "knobs_t", spark.range(8).selectExpr(
      "id AS vec_id", "array(CAST(id AS FLOAT), 1.0F) AS embedding"))
    try {
      withConf(IndexCatalog.AutoScaleConfKey, "route") {
        withProp(key, "x")(assertNamesKey(key)(
          IndexCatalog.createIndex(spark, "knobs_idx", "knobs_t", "embedding")))
      }
      assert(IndexCatalog.get("knobs_idx").isEmpty)
    } finally Graft.dropTable(spark, "knobs_t")
  }

  test("SET -v lists every graft.* key with a doc") {
    val listed = spark.sql("SET -v").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
      .filter(_._1.startsWith("graft."))
    assert(listed.keySet == knobs.map(_.key).toSet)
    listed.foreach { case (key, doc) => assert(doc.trim.nonEmpty, key) }
  }

  test("a malformed builder .config fails at getOrCreate, naming the key") {
    val key = IndexCatalog.DeltaSpillRowsConfKey
    assertNamesKey(key)(SparkSession.builder().config(key, "x").getOrCreate())
    assert(!sqlConf.contains(key))
  }

  test("graft.hnsw.autoScaleBuild takes its five values in any case") {
    Seq("TRUE" -> "true", "Knobs" -> "knobs", "ROUTE" -> "route",
      "False" -> "false", "OFF" -> "off").foreach { case (set, read) =>
      withConf(IndexCatalog.AutoScaleConfKey, set)(
        assert(GraftConf.AutoScaleBuild.get(spark) == read))
    }
  }

  test("SET hnsw_ef_search out of int range fails naming the key") {
    withConf(IndexCatalog.EfSearchConfKey, null) {
      assertNamesKey(IndexCatalog.EfSearchConfKey)(
        GraftSql.sql(spark, "SET hnsw_ef_search = 99999999999"))
      assert(!sqlConf.contains(IndexCatalog.EfSearchConfKey))
    }
  }

  test("the graft.hnsw.autoShardRows property sizes a route build's shards") {
    import spark.implicits._
    Graft.registerTable(spark, "knobs_route", (0 until 200).map(i =>
      (i.toLong, Seq(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, 1f)))
      .toDF("vec_id", "embedding"))
    try {
      withConf(IndexCatalog.AutoShardRowsConfKey, null) {
        withConf(IndexCatalog.AutoScaleConfKey, "route") {
          withConf(IndexCatalog.AutoScaleThresholdConfKey, "50") {
            withProp(IndexCatalog.AutoShardRowsConfKey, "20") {
              val e = IndexCatalog.createIndex(spark, "knobs_route_idx",
                "knobs_route", "embedding")
              val counts = e.index.asInstanceOf[ShardedHnswIndex].shards.map(_.count)
              assert(counts.sum == 200)
              assert(counts.forall(_ <= 20), counts.mkString(","))
            }
          }
        }
      }
    } finally {
      IndexCatalog.dropIndex("knobs_route_idx")
      Graft.dropTable(spark, "knobs_route")
    }
  }

  test("SPARK_GRAFT_CPUS fails before any session is built") {
    val key = "SPARK_GRAFT_CPUS"
    withEnv(key, "x")(assertNamesKey(key)(SessionTuning.session(sfDir)))
  }

  test("SessionTuning's env knobs") {
    def tune() = SessionTuning.tuned(SparkSession.builder(), sfDir, 4)
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

  test("configuration is read only in GraftConf") {
    // harness mains: their env settings (fixture dirs, output paths) are
    // run I/O, not engine knobs
    val exempt = Set("GraftConf.scala", "Bench.scala", "IsolatedSweep.scala",
      "Verify.scala")
    val read = ("""sys\.props|sys\.env|System\.getProperty|System\.getenv|""" +
      """getConfString|conf\.(get|getOption)\(\s*("graft\.|"SPARK_GRAFT_|""" +
      """\w*ConfKey|GraftConf)""").r
    def offends(line: String): Boolean = {
      val t = line.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) &&
        read.findFirstIn(line).isDefined && !line.contains("\"java.io.tmpdir\"")
    }
    assert(offends("""    Knobs.propInt(sys.props.get("graft.x"))"""))
    assert(offends("""    spark.conf.getOption(AutoShardRowsConfKey)"""))
    val files = Files.walk(Paths.get("src/main"))
    val hits =
      try files.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          (p.toString.endsWith(".scala") || p.toString.endsWith(".java")) &&
          !exempt(p.getFileName.toString))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (l, i) if offends(l) => s"$p:${i + 1}: ${l.trim}" }
        }.toList
      finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
