package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.index.IndexCatalog
import graft.plans.{HnswIndexScan, HnswKnnCandidates}

/** Every registered table has one view shape — one parquet relation over
  * its serving files, anti-joined with its tombstone files — whatever DML
  * it has seen, and the index rules recognize the table by those storage
  * paths. So INSERT and DELETE never move a query off the index, and the
  * view does not deepen per statement. */
class TableViewSpec extends GraftSparkSpec with BeforeAndAfterAll {

  private val dim = 8
  private val rnd = new Random(77)
  private def vecs(n: Int): Array[Array[Float]] =
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = true)))

  private def frame(from: Long, vs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.indices.map(i => Row(from + i, vs(i).toSeq)), 2), schema)

  private def lit(v: Array[Float]): String =
    v.map(x => java.lang.Float.toString(x)).mkString("[", ",", s"]::FLOAT[$dim]")

  private def topkSql(table: String, q: Array[Float], k: Int): String =
    s"SELECT id FROM $table ORDER BY array_distance(vec, ${lit(q)}) LIMIT $k"

  /** Exact top-k ids by L2 distance over the table's live rows. */
  private def bruteForce(table: String, q: Array[Float], k: Int): Seq[Long] =
    spark.table(table).select("id", "vec").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .map { case (id, v) => (v.indices.map(i => { val d = v(i) - q(i); d.toDouble * d }).sum, id) }
      .sorted.take(k).map(_._2)

  private def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  /** An INSERT of 60 rows, an INSERT of 3 and a DELETE of every 5th id. */
  private def someDml(table: String, from: Long): Unit = {
    Graft.insertInto(spark, table, frame(from, vecs(60)))
    GraftSql.sql(spark, s"INSERT INTO $table VALUES " +
      vecs(3).zipWithIndex.map { case (v, i) => s"(${from + 60 + i}, ${lit(v)})" }.mkString(", "))
    GraftSql.sql(spark, s"DELETE FROM $table WHERE id % 5 = 1")
  }

  override def afterAll(): Unit = {
    Seq("tv_single", "tv_sharded", "tv_lat", "tv_depth", "tv_rereg", "tv_unarmed", "tv_align")
      .foreach(t => if (Graft.isRegisteredTable(t)) Graft.dropTable(spark, t))
    IndexCatalog.list.filter(_.name.startsWith("tv_")).foreach(e => IndexCatalog.dropIndex(e.name))
    spark.catalog.dropTempView("tv_probes")
    ()
  }

  Seq(("tv_single", false), ("tv_sharded", true)).foreach { case (table, sharded) =>
    test(s"SQL top-k after INSERT and DELETE plans onto HnswIndexScan " +
        s"(${if (sharded) "sharded" else "single-graph"} index) and equals brute force") {
      Graft.registerTable(spark, table, frame(0L, vecs(240)))
      // ef above the table size: the index answers exactly
      IndexCatalog.createIndex(spark, s"${table}_idx", table, "vec",
        Map("ef_search" -> "1000"), sharded = sharded, numShards = if (sharded) 3 else 0)
      someDml(table, 1000L)
      vecs(4).foreach { q =>
        val df = GraftSql.sql(spark, topkSql(table, q, 7))
        val plan = optimized(df)
        assert(plan.collectFirst { case s: HnswIndexScan => s }.isDefined, plan.treeString)
        assert(df.collect().map(_.getLong(0)).toSeq == bruteForce(table, q, 7))
      }
    }
  }

  test("a LATERAL KNN join over a DML'd inner table plans HnswKnnCandidates") {
    Graft.registerTable(spark, "tv_lat", frame(0L, vecs(200)))
    // the table named in another case: the index still follows its DML
    IndexCatalog.createIndex(spark, "tv_lat_idx", "TV_LAT", "vec", Map("ef_search" -> "1000"))
    someDml("tv_lat", 1000L)
    frame(0L, vecs(6)).createOrReplaceTempView("tv_probes")
    val df = GraftSql.sql(spark,
      """SELECT tv_probes.id AS pid, nbr FROM tv_probes, LATERAL (
        |  SELECT tv_lat.id AS nbr, array_distance(tv_lat.vec, tv_probes.vec) AS dist
        |  FROM tv_lat ORDER BY dist LIMIT 4)""".stripMargin)
    val plan = optimized(df)
    assert(plan.collectFirst { case c: HnswKnnCandidates => c }.isDefined, plan.treeString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val probes = spark.table("tv_probes").collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    probes.foreach { case (pid, q) =>
      assert(got(pid).map(_._2).toSet == bruteForce("tv_lat", q, 4).toSet, s"probe $pid")
    }
  }

  test("the analyzed view has as many nodes after 50 mixed INSERT/DELETE " +
      "statements as after 1") {
    Graft.registerTable(spark, "tv_depth", frame(0L, vecs(50)))
    def analyzed = spark.table("tv_depth").queryExecution.analyzed
    Graft.deleteFrom(spark, "tv_depth", org.apache.spark.sql.functions.col("id") === 0L)
    val afterOne = analyzed.collect { case p => p }.size
    // 25 one-row INSERTs and 24 more one-row DELETEs
    (1 until 50).foreach { i =>
      if (i % 2 == 1) Graft.insertInto(spark, "tv_depth", frame(100L + i, vecs(1)))
      else Graft.deleteFrom(spark, "tv_depth", org.apache.spark.sql.functions.col("id") === i.toLong)
    }
    assert(analyzed.collect { case p => p }.size == afterOne, analyzed.treeString)
    assert(spark.table("tv_depth").count() == 50)
  }

  test("re-registering a table drops its indexes: the old index's hits never " +
      "name the new rows") {
    Graft.registerTable(spark, "tv_rereg", frame(0L, vecs(80)))
    IndexCatalog.createIndex(spark, "tv_rereg_idx", "tv_rereg", "vec", Map("ef_search" -> "1000"))
    // B re-mints rowids 0.. over other rows
    val b = vecs(80)
    Graft.registerTable(spark, "tv_rereg", frame(500L, b))
    assert(IndexCatalog.get("tv_rereg_idx").isEmpty)
    val e = intercept[IllegalArgumentException] {
      Graft.indexTopK(spark, "tv_rereg_idx", b(0), 5).collect()
    }
    assert(e.getMessage.contains("tv_rereg_idx"))
    // a query over B plans as a full scan and reads B's rows
    val df = GraftSql.sql(spark, topkSql("tv_rereg", b(0), 3))
    assert(optimized(df).collectFirst { case s: HnswIndexScan => s }.isEmpty)
    assert(df.collect().map(_.getLong(0)).toSeq == bruteForce("tv_rereg", b(0), 3))
    assert(df.collect().head.getLong(0) == 500L)
  }

  test("a DELETE in an un-armed session is in the state a later checkpoint " +
      "persists, so a restore keeps it") {
    Graft.registerTable(spark, "tv_unarmed", frame(0L, vecs(30)))
    Graft.deleteFrom(spark, "tv_unarmed", org.apache.spark.sql.functions.col("id") % 3 === 0)
    // what TableCatalog.checkpoint writes and restore re-installs
    val (paths, tombs) = Graft.tableStates("tv_unarmed")
    Graft.restoreRegistration(spark, "tv_unarmed", paths, tombs)
    assert(spark.table("tv_unarmed").count() == 20)
  }

  test("insertInto aligns the inserted columns to the table's by name, " +
      "store-casting them; a column that cannot align fails naming it") {
    Graft.registerTable(spark, "tv_align", frame(0L, vecs(5)))
    val v = Array.tabulate(dim)(_.toFloat)
    // reordered columns, id as INT: aligned by name and cast to BIGINT
    val reordered = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(v.toSeq, 42))),
      StructType(Seq(StructField("vec", ArrayType(FloatType)), StructField("id", IntegerType))))
    Graft.insertInto(spark, "tv_align", reordered)
    val back = spark.table("tv_align").where("id = 42").collect()
    assert(back.length == 1)
    assert(back.head.getAs[Long]("id") == 42L)
    assert(back.head.getSeq[Float](back.head.fieldIndex("vec")) == v.toSeq)
    assert(spark.table("tv_align").schema("id").dataType == LongType)
    val missing = intercept[IllegalArgumentException] {
      Graft.insertInto(spark, "tv_align", reordered.select("vec"))
    }
    assert(missing.getMessage.contains("id"))
    val extra = intercept[IllegalArgumentException] {
      Graft.insertInto(spark, "tv_align", reordered.withColumn("bogus", org.apache.spark.sql.functions.lit(1)))
    }
    assert(extra.getMessage.contains("bogus"))
    assert(spark.table("tv_align").count() == 6)
  }
}
