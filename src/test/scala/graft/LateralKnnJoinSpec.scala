package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.index.IndexCatalog
import graft.plans.{HnswKnnCandidates, HnswKnnCandidatesExec, KnnJoinToIndexJoin}

/** SQL `FROM probes, LATERAL (… ORDER BY dist LIMIT k)` plans like
  * `Graft.knnJoin`: the decorrelated domain join is collapsed, so the probe
  * rows stream into the index join with no distinct-vector aggregate, no
  * shuffle and no join-back. `LEFT JOIN LATERAL` keeps the domain join. */
class LateralKnnJoinSpec extends GraftSparkSpec with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val (items, index, dim, k) = ("lat_items", "lat_items_idx", 8, 5)
  private val distinctVecs = 25
  private val nProbes = 40

  private val rnd = new Random(4242)
  private val itemVecs = Array.fill(300)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  private val probeVecs = Array.fill(distinctVecs)(Array.fill(dim)(rnd.nextGaussian().toFloat))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** `nProbes` probe rows in 4 partitions; ids from `distinctVecs` on repeat
    * the vectors of ids 0.. (distinct ids, duplicate vectors). With `nulls`,
    * every 7th id has a NULL vector. */
  private def probes(nulls: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize((0 until nProbes).map { i =>
      Row(i.toLong, if (nulls && i % 7 == 3) null else probeVecs(i % distinctVecs).toSeq)
    }, 4), schema)

  private val joinSql =
    s"""SELECT probes.id AS pid, nbr FROM probes, LATERAL (
       |  SELECT $items.id AS nbr, array_distance($items.vec, probes.vec) AS dist
       |  FROM $items ORDER BY dist LIMIT $k)""".stripMargin

  private val leftSql =
    s"""SELECT probes.id AS pid, l.dist FROM probes LEFT JOIN LATERAL (
       |  SELECT array_distance($items.vec, probes.vec) AS dist
       |  FROM $items ORDER BY dist NULLS LAST LIMIT $k) l ON true""".stripMargin

  override def beforeAll(): Unit = {
    Graft.registerTable(spark, items, spark.createDataFrame(spark.sparkContext.parallelize(
      itemVecs.indices.map(i => Row(i.toLong, itemVecs(i).toSeq)), 2), schema))
    // ef above the table size: the index answers exactly, so the brute-force
    // comparisons below are exact
    IndexCatalog.createIndex(spark, index, items, "vec", Map("ef_search" -> "1000"))
  }

  override def afterAll(): Unit = {
    IndexCatalog.dropIndex(index)
    Graft.dropTable(spark, items)
    spark.catalog.dropTempView("probes")
    ()
  }

  /** The plan AQE finally ran; call after the frame has executed. */
  private def finalPlan(df: DataFrame): SparkPlan = stripAQEPlan(df.queryExecution.executedPlan)

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Per probe id, its sorted distances (NULL first): ties may pick other
    * neighbour ids, distances may not differ. */
  private def distsByProbe(df: DataFrame): Map[Long, Seq[Option[Double]]] =
    df.collect().toSeq.groupBy(_.getLong(0)).map { case (p, rs) =>
      p -> rs.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
        .sortBy(_.getOrElse(-1.0))
    }

  private def withoutIndex[A](body: => A): A = {
    IndexCatalog.dropIndex(index)
    try body
    finally IndexCatalog.createIndex(spark, index, items, "vec", Map("ef_search" -> "1000"))
  }

  test("the LATERAL join streams the probes into HnswKnnJoin: no vector " +
      "aggregate, no shuffle, no sort-merge join-back; answers equal " +
      "Graft.knnJoin's and every duplicate-vector probe keeps its own k rows") {
    probes(nulls = false).createOrReplaceTempView("probes")
    val df = GraftSql.sql(spark, joinSql)
    val got = pairs(df)
    val p = finalPlan(df).toString
    assert(p.contains("HnswKnnJoin"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)

    val viaApi = Graft.knnJoin(spark, probes(nulls = false).withColumnRenamed("id", "pid"),
      "vec", index, k)
    assert(got == pairs(viaApi.select("pid", "id")))

    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == (0L until nProbes).toSet)
    assert(byProbe.values.forall(_.size == k))
    // a repeated vector gets the same neighbours under each of its ids
    (distinctVecs until nProbes).foreach { i =>
      assert(byProbe(i.toLong).map(_._2).toSet ==
        byProbe((i % distinctVecs).toLong).map(_._2).toSet, s"probe $i")
    }
    withoutIndex { assert(pairs(GraftSql.sql(spark, joinSql)) == got) }
  }

  test("NULL-vector probes: the collapsed join streams the non-NULL probes " +
      "and keeps the NULL ones' rows, as brute force does") {
    probes(nulls = true).createOrReplaceTempView("probes")
    val sql = s"""SELECT probes.id AS pid, dist FROM probes, LATERAL (
                 |  SELECT array_distance($items.vec, probes.vec) AS dist
                 |  FROM $items ORDER BY dist NULLS LAST LIMIT $k)""".stripMargin
    val df = GraftSql.sql(spark, sql)
    val viaIdx = distsByProbe(df)
    val knn = collect(finalPlan(df)) { case e: HnswKnnCandidatesExec => e }
    assert(knn.size == 1, finalPlan(df).toString)
    assert(knn.head.find(_.nodeName.contains("HashAggregate")).isEmpty, knn.head.toString)
    assert(viaIdx.keySet == (0L until nProbes).toSet)
    assert(viaIdx.filter(_._2.contains(None)).keySet ==
      (0L until nProbes).filter(_ % 7 == 3).toSet)
    withoutIndex { assert(distsByProbe(GraftSql.sql(spark, sql)) == viaIdx) }
  }

  test("LEFT JOIN LATERAL … ON true keeps the domain join and answers as " +
      "brute force does, NULL-vector probes included") {
    probes(nulls = true).createOrReplaceTempView("probes")
    val df = GraftSql.sql(spark, leftSql)
    // the inner window is on the index; the collapse declined, so the
    // candidates still read the distinct-vector domain
    val cands = df.queryExecution.optimizedPlan.collect { case c: HnswKnnCandidates => c }
    assert(cands.nonEmpty, df.queryExecution.optimizedPlan.treeString)
    assert(cands.forall(_.child.exists(_.isInstanceOf[Aggregate])),
      df.queryExecution.optimizedPlan.treeString)
    val viaIdx = distsByProbe(df)
    assert(viaIdx.keySet == (0L until nProbes).toSet)
    assert(viaIdx.values.forall(_.size == k))
    withoutIndex { assert(distsByProbe(GraftSql.sql(spark, leftSql)) == viaIdx) }
  }

  test("the collapse declines when the domain is not the outer side's own rows") {
    probes(nulls = true).createOrReplaceTempView("probes")
    val optimized = GraftSql.sql(spark, leftSql).queryExecution.optimizedPlan
    val inner = optimized.collectFirst { case j: Join if j.joinType == LeftOuter => j }.get
      .copy(joinType = Inner)
    def streams(p: LogicalPlan): Boolean = p.exists {
      case c: HnswKnnCandidates => !c.child.exists(_.isInstanceOf[Aggregate])
      case _ => false
    }
    assert(!streams(inner) && streams(KnnJoinToIndexJoin(inner)), inner.treeString)
    // a domain filtered by `id < 10`, which the outer side does not apply,
    // lacks the vectors of the other probes: their rows must stay dropped
    val narrowed = inner.transformDown {
      case a: Aggregate => a.copy(child = a.child.transformUp {
        case r: LogicalRDD => Filter(LessThan(r.output.head, Literal(10L)), r)
      })
    }
    assert(KnnJoinToIndexJoin(narrowed) == narrowed, narrowed.treeString)
  }

  test("HnswKnnJoin metrics: probes count every outer row searched, " +
      "duplicates included; output rows are probes × k") {
    probes(nulls = false).createOrReplaceTempView("probes")
    val df = GraftSql.sql(spark, joinSql)
    df.collect()
    val m = collect(finalPlan(df)) { case e: HnswKnnCandidatesExec => e }.head.metrics
    assert(m("numProbes").value == nProbes)
    assert(m("numOutputRows").value == nProbes * k)
    assert(m("searchTime").value > 0)

    // NULL vectors are not searched
    val api = Graft.knnJoin(spark, probes(nulls = true).withColumnRenamed("id", "pid"),
      "vec", index, k)
    api.collect()
    val nonNull = (0 until nProbes).count(_ % 7 != 3)
    val m2 = collect(finalPlan(api)) { case e: HnswKnnCandidatesExec => e }.head.metrics
    assert(m2("numProbes").value == nonNull)
    assert(m2("numOutputRows").value == nonNull * k)
  }
}
