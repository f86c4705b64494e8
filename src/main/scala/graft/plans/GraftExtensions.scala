package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graft.GraftConf

/** Plans the engine's custom logical nodes — the Spark analog of the
  * reference's physical-operator creation callbacks
  * (reference src/hnsw/hnsw_optimize_join.cpp:187-230). */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: HnswIndexScan =>
      HnswIndexScanExec(s.indexName, s.queryVec, s.k, s.rowidAttr, planLater(s.child)) :: Nil
    case c: HnswKnnCandidates =>
      HnswKnnCandidatesExec(c.indexName, c.k, c.vecAttr, c.output, planLater(c.child),
        emitDist = c.distAttr.isDefined) :: Nil
    case _ => Nil
  }
}

/** SparkSessionExtensions installer — the engine's module registration, the
  * analog of the reference's `HNSWModule::Register`
  * (reference src/include/hnsw/hnsw.hpp:9-19): functions + four optimizer
  * extensions + planner strategy. Use with
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftConf.init() // registered before the builder's .config values apply
    // analyzer: make the reference's correlated-ORDER-BY lateral spelling
    // analyzable (Project-pushed sort keys). Analyzer hooks exist only on
    // builder-installed extensions — GraftExtensions.install on an
    // already-built session gets the optimizer rules and functions only.
    e.injectPostHocResolutionRule(_ => PushCorrelatedSortKeys)
    e.injectOptimizerRule(_ => CosineDistanceRewrite)
    e.injectOptimizerRule(_ => TopKToIndexScan)
    e.injectOptimizerRule(_ => MinByKToIndexScan)
    e.injectOptimizerRule(_ => KnnJoinToIndexJoin)
    e.injectPlannerStrategy(_ => GraftStrategy)
  }
}

object GraftExtensions {
  /** Install on an already-built session (tests, notebooks): the same rules
    * via ExperimentalMethods, plus SQL function registration. */
  def install(spark: SparkSession): Unit = {
    GraftConf.init()
    val em = spark.experimental
    val rules = Seq(CosineDistanceRewrite, TopKToIndexScan, MinByKToIndexScan,
      KnnJoinToIndexJoin)
    em.extraOptimizations =
      (em.extraOptimizations ++ rules.filterNot(em.extraOptimizations.contains)).distinct
    if (!em.extraStrategies.contains(GraftStrategy)) {
      em.extraStrategies = em.extraStrategies :+ GraftStrategy
    }
    graft.Graft.registerFunctions(spark)
  }
}
