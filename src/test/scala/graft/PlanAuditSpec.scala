package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

import graft.plans.HnswKnnCandidatesExec

/** Pins the plan-level properties the engine's scale story depends on —
  * a regression here silently turns a scalable plan into a scan-everything
  * plan long before any benchmark notices at test SF. */
class PlanAuditSpec extends GraftSparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q05: filters reach the parquet scan (PushedFilters non-empty)") {
    val p = plan("q05_selective_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // column pruning: only the referenced columns are read
    assert(p.contains("ReadSchema") && !p.contains("l_comment"), p)
  }

  test("q03: dimension join broadcasts, fact side streams") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q02/q10: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("q02_top_orders").contains("TakeOrderedAndProject"))
    val p10 = plan("q10_knn_l2")
    assert(p10.contains("TakeOrderedAndProject"), p10)
  }

  test("q13: cross product never shuffles (broadcast NL join + bounded agg)") {
    val p = plan("q13_vss_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only wide ops: the k-bounded group-by and the output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
  }

  test("q27: the SQL LATERAL KNN join streams its outer rows into " +
      "HnswKnnJoin, with no sort-merge join back to them") {
    val physical = SparkEntry.queries("q27_lateral_knn")(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // not run yet: the whole plan
        case other => other
      }
    val p = physical.toString
    assert(p.contains("HnswKnnJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the index join reads q's rows, not a distinct-vector aggregate of them
    val knn = physical.collect { case e: HnswKnnCandidatesExec => e }
    assert(knn.nonEmpty && knn.forall(_.child.find(_.isInstanceOf[HashAggregateExec]).isEmpty), p)
  }

  test("q21: text stats are a narrow transformation (no wide shuffle, one scan)") {
    val p = plan("q21_token_stats")
    // only the output sort repartitions; the stats themselves never shuffle
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("FileScan".r.findAllIn(p).length == 1, p)
  }

  test("q37: repetition signals are per-row array algebra (no shuffle but the output sort)") {
    val p = plan("q37_repetition_signals")
    // the explode→groupBy→window formulation carried two hash exchanges and
    // a per-doc sort; the flat formulation's only exchange is the ordered-
    // output range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Generate"), p) // no explode
    assert("FileScan".r.findAllIn(p).length == 1, p)
  }

  test("q38: split assignment is narrow — partial agg before the one shuffle") {
    val p = plan("q38_deterministic_split")
    // two-phase agg on (split, lang): exactly one hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q39: PII redaction is map-only (no shuffle, single scan)") {
    val p = plan("q39_pii_redaction")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("FileScan".r.findAllIn(p).length == 1, p)
  }

  test("q40/q42: sessionize and as-of join shuffle ONCE on the user key") {
    val p40 = plan("q40_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p40).length == 1, s"q40:\n$p40")
    // q42 pays ONE extra keyed shuffle for the (user, ts) tie-collapse
    // pre-aggregation that makes right-side ties deterministic in both
    // engines; the as-of union window itself still shuffles once
    val p42 = plan("q42_asof_join")
    assert("Exchange hashpartitioning".r.findAllIn(p42).length == 2, s"q42:\n$p42")
  }

  test("q41: PQ candidate generation reads only (id, codes) — never vectors") {
    // build the index, then audit the ADC candidate scan the search uses
    SparkEntry.queries("q41_pq_topk")(spark, sfDir).collect()
    val tag = Integer.toHexString(sfDir.hashCode)
    val entry = graft.index.PqIndex.get(s"q41_pq_$tag").get
    val cand = spark.read.parquet(entry.path)
    val schema = cand.schema.fieldNames.toSet
    assert(schema == Set("vec_id", graft.index.PqIndex.CodesCol),
      s"PQ artifact must store codes only: $schema")
    val p = SparkEntry.queries("q41_pq_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exact re-rank joins the bounded candidate set by broadcast
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("q45: benchmark shingle set joins by broadcast — corpus side never " +
      "shuffles before the per-doc rollup") {
    val p = plan("q45_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // hash exchanges: the TINY benchmark-side distinct and the per-doc
    // rollup. The corpus shingle table is never exchanged at all — its
    // within-doc dedup happens in the array domain before the explode
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
    // artifact-sourced: both sides read the shared shingle artifact — a
    // regression to re-exploding the corpus text would show a tokenizer
    // and a `text` read here and re-pay the dominant corpus pass twice
    assert(p.contains("__graft_shingles_"), p)
    assert(!p.toLowerCase.contains("regexp") && !p.contains("\"text\""), p)
  }

  test("q44: corpus-dup reads the shingle ARTIFACT (never re-tokenizes); " +
      "the by-shingle aggregate rides the bucketed layout") {
    val p = plan("q44_corpus_dup")
    assert(p.contains("__graft_shingles_"), p)
    assert(!p.toLowerCase.contains("regexp") && !p.contains("\"text\""), p)
    // the distinct-shingle df aggregate is exchange-free on the shingle
    // key: partial+final ride the artifact's bucket spec
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange hashpartitioning(shingle"), p)
    // per-doc unique-owner side is result-sized → broadcast back to docs
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q47: cluster labels derive from the SIGNATURE artifact — pair " +
      "mining scans the materialized signatures, not the corpus text") {
    // q47's own executed plan is the components fixpoint (checkpointed
    // RDDs); the scale-bearing sub-plan is the LSH pair mining it feeds on
    SparkEntry.queries("q47_dedup_clusters")(spark, sfDir) // forces artifact
    val tag = Integer.toHexString(sfDir.hashCode)
    val pairs = graft.index.DedupSignatures.pairs(spark, s"qshared_sigs_$tag")
    val pp = pairs.queryExecution.executedPlan.toString
    // every scan is the signature parquet; the md5 shingle pipeline and the
    // text column appear nowhere — signatures are never recomputed
    assert(pp.contains("-sigs-"), pp)
    assert(!pp.toLowerCase.contains("regexp") && !pp.contains("md5") &&
      !pp.contains("\"text\""), pp)
    // the full q47 plan never touches the text column either: components
    // state is duplicate-set-sized, documents contribute doc_id only
    val p = plan("q47_dedup_clusters")
    assert(!p.contains("\"text\""), p)
    assert("ReadSchema: struct<doc_id:bigint>".r.findAllIn(p).nonEmpty, p)
  }

  test("q46: packing windows are bucket-partitioned — no single-partition " +
      "global window in the plan") {
    val p = plan("q46_pack_sequences")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("q48: exact quantiles still aggregate in two phases (partial map-side)") {
    val p = plan("q48_corpus_stats")
    assert("Aggregate".r.findAllIn(p).length >= 2, p)
    assert("FileScan".r.findAllIn(p).length == 1, p)
  }

  test("q49: mixture calibration bakes rates into a narrow filter — " +
      "no join in the sampling plan") {
    val p = plan("q49_mixture_calibration")
    // rates come from a strata-bounded driver aggregate; the applied
    // sample is a literal-threshold filter + one rollup, never a join
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q50: pipeline composition broadcasts the small sides (no shuffle join " +
      "for benchmark overlap or the clean-id semi join)") {
    val p = plan("q50_pipeline_e2e")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q52: BM25 filters tokens to the query terms BEFORE the tf shuffle") {
    val p = plan("q52_bm25_topk")
    // top-down plan text: an Exchange above, the IN(term) filter below it,
    // the corpus scan at the bottom — i.e. only query-term rows shuffle
    assert("(?s)Exchange.* IN \\(.*FileScan".r.findFirstIn(p).isDefined, p)
    // final top-k is per-partition + k-row merge, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q56: batch BM25 join broadcasts term stats; per-query top-k is a " +
      "qid-partitioned window with group-limit pushdown") {
    val p = plan("q56_bm25_join")
    assert(p.contains("BroadcastHashJoin"), p)
    // the rank filter runs as WindowGroupLimit (partial before the qid
    // exchange), so only ≤k rows per (partition, qid) ever shuffle
    assert(p.contains("WindowGroupLimit"), p)
    assert("windowspecdefinition\\(qid".r.findFirstIn(p).isDefined, p)
    // the only single-partition exchange is the 1-row corpus-stats
    // aggregate (partial map-side agg → one final row)
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
  }

  test("q24: jaccard pairs run off the BUCKETED shingle artifact — the " +
      "shingle key is never exchanged, the hot-shingle cap is a broadcast " +
      "anti-join") {
    val p = plan("q24_jaccard_pairs")
    // the artifact scans carry the bucket spec (bucketed join/aggregate
    // eligibility); the corpus explode never re-runs
    assert(p.contains("Bucketed: true") && p.contains("SelectedBucketsCount"), p)
    assert(!p.toLowerCase.contains("regexp"), p) // no tokenizer anywhere
    // no shuffle on the shingle key: the self-join rides the bucketing
    // (or a broadcast at small SF) — a hashpartitioning exchange on
    // shingle would mean the bucketed layout was lost
    assert(!p.contains("Exchange hashpartitioning(shingle"), p)
    // df cap: tiny hot-list anti-joined by broadcast, never a window over
    // the full exploded table
    assert(p.contains("LeftAnti, BuildRight"), p)
  }

  test("q54: hybrid RRF reads bucket-pruned postings, never re-tokenizes " +
      "the corpus") {
    val p = plan("q54_hybrid_rrf")
    // BM25 leg through the term index: the posting scan is partition-pruned
    // to the query terms' buckets (same pin as q53/q56)
    assert(p.contains("PartitionFilters") &&
      p.contains(graft.index.TermIndex.BucketCol), p)
    // no tokenizer in the plan — the corpus text column is never read
    assert(!p.toLowerCase.contains("regexp"), p)
    assert(!p.contains("\"text\""), p)
  }
}
