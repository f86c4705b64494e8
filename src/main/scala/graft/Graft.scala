package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftConf
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.functions.vector
import graft.index.{ArtifactIO, IndexCatalog, IndexEntry}

/** User-facing facade of the engine: table registration (rowid
  * materialization), top-k vector search, and index-accelerated KNN join.
  *
  * Spark tables have no rowids, so the engine materializes a stable
  * `__rowid BIGINT` at registration (SURVEY.md §7.1 decision 3) — the
  * stand-in for DuckDB's `row_t` that the reference keys its index by
  * (reference src/hnsw/hnsw_index.hpp:28). */
object Graft {

  val RowIdCol = "__rowid"

  /** Default location for materialized engine tables (rowid parquet). At
    * cluster scale this would be an object-store path. */
  def defaultTableDir: String = GraftConf.TablesDir.get()

  /** Register `df` as engine table `name` with a materialized rowid.
    *
    * Rowids must be stable across actions (DML and index lookups join on
    * them), so they are materialized ONCE to parquet and the table is served
    * from that storage — the scale-safe analog of DuckDB's persistent row_t.
    * A `cache()`-based registration would pin the whole table in memory
    * (impossible at 100 TB) and silently recompute ids on eviction if
    * partitioning changed; a write-once parquet costs one pass over the data
    * and is immutable after that. */
  def registerTable(spark: SparkSession, name: String, df: DataFrame,
      tableDir: String = defaultTableDir): DataFrame = {
    // versioned path: re-registering a name must never rewrite storage that
    // an earlier registration (or a running query) is still serving —
    // insertInto/rematerialize version the same way. Superseded paths are
    // RETIRED (not deleted): call vacuumTable once no reader can hold a
    // plan over them, or dropTable to reclaim everything.
    val path = freshPath(tableDir, name, "")
    df.withColumn(RowIdCol, monotonically_increasing_id())
      .write.mode("overwrite").parquet(path)
    retire(name, serving.put(name, List(path)).getOrElse(Nil))
    // superseded tombstone files retire WITH their paths (the fresh
    // registration re-mints rowids, so old tombstones are dead weight —
    // but still on disk until vacuumTable/dropTable reclaims them)
    retire(name, tombstones.remove(name).getOrElse(Nil))
    // the re-minted rowids name other rows: an index over the old rows
    // would serve them by the new rows' ids, so it goes (as DuckDB's
    // CREATE OR REPLACE TABLE drops the replaced table's indexes)
    IndexCatalog.list.filter(_.table.equalsIgnoreCase(name))
      .foreach(e => IndexCatalog.dropIndex(e.name))
    GraftSql.forgetDeclaredDims(name) // df's schema supersedes CREATE text
    TableCatalog.rewriteIfArmed()
    publishView(spark, name, spark.read.parquet(path).schema)
  }

  // --- table-artifact lifecycle ------------------------------------------
  // serving = the storage paths the CURRENT view of each table reads;
  // retired = paths superseded by re-registration / rematerialize, kept on
  // disk until vacuumed because in-flight plans may still scan them.
  private val serving = scala.collection.concurrent.TrieMap.empty[String, List[String]]
  private val retired = scala.collection.concurrent.TrieMap.empty[String, List[String]]
  // rowid-tombstone parquet paths per table, one file per deleteFrom
  private val tombstones = scala.collection.concurrent.TrieMap.empty[String, List[String]]

  private val RowIdSchema = StructType(Seq(StructField(RowIdCol, LongType)))

  /** (serving paths, tombstone paths) of registered table `name`: the
    * storage its view reads. */
  private[graft] def tableState(name: String): Option[(List[String], List[String])] =
    serving.get(name).map(_ -> tombstones.getOrElse(name, Nil))

  /** Snapshot of [[tableState]] per table — the durable registration state
    * [[TableCatalog.checkpoint]] persists. */
  private[graft] def tableStates: Map[String, (List[String], List[String])] =
    serving.keys.flatMap(n => tableState(n).map(n -> _)).toMap

  /** The one shape of a registered table's view, published as the temp view
    * `name`: one parquet relation over all of its serving paths, read with
    * the table's `schema`, LEFT ANTI JOINed with its tombstone rowid files
    * when there are any. The view's depth does not grow with DML, and the
    * index rewrite rules recognize the table by these storage paths
    * (`IndexRuleSupport.tableScan`). */
  private def publishView(spark: SparkSession, name: String, schema: StructType): DataFrame = {
    val base = spark.read.schema(schema).parquet(serving(name): _*)
    val view = tombstones.get(name).fold(base) { tombs =>
      val dead = spark.read.schema(RowIdSchema).parquet(tombs: _*)
      base.join(dead, base(RowIdCol) === dead(RowIdCol), "left_anti")
    }
    view.createOrReplaceTempView(name)
    view
  }

  /** Re-install a registration from durable state ([[TableCatalog.restore]]):
    * re-publish the view over the serving paths and tombstones, qualified
    * (a checkpoint may have recorded them bare). No data moves. */
  private[graft] def restoreRegistration(spark: SparkSession, name: String,
      paths: List[String], tombs: List[String]): Unit = {
    serving.put(name, paths.map(ArtifactIO.qualified))
    if (tombs.nonEmpty) tombstones.put(name, tombs.map(ArtifactIO.qualified))
    else tombstones.remove(name)
    publishView(spark, name, spark.read.parquet(paths: _*).schema)
    ()
  }

  /** Forget every registration WITHOUT touching storage — what a process
    * crash does. Restart simulation: forgetAllTables() then
    * [[TableCatalog.restore]]. */
  def forgetAllTables(spark: SparkSession): Unit = {
    serving.keys.foreach(spark.catalog.dropTempView(_))
    serving.clear(); retired.clear(); tombstones.clear()
  }

  private def retire(name: String, paths: List[String]): Unit =
    if (paths.nonEmpty) retired.updateWith(name) {
      case Some(old) => Some(paths ++ old)
      case None => Some(paths)
    }

  private def prepend(paths: scala.collection.concurrent.TrieMap[String, List[String]],
      name: String, path: String): Unit =
    paths.updateWith(name)(ps => Some(path :: ps.getOrElse(Nil)))

  private def deletePath(p: String): Unit = ArtifactIO.deleteRecursive(p)

  /** A fresh storage path for `table` under `dir`, qualified (scheme and
    * authority filled in) as Spark's file index reports the root paths it
    * reads: the form the index rules compare a query's relation against. */
  private def freshPath(dir: String, table: String, tag: String): String =
    ArtifactIO.qualified(s"$dir/$table-$tag${System.nanoTime()}")

  /** Is `name` a Graft-managed registration (rowid-bearing, DML-capable)? */
  def isRegisteredTable(name: String): Boolean = serving.contains(name)

  /** Names of all Graft-managed registrations (canonical case). */
  def registeredTables: Iterable[String] = serving.keys

  /** Delete storage retired by re-registrations/rematerializations of
    * `name`. Caller asserts no in-flight reader still holds a plan over the
    * old paths (a long-running session calls this between batches — the
    * storage-GC hook that keeps unbounded re-registration from leaking).
    * Returns the number of paths reclaimed. */
  def vacuumTable(name: String): Int = {
    val dead = retired.remove(name).getOrElse(Nil)
    dead.foreach(deletePath)
    dead.size
  }

  /** Unregister `name` and reclaim ALL its storage (serving + retired). */
  def dropTable(spark: SparkSession, name: String): Unit = {
    spark.catalog.dropTempView(name)
    serving.remove(name).getOrElse(Nil).foreach(deletePath)
    tombstones.remove(name).getOrElse(Nil).foreach(deletePath)
    vacuumTable(name)
    GraftSql.forgetDeclaredDims(name)
    TableCatalog.rewriteIfArmed()
    ()
  }

  /** Exact top-k by metric distance — the reference's flagship
    * `ORDER BY array_distance(vec, q) LIMIT k` shape. Planned by Catalyst as
    * TakeOrderedAndProject: per-partition top-k, then a k-row merge on the
    * driver. No shuffle of the full table, scales linearly with partitions. */
  def topK(table: DataFrame, vecCol: String, query: Array[Float], k: Int,
      metric: String = "l2sq", tieBreak: Seq[String] = Nil): DataFrame = {
    val dist = vector.metricDistance(metric)(col(vecCol), lit(query))
    // NULLS LAST = DuckDB's ASC default (and the index-rewrite precondition);
    // tieBreak columns pin boundary ties when vectors can be duplicated
    val order = col("dist").asc_nulls_last +: tieBreak.map(col)
    table.withColumn("dist", dist).orderBy(order: _*).limit(k)
  }

  /** Approximate top-k through a registered HNSW index: the table under an
    * [[graft.plans.HnswIndexScan]], which searches once when the query runs
    * and keeps the k hit rows — the plan SQL top-k rewrites to, and the
    * Spark analog of the reference's index-scan table function (reference
    * src/hnsw/hnsw_index_scan.cpp:21-153). `dist` is recomputed over those
    * rows by the index metric, bit-identical to the index's own distances;
    * rows come ordered by (dist, rowid). Over a single graph this runs as
    * one job. */
  def indexTopK(spark: SparkSession, indexName: String, query: Array[Float],
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlBridge
    val entry = IndexCatalog.lookup(indexName)
    // the search runs at execution; a malformed ef still fails here, naming its key
    IndexCatalog.resolveEf(entry, spark.sessionState.conf)
    graft.plans.GraftExtensions.install(spark)
    val table = GraftSqlBridge.logicalPlan(spark.table(entry.table))
    val rowidAttr = table.output.find(_.name == entry.rowidCol).getOrElse(
      throw new IllegalArgumentException(s"rowid column ${entry.rowidCol} not found"))
    GraftSqlBridge.ofRows(spark,
        graft.plans.HnswIndexScan(entry.name, query, k, rowidAttr, table))
      .withColumn("dist", indexDist(entry, query))
      .orderBy(col("dist"), col(entry.rowidCol))
      .limit(k)
  }

  /** Distance of the indexed column to `query` by the index's metric: the
    * Catalyst kernels, bit-identical to the distances the index returns. */
  private def indexDist(entry: IndexEntry, query: Array[Float]): Column =
    vector.metricDistance(entry.options.metric)(col(entry.column), lit(query))

  /** The indexed table's rows whose rowid is among `keys`: a filter on the
    * table's own scan, no join. */
  private def rowsWithRowids(spark: SparkSession, entry: IndexEntry,
      keys: Array[Long]): DataFrame =
    spark.table(entry.table).where(col(entry.rowidCol).isin(keys.toIndexedSeq: _*))

  /** Filtered (predicate + top-k) search through a registered HNSW index:
    * the classic filtered-ANN problem — `WHERE pred ORDER BY dist LIMIT k`
    * where a plain index top-k may return rows the predicate rejects.
    *
    * Strategy: adaptive over-fetch. Fetch m >= k candidates from the index
    * (distance-ordered), apply the predicate on the fetched rows, and if
    * fewer than k survive, geometrically re-fetch (×4) until k survivors or
    * the whole index has been fetched (at which point the result is the
    * exact filtered top-k). Every probe is k-bounded work: the predicate is
    * evaluated on at most m index-scanned rows, never on the base table.
    * With exhaustive `ef_search` the result is EXACT for any predicate and
    * any selectivity (termination degrades to a full index scan); in
    * true-ANN mode recall on highly selective predicates is the known
    * filtered-ANN trade-off and `fetchFactor` is the recall knob.
    *
    * At 100 TB: driver work is O(m) hit ids; each probe is one
    * [[indexTopK]] index scan; a selective predicate costs log₄(N/k) probes.
    * (The alternative — pre-filtering the base table then brute-forcing —
    * is the right plan only when the predicate is pushed-down-selective;
    * that path already exists as `topK(table.where(pred), …)`.) */
  def indexTopKWhere(spark: SparkSession, indexName: String, query: Array[Float],
      k: Int, pred: Column, fetchFactor: Int = 4): DataFrame = {
    val entry = IndexCatalog.lookup(indexName)
    val n = entry.index.size
    var m = math.min(math.max(k * fetchFactor, k), math.max(n, 1))
    while (true) {
      // rowid tie-break: duplicate vectors straddling the k boundary must
      // resolve deterministically (same contract as topK's tieBreak).
      // localCheckpoint materializes the k-bounded probe ONCE — the
      // survivor count and the returned result come from the same
      // execution of the fetch join, not two
      val fetched = indexTopK(spark, indexName, query, m).where(pred)
        .orderBy(col("dist"), col(entry.rowidCol)).limit(k)
        .localCheckpoint()
      if (m >= n || fetched.count() >= k)
        return fetched.orderBy(col("dist"), col(entry.rowidCol))
      m = math.min(m * 4, n)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exact radius (range) search: every row within metric distance `r` of
    * `query`. A single narrow filter over the table — no shuffle, no
    * driver materialization, embarrassingly parallel at any scale. This is
    * the 100 TB default; [[indexRadiusSearch]] is the low-latency variant
    * for selective radii. */
  def radiusSearch(table: DataFrame, vecCol: String, query: Array[Float],
      r: Double, metric: String = "l2sq"): DataFrame = {
    val dist = vector.metricDistance(metric)(col(vecCol), lit(query))
    table.withColumn("dist", dist).where(col("dist") <= r)
  }

  /** Radius search through a registered HNSW index: adaptive top-k
    * doubling — fetch k candidates, and while the fetch frontier's max
    * distance still lies inside `r` (meaning rows beyond the fetch could
    * also qualify), double k; stop when the frontier crosses `r` or the
    * whole index is fetched, then keep `dist <= r`.
    *
    * With exhaustive `ef_search` the doubling invariant makes the result
    * EXACT: the index's top-m is the true top-m, so once maxDist > r every
    * unfetched row is farther than r. Driver cost is O(|result| + k₀)
    * hits; the rows are fetched by a `rowid IN (hits)` filter on the table
    * and their `dist` recomputed by the index metric. */
  def indexRadiusSearch(spark: SparkSession, indexName: String, query: Array[Float],
      r: Double, initialK: Int = 64): DataFrame = {
    val entry = IndexCatalog.lookup(indexName)
    val n = entry.index.size
    var k = math.min(math.max(initialK, 1), math.max(n, 1))
    var hits = Array.empty[(Long, Double)]
    var done = n == 0
    while (!done) {
      hits = IndexCatalog.search(entry, spark.sparkContext, spark.sessionState.conf, query, k)
      done = k >= n || (hits.nonEmpty && hits.map(_._2).max > r)
      if (!done) k = math.min(k * 2, n)
    }
    rowsWithRowids(spark, entry, hits.collect { case (id, d) if d <= r => id })
      .withColumn("dist", indexDist(entry, query))
  }

  /** Distributed radius join: for every outer row, ALL rows of the indexed
    * table within metric distance `r` — the unbounded-fanout sibling of the
    * KNN join and the primitive behind threshold near-dup mining.
    *
    * Shape: iterative frontier escalation over the broadcast index join.
    * Round i KNN-joins the still-open outer rows at k_i; a row is CLOSED
    * when its k_i-th candidate lies beyond `r` (its within-r set is then
    * provably complete under exhaustive ef) or the index is exhausted.
    * Open rows re-join at `growth`·k_i (default ×4: each round is a full
    * Spark job chain, so fewer rounds amortize job-launch latency better;
    * the over-fetch bound is growth/(growth−1) ≈ 1.33× the final fan-out,
    * cheaper than doubling's 2×). Rows with typical fan-out close in
    * round one; only genuinely dense query points escalate.
    * log_growth(maxFanout/initialK) rounds worst-case.
    *
    * Closed matches are localCheckpoint'd per round (result-sized) so the
    * returned union doesn't re-execute every round's join on consumption,
    * and `pending` is checkpointed to keep lineage flat across rounds.
    *
    * `idCol` must uniquely key the outer rows (per-row completeness is
    * tracked by it). Output = outer row + matched inner row + `dist`. */
  def radiusJoin(spark: SparkSession, outer: DataFrame, idCol: String,
      outerVecCol: String, indexName: String, r: Double,
      initialK: Int = 16, growth: Int = 4): DataFrame = {
    require(growth >= 2, "growth must be at least 2")
    val entry = IndexCatalog.lookup(indexName)
    val n = math.max(entry.index.size, 1)
    var k = math.min(math.max(initialK, 1), n)
    var pending = outer.localCheckpoint()
    // each round's closed matches are checkpointed ONCE and unioned lazily
    // at the end — re-checkpointing a growing accumulator every round would
    // re-materialize all earlier rounds' rows each round (O(rounds²) IO)
    var closedRounds: List[DataFrame] = Nil
    var openCount = pending.count()
    while (openCount > 0) {
      // checkpoint the round's join: BOTH the open-row classification and
      // the closed-match extraction consume it — without this the round's
      // most expensive stage (the KNN join) would execute twice
      val joined = knnJoin(spark, pending, outerVecCol, indexName, k)
        .drop("rank")
        .localCheckpoint()
      // a row stays OPEN iff its frontier is full AND still inside r AND
      // the index has more rows to offer
      val openIds =
        if (k >= n) pending.select(col(idCol)).limit(0)
        else joined.groupBy(col(idCol))
          .agg(count(lit(1)).as("__cnt"), max(col("dist")).as("__maxd"))
          .where(col("__cnt") === k && col("__maxd") <= r)
          .select(col(idCol))
      val closed = joined
        .join(broadcast(openIds), Seq(idCol), "left_anti")
        .where(col("dist") <= r)
      closedRounds = closed.localCheckpoint() :: closedRounds
      pending = pending.join(broadcast(openIds), Seq(idCol), "left_semi")
        .localCheckpoint()
      openCount = pending.count()
      k = math.min(k * growth, n)
    }
    closedRounds.reduceOption(_.unionByName(_)).getOrElse(
      knnJoin(spark, outer.limit(0), outerVecCol, indexName, 1).drop("rank"))
  }

  /** Maximal-Marginal-Relevance diversified top-k: greedily select k rows
    * maximizing `(1-λ)·minDistToSelected − λ·queryDist` — relevance traded
    * against redundancy, the standard diversity re-rank for RAG context
    * selection and training-data subset picking (Carbonell & Goldstein,
    * SIGIR'98). Both score terms use the INDEX's configured metric, so
    * relevance and diversity are always on the same scale.
    *
    * Two-stage shape, which is how MMR deploys at scale: the index (or
    * brute-force TakeOrderedAndProject on an unindexed table) reduces the
    * corpus to a `poolSize`-bounded candidate pool — the only part that
    * touches the data — and the O(poolSize·k) greedy runs on the driver
    * over that pool. First pick = most relevant (min query distance); ties
    * break on rowid. Distances use the same sequential-fold kernels as the
    * distributed operators, so results replay exactly in an oracle. */
  def mmrTopK(spark: SparkSession, indexName: String, query: Array[Float],
      k: Int, poolSize: Int, lambda: Double = 0.5): DataFrame = {
    val entry = IndexCatalog.lookup(indexName)
    val qdist =
      IndexCatalog.search(entry, spark.sparkContext, spark.sessionState.conf, query,
        poolSize).toMap
    val pool = rowsWithRowids(spark, entry, qdist.keys.toArray)
      .select(col(entry.rowidCol), col(entry.column))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, qdist(r.getLong(0))))
    val picks = mmrGreedy(pool, k, lambda,
      graft.index.DistanceKernels.forMetric(entry.options.metric)).map(_._1).toArray
    rowsWithRowids(spark, entry, picks)
      .withColumn("mmr_rank", array_position(lit(picks), col(entry.rowidCol)).cast(IntegerType))
      .withColumn("dist", indexDist(entry, query))
  }

  /** The greedy MMR re-rank of one candidate pool of (id, vector, query
    * distance): up to k picks in pick order, as (id, query distance). The
    * first pick is the most relevant; each later one maximizes
    * (1−λ)·minDistToSelected − λ·queryDist. Ties go to the smaller id. */
  private def mmrGreedy(pool: Array[(Long, Array[Float], Double)], k: Int,
      lambda: Double, divDist: (Array[Float], Array[Float]) => Double): Seq[(Long, Double)] = {
    val sorted = pool.sortBy(_._1)
    val qdist = sorted.map(p => p._1 -> p._3).toMap
    val remaining = scala.collection.mutable.LinkedHashMap(sorted.map(p => p._1 -> p._2): _*)
    val minDistToSel = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(Double.PositiveInfinity)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    while (picks.length < k && remaining.nonEmpty) {
      val pick =
        if (picks.isEmpty) remaining.keys.minBy(id => (qdist(id), id))
        // argmax score, ties to the smaller id: minBy the negation
        else remaining.keys.minBy { id =>
          (-((1 - lambda) * minDistToSel(id) - lambda * qdist(id)), id)
        }
      val pickVec = remaining.remove(pick).get
      picks += ((pick, qdist(pick)))
      remaining.foreach { case (id, vec) =>
        val d = divDist(vec, pickVec)
        if (d < minDistToSel(id)) minDistToSel(id) = d
      }
    }
    picks.toSeq
  }

  /** Batch (grouped) MMR: the diversified-top-k JOIN — for every outer
    * query row, [[mmrTopK]]'s greedy re-rank, fully distributed. Stage 1
    * is the broadcast index KNN join (each query's `poolSize` candidate
    * pool, shuffle-free outer); stage 2 groups by query and runs the
    * O(pool·k) greedy INSIDE the executors (`flatMapGroups` — per-group
    * state is one pool, never the corpus). Same arithmetic as the scalar
    * op: score = (1−λ)·minDistToSelected − λ·queryDist, ties to the
    * smaller inner id, first pick = most relevant.
    *
    * `outer` must carry a unique BIGINT `idCol` and the vector `vecCol`;
    * the indexed table's BIGINT id column is `innerIdCol`. Returns
    * (qid, nid, mmr_rank, dist). */
  def mmrJoin(spark: SparkSession, outer: DataFrame, idCol: String,
      vecCol: String, indexName: String, innerIdCol: String, k: Int,
      poolSize: Int, lambda: Double = 0.5): DataFrame = {
    import spark.implicits._
    val entry = IndexCatalog.lookup(indexName)
    val cands = knnJoin(spark, outer, vecCol, indexName, poolSize)
      .select(col(idCol).cast(LongType).as("_qid"),
        col(innerIdCol).cast(LongType).as("_nid"),
        col(entry.column).as("_vec"), col("dist").as("_qdist"))
      .as[(Long, Long, Seq[Float], Double)]
    val lam = lambda
    val kk = k
    val divDist = graft.index.DistanceKernels.forMetric(entry.options.metric)
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val pool = rows.map { case (_, nid, vec, qd) => (nid, vec.toArray, qd) }.toArray
        Graft.mmrGreedy(pool, kk, lam, divDist).iterator.zipWithIndex.map {
          case ((nid, qd), i) => (qid, nid, i + 1, qd)
        }
      }
      .toDF("qid", "nid", "mmr_rank", "dist")
  }

  /** Index-accelerated KNN join: for each outer row's vector, the k nearest
    * rows of the indexed table, with a 1-indexed `rank` — the engine's
    * guaranteed path for the reference's lateral-KNN-join rewrite
    * (reference src/hnsw/hnsw_optimize_join.cpp:33-181; SURVEY.md §3.3).
    *
    * Scale shape: the index is broadcast once; the outer side streams
    * partition-parallel with NO shuffle; the rowid fetch is a broadcast-able
    * hash join keyed on at most outer×k rowids. Outer rows with NULL vectors
    * produce no matches (reference NULL semantics,
    * test/sql/hnsw/hnsw_lateral_join.test:46-67). */
  def knnJoin(spark: SparkSession, outer: DataFrame, outerVecCol: String,
      indexName: String, k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graft.GraftSqlBridge
    val entry = IndexCatalog.lookup(indexName)
    // planned through the engine's own logical node (same operator the
    // optimizer rewrite produces) — needs the planner strategy installed
    graft.plans.GraftExtensions.install(spark)
    val outerPlan = GraftSqlBridge.logicalPlan(outer)
    val vecAttr = outerPlan.output.find(_.name == outerVecCol)
      .getOrElse(throw new IllegalArgumentException(
        s"vector column $outerVecCol not found in outer DataFrame"))
    val rowidAttr = AttributeReference("__match_rowid", LongType, nullable = false)()
    val rankAttr = AttributeReference("rank", IntegerType, nullable = false)()
    val distAttr = AttributeReference("dist", DoubleType, nullable = false)()
    val cands = GraftSqlBridge.ofRows(spark,
      graft.plans.HnswKnnCandidates(indexName, k, vecAttr, rowidAttr, rankAttr,
        outerPlan, Some(distAttr)))
    val inner = spark.table(entry.table)
    cands.join(inner, cands("__match_rowid") === inner(entry.rowidCol))
      .drop("__match_rowid", entry.rowidCol)
      .withColumn("rank", col("rank").cast(LongType))
  }

  /** Engine DML over immutable storage (SURVEY.md §7.3): append rows to a
    * registered table AND its indexes; NULL vectors are skipped on insert
    * exactly as the reference does (reference src/hnsw/hnsw_index.cpp:437-439).
    *
    * Index maintenance is two-tier: a batch of >= `graft.ingest.shardBatchThreshold`
    * rows into a SHARDED index is built as new shard artifacts ON the
    * executors (reusing the sharded CREATE INDEX build) and only their
    * metadata crosses the driver — sustained 100TB-scale ingest never
    * funnels vectors through the driver. Small batches (and single-graph
    * indexes, which are driver-resident by design) stream row-at-a-time into
    * the index/delta. Both tiers append to the post-checkpoint WAL. */
  def insertInto(spark: SparkSession, table: String, rows: DataFrame): DataFrame = {
    val paths = servingOrThrow(table)
    val schema = spark.table(table).schema
    // max(rowid) over ALL serving storage, deleted rows included: a deleted
    // max-rowid row's id re-minted here would collide with the index's
    // tombstone set and the tombstone files (the view's anti-join would
    // silently delete the NEW row). Rowids are never reused.
    // (NULL on an empty table — legal: index created before data.)
    val maxId = Option(spark.read.schema(schema).parquet(paths: _*)
        .agg(max(col(RowIdCol))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    // the DELTA is materialized to storage like the base table (rowids must
    // not be recomputed, and a cache would leak one pinned DataFrame per
    // insert on a long-running ingest)
    val deltaPath = freshPath(defaultTableDir, table, "delta-")
    val indexes = IndexCatalog.list.filter(_.table == table)
    // indexable (non-NULL-vector) row counts per indexed column ride the
    // delta WRITE as observed metrics — the sharded tier decision below
    // costs no extra scan over the just-written delta
    val obs = new org.apache.spark.sql.Observation(s"ins-$table-${System.nanoTime()}")
    val toWrite = alignTo(table, schema, rows)
      .withColumn(RowIdCol, monotonically_increasing_id() + lit(maxId + 1))
    val indexedCols = indexes.map(_.column).distinct
    val observed =
      if (indexedCols.isEmpty) toWrite
      else toWrite.observe(obs,
        count(col(indexedCols.head)).as(indexedCols.head),
        indexedCols.tail.map(c => count(col(c)).as(c)): _*)
    observed.write.parquet(deltaPath)
    lazy val vecCounts: Map[String, Long] =
      if (indexedCols.isEmpty) Map.empty
      else obs.get.map { case (c, v) => c -> v.asInstanceOf[Long] }
    prepend(serving, table, deltaPath)
    TableCatalog.rewriteIfArmed()
    val view = publishView(spark, table, schema)
    val withIds = spark.read.schema(schema).parquet(deltaPath)
    indexes.foreach { e =>
      val pairs = withIds.select(col(RowIdCol).cast(LongType), col(e.column))
        .where(col(e.column).isNotNull)
      val shardedOpt = graft.index.VectorIndex.sharded(e.index)
      IndexCatalog.withWal(e.name) { wal =>
        // stream the delta partition-by-partition: driver memory is
        // bounded by one partition, not the insert volume
        def streamIntoDelta(): Unit = {
          // one broadcast-cache invalidation per STATEMENT, after the whole
          // delta streamed (a per-row bump churned concurrent broadcastFor
          // lookups for the length of the ingest — round-12 advisor). In a
          // finally: a mid-stream failure leaves the index partially
          // mutated, and a cached broadcast of the pre-statement state must
          // not outlive that. Skipped only when NOTHING was applied (e.g.
          // an all-NULL-vector batch) — a no-op statement must not churn
          // every index's cached broadcast. The sharded batch path
          // self-invalidates inside appendShards.
          var any = false
          try {
            pairs.toLocalIterator().forEachRemaining { r =>
              val key = r.getLong(0)
              val vec = r.getSeq[Float](1).toArray
              e.index.insert(key, vec)
              wal.foreach(_.insert(key, vec))
              any = true
            }
          } finally {
            if (any) graft.index.IndexCatalog.bumpBroadcastEpoch()
          }
        }
        shardedOpt match {
          case Some(sh) =>
            // threshold + shard sizing count INDEXABLE (non-NULL-vector)
            // rows — a mostly-NULL batch must not mint tiny shard artifacts
            // that permanently inflate per-search fan-out
            val nVec = vecCounts(e.column)
            if (nVec >= GraftConf.IngestShardBatchThreshold.get(spark)) {
              val nShards = math.max(1,
                math.ceil(nVec.toDouble / GraftConf.IngestRowsPerShard.get(spark)).toInt)
              val metas = IndexCatalog.buildShardMetas(
                pairs.repartition(nShards),
                s"${IndexCatalog.indexArtifactDir}/${e.name}-ingest-${System.nanoTime()}",
                e.options)
              sh.appendShards(metas)
              wal.foreach(_.appendShards(metas))
            } else streamIntoDelta()
          case None => streamIntoDelta()
        }
      }
    }
    view
  }

  private def servingOrThrow(table: String): List[String] = serving.getOrElse(table,
    throw new IllegalArgumentException(s"$table is not a registered table"))

  /** `rows` as the table's columns (rowid aside), matched by name and
    * store-cast to the table's types; a missing, extra or uncastable
    * column fails naming it. */
  private def alignTo(table: String, schema: StructType, rows: DataFrame): DataFrame = {
    val target = schema.filterNot(_.name == RowIdCol)
    val given = rows.schema.filterNot(_.name == RowIdCol)
    given.find(g => !target.exists(_.name.equalsIgnoreCase(g.name))).foreach { g =>
      throw new IllegalArgumentException(s"INSERT INTO $table: table has no column ${g.name}")
    }
    rows.select(target.map { f =>
      val g = given.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
        throw new IllegalArgumentException(s"INSERT INTO $table: no value for column ${f.name}"))
      if (!org.apache.spark.sql.catalyst.expressions.Cast.canCast(g.dataType, f.dataType))
        throw new IllegalArgumentException(s"INSERT INTO $table: column ${f.name} " +
          s"is ${g.dataType.simpleString}, cannot store as ${f.dataType.simpleString}")
      col(g.name).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Delete rows matching `cond` from a registered table; tombstones the
    * rowids in every index on the table (reference Delete hook,
    * src/hnsw/hnsw_index.cpp:466-482). The doomed rowids are written once,
    * executor-side, as the statement's tombstone file; the view anti-joins
    * it and every index streams its ids from it in chunks — "delete 1% of
    * 100TB" never materializes all ids at once. An index deletes only ids
    * it holds (a NULL-vector row was never indexed), and only those
    * confirmed deletes land in its WAL. */
  def deleteFrom(spark: SparkSession, table: String, cond: Column): DataFrame = {
    servingOrThrow(table)
    val existing = spark.table(table)
    // durability first: the tombstone file is registered (and, while
    // armed, journaled) before any index changes — a crash between the
    // two must err toward "delete survives" (replaying a delete is
    // idempotent; resurrecting deleted rows is not)
    val tomb = freshPath(defaultTableDir, table, "tomb-")
    existing.where(cond).select(col(RowIdCol)).write.parquet(tomb)
    prepend(tombstones, table, tomb)
    TableCatalog.rewriteIfArmed()
    val view = publishView(spark, table, existing.schema)
    val doomed = spark.read.schema(RowIdSchema).parquet(tomb)
    IndexCatalog.list.filter(_.table == table).foreach { e =>
      val sharded = graft.index.VectorIndex.sharded(e.index)
      IndexCatalog.withWal(e.name) { wal =>
        // once per statement (see streamIntoDelta); in a finally so a
        // mid-stream failure with tombstones already applied still
        // invalidates the cached broadcast. A sharded index self-invalidates
        // inside ShardedHnswIndex.deleteAll.
        var any = false
        try {
          doomed.toLocalIterator().asScala.map(_.getLong(0)).grouped(65536).foreach { ids =>
            val gone = sharded match {
              // shard-major: each involved shard is consulted once per chunk
              // instead of thrashing the shard LRU key-by-key
              case Some(sh) => sh.deleteAll(ids)
              case None => ids.filter(e.index.delete)
            }
            gone.foreach(id => wal.foreach(_.delete(id)))
            any ||= gone.nonEmpty
          }
        } finally {
          if (any && sharded.isEmpty) graft.index.IndexCatalog.bumpBroadcastEpoch()
        }
      }
    }
    view
  }

  /** Fold a table's serving files and tombstones into one fresh storage
    * path — periodic maintenance for long-running ingestion, so the number
    * of files (and tombstone rowids) the view reads stays bounded rather
    * than O(#batches). Rowids are preserved verbatim. */
  def rematerialize(spark: SparkSession, table: String,
      tableDir: String = defaultTableDir): DataFrame = {
    val path = freshPath(tableDir, table, "m")
    val current = spark.table(table)
    current.write.parquet(path)
    retire(table, serving.put(table, List(path)).getOrElse(Nil))
    // the rematerialized storage excludes deleted rows, so the tombstones
    // that encoded those deletes are spent (their paths stay on disk until
    // vacuum, like retired storage)
    retire(table, tombstones.remove(table).getOrElse(Nil))
    TableCatalog.rewriteIfArmed()
    publishView(spark, table, current.schema)
  }

  /** Register every engine SQL function on the session. */
  def registerFunctions(spark: SparkSession): Unit = {
    graft.functions.vector.registerAll(spark)
    graft.functions.MinByK.registerAll(spark)
    graft.functions.DuckDialect.registerAll(spark)
  }

  /** Unified introspection across every index family the engine hosts —
    * the engine-level generalization of `pragma_hnsw_index_info` (which
    * stays the reference-shaped HNSW view, [[IndexCatalog.describe]]).
    * One row per index: (family, index_name, table_name, column, items,
    * detail); items = −1 where the family keeps no row count (IVF's lists
    * live only in storage). Driver metadata only — no data is scanned. */
  def indexInfo(spark: SparkSession): DataFrame = {
    import graft.index._
    val rows =
      IndexCatalog.list.map { e =>
        (e.name, "hnsw", e.table, e.column, e.index.size.toLong,
          s"metric=${e.options.metric} dim=${e.index.dim}")
      } ++
      IvfIndex.list.map { e =>
        (e.name, "ivf", e.sourceTable, e.vecCol, -1L,
          s"metric=${e.metric} nLists=${e.centroids.length}")
      } ++
      PqIndex.list.map { e =>
        (e.name, "pq", e.sourceTable, e.vecCol, e.count,
          s"metric=${e.metric} m=${e.codebooks.m} k=${e.codebooks.k}")
      } ++
      IvfPqIndex.list.map { e =>
        (e.name, "ivfpq", e.sourceTable, e.vecCol, e.count,
          s"metric=${e.metric} nLists=${e.centroids.length} m=${e.codebooks.m}")
      } ++
      SqIndex.list.map { e =>
        (e.name, "sq", e.sourceTable, e.vecCol, e.count,
          s"metric=${e.metric} dim=${e.ranges.dim}")
      } ++
      TermIndex.list.map { e =>
        (e.name, "term", e.sourceTable, e.textCol, e.nDocs.toLong,
          s"nBuckets=${e.nBuckets} avgdl=${e.avgDl}")
      }
    import spark.implicits._
    rows.toSeq
      .toDF("index_name", "family", "table_name", "column", "items", "detail")
      .orderBy(col("family"), col("index_name"))
  }
}
