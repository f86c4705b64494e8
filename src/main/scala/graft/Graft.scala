package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.vector
import graft.index.{IndexCatalog, IndexEntry}

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
  def defaultTableDir: String =
    sys.props.getOrElse("graft.tables.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-tables")

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
    val path = s"$tableDir/$name-${System.nanoTime()}"
    df.withColumn(RowIdCol, monotonically_increasing_id())
      .write.mode("overwrite").parquet(path)
    retire(name, serving.put(name, List(path)).getOrElse(Nil))
    // superseded tombstone files retire WITH their paths (the fresh
    // registration re-mints rowids, so old tombstones are dead weight —
    // but still on disk until vacuumTable/dropTable reclaims them)
    retire(name, tombstones.remove(name).getOrElse(Nil))
    GraftSql.forgetDeclaredDims(name) // df's schema supersedes CREATE text
    TableCatalog.rewriteIfArmed()
    val withId = spark.read.parquet(path)
    withId.createOrReplaceTempView(name)
    withId
  }

  // --- table-artifact lifecycle ------------------------------------------
  // serving = the storage paths the CURRENT view of each table reads;
  // retired = paths superseded by re-registration / rematerialize, kept on
  // disk until vacuumed because in-flight plans may still scan them.
  private val serving = scala.collection.concurrent.TrieMap.empty[String, List[String]]
  private val retired = scala.collection.concurrent.TrieMap.empty[String, List[String]]
  // rowid-tombstone parquet paths per table, written by deleteFrom only
  // while TableCatalog durability is armed (persistent-database sessions)
  private val tombstones = scala.collection.concurrent.TrieMap.empty[String, List[String]]

  /** Snapshot (serving paths, tombstone paths) per table — the durable
    * registration state [[TableCatalog.checkpoint]] persists. */
  private[graft] def tableStates: Map[String, (List[String], List[String])] =
    serving.keys.map { n =>
      n -> (serving.getOrElse(n, Nil), tombstones.getOrElse(n, Nil))
    }.toMap

  /** Re-install a registration from durable state ([[TableCatalog.restore]]):
    * union the serving paths, anti-join the tombstoned rowids, re-publish
    * the temp view. No data moves. */
  private[graft] def restoreRegistration(spark: SparkSession, name: String,
      paths: List[String], tombs: List[String]): Unit = {
    val base = spark.read.parquet(paths: _*)
    val df =
      if (tombs.isEmpty) base
      else base.join(spark.read.parquet(tombs: _*).select(col(RowIdCol)),
        Seq(RowIdCol), "left_anti")
        // the USING join moves the key first; keep the table's column order
        .select(base.columns.map(col).toIndexedSeq: _*)
    serving.put(name, paths)
    if (tombs.nonEmpty) tombstones.put(name, tombs) else tombstones.remove(name)
    df.createOrReplaceTempView(name)
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

  private def addServing(name: String, path: String): Unit =
    serving.updateWith(name) {
      case Some(ps) => Some(path :: ps)
      case None => Some(List(path))
    }

  private def deletePath(p: String): Unit =
    graft.index.ArtifactIO.deleteRecursive(p)

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

  /** Approximate top-k through a registered HNSW index: search happens on the
    * driver against the (broadcastable) index, then a semi join by rowid
    * fetches the rows — the Spark analog of the reference's index-scan
    * table function (reference src/hnsw/hnsw_index_scan.cpp:21-153). */
  def indexTopK(spark: SparkSession, indexName: String, query: Array[Float],
      k: Int): DataFrame = {
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
    val (ef, efPinned) = IndexCatalog.resolveEf(entry, spark.conf.getOption)
    val hits = graft.index.VectorIndex.resolve(entry.index) match {
      // sharded: fan the search out to the executors holding the shards;
      // the driver only merges shards × k hits
      case sharded: graft.index.ShardedHnswIndex =>
        sharded.searchDistributed(spark.sparkContext, query, k, ef, efPinned)
      case idx => idx.search(query, k, ef)
    }
    val hitDf = spark.createDataFrame(
      spark.sparkContext.parallelize(hits.toSeq.map(h => Row(h._1, h._2)), 1),
      StructType(Seq(StructField("__hit_rowid", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false))))
    val table = spark.table(entry.table)
    table.join(broadcast(hitDf), table(entry.rowidCol) === hitDf("__hit_rowid"))
      .drop("__hit_rowid")
      .orderBy(col("dist"))
  }

  /** Filtered (predicate + top-k) search through a registered HNSW index:
    * the classic filtered-ANN problem — `WHERE pred ORDER BY dist LIMIT k`
    * where a plain index top-k may return rows the predicate rejects.
    *
    * Strategy: adaptive over-fetch. Fetch m >= k candidates from the index
    * (distance-ordered), apply the predicate on the fetched rows, and if
    * fewer than k survive, geometrically re-fetch (×4) until k survivors or
    * the whole index has been fetched (at which point the result is the
    * exact filtered top-k). Every probe is k-bounded work: the predicate is
    * evaluated on at most m broadcast-joined rows, never on the base table.
    * With exhaustive `ef_search` the result is EXACT for any predicate and
    * any selectivity (termination degrades to a full index scan); in
    * true-ANN mode recall on highly selective predicates is the known
    * filtered-ANN trade-off and `fetchFactor` is the recall knob.
    *
    * At 100 TB: driver work is O(m) hit ids; the fetch join stays a
    * broadcast hash join; a selective predicate costs log₄(N/k) probes.
    * (The alternative — pre-filtering the base table then brute-forcing —
    * is the right plan only when the predicate is pushed-down-selective;
    * that path already exists as `topK(table.where(pred), …)`.) */
  def indexTopKWhere(spark: SparkSession, indexName: String, query: Array[Float],
      k: Int, pred: Column, fetchFactor: Int = 4): DataFrame = {
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
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
    * hits; the row fetch is one broadcast join. */
  def indexRadiusSearch(spark: SparkSession, indexName: String, query: Array[Float],
      r: Double, initialK: Int = 64): DataFrame = {
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
    val (ef, efPinned) = IndexCatalog.resolveEf(entry, spark.conf.getOption)
    val resolvedIdx = graft.index.VectorIndex.resolve(entry.index)
    val n = resolvedIdx.size
    var k = math.min(math.max(initialK, 1), math.max(n, 1))
    var hits = Array.empty[(Long, Double)]
    var done = n == 0
    while (!done) {
      hits = resolvedIdx match {
        case sh: graft.index.ShardedHnswIndex =>
          sh.searchDistributed(spark.sparkContext, query, k, ef, efPinned)
        case idx => idx.search(query, k, ef)
      }
      done = k >= n || (hits.nonEmpty && hits.map(_._2).max > r)
      if (!done) k = math.min(k * 2, n)
    }
    val within = hits.filter(_._2 <= r)
    val hitDf = spark.createDataFrame(
      spark.sparkContext.parallelize(within.toSeq.map(h => Row(h._1, h._2)), 1),
      StructType(Seq(StructField("__hit_rowid", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false))))
    val table = spark.table(entry.table)
    table.join(broadcast(hitDf), table(entry.rowidCol) === hitDf("__hit_rowid"))
      .drop("__hit_rowid")
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
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
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
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
    val (ef, efPinned) = IndexCatalog.resolveEf(entry, spark.conf.getOption)
    val hits = graft.index.VectorIndex.resolve(entry.index) match {
      case sh: graft.index.ShardedHnswIndex =>
        sh.searchDistributed(spark.sparkContext, query, poolSize, ef, efPinned)
      case idx => idx.search(query, poolSize, ef)
    }
    val qdist = hits.toMap
    val divDist = graft.index.DistanceKernels.forMetric(entry.options.metric)
    val table = spark.table(entry.table)
    val hitIds = hits.map(_._1)
    val pool = table.where(col(entry.rowidCol).isin(hitIds: _*))
      .select(col(entry.rowidCol), col(entry.column))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // greedy MMR over the driver-resident pool
    val remaining = scala.collection.mutable.LinkedHashMap(pool: _*)
    val minDistToSel = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(Double.PositiveInfinity)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    while (picks.length < k && remaining.nonEmpty) {
      val pick =
        if (picks.isEmpty)
          remaining.keys.minBy(id => (qdist(id), id))
        else
          // argmax score, ties to the smaller rowid: minBy the negation
          remaining.keys.minBy { id =>
            (-((1 - lambda) * minDistToSel(id) - lambda * qdist(id)), id)
          }
      val pickVec = remaining.remove(pick).get
      picks += ((pick, picks.length + 1, qdist(pick)))
      remaining.foreach { case (id, vec) =>
        val d = divDist(vec, pickVec)
        if (d < minDistToSel(id)) minDistToSel(id) = d
      }
    }
    val pickDf = spark.createDataFrame(
      spark.sparkContext.parallelize(picks.toSeq.map(p => Row(p._1, p._2, p._3)), 1),
      StructType(Seq(StructField("__hit_rowid", LongType, nullable = false),
        StructField("mmr_rank", IntegerType, nullable = false),
        StructField("dist", DoubleType, nullable = false))))
    table.join(broadcast(pickDf), table(entry.rowidCol) === pickDf("__hit_rowid"))
      .drop("__hit_rowid")
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
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
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
        val pool = rows.map { case (_, nid, vec, qd) => (nid, vec.toArray, qd) }
          .toArray.sortBy(_._1)
        val qdist = pool.map(p => p._1 -> p._3).toMap
        val remaining = scala.collection.mutable.LinkedHashMap(
          pool.map(p => p._1 -> p._2): _*)
        val minDistToSel = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(Double.PositiveInfinity)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
        while (out.length < kk && remaining.nonEmpty) {
          val pick =
            if (out.isEmpty) remaining.keys.minBy(id => (qdist(id), id))
            else remaining.keys.minBy { id =>
              (-((1 - lam) * minDistToSel(id) - lam * qdist(id)), id)
            }
          val pickVec = remaining.remove(pick).get
          out += ((qid, pick, out.length + 1, qdist(pick)))
          remaining.foreach { case (id, vec) =>
            val d = divDist(vec, pickVec)
            if (d < minDistToSel(id)) minDistToSel(id) = d
          }
        }
        out.iterator
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
    val entry = IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
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

  /** Batches at or above this row count go to indexes as executor-built
    * shard artifacts instead of the driver-side delta graph. */
  def shardBatchThreshold: Int =
    Knobs.propInt("graft.ingest.shardBatchThreshold", 4096)

  /** Target rows per ingest-built shard (sizes shard graphs to executor
    * memory independently of the delta's partitioning). */
  def ingestRowsPerShard: Int =
    Knobs.propInt("graft.ingest.rowsPerShard", 262144)

  private def asSharded(idx: graft.index.VectorIndex): Option[graft.index.ShardedHnswIndex] =
    idx match {
      case sh: graft.index.ShardedHnswIndex => Some(sh)
      case l: graft.index.LazyLoadedIndex => asSharded(l.resolved)
      case _ => None
    }

  /** Engine DML over immutable storage (SURVEY.md §7.3): append rows to a
    * registered table AND its indexes; NULL vectors are skipped on insert
    * exactly as the reference does (reference src/hnsw/hnsw_index.cpp:437-439).
    *
    * Index maintenance is two-tier: a batch of >= [[shardBatchThreshold]]
    * rows into a SHARDED index is built as new shard artifacts ON the
    * executors (reusing the sharded CREATE INDEX build) and only their
    * metadata crosses the driver — sustained 100TB-scale ingest never
    * funnels vectors through the driver. Small batches (and single-graph
    * indexes, which are driver-resident by design) stream row-at-a-time into
    * the index/delta. Both tiers append to the post-checkpoint WAL. */
  def insertInto(spark: SparkSession, table: String, rows: DataFrame): DataFrame = {
    val existing = spark.table(table)
    // max(rowid) over the UNFILTERED serving storage, not the live view: the
    // view excludes deleted rows, so a deleted max-rowid row would otherwise
    // have its rowid re-minted here — colliding with the index's tombstone
    // set and with the durable tombstone files (a restore's anti-join would
    // silently delete the NEW row). Rowids are never reused.
    // (NULL on an empty table — legal: index created before data.)
    val allMinted = serving.get(table) match {
      case Some(paths) if paths.nonEmpty => spark.read.parquet(paths: _*)
      case _ => existing
    }
    val maxId = Option(allMinted.agg(max(col(RowIdCol))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    // the DELTA is materialized to storage like the base table (rowids must
    // not be recomputed, and a cache would leak one pinned DataFrame per
    // insert on a long-running ingest); the existing side stays as-is
    val deltaPath = s"$defaultTableDir/$table-delta-${System.nanoTime()}"
    val indexes = IndexCatalog.list.filter(_.table == table)
    // indexable (non-NULL-vector) row counts per indexed column ride the
    // delta WRITE as observed metrics — the sharded tier decision below
    // costs no extra scan over the just-written delta
    val obs = new org.apache.spark.sql.Observation(s"ins-$table-${System.nanoTime()}")
    val toWrite = rows.withColumn(RowIdCol, monotonically_increasing_id() + lit(maxId + 1))
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
    addServing(table, deltaPath)
    TableCatalog.rewriteIfArmed()
    val withIds = spark.read.parquet(deltaPath)
    val updated = existing.unionByName(withIds)
    updated.createOrReplaceTempView(table)
    indexes.foreach { e =>
      val pairs = withIds.select(col(RowIdCol).cast(LongType), col(e.column))
        .where(col(e.column).isNotNull)
      val shardedOpt = asSharded(e.index)
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
            if (nVec >= shardBatchThreshold) {
              val nShards = math.max(1, math.ceil(nVec.toDouble / ingestRowsPerShard).toInt)
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
    // the serving view deepened (union with the delta): re-point every
    // index on this table at the new optimized shape so the rewrite rules
    // keep firing post-ingest
    if (indexes.nonEmpty) IndexCatalog.refreshTablePlans(spark, table)
    updated
  }

  /** Delete rows matching `cond` from a registered table; tombstones the
    * rowids in every index on the table (reference Delete hook,
    * src/hnsw/hnsw_index.cpp:466-482). The doomed rowid set streams to the
    * driver partition-by-partition — "delete 1% of 100TB" never materializes
    * all ids at once. Only rowids whose vector was actually indexed are
    * tombstoned (a NULL-vector row was never in the index), and only
    * confirmed deletes land in the WAL. */
  def deleteFrom(spark: SparkSession, table: String, cond: Column): DataFrame = {
    val existing = spark.table(table)
    // durability first: while armed, journal the doomed ROWIDS as a
    // tombstone file before mutating any index — a crash between the two
    // must err toward "delete survives" (replaying a delete is idempotent;
    // resurrecting deleted rows is not). Un-armed sessions skip the scan.
    if (TableCatalog.armed && serving.contains(table)) {
      val p = s"$defaultTableDir/$table-tomb-${System.nanoTime()}"
      existing.where(cond).select(col(RowIdCol)).write.parquet(p)
      tombstones.updateWith(table) {
        case Some(ps) => Some(p :: ps)
        case None => Some(List(p))
      }
      TableCatalog.rewriteIfArmed()
    }
    // one doomed-rowid scan per distinct indexed COLUMN; when several
    // indexes share a column the id set is materialized to storage once
    // (executor-side write, compact longs) instead of re-running the full
    // predicate scan per index
    IndexCatalog.list.filter(_.table == table).groupBy(_.column).foreach {
      case (column, es) =>
        val doomed = existing.where(cond && col(column).isNotNull).select(col(RowIdCol))
        val ids =
          if (es.sizeIs > 1) {
            val p = s"$defaultTableDir/$table-del-${System.nanoTime()}"
            doomed.write.parquet(p)
            retire(table, List(p)) // transient: reclaimed at next vacuum
            spark.read.parquet(p)
          } else doomed
        es.foreach { e =>
          IndexCatalog.withWal(e.name) { wal =>
            asSharded(e.index) match {
              case Some(sh) =>
                // chunked shard-major batch delete: each involved shard is
                // consulted once per chunk instead of thrashing the shard
                // LRU key-by-key; driver memory stays one chunk of longs
                val it = ids.toLocalIterator()
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                def flush(): Unit = {
                  sh.deleteAll(buf.toSeq).foreach(id => wal.foreach(_.delete(id)))
                  buf.clear()
                }
                while (it.hasNext) {
                  buf += it.next().getLong(0)
                  if (buf.size >= 65536) flush()
                }
                flush()
              case None =>
                // once per statement (see streamIntoDelta); in a finally so
                // a mid-stream failure with tombstones already applied still
                // invalidates the cached broadcast. The sharded branch
                // self-invalidates inside ShardedHnswIndex.deleteAll.
                var any = false
                try {
                  ids.toLocalIterator().forEachRemaining { r =>
                    val id = r.getLong(0)
                    if (e.index.delete(id)) {
                      wal.foreach(_.delete(id))
                      any = true
                    }
                  }
                } finally {
                  if (any) graft.index.IndexCatalog.bumpBroadcastEpoch()
                }
            }
          }
        }
    }
    val remaining = existing.where(!cond || cond.isNull)
    remaining.createOrReplaceTempView(table)
    if (IndexCatalog.list.exists(_.table == table)) {
      IndexCatalog.refreshTablePlans(spark, table)
    }
    remaining
  }

  /** Collapse a DML-deepened view (unions/filters stacked by insertInto /
    * deleteFrom) back into a single storage-backed relation — periodic
    * maintenance for long-running ingestion so analysis cost stays O(1)
    * rather than O(#batches). Rowids are preserved verbatim. */
  def rematerialize(spark: SparkSession, table: String,
      tableDir: String = defaultTableDir): DataFrame = {
    val path = s"$tableDir/$table-m${System.nanoTime()}"
    spark.table(table).write.parquet(path)
    retire(table, serving.put(table, List(path)).getOrElse(Nil))
    // the rematerialized storage excludes deleted rows, so the tombstones
    // that encoded those deletes are spent (their paths stay on disk until
    // vacuum, like retired storage)
    retire(table, tombstones.remove(table).getOrElse(Nil))
    TableCatalog.rewriteIfArmed()
    val df = spark.read.parquet(path)
    df.createOrReplaceTempView(table)
    df
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
