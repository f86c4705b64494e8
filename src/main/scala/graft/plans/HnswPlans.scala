package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.index.IndexCatalog

/** Restricts `child`, an indexed relation, to the rows whose rowid is among
  * the k hits of an HNSW index search — the engine's analog of the
  * reference's `hnsw_index_scan` table function, which searches once at
  * scan init and then fetches the k rows by row id (reference
  * src/hnsw/hnsw_index_scan.cpp:21-153, src/hnsw/hnsw_index.cpp:285-311).
  * Output = child.output. Deliberately no `maxRows = k`: a known bound lets
  * EliminateLimits drop the LIMIT above, and the TopN then plans as a global
  * sort with a range-partition exchange and a sampling job. */
case class HnswIndexScan(
    indexName: String,
    queryVec: Array[Float],
    k: Int,
    rowidAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
  override def simpleString(maxFields: Int): String =
    s"HnswIndexScan $indexName, k=$k"
}

/** Physical index scan: runs the (driver-resident or fanned-out) index
  * search once at execution time, then filters the child's partitions in
  * place to the hit rowids — no broadcast, no exchange, so a TopN above runs
  * as one job. NULL rowids never match, as under a rowid equi-join. */
case class HnswIndexScanExec(
    indexName: String,
    queryVec: Array[Float],
    k: Int,
    rowidAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def nodeName: String = "HnswIndexScan"
  override def simpleString(maxFields: Int): String =
    s"HnswIndexScan $indexName, k=$k"
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numHits" -> SQLMetrics.createMetric(sparkContext, "number of index hits"),
    "searchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index search time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val entry = IndexCatalog.get(indexName).getOrElse(
      throw new IllegalStateException(s"HNSW index $indexName was dropped"))
    val t0 = System.nanoTime()
    val hits = IndexCatalog.search(entry, sparkContext, conf, queryVec, k)
    val (searchTime, numHits) = (longMetric("searchTime"), longMetric("numHits"))
    searchTime += System.nanoTime() - t0
    numHits += hits.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(searchTime, numHits))
    // the index keys rows by the rowid column cast to BIGINT (createIndex)
    val isHit = InSet(Cast(rowidAttr, LongType), hits.map(h => h._1: Any).toSet)
    val (input, numOutputRows) = (child.output, longMetric("numOutputRows"))
    child.execute().mapPartitionsWithIndex { (index, iter) =>
      val pred = Predicate.create(isHit, input)
      pred.initialize(index)
      iter.filter { r =>
        val hit = pred.eval(r)
        if (hit) numOutputRows += 1
        hit
      }
    }
  }
}

/** Logical KNN-candidate generator: child (outer) rows fanned out to their k
  * index matches with a 1-indexed rank — the engine's
  * `LogicalHNSWIndexJoin` (reference src/hnsw/hnsw_optimize_join.cpp:187-317).
  * Output = outer columns ++ (match rowid, rank); the actual row fetch is a
  * rowid equi-join planned above this node. */
case class HnswKnnCandidates(
    indexName: String,
    k: Int,
    vecAttr: Attribute,
    rowidAttr: Attribute,
    rankAttr: Attribute,
    child: LogicalPlan,
    distAttr: Option[Attribute] = None) extends UnaryNode {
  override def output: Seq[Attribute] =
    child.output ++ (Seq(rowidAttr, rankAttr) ++ distAttr)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(rowidAttr, rankAttr) ++ distAttr)
  override def maxRows: Option[Long] = child.maxRows.map(_ * k)
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
  override def simpleString(maxFields: Int): String =
    s"HnswKnnCandidates $indexName, k=$k"
}

/** Physical KNN candidates: broadcast the index once, stream the outer side
  * partition-parallel with no shuffle (the reference's batched
  * `PhysicalHNSWIndexJoin`, src/hnsw/hnsw_optimize_join.cpp:33-181; rank is
  * 1-indexed as there, :148). NULL outer vectors emit nothing (reference
  * NULL semantics, test/sql/hnsw/hnsw_lateral_join.test:46-67).
  *
  * Index residency per executor: a single-graph index is broadcast whole (it
  * is RAM-resident by contract, reference README.md:74). A SHARDED index
  * broadcasts only shard metadata; each task then buffers its outer
  * partition and runs a shard-MAJOR batched search
  * (ShardedHnswIndex.searchBatch) — shards stream through the LRU-capped
  * per-JVM ShardCache one at a time, so executor memory is bounded by
  * cache-cap × max(shard), never Σ(shards). Task memory adds the buffered
  * outer partition + O(batch × k) result heaps.
  *
  * SQL metrics: output rows, probes searched (non-NULL outer rows) and
  * search time, counted in task locals and added once per task. */
case class HnswKnnCandidatesExec(
    indexName: String,
    k: Int,
    vecAttr: Attribute,
    output: Seq[Attribute],
    child: SparkPlan,
    emitDist: Boolean = false) extends UnaryExecNode {
  override def nodeName: String = "HnswKnnJoin"
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numProbes" -> SQLMetrics.createMetric(sparkContext, "number of probes searched"),
    "searchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index search time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val entry = IndexCatalog.get(indexName).getOrElse(
      throw new IllegalStateException(s"HNSW index $indexName was dropped"))
    val (ef, efPinned) = IndexCatalog.resolveEf(entry, conf)
    // session-cached broadcast (see IndexCatalog.broadcastFor): a fresh
    // broadcast per doExecute accumulated across a long session until the
    // block manager evicted the deserialized copies and every later task
    // re-deserialized the whole index on .value
    val bcIndex = IndexCatalog.broadcastFor(sparkContext, entry)
    val childTypes = child.output.map(_.dataType).toArray
    val n = childTypes.length
    val vecOrd = child.output.indexWhere(_.exprId == vecAttr.exprId)
    require(vecOrd >= 0, s"vector column $vecAttr not found in child output")
    val outTypes = output.map(_.dataType).toArray
    val kLocal = k
    val withDist = emitDist
    val (numOutputRows, numProbes, searchTime) =
      (longMetric("numOutputRows"), longMetric("numProbes"), longMetric("searchTime"))
    child.execute().mapPartitions { iter =>
      // task-local counts, added to the metrics once when the task ends
      var probes, outRows, searchNs = 0L
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        numProbes += probes
        numOutputRows += outRows
        searchTime += searchNs
      }
      val proj = UnsafeProjection.create(outTypes)
      val width = if (withDist) n + 3 else n + 2
      def emit(r: InternalRow, hits: Array[(Long, Double)]): Iterator[InternalRow] = {
        outRows += hits.length
        hits.iterator.zipWithIndex.map { case ((rowid, dist), pos) =>
          val vals = new Array[Any](width)
          var j = 0
          while (j < n) { vals(j) = r.get(j, childTypes(j)); j += 1 }
          vals(n) = rowid
          vals(n + 1) = pos + 1 // 1-indexed rank, IntegerType (row_number parity)
          if (withDist) vals(n + 2) = dist
          proj(new GenericInternalRow(vals)).copy(): InternalRow
        }
      }
      def queryVec(r: InternalRow): Array[Float] = {
        val ad = r.getArray(vecOrd)
        val q = new Array[Float](ad.numElements())
        var i = 0
        while (i < q.length) { q(i) = ad.getFloat(i); i += 1 }
        q
      }
      val index = bcIndex.value
      graft.index.VectorIndex.sharded(index) match {
        case Some(sh) =>
          // shard-major batch: buffer the partition's outer rows, walk the
          // shards sequentially (one resident at a time), merge per row
          val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          val qs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
          iter.foreach { inRow =>
            if (!inRow.isNullAt(vecOrd)) {
              val r = inRow.copy()
              rows += r
              qs += queryVec(r)
            }
          }
          if (rows.isEmpty) Iterator.empty
          else {
            val t0 = System.nanoTime()
            val results = sh.searchBatch(qs.toArray, kLocal, ef, efPinned)
            searchNs += System.nanoTime() - t0
            probes += rows.length
            rows.iterator.zipWithIndex.flatMap { case (r, i) => emit(r, results(i)) }
          }
        case None =>
          iter.flatMap { inRow =>
            if (inRow.isNullAt(vecOrd)) Iterator.empty
            else {
              val r = inRow.copy()
              val t0 = System.nanoTime()
              val hits = index.search(queryVec(r), kLocal, ef)
              searchNs += System.nanoTime() - t0
              probes += 1
              emit(r, hits)
            }
          }
      }
    }
  }
}
