package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise dedup output (MinHash/LSH, Jaccard, embedding near-dup)
  * into actionable duplicate CLUSTERS with one canonical representative,
  * the final stage of every C4/RefinedWeb-style dedup pipeline.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts labeled
  * with its own id; each round it takes the min of its label and its
  * neighbors' labels, until a fixpoint. Rounds needed = graph diameter —
  * for dedup graphs (small, dense clusters) a handful; the per-round cost
  * is ONE shuffle join (edges × labels) plus a map-side-combined min
  * aggregate, both keyed joins Spark scales horizontally. Lineage is
  * truncated per round (`localCheckpoint`), so plans stay O(1) deep no
  * matter the iteration count; a 100 TB deployment would swap the
  * checkpoint for a persisted table per round. For graphs with large
  * diameters (not dedup's shape) the star-contraction variants converge in
  * O(log n) rounds at the cost of more complex rounds.
  */
object Components {

  /** Component label (= min vertex id reachable) for every vertex.
    *
    * Adaptive execution, same result either way: the edge list is
    * materialized once (it is duplicate-set-sized — a sliver of the
    * corpus even at 100 TB) and COUNTED; at or below
    * `localEdgeThreshold` directed edges the components are solved with
    * a driver-side union-find (one collect bounded by the threshold,
    * zero iterative jobs), above it with iterative min-label propagation
    * whose per-round cost is one shuffle join Spark scales horizontally.
    * Same design as Spark's own broadcast-join threshold: below the cut
    * the distributed machinery's per-round fixed cost (plan, codegen,
    * 32-partition exchanges, checkpoint, fixpoint count — measured
    * ~0.9 s/round for a few hundred labels) dwarfs the work itself.
    *
    * @param vertices one column = vertex id (every id that should appear in
    *                 the output, including isolated vertices)
    * @param edges    two columns (a, b) = undirected edges over vertex ids;
    *                 an endpoint absent from `vertices` is ignored
    * @param localEdgeThreshold max DIRECTED edge-list rows (2× the input
    *                 pair count) solved driver-side; ~16 bytes/row of
    *                 driver heap, default 2M ≈ 1M pairs
    * @return (idCol, comp) — comp = min id in the vertex's component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 50, localEdgeThreshold: Long = 2000000L): DataFrame = {
    val idCol = vertices.columns.head
    val vids = vertices.select(col(idCol).as("vid"))
    val sym = edges.toDF("a", "b")
      // contract: an edge with an endpoint absent from `vertices` is
      // ignored ENTIRELY — absent ids must neither relay connectivity nor
      // become component labels (dedupByClusters keys survivors on
      // comp ∈ vertex ids)
      .join(vids, col("a") === col("vid"), "left_semi")
      .join(vids, col("b") === col("vid"), "left_semi")
    val undirected = sym.select(col("a").as("s"), col("b").as("d"))
      .union(sym.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint()
    if (undirected.count() <= localEdgeThreshold)
      return localComponents(vertices, idCol, undirected)
    // Propagation runs over the edge-TOUCHED vertices only: an isolated
    // vertex can never change its label, and in a dedup graph touched
    // vertices (2×|pairs| worst case) are a sliver of the corpus — at
    // 100 TB the iterated state is duplicate-set-sized, not corpus-sized.
    // Isolated vertices rejoin as their own singleton component at the end.
    val touched = undirected.select(col("s").as("id")).distinct()
      .localCheckpoint()
    var labels = touched.select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = undirected
        .join(labels.select(col("id").as("d"), col("comp").as("dcomp")), "d")
        .groupBy(col("s").as("id"))
        .agg(min(col("dcomp")).as("nmin"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .localCheckpoint()
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.drop("prev")
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    // touched ⊆ vertices (absent-endpoint edges were dropped up front), so
    // labels needs no membership re-filter
    val isolated = vertices.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    labels.unionByName(isolated)
      .select(col("id").as(idCol), col("comp"))
  }

  /** Driver-side union-find over a threshold-bounded edge list (the
    * small-graph arm of [[connectedComponents]]'s adaptive split). Union
    * by MIN id — the smaller root always becomes parent — so at the end
    * every root IS its component's min id; path compression keeps finds
    * near-O(α). The collect is bounded by the caller's edge threshold
    * (~16 bytes/row), the same kind of size-capped driver materialization
    * as a broadcast-join build side. */
  private def localComponents(vertices: DataFrame, idCol: String,
      undirected: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // undirected is localCheckpointed: this streams the materialized
    // blocks, it does not recompute the semi-joins
    undirected.toLocalIterator().forEachRemaining { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labelled = parent.keysIterator
      .map(id => (id, find(id))).toSeq
    val labels =
      if (labelled.isEmpty) // createDataFrame can't infer a schema from Nil
        spark.range(0).select(col("id"), col("id").as("comp"))
      else spark.createDataFrame(labelled).toDF("id", "comp")
    val isolated = vertices.select(col(idCol).as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    labels.unionByName(isolated)
      .select(col("id").as(idCol), col("comp"))
  }

  /** Canonical-survivor dedup: cluster `docs` by the near-dup `pairs` and
    * keep one representative (the min id) per cluster. */
  def dedupByClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(docs.select(col(idCol)), pairs)
    docs.join(comps.where(col(idCol) === col("comp")).select(col(idCol)), Seq(idCol))
  }
}
