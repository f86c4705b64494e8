package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Options for index creation, validated with the same rules (and error
  * wording) as the reference binder
  * (reference src/hnsw/hnsw_index_plan.cpp:33-80). */
case class HnswOptions(
    metric: String = "l2sq",
    efConstruction: Int = 128,
    efSearch: Int = 64,
    m: Int = 16,
    m0Opt: Option[Int] = None,
    dimensions: Option[Int] = None) {
  def m0: Int = m0Opt.getOrElse(2 * m) // reference: M0 defaults to 2*M (hnsw_index.cpp:181)
}

object HnswOptions {
  val ValidMetrics: Set[String] = Set("l2sq", "cosine", "ip")

  // reference error wording, canonical option casing (reference
  // src/hnsw/hnsw_index.cpp option binder; pinned by
  // test/sql/hnsw/hnsw_options.test: "HNSW index '<opt>' must be an
  // integer" / "... must be at least N")
  private def intOpt(canonical: String, value: String, min: Int): Int = {
    val v =
      try value.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"HNSW index '$canonical' must be an integer")
      }
    if (v < min) throw new IllegalArgumentException(
      s"HNSW index '$canonical' must be at least $min")
    v
  }

  def fromMap(opts: Map[String, String]): HnswOptions = {
    var o = HnswOptions()
    opts.foreach { case (key, value) =>
      key.toLowerCase match {
        case "metric" =>
          if (!ValidMetrics.contains(value)) {
            throw new IllegalArgumentException(s"Unknown metric kind: $value")
          }
          o = o.copy(metric = value)
        case "ef_construction" =>
          o = o.copy(efConstruction = intOpt("ef_construction", value, 1))
        case "ef_search" =>
          o = o.copy(efSearch = intOpt("ef_search", value, 1))
        case "m" =>
          o = o.copy(m = intOpt("M", value, 2))
        case "m0" =>
          o = o.copy(m0Opt = Some(intOpt("M0", value, 2)))
        case "dimensions" =>
          // engine extension: Spark can't read the dimension off a FLOAT[N]
          // type (SURVEY.md §7.3), so an EMPTY table needs it declared to
          // build an index the reference can build from the column type
          // (GraftSql records the declared FLOAT[n] and supplies this)
          o = o.copy(dimensions = Some(intOpt("dimensions", value, 1)))
        case other =>
          throw new IllegalArgumentException(s"Unknown option for HNSW index: $other")
      }
    }
    o
  }
}

/** Catalog entry: index + what it was built over. `plan` is the analyzed
  * logical plan of the indexed table, used by the optimizer rules to decide
  * whether a query subtree is "the indexed table" (the Spark stand-in for the
  * reference's table-pointer identity check,
  * reference src/hnsw/hnsw_optimize_scan.cpp:90-94). */
case class IndexEntry(
    name: String,
    table: String,
    column: String,
    options: HnswOptions,
    index: VectorIndex,
    plan: LogicalPlan,
    rowidCol: String)

/** Engine-level secondary-index catalog — the Spark equivalent of the
  * reference's index-type registration + catalog entries
  * (reference src/hnsw/hnsw_index.cpp:667-691,
  * src/hnsw/hnsw_index_physical_create.cpp:263-279). Spark has no native
  * secondary-index concept, so the engine owns the mapping
  * name → (table, column, params, artifact).
  *
  * Session conf knobs:
  *   - `graft.hnsw.efSearch`: query-time ef override (the reference's
  *     `SET hnsw_ef_search`, reference src/hnsw/hnsw_index.cpp:285-299).
  */
object IndexCatalog {
  private val entries = TrieMap.empty[String, IndexEntry]

  val EfSearchConfKey = "graft.hnsw.efSearch"

  /** Opt-in scale-aware builds (`graft.hnsw.autoScaleBuild`), two arms for
    * two workload shapes. Fixed single-graph builds do not hold RECALL
    * across scale decades: measured with ProfileRecall on the sf10 fixture
    * (200k cosine vectors, dim 64), the reference defaults
    * M=16/ef_construction=128 read recall@10 0.818 at ef=64 (vs 0.964 at
    * 20k and 0.952 at 2k with the SAME defaults), and raising search ef
    * cannot buy it back cheaply (0.966 at ef=512 — the graph itself is the
    * bottleneck). The arms:
    *
    *  - `"true"` / `"knobs"` — PROBE-HEAVY consumers (KNN joins over the
    *    whole table, q86/q87-class mining): a single graph whose per-probe
    *    cost does not multiply by a shard count is worth a heavier build,
    *    so knobs the user did not pin are raised to at least
    *    (M=32, ef_construction=256) past `graft.hnsw.autoScaleThreshold`
    *    rows (default 16384: reference defaults measurably hold the 0.95
    *    knn gate only well below 20k — a 20k default build reads mean
    *    recall@10 0.964, too close to the gate for build nondeterminism —
    *    and a low threshold keeps every measured decade ABOVE it at
    *    matched build options, so per-decade build ratios read the true
    *    n·log n envelope instead of a knob-crossing step) — measured 0.994
    *    recall@10 at ef=32 where defaults read 0.818; the intermediate
    *    grid fails the gate (M=32/efC=192 reads 0.962, efC=160 0.929,
    *    M=24/efC=192 0.919 — and efC reductions barely buy build time
    *    anyway, the build being latency- not flop-bound). The build cost
    *    of the raise was round-14's one super-linear entry and is
    *    re-engineered in round 15: float build kernels, lock-combining at
    *    scaled drain thresholds, 32 build threads — 66 -> 27 s for the
    *    200k build, measured (ProfileBuild phases). The threshold decision
    *    buffers the FIRST threshold+1 stream rows instead of running a
    *    count() pre-pass — one scan per build, and the buffer is strictly
    *    smaller than the graph the driver is about to hold anyway.
    *
    *  - `"route"` — BUILD/DML-BOUND consumers (CRUD-heavy indexes, point
    *    lookups): one Spark scan builds bounded sub-graphs on the
    *    executors (reference defaults per shard — small shards are exactly
    *    why sharded recall holds, plus the per-shard ef floor,
    *    ShardedHnswIndex.fanoutEf; measured gates 1.000/1.000 at sf10).
    *    Under-threshold scans fold the shard artifacts locally into the
    *    faithful single graph — the threshold decision reads the shard
    *    build's own row counts, again one scan. Per-shard size is bounded
    *    by `graft.hnsw.autoShardRows` (default 16384) whatever the scan's
    *    partitioning. NOT the default arm for probe-heavy work: an
    *    all-rows KNN join pays shards x the floored per-shard beam per
    *    probe (measured 14x on q86's 200k-probe join).
    *
    * OFF by default: the reference builds one graph with its fixed
    * defaults at every n, and its replayed storage tests
    * (hnsw_reclaim_storage at 1M rows) assert block counts that depend on
    * the single-graph layout — bit-parity wins by default, the 100 TB
    * pipeline surface opts in. Explicit options always win: both build
    * knobs pinned disables the raise; pinned knobs ride into every routed
    * shard verbatim. Explicitly-sharded builds are untouched: their
    * per-shard n is the operator's numShards choice. */
  val AutoScaleConfKey = "graft.hnsw.autoScaleBuild"
  val AutoScaleThresholdConfKey = "graft.hnsw.autoScaleThreshold"
  val AutoShardRowsConfKey = "graft.hnsw.autoShardRows"
  val AutoScaleM = 32
  val AutoScaleEfC = 256

  /** Rows at which a sharded index's driver-side DML delta graph is sealed
    * into an immutable shard artifact (ShardedHnswIndex.insert) — the
    * memtable-flush bound that keeps driver heap constant under sustained
    * ingest between compactions. Default matches `autoShardRows`: a spilled
    * delta IS a routed shard, just fed by DML instead of a scan. */
  val DeltaSpillRowsConfKey = "graft.hnsw.deltaSpillRows"

  /** Where shard artifacts land (shared storage at cluster scale). */
  def indexArtifactDir: String =
    sys.props.getOrElse("graft.indexes.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-indexes")

  def get(name: String): Option[IndexEntry] = entries.get(name)
  def list: Seq[IndexEntry] = entries.values.toSeq.sortBy(_.name)

  /** Re-capture the indexed table's plan for every index on `table` — DML
    * deepens the serving view (insert unions a delta, delete stacks an
    * anti-join/filter), and the rewrite rules match a query subtree against
    * the OPTIMIZED shape of the current view. Without this, the first
    * insert would silently knock every later query off the index path
    * (answers stay right; the plan regresses to a full scan). */
  def refreshTablePlans(spark: SparkSession, table: String): Unit = {
    val affected = entries.values.filter(_.table == table)
    if (affected.nonEmpty) {
      val plan = spark.table(table).queryExecution.optimizedPlan
      affected.foreach(e => entries(e.name) = e.copy(plan = plan))
    }
  }
  def clear(): Unit = {
    entries.clear(); walDir = None
    StorageIndexCatalog.disarm() // symmetric: no stale armed manifest dir
  }

  /** Query-time ef and whether the session PINS it, read through `conf`
    * (a key lookup: `spark.conf.getOption` on the driver API, the plan's
    * SQLConf inside an exec node). A set `graft.hnsw.efSearch` (the
    * reference's `SET hnsw_ef_search`) beats the index's build-time default
    * and is a pin: sharded fan-out searches then honor it verbatim instead
    * of raising it to the per-shard recall floor (ShardedHnswIndex.fanoutEf)
    * — explicit options always win, and a latency-sensitive caller can trade
    * recall for speed below the floor. A build-time `ef_search` index option
    * is a DEFAULT, not a pin, and stays floor-eligible. A value that is not
    * an integer fails here, naming the key. */
  def resolveEf(entry: IndexEntry, conf: String => Option[String]): (Int, Boolean) =
    conf(EfSearchConfKey) match {
      case None => (entry.options.efSearch, false)
      case Some(v) => (graft.Knobs.int(EfSearchConfKey, v), true)
    }

  /** Query-time ef alone (see resolveEf). */
  def effectiveEf(spark: SparkSession, entry: IndexEntry): Int =
    resolveEf(entry, spark.conf.getOption)._1

  private def vecColOrThrow(df: DataFrame, column: String): Unit =
    df.schema.fields.find(_.name == column) match {
      case Some(StructField(_, ArrayType(FloatType, _), _, _)) => ()
      case Some(f) => throw new IllegalArgumentException(
        s"HNSW index keys must be of type FLOAT[N], got ${f.dataType.simpleString}")
      case None => throw new IllegalArgumentException(
        s"column $column not found in table")
    }

  /** CREATE INDEX ... USING HNSW — builds and registers.
    *
    * `sharded=true` builds one sub-graph per partition in parallel on the
    * executors (the 100TB path: build is shuffle-free and embarrassingly
    * parallel, mirroring the reference's parallel two-phase build,
    * reference src/hnsw/hnsw_index_physical_create.cpp:283-306).
    * `sharded=false` streams to a single driver-built graph — the faithful
    * single-node analog.
    *
    * The table must carry a stable BIGINT rowid column (default `__rowid`);
    * NULL vectors are filtered before the build, exactly as the reference
    * injects IS NOT NULL (reference src/hnsw/hnsw_index_plan.cpp:118-133). */
  def createIndex(
      spark: SparkSession,
      name: String,
      table: String,
      column: String,
      options: Map[String, String] = Map.empty,
      sharded: Boolean = false,
      rowidCol: String = "__rowid",
      numShards: Int = 0): IndexEntry = {
    if (entries.contains(name)) {
      // DuckDB catalog semantics: CREATE INDEX with an existing name errors
      throw new IllegalArgumentException(s"""Index with name "$name" already exists!""")
    }
    // In a PERSISTENT database session the reference refuses index creation
    // unless the experimental-persistence gate is open (the index would be
    // durable state it can't yet serialize safely) — same wording, same
    // trigger (reference test/sql/hnsw/hnsw_experimental_persistence.test:
    // 14-17). In-memory sessions (the conf unset) are ungated, as there.
    if (spark.conf.getOption(PersistentDatabaseConfKey).exists(_.toBoolean) &&
        !persistenceEnabled(spark)) {
      throw new IllegalStateException(
        "HNSW indexes can only be created in in-memory databases, or when the " +
          "configuration option 'hnsw_enable_experimental_persistence' is set to true.")
    }
    val opts = HnswOptions.fromMap(options)
    val df = spark.table(table)
    vecColOrThrow(df, column)
    require(df.schema.fieldNames.contains(rowidCol),
      s"table $table must carry a materialized $rowidCol BIGINT column " +
        "(register it with Graft.registerTable)")

    val pairs0 = df.select(col(rowidCol).cast(LongType), col(column))
      .where(col(column).isNotNull)
    // numShards sizes shard graphs to executor memory independently of the
    // scan's partitioning (one shard per partition otherwise)
    val pairs = if (sharded && numShards > 0) pairs0.repartition(numShards) else pairs0

    // scale-aware build arm (see AutoScaleConfKey doc): "knobs" for
    // probe-heavy single graphs, "route" for build/DML-bound fan-out
    val autoMode =
      if (sharded) "off"
      else spark.conf.getOption(AutoScaleConfKey).map(_.toLowerCase) match {
        case Some("route") => "route"
        case Some(v) if v == "true" || v == "knobs" => "knobs"
        case _ => "off"
      }
    val explicitKeys = options.keySet.map(_.toLowerCase)
    val threshold = spark.conf.getOption(AutoScaleThresholdConfKey)
      .map(_.toLong).getOrElse(16384L)

    var effOpts = opts
    val index: VectorIndex =
      if (sharded) {
        val metas = buildShardMetas(pairs,
          s"$indexArtifactDir/$name-${System.currentTimeMillis()}", opts)
        if (metas.isEmpty) {
          emptyIndexOrThrow(table, opts)
        } else new ShardedHnswIndex(metas)
      } else if (autoMode == "knobs" &&
          !(explicitKeys("m") && explicitKeys("ef_construction"))) {
        // One-scan threshold probe: buffer the stream until threshold+1
        // rows decide the raise — no count() pre-pass, and the buffer is
        // strictly smaller than the graph the driver is about to hold.
        val it = pairs.toLocalIterator()
        if (!it.hasNext) emptyIndexOrThrow(table, opts)
        else {
          val probe = math.min(threshold, Int.MaxValue - 8L).toInt
          val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
          while (it.hasNext && buf.size <= probe) {
            val r = it.next()
            buf += ((r.getLong(0), r.getSeq[Float](1).toArray))
          }
          if (buf.size > probe) {
            effOpts = opts.copy(
              m = if (explicitKeys("m")) opts.m else math.max(opts.m, AutoScaleM),
              efConstruction =
                if (explicitKeys("ef_construction")) opts.efConstruction
                else math.max(opts.efConstruction, AutoScaleEfC))
          }
          val rest = new Iterator[(Long, Array[Float])] {
            def hasNext: Boolean = it.hasNext
            def next(): (Long, Array[Float]) = {
              val r = it.next()
              (r.getLong(0), r.getSeq[Float](1).toArray)
            }
          }
          buildSingle(buf.iterator ++ rest, effOpts)
        }
      } else if (autoMode == "route") {
        // Scale-routed build (see AutoScaleConfKey doc): ONE scan builds
        // bounded executor shards; the threshold decision reads the shard
        // metas' own row counts, so no extra count() pre-pass ever fires.
        val shardRows = spark.conf.getOption(AutoShardRowsConfKey)
          .fold(16384)(graft.Knobs.int(AutoShardRowsConfKey, _))
        // parallelism guard for under-partitioned scans (a local bench's
        // 51 MB parquet arrives as 1-2 fat partitions, which would build
        // its chunked shards SERIALLY in one task): widen ONLY when the
        // scan has fewer partitions than the cluster has slots — a real
        // 100 TB scan arrives with P >> slots and is never reshuffled.
        val p0 = pairs.rdd.getNumPartitions
        val slots = spark.sparkContext.defaultParallelism
        val spread = if (p0 < slots) pairs.repartition(slots) else pairs
        val dir = s"$indexArtifactDir/$name-${System.currentTimeMillis()}"
        val metas = buildShardMetas(spread, dir, opts, maxRowsPerShard = shardRows)
        val n = metas.map(_.count.toLong).sum
        if (metas.isEmpty) emptyIndexOrThrow(table, opts)
        else if (n <= threshold) {
          // small table: fold the shard artifacts into the faithful
          // driver-resident single graph (local artifact reads — no second
          // Spark scan), then reclaim the interim shards
          val single = foldToSingle(metas, opts)
          metas.foreach(m => ShardCache.evict(m.path))
          ArtifactIO.deleteRecursive(dir)
          single
        } else new ShardedHnswIndex(metas)
      } else {
        // Driver-built single graph, parallel construct phase: rows stream in
        // via toLocalIterator (driver memory = one partition at a time) and
        // N threads insert concurrently — the reference's two-phase bulk
        // build (reference src/hnsw/hnsw_index_physical_create.cpp:283-306).
        val it = pairs.toLocalIterator()
        if (!it.hasNext) {
          emptyIndexOrThrow(table, opts)
        } else {
          val rows = new Iterator[(Long, Array[Float])] {
            def hasNext: Boolean = it.hasNext
            def next(): (Long, Array[Float]) = {
              val r = it.next()
              (r.getLong(0), r.getSeq[Float](1).toArray)
            }
          }
          buildSingle(rows, opts)
        }
      }

    // optimizedPlan, matching refreshTablePlans/restore: an index created on
    // a table that already carries DML (a post-insert union view, a delete
    // filter) must store the same OPTIMIZED shape the rewrite rules see in
    // query subtrees — the analyzed view would never sameResult-match and the
    // index would silently fall back to full scans until the next DML
    // happened to refresh it. `effOpts` carries a knob-arm raise so
    // pragma_hnsw_index_info and restores describe the graph actually built.
    val entry = IndexEntry(name, table, column, effOpts, index,
      df.queryExecution.optimizedPlan, rowidCol)
    entries(name) = entry
    entry
  }

  /** Executor-resident shard build, shared by CREATE INDEX (sharded /
    * auto-routed) and batch ingest (Graft.insertInto): each task constructs
    * its partition's sub-graph AND persists it to shared storage in place;
    * only ShardMeta (path + stats + key Bloom filter) returns to the driver.
    * Driver memory is O(shards), never the vectors — the scale contract a
    * driver-collected build could not meet. `shardDir` must be fresh per
    * call (artifact paths are immutable so per-JVM shard caches never go
    * stale). `pairs` must be (rowid BIGINT, vec ARRAY<FLOAT>) with NULL
    * vectors already filtered.
    *
    * `maxRowsPerShard > 0` CHUNKS fat partitions into multiple bounded
    * sub-graphs (one resident at a time — task memory stays O(chunk)
    * whatever `spark.sql.files.maxPartitionBytes` dealt): the auto-routed
    * build's per-shard recall bound (small shards + the fan-out ef floor)
    * must hold even when the scan hands one task millions of rows. 0 keeps
    * the historical one-shard-per-partition contract. */
  def buildShardMetas(pairs: DataFrame, shardDir: String,
      opts: HnswOptions, maxRowsPerShard: Int = 0): Array[ShardMeta] = {
    ArtifactIO.mkdirs(shardDir)
    val maxRows = maxRowsPerShard
    pairs.rdd.mapPartitionsWithIndex { (pid, it) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[ShardMeta]
      var idx: HnswIndex = null
      var chunk = 0
      var rows = 0
      def finish(): Unit = if (idx != null) {
        // uniform 0-orphan post-condition with addAll (O(edges), cheap)
        idx.repairConnectivity()
        val p =
          if (maxRows <= 0) s"$shardDir/shard-$pid.hnsw"
          else s"$shardDir/shard-$pid-$chunk.hnsw"
        idx.save(p)
        out += ShardMeta.of(p, idx)
        idx = null
        rows = 0
        chunk += 1
      }
      it.foreach { row =>
        val vec = row.getSeq[Float](1).toArray
        if (idx == null) {
          idx = new HnswIndex(vec.length, opts.metric, opts.m, opts.m0,
            opts.efConstruction, opts.efSearch)
        }
        idx.add(row.getLong(0), vec)
        rows += 1
        if (maxRows > 0 && rows >= maxRows) finish()
      }
      finish()
      out.iterator
    }.collect()
  }

  /** Fold freshly-built shard artifacts into ONE driver-resident graph —
    * the auto-routed build's under-threshold arm. Reads the (key, vector)
    * pairs back from the local shard files (never a second Spark scan) and
    * re-links them through the parallel bulk build; the key-hashed level
    * draw makes the result equivalent to a direct single build over the
    * same key set (order-independent levels, capacity-padded artifact). */
  private def foldToSingle(metas: Array[ShardMeta], opts: HnswOptions): VectorIndex =
    buildSingle(metas.iterator.flatMap { m =>
      val g = HnswIndex.load(m.path)
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](m.count)
      g.forEachLive((k, v) => buf += ((k, v)))
      buf.iterator
    }, opts)

  /** Empty-table index: legal when `dimensions` is declared (the reference
    * reads N off the FLOAT[N] column type and happily builds an empty index,
    * test/sql/hnsw/hnsw_insert.test:10-21; Spark's type system can't carry
    * N, so it arrives as an option). */
  private def emptyIndexOrThrow(table: String, opts: HnswOptions): VectorIndex =
    opts.dimensions match {
      case Some(d) => new SingleHnswIndex(new HnswIndex(d, opts.metric, opts.m,
        opts.m0, opts.efConstruction, opts.efSearch))
      case None => throw new IllegalArgumentException(
        s"table $table has no non-NULL vectors to index " +
          "(declare WITH (dimensions = N) to create an empty index)")
    }

  /** Parallel driver-side single-graph build over a (key, vector) stream —
    * the reference's two-phase bulk build
    * (reference src/hnsw/hnsw_index_physical_create.cpp:283-306). */
  private def buildSingle(it: Iterator[(Long, Array[Float])],
      opts: HnswOptions): VectorIndex = {
    val (firstKey, firstVec) = it.next()
    val idx = new HnswIndex(firstVec.length, opts.metric, opts.m, opts.m0,
      opts.efConstruction, opts.efSearch)
    idx.add(firstKey, firstVec)
    // Thread count by WORK PER INSERT: at heavy knobs (M>=32 or efC>=256 —
    // the scale-raised builds) the beam search dominates and 32 threads
    // measured 1.6x faster than 16 on 200k dim-64 rows (37 vs 58 s,
    // ProfileBuild phases); at the reference defaults the combiner's
    // serial share caps scaling and 16 stays within ~20% of best on random
    // dim-64 input while being 1.6x FASTER on adversarial collinear input
    // (26.6k vs 16k vec/s at 1M x dim-3, where searches are cheap).
    val heavy = opts.m >= 32 || opts.efConstruction >= 256
    val threads = math.min(if (heavy) 32 else 16,
      Runtime.getRuntime.availableProcessors())
    idx.addAll(it, threads)
    new SingleHnswIndex(idx)
  }

  /** Evict an index's shard artifacts from THIS JVM's shard cache (old
    * artifacts would otherwise stay pinned after drop/compact; executors on
    * a real cluster age their caches out independently). */
  private def evictShards(idx: VectorIndex): Unit = idx match {
    case sh: ShardedHnswIndex => sh.shards.foreach(s => ShardCache.evict(s.path))
    case _ => ()
  }

  // ---------------------------------------------------------------------
  // Broadcast reuse across executions. HnswKnnCandidatesExec used to call
  // sparkContext.broadcast(entry.index) in EVERY doExecute: a long session
  // (the 88-query bench, a real notebook) accumulates dozens of live index
  // broadcasts, storage memory fills, the block manager evicts the
  // DESERIALIZED copies, and every later task re-deserializes the index
  // from chunks on .value — measured: the sf1 exhaustive KNN joins
  // (q28/q65) read ~16 s late in a full bench session vs 6.2 s in a fresh
  // JVM, at near-zero steal, with the same plan and the same index. The
  // catalog now owns ONE broadcast per index, reused until the index is
  // replaced (instance identity — compact/restore swap instances) or any
  // in-place DML lands anywhere (a coarse global epoch, bumped by
  // insert/delete/WAL-replay; DML is rare next to queries, and
  // over-invalidation only costs one re-broadcast). The replaced
  // broadcast's executor copies are unpersisted (non-blocking, safe for
  // in-flight value holders); the object itself stays GC-collectable.
  private val broadcastEpoch = new java.util.concurrent.atomic.AtomicLong(0)
  private val bcCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, VectorIndex, org.apache.spark.broadcast.Broadcast[VectorIndex])]()

  /** Invalidate every cached index broadcast — call after ANY in-place
    * index mutation (insert/delete/WAL replay). */
  def bumpBroadcastEpoch(): Unit = { broadcastEpoch.incrementAndGet(); () }

  /** The session-cached broadcast of `entry`'s index, re-broadcast only
    * when the index instance changed or the DML epoch moved. */
  def broadcastFor(sc: org.apache.spark.SparkContext, entry: IndexEntry)
      : org.apache.spark.broadcast.Broadcast[VectorIndex] = {
    val epoch = broadcastEpoch.get()
    val cached = bcCache.get(entry.name)
    if (cached != null && cached._1 == epoch && (cached._2 eq entry.index))
      cached._3
    else bcCache.synchronized {
      // re-check under the lock: two concurrent first executions must not
      // both broadcast and leak one
      val again = bcCache.get(entry.name)
      if (again != null && again._1 == epoch && (again._2 eq entry.index))
        again._3
      else {
        val bc = sc.broadcast(entry.index)
        val old = bcCache.put(entry.name, (epoch, entry.index, bc))
        if (old != null) scala.util.Try(old._3.unpersist(false))
        bc
      }
    }
  }

  private def dropBroadcast(name: String): Unit = {
    val old = bcCache.remove(name)
    if (old != null) scala.util.Try(old._3.unpersist(false))
    ()
  }

  /** DROP INDEX (reference CommitDrop, src/hnsw/hnsw_index.cpp:484-489).
    * When WAL logging is armed, the drop is itself a WAL record — without
    * it, a post-checkpoint DROP would be silently undone on restore, and a
    * drop/recreate under the same name would replay the old epoch's records
    * onto the new index. */
  def dropIndex(name: String): Boolean =
    if (!entries.contains(name)) false
    else {
      withWal(name)(_.foreach(_.drop()))
      dropBroadcast(name)
      entries.remove(name) match {
        case Some(e) => evictShards(e.index); true
        case None => false
      }
    }

  /** PRAGMA hnsw_compact_index('name')
    * (reference src/hnsw/hnsw_index_pragmas.cpp:154-197). */
  def compactIndex(name: String): Unit = entries.get(name) match {
    case Some(e) =>
      entries(name) = e.copy(index = e.index.compacted())
      evictShards(e.index)
    case None => throw new IllegalArgumentException(s"no HNSW index named $name")
  }

  /** Cluster variant: sharded indexes compact as one Spark task per shard
    * (executor memory bounds one shard, driver loads none); others fall back
    * to the local rebuild. */
  def compactIndex(spark: SparkSession, name: String): Unit = entries.get(name) match {
    case Some(e) =>
      val target = e.index match {
        case l: LazyLoadedIndex => l.resolved
        case x => x
      }
      val fresh = target match {
        case sh: ShardedHnswIndex =>
          sh.compactedDistributed(spark.sparkContext,
            s"$indexArtifactDir/$name-compact-${System.currentTimeMillis()}")
        case idx => idx.compacted()
      }
      entries(name) = e.copy(index = fresh)
      evictShards(target)
    case None => throw new IllegalArgumentException(s"no HNSW index named $name")
  }

  /** Find indexes on a given table+column+metric (rule-side lookup). */
  def forTableColumn(table: String, column: String, metric: String): Option[IndexEntry] =
    entries.values.find(e => e.table == table && e.column == column &&
      e.options.metric == metric)

  /** `pragma_hnsw_index_info()` equivalent — same 11-column schema
    * (reference src/hnsw/hnsw_index_pragmas.cpp:22-61, FIXTURES.md). */
  def describe(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("catalog_name", StringType),
      StructField("schema_name", StringType),
      StructField("index_name", StringType),
      StructField("table_name", StringType),
      StructField("metric", StringType),
      StructField("dimensions", LongType),
      StructField("count", LongType),
      StructField("capacity", LongType),
      StructField("approx_memory_usage", LongType),
      StructField("levels", LongType),
      StructField("levels_stats", ArrayType(StructType(Seq(
        StructField("nodes", LongType),
        StructField("edges", LongType),
        StructField("max_edges", LongType),
        StructField("allocated_bytes", LongType)))))))
    val rows = list.map { e =>
      Row("spark_catalog", "default", e.name, e.table, e.options.metric,
        e.index.dim.toLong, e.index.size.toLong, e.index.capacity,
        e.index.approxMemoryBytes, e.index.levels.toLong,
        e.index.levelStats.map(s => Row(s.nodes, s.edges, s.maxEdges, s.allocatedBytes)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Shard-level introspection of one index — the operational view of the
    * LSM lifecycle this round closed: per-shard live/tombstone counts plus
    * pending delta rows are exactly what a 100 TB operator reads to decide
    * when `hnsw_compact_index` is due (fragmentation = shards past
    * ~liveRows/autoShardRows, or tombstone-heavy shards). Metadata-only by
    * construction: every column comes from the driver-resident ShardMeta /
    * tombstone attribution, NO shard graph is ever loaded (knob columns are
    * null for legacy manifests rather than paying the load). Single-graph
    * indexes report one row with a null path; the delta reports one row
    * with path "(delta)". Beyond the reference's surface (its single
    * RAM-resident graph has no shards to introspect). */
  def describeShards(spark: SparkSession, name: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("index_name", StringType),
      StructField("shard", StringType),
      StructField("rows", LongType),
      StructField("tombstones", LongType),
      StructField("live_rows", LongType),
      StructField("levels", LongType),
      StructField("approx_memory_bytes", LongType),
      StructField("m", LongType),
      StructField("ef_construction", LongType),
      StructField("ef_search", LongType)))
    val entry = entries.getOrElse(name,
      throw new IllegalArgumentException(s"no HNSW index named $name"))
    val rows = VectorIndex.resolve(entry.index) match {
      case sh: ShardedHnswIndex =>
        val shardRows = sh.shards.toSeq.map { s =>
          val tombs = sh.tombstonesForShard(s.path).toLong
          Row(name, s.path, s.count.toLong, tombs, s.count - tombs,
            s.levels.toLong, s.approxMemoryBytes,
            if (s.knobs == null) null else s.knobs.m.toLong,
            if (s.knobs == null) null else s.knobs.efConstruction.toLong,
            if (s.knobs == null) null else s.knobs.efSearch.toLong)
        }
        val delta = sh.pendingDeltaSize.toLong
        if (delta == 0) shardRows
        else shardRows :+ Row(name, "(delta)", delta, 0L, delta,
          null, null, null, null, null)
      case idx =>
        Seq(Row(name, null, (idx.size + idx.deletedCount).toLong,
          idx.deletedCount.toLong, idx.size.toLong, idx.levels.toLong,
          idx.approxMemoryBytes, null, null, null))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** CHECKPOINT analog: persist every index artifact under `dir`
    * (reference PersistToDisk at checkpoint, src/hnsw/hnsw_index.cpp:510-532). */
  /** Persist every index artifact under `dir` at its STABLE path, each
    * published by save-to-tmp-then-swap: a crash mid-save leaves the
    * previous checkpoint's artifact intact (a torn in-place overwrite
    * would strand the still-published manifest pointing at garbage), and
    * the delete-to-rename window is repaired at load time
    * (LazyLoadedIndex falls back to a complete `.tmp`). */
  def persistAll(dir: String): Seq[String] = list.map { e =>
    val path = e.index match {
      case _: ShardedHnswIndex => s"$dir/${e.name}"
      case _: LazyLoadedIndex => s"$dir/${e.name}"
      case _ => s"$dir/${e.name}.hnsw"
    }
    val tmp = path + ".tmp"
    ArtifactIO.deleteRecursive(tmp) // stale tmp from an earlier crash
    e.index.save(tmp)
    ArtifactIO.deleteRecursive(path)
    ArtifactIO.rename(tmp, path)
    path
  }

  /** Gate for persistence — the reference refuses disk-backed HNSW indexes
    * unless `hnsw_enable_experimental_persistence` is set
    * (reference src/hnsw/hnsw_index_plan.cpp:21-30,
    * test/sql/hnsw/hnsw_experimental_persistence.test:14-17). */
  val PersistenceConfKey = "graft.hnsw.enableExperimentalPersistence"

  /** Set true by sessions that model a PERSISTENT database (the replayer's
    * `load`, or any deployment whose tables/indexes must survive restart):
    * gates CREATE INDEX on the experimental-persistence conf like the
    * reference does for on-disk databases. */
  val PersistentDatabaseConfKey = "graft.database.persistent"

  private def persistenceEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(PersistenceConfKey).exists(_.toBoolean)

  /** CHECKPOINT: persist all index artifacts + a catalog manifest so a
    * restarted session can reload them. Refuses unless the experimental-
    * persistence gate is set, with the reference's error wording. A fresh
    * checkpoint captures the complete index state, so it truncates any WAL
    * from the previous checkpoint epoch and arms WAL logging for DML that
    * follows (see [[withWal]]). */
  def checkpoint(spark: SparkSession, dir: String): Seq[String] = {
    // no HNSW indexes → nothing vss-gated to persist; DuckDB's core
    // CHECKPOINT succeeds regardless of the extension's gate, and the
    // storage-backed families (IVF/PQ/IVF-PQ/SQ/Term) checkpoint their
    // registry metadata ungated — their data is already durable and the
    // reference's experimental-persistence gate only guards serializing
    // the in-memory HNSW graph
    if (list.isEmpty) {
      StorageIndexCatalog.checkpoint(dir)
      graft.TableCatalog.checkpoint(dir) // tables are ungated like storage
      // every HNSW index is gone: reclaim what the previous checkpoint
      // persisted (artifacts + WAL dirs) and retire its manifest — the
      // durable state becomes "no indexes" rather than a manifest whose
      // entries only WAL drop-records keep dead. Bookkeeping, not graph
      // serialization, so it stays ungated like the storage families.
      // Destructive ONLY when this session owns dir's index state (it
      // checkpointed to or restored from dir): a fresh session that never
      // saw dir must not erase another deployment's persisted indexes by
      // issuing an incidental empty-catalog CHECKPOINT against it.
      if (walDir.contains(dir)) {
        val dst = s"$dir/catalog.manifest"
        val prev: Seq[(String, String)] =
          if (ArtifactIO.exists(dst))
            scala.util.Try(readManifest(dst)._2.map(m => (m._1, m._6)))
              .getOrElse(Nil)
          else Nil
        // manifest retired FIRST: a crash after this line leaks
        // unreferenced artifact files (the next checkpoint's orphan sweep
        // collects them) — never a published manifest referencing
        // already-deleted artifacts, which a later restoreAll would turn
        // into LazyLoadedIndex entries that fail at first access.
        ArtifactIO.deleteIfExists(dst)
        reclaimDropped(dir, liveNames = Set.empty, livePaths = Set.empty,
          prev = prev)
      }
      return Seq.empty
    }
    // gate FIRST: a refused CHECKPOINT must leave `dir` untouched — the
    // storage manifest too, or a later restoreAll would resurrect entries
    // from a checkpoint the caller was told failed
    if (!persistenceEnabled(spark)) {
      throw new IllegalStateException(
        "HNSW indexes can only be created in in-memory databases, or when the " +
          "configuration option 'hnsw_enable_experimental_persistence' is set to true.")
    }
    // DML batches hold the read lock for their whole batch (withWal), so a
    // checkpoint can never interleave with a half-applied batch: the
    // artifact snapshot and the WAL segment set are batch-consistent
    val wl = dmlLock.writeLock()
    wl.lock()
    try {
      StorageIndexCatalog.checkpoint(dir)
      // the table catalog rides the same checkpoint dir (a DuckDB database
      // file holds tables AND indexes): a fresh JVM's restoreAll can then
      // rebuild the table views the index entries resolve against, with no
      // manual re-registration. Arms write-through for later table DML.
      graft.TableCatalog.checkpoint(dir)
      ArtifactIO.mkdirs(dir)
      val paths = persistAll(dir)
      val manifest = list.zip(paths).map { case (e, p) =>
        (e.name, e.table, e.column, e.options, e.rowidCol, p)
      }
      // write-tmp-then-rename, like the storage manifest: a crash mid-write
      // must leave the previous checkpoint readable, not a torn manifest.
      // The manifest carries this checkpoint's WAL EPOCH: replay applies
      // only segments of the restored manifest's epoch, so a crash between
      // the manifest publish and the stale-segment deletion below never
      // re-applies pre-checkpoint DML (and replay itself is idempotent as a
      // second layer — see replaySegment). Strictly above the previous
      // epoch even under clock regression: an epoch collision would make
      // stale segments indistinguishable from live ones.
      val epoch = math.max(walEpoch + 1, System.currentTimeMillis())
      val dst = s"$dir/catalog.manifest"
      val out = new java.io.ObjectOutputStream(ArtifactIO.create(dst + ".tmp"))
      try out.writeObject((epoch, manifest)) finally out.close()
      // reclaim BEFORE the old manifest is replaced: read what the previous
      // checkpoint persisted, then overwrite. A dropped index's artifact
      // and WAL dir would otherwise leak on shared storage forever —
      // DuckDB's analog reclaims the blocks at CHECKPOINT
      // (test/sql/slow/hnsw_reclaim_storage.test_slow asserts the database
      // returns to its pre-index block count after DROP INDEX+CHECKPOINT).
      val prevPersisted: Seq[(String, String)] =
        if (ArtifactIO.exists(dst))
          scala.util.Try(readManifest(dst)._2.map(m => (m._1, m._6)))
            .getOrElse(Nil)
        else Nil
      ArtifactIO.deleteIfExists(dst)
      ArtifactIO.rename(dst + ".tmp", dst)
      list.foreach(e => ArtifactIO.deleteRecursive(s"$dir/${e.name}.wal"))
      reclaimDropped(dir, list.map(_.name).toSet, paths.toSet, prevPersisted)
      walDir = Some(dir)
      walEpoch = epoch
      paths
    } finally wl.unlock()
  }

  private type Entries =
    Seq[(String, String, String, HnswOptions, String, String)]

  /** Parse a catalog manifest: (epoch, entries). Pre-epoch manifests were
    * the bare entry Seq, with WAL segments directly under `<name>.wal/` —
    * epoch 0 routes replay there. Closes the raw stream even when the
    * ObjectInputStream header parse itself throws on a torn file. */
  private def readManifest(p: String): (Long, Entries) = {
    val raw = ArtifactIO.open(p)
    try {
      new java.io.ObjectInputStream(raw).readObject() match {
        case (e: Long, entries: Seq[_]) => (e, entries.asInstanceOf[Entries])
        case legacy: Seq[_] => (0L, legacy.asInstanceOf[Entries])
      }
    } finally raw.close()
  }

  /** Delete previous-checkpoint state no live entry claims: artifact paths
    * absent from `livePaths`, WAL dirs of names absent from `liveNames`.
    * `prev` defaults to reading `dir`'s manifest (the empty-list caller,
    * which reclaims before deleting that manifest). Crash-safe by ordering:
    * reclaim runs only after the NEW manifest is published, so a crash
    * mid-reclaim leaves unreferenced files for the next checkpoint, never
    * a manifest pointing at deleted artifacts. */
  private def reclaimDropped(dir: String, liveNames: Set[String],
      livePaths: Set[String], prev: Seq[(String, String)] = null): Unit = {
    val dst = s"$dir/catalog.manifest"
    val old: Seq[(String, String)] =
      if (prev != null) prev
      else if (ArtifactIO.exists(dst))
        scala.util.Try(readManifest(dst)._2.map(m => (m._1, m._6))).getOrElse(Nil)
      else Nil
    old.foreach { case (name, path) =>
      if (!livePaths.contains(path)) ArtifactIO.deleteRecursive(path)
      if (!liveNames.contains(name)) ArtifactIO.deleteRecursive(s"$dir/$name.wal")
    }
    // Orphan sweep: an index created AND dropped between checkpoints was
    // never in any manifest, so the entry-driven reclaim above cannot see
    // its WAL drop-record dir — it would leak until a same-name recreate.
    // Delete every *.wal (and crash-leftover *.wal.legacy) whose index name
    // is not live; live entries' WAL dirs were already truncated by the
    // checkpoint caller and re-appear at the next DML batch.
    ArtifactIO.list(dir).foreach { p =>
      val base = p.substring(p.lastIndexOf('/') + 1)
      val name =
        if (base.endsWith(".wal.legacy")) base.stripSuffix(".wal.legacy")
        else if (base.endsWith(".wal")) base.stripSuffix(".wal")
        else null
      if (name != null && !liveNames.contains(name))
        ArtifactIO.deleteRecursive(p)
    }
  }

  // --- WAL-analog incremental persistence --------------------------------
  // The reference persists HNSW indexes at CHECKPOINT and relies on DuckDB's
  // WAL to replay DML that happened after the last checkpoint
  // (reference test/sql/hnsw/hnsw_insert_wal.test). The engine's analog:
  // once a checkpoint exists, every index DML batch writes ONE new segment
  // file under `<checkpointDir>/<index>.wal/`; `restoreAll` replays the
  // segments in sequence order on top of the restored artifact, so
  // inserts/deletes between checkpoint and crash survive a restart. The
  // next checkpoint captures full state and deletes the segment dir.
  //
  // Segment-per-batch rather than a single appended file: Hadoop object
  // stores (and its checksummed LocalFileSystem) have no append, and a
  // segment is published by a write-then-rename, so a crash mid-batch
  // leaves only an ignored `.tmp` — no torn records to mis-replay.

  @volatile private var walDir: Option[String] = None
  @volatile private var walEpoch: Long = 0L

  // DML-batch vs checkpoint mutual exclusion: a batch (withWal body) holds
  // the READ lock end-to-end, checkpoint/restoreAll take the WRITE lock —
  // a checkpoint mid-batch would otherwise snapshot half the batch into
  // the artifact while the full batch lands in a WAL segment whose epoch
  // is ambiguous. Searches take no lock (they never touch WAL state).
  private val dmlLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Segments live in a PER-EPOCH subdirectory: restore filters to the
    * manifest's epoch, so stale segments from before the latest checkpoint
    * (left by a crash window) are inert rather than double-replayed.
    * Epoch 0 = a restored pre-epoch checkpoint, whose segments live at the
    * wal root — writes and replay after such a restore stay in that
    * layout until the next checkpoint mints a real epoch. */
  private def walSegDir(dir: String, name: String, epoch: Long): String =
    if (epoch == 0L) s"$dir/$name.wal" else s"$dir/$name.wal/e$epoch"

  /** Append-only writer for one index's post-checkpoint DML records. */
  final class WalWriter private[IndexCatalog] (out: java.io.DataOutputStream) {
    def insert(key: Long, vec: Array[Float]): Unit = {
      out.writeByte(0); out.writeLong(key); out.writeInt(vec.length)
      var i = 0
      while (i < vec.length) { out.writeFloat(vec(i)); i += 1 }
    }
    def delete(key: Long): Unit = { out.writeByte(1); out.writeLong(key) }
    /** The index was dropped this epoch: replay stops applying records here
      * and the restored entry is removed (a recreate under the same name is
      * NOT covered until the next checkpoint captures it). */
    def drop(): Unit = out.writeByte(3)
    /** Batch-ingest shards are already durable artifacts on shared storage;
      * the WAL only records their metas so restore re-attaches them. */
    def appendShards(metas: Array[ShardMeta]): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      val os = new java.io.ObjectOutputStream(buf)
      try os.writeObject(metas) finally os.close()
      val bytes = buf.toByteArray
      out.writeByte(2); out.writeInt(bytes.length); out.write(bytes)
    }
  }

  /** Run `body` with a WAL writer for `name` if WAL logging is armed (a
    * checkpoint happened this epoch), else with None. One call = one DML
    * batch = one SEGMENT file, buffered in memory and published by
    * write-then-rename only after `body` completes — a failed batch leaves
    * no partial records behind. */
  def withWal[T](name: String)(body: Option[WalWriter] => T): T = {
    val rl = dmlLock.readLock()
    rl.lock()
    try walDir match {
      case Some(dir) if entries.contains(name) =>
        val buf = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(buf)
        val result = try body(Some(new WalWriter(out))) finally out.close()
        if (buf.size() > 0)
          writeSegment(walSegDir(dir, name, walEpoch), buf.toByteArray)
        result
      case _ => body(None)
    } finally rl.unlock()
  }

  /** Publish one WAL segment: next sequence number after the existing
    * segments, written to a temp name and renamed into place. Synchronized:
    * catalog DML is driver-side, and two concurrent batches must not race
    * the same sequence number. */
  private def writeSegment(segDir: String, bytes: Array[Byte]): Unit = synchronized {
    val next = ArtifactIO.list(segDir)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.endsWith(".seg"))
      .map(_.stripSuffix(".seg").toLong)
      .foldLeft(0L)(math.max) + 1
    val tmp = f"$segDir/$next%06d.tmp"
    val dst = f"$segDir/$next%06d.seg"
    val out = ArtifactIO.create(tmp)
    try out.write(bytes) finally out.close()
    ArtifactIO.rename(tmp, dst)
  }

  private def asSharded(idx: VectorIndex): Option[ShardedHnswIndex] = idx match {
    case sh: ShardedHnswIndex => Some(sh)
    case l: LazyLoadedIndex => asSharded(l.resolved)
    case _ => None
  }

  /** Replay one index's WAL segments (in sequence order) onto its restored
    * artifact. Returns false if a drop record was hit: records after it
    * belong to a later same-name epoch (not in this checkpoint's manifest)
    * and are parsed but NOT applied, and the caller must discard the
    * entry. */
  private def replayWal(entry: IndexEntry, segDir: String): Boolean = {
    // replay mutates entry.index in place. Bump AFTER the mutations, in a
    // finally — a pre-replay bump would let a broadcastFor lookup landing
    // MID-replay cache the half-replayed index at the already-bumped epoch,
    // never to be invalidated (the same window the DML statement bumps
    // close; see Graft.streamIntoDelta). The finally covers a replay that
    // throws partway: partially applied records must not leave a
    // pre-replay broadcast live.
    try {
      migrateLegacyWal(segDir)
      val segments = ArtifactIO.list(segDir).filter(_.endsWith(".seg"))
        .sortBy(p => p.substring(p.lastIndexOf('/') + 1))
      var dropped = false
      segments.foreach { seg =>
        if (!replaySegment(entry, seg, dropped)) dropped = true
      }
      !dropped
    } finally bumpBroadcastEpoch()
  }

  /** Pre-segment checkpoints appended all records to ONE file at
    * `<name>.wal` — the exact path the segment DIRECTORY now occupies, so
    * `list(...).filter(.seg)` on it silently discarded a legacy
    * checkpoint's post-checkpoint DML, and the next `withWal` write then
    * failed trying to create a directory over the file. Migrate in a
    * crash-safe order before replay: move the file aside (atomic rename),
    * republish its bytes as segment 000001 in the directory layout, then
    * drop the aside copy. A crash between any two steps is repaired by
    * re-running this on the next restore (the aside `.legacy` copy is the
    * recovery source until the segment is durably published). Record
    * format is unchanged across the split, so replay treats the migrated
    * file as one big batch. */
  private def migrateLegacyWal(segDir: String): Unit = {
    val aside = segDir + ".legacy"
    if (ArtifactIO.exists(segDir) && !ArtifactIO.isDirectory(segDir))
      ArtifactIO.rename(segDir, aside)
    if (ArtifactIO.exists(aside)) {
      val seg = f"$segDir/${1L}%06d.seg"
      if (!ArtifactIO.exists(seg)) {
        ArtifactIO.mkdirs(segDir)
        ArtifactIO.copy(aside, seg + ".tmp")
        ArtifactIO.rename(seg + ".tmp", seg)
      }
      ArtifactIO.deleteIfExists(aside)
    }
  }

  /** Replay one segment; returns false if a drop record was hit. `dropped`
    * parses-but-skips the records (same contract as before the segment
    * split). */
  private def replaySegment(entry: IndexEntry, path: String,
      alreadyDropped: Boolean): Boolean = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      ArtifactIO.open(path)))
    var dropped = alreadyDropped
    try {
      var tag = in.read()
      while (tag >= 0) {
        tag match {
          // Replay is IDEMPOTENT: a crash between an artifact swap and the
          // manifest publish restores an artifact NEWER than the manifest,
          // so records already reflected in it must no-op (re-inserting an
          // existing key throws; re-attaching a shard doubles the index).
          // Replaying a history prefix onto its own final state converges:
          // inserts skip when the key is present, deletes are naturally
          // idempotent, and a delete-then-reinsert re-applies the full
          // vector carried by the insert record in order.
          case 0 =>
            val key = in.readLong()
            val vec = new Array[Float](in.readInt())
            var i = 0
            while (i < vec.length) { vec(i) = in.readFloat(); i += 1 }
            if (!dropped && !entry.index.contains(key)) entry.index.insert(key, vec)
          case 1 =>
            val key = in.readLong()
            if (!dropped) entry.index.delete(key)
          case 2 =>
            val bytes = new Array[Byte](in.readInt())
            in.readFully(bytes)
            if (!dropped) {
              val metas = new java.io.ObjectInputStream(
                new java.io.ByteArrayInputStream(bytes)).readObject()
                .asInstanceOf[Array[ShardMeta]]
              val sh = asSharded(entry.index).getOrElse(throw new IllegalStateException(
                s"WAL shard-append record for non-sharded index ${entry.name}"))
              // dedup by CONTENT fingerprint, not path: in the crash window
              // "artifact persisted, manifest rename pending" the restored
              // artifact already holds these shards under rewritten
              // `shard-N.hnsw` names, so a path compare would re-attach
              // them (duplicate search results, inflated size).
              // ShardMeta.sameShard, not raw fingerprint equality: a
              // mixed-version pair (one side pre-Bloom-filter) degrades to
              // a comparable weak identity instead of never matching.
              // O(existing × incoming) pairwise — shard counts are small.
              val existing = sh.shards
              val fresh = metas.filterNot(m =>
                existing.exists(x => ShardMeta.sameShard(x, m)))
              if (fresh.nonEmpty) sh.appendShards(fresh)
            }
          case 3 =>
            dropped = true
          case other =>
            throw new IllegalStateException(s"corrupt WAL record tag $other in $path")
        }
        tag = in.read()
      }
    } finally in.close()
    !dropped
  }

  /** Restart recovery: re-register every checkpointed index with a LAZY
    * artifact load — full deserialization is deferred to first access, the
    * reference's deferred-load behavior (reference README.md:76,
    * src/hnsw/hnsw_index.cpp:193-206). DML that happened after the
    * checkpoint is replayed from the per-index WAL (the reference gets this
    * from DuckDB's WAL replay, test/sql/hnsw/hnsw_insert_wal.test); an index
    * with a non-empty WAL is force-loaded by the replay itself. Tables must
    * already be registered (they are storage-backed; see
    * Graft.registerTable). */
  def restoreAll(spark: SparkSession, dir: String): Seq[IndexEntry] = {
    val wl = dmlLock.writeLock()
    wl.lock()
    try restoreAllLocked(spark, dir) finally wl.unlock()
  }

  private def restoreAllLocked(spark: SparkSession, dir: String): Seq[IndexEntry] = {
    // tables FIRST: the index entries below resolve spark.table(e.table),
    // which a fresh JVM only has once the table catalog's views are back
    // (live registrations win inside, so a same-session restore is a no-op)
    graft.TableCatalog.restore(spark, dir)
    // a checkpoint taken with no HNSW indexes writes only the
    // storage-family manifest — restore must not require the HNSW one.
    // The .tmp fallback covers a crash between checkpoint's delete and
    // rename (the .tmp is complete by then); a TORN .tmp (crash mid-write
    // on a first-ever checkpoint, no published manifest yet) is treated as
    // absent rather than poisoning the whole restore. A successfully-read
    // .tmp is REPUBLISHED as the manifest so the next checkpoint's
    // tmp-overwrite can't destroy the only surviving copy.
    val dst = s"$dir/catalog.manifest"
    val tmp = dst + ".tmp"
    val (epoch, manifest) =
      if (ArtifactIO.exists(dst)) readManifest(dst) // published = complete;
      // a parse failure here is real corruption and must surface
      else if (ArtifactIO.exists(tmp))
        scala.util.Try(readManifest(tmp)) match {
          case scala.util.Success(m) => ArtifactIO.rename(tmp, dst); m
          case scala.util.Failure(_) => (0L, Seq.empty: Entries)
        }
      else (0L, Seq.empty: Entries)
    val restored = manifest.map { case (name, table, column, opts, rowidCol, path) =>
      // optimizedPlan, not the analyzed view: a restored table may be a
      // multi-path union anti-joined with delete tombstones
      // (TableCatalog.restore), and the rewrite rules see the QUERY's
      // subtree after the main optimizer batches — identity only holds
      // against the same-shaped optimized plan (hnsw_crud.test's
      // post-restart EXPLAIN pins this)
      val entry = IndexEntry(name, table, column, opts, new LazyLoadedIndex(path),
        spark.table(table).queryExecution.optimizedPlan, rowidCol)
      entries(name) = entry
      entry
    }
    val alive = restored.filter { e =>
      val ok = replayWal(e, walSegDir(dir, e.name, epoch))
      if (!ok) entries.remove(e.name) // dropped after the checkpoint
      ok
    }
    walDir = Some(dir) // keep logging: the WAL stays the post-checkpoint history
    walEpoch = epoch
    StorageIndexCatalog.restore(dir) // live entries win over the manifest
    alive
  }

  /** Lazy reload of a persisted index into the catalog (deferred full
    * deserialization on first access, reference README.md:76). */
  def loadIndex(spark: SparkSession, name: String, path: String, table: String,
      column: String, options: Map[String, String] = Map.empty,
      rowidCol: String = "__rowid"): IndexEntry = {
    val opts = HnswOptions.fromMap(options)
    val idx: VectorIndex =
      if (ArtifactIO.isDirectory(path)) {
        ShardedHnswIndex.load(path)
      } else new SingleHnswIndex(HnswIndex.load(path))
    val entry = IndexEntry(name, table, column, opts, idx,
      spark.table(table).queryExecution.optimizedPlan, rowidCol)
    entries(name) = entry
    entry
  }
}
