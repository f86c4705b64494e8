package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.vector

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here has a DuckDB-runnable oracle in [[SparkEntry.oracleSql]].
  * Float-bearing outputs are engineered for bit-exact cross-engine parity:
  * money aggregates go through DECIMAL (order-independent exact sums), and
  * vector distances use sequential double folds — the same element-order
  * accumulation the [[graft.functions]] kernels use — expressed in the oracle
  * with list_reduce/list_transform.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The documents table pre-sorted by doc_id — the input shape for the
    * per-row annotator queries that present their output in id order.
    * Sorting BEFORE the expensive projection matters: a global orderBy's
    * range-partitioner SAMPLES its child by executing the full child plan,
    * so project-then-sort evaluates the projection TWICE (measured: q39's
    * regex pipeline 6.1 s with the sort last vs 3.1 s with the sort first
    * at the 100x cut; column pruning is logical-plan-only and cannot reach
    * the exchange's physical sampling pass). Projections preserve their
    * child's ordering and doc_id is unique, so output rows and order are
    * identical either way. */
  private def docsSorted(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").orderBy(col("doc_id"))

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (which vanilla
    * Spark rejects — read nanos as long, rebuild µs) and as TIMESTAMP(US)
    * (reads natively as NTZ). Adapt by the schema actually on disk, always
    * yielding a session-tz TIMESTAMP column at µs precision — the sessions
    * here pin UTC, so the NTZ→TZ cast is wall-clock identity and matches
    * DuckDB's naive reading of the same file. */
  private def eventsTbl(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = tbl(s, dir, "events")
    ev.schema("ts").dataType match {
      case LongType => ev.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: TimestampNTZType => ev.withColumn("ts", col("ts").cast(TimestampType))
      case _ => ev
    }
  }

  /** Events with `ts` as µs-since-epoch BIGINT (the sessionize/as-of inputs;
    * DuckDB's `epoch_us(ts)` analog for either on-disk encoding). */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = tbl(s, dir, "events")
    ev.schema("ts").dataType match {
      case LongType => ev.withColumn("ts", expr("ts DIV 1000")) // nanos → µs
      case _ => ev.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- SQL
  // snippets for the DuckDB oracle: sequential double folds matching the
  // engine's distance kernels (graft.functions.VectorExpressions).
  private def sqlL2Sq(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x,y) -> x+y)"
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
  private def sqlCosineDist(a: String, b: String): String =
    s"(1.0 - (${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))))"

  /** CTE body `sh(doc_id, simhash)`: the documents' 64-bit SimHash bit
    * strings, DuckDB-replayed exactly as Dedup.simHash builds them
    * (md5 nibble votes, MSB first). Shared by q23/q63/q64. */
  private def sqlSimhashShCte: String = {
    val votes = (0 until 64).map { bit =>
      val pos = bit / 4
      val pow = 1 << (3 - bit % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, ${pos + 1}, 1)) - 1) // $pow) % 2 = 1 THEN 1 ELSE -1 END) AS v$bit"
    }.mkString(", ")
    val bits = (0 until 64).map(b => s"CASE WHEN v$b > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""toks AS (
       | SELECT doc_id, md5(tok) AS h FROM (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
       | WHERE len(tok) > 0),
       |votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
       |sh AS (SELECT doc_id, $bits AS simhash FROM votes)""".stripMargin
  }

  /** CTE chain `... , clean(doc_id, clean_text, n_tokens, n_removed)`:
    * the q71 span-removal pipeline replayed in DuckDB. Shared by q71/q72. */
  private def sqlSpanCleanCtes: String =
    raw"""base AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0) AS w
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS tok FROM base),
         |wins AS (
         |  SELECT doc_id,
         |         unnest(range(greatest(len(w) - 8 + 1, 0))) AS start0,
         |         unnest(list_transform(range(greatest(len(w) - 8 + 1, 0)),
         |                j -> md5(array_to_string(w[j+1:j+8], ' ')))) AS whash
         |  FROM base),
         |hot AS (SELECT whash FROM wins GROUP BY whash HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT w2.doc_id, unnest(range(w2.start0, w2.start0 + 8)) AS pos
         |    FROM wins w2 JOIN hot USING (whash))),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM toks t
         |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |reb AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_kept, count(*) AS n_kept
         |  FROM kept GROUP BY doc_id),
         |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
         |clean AS (
         |  SELECT d.doc_id,
         |         coalesce(r.clean_kept, '') AS clean_text,
         |         coalesce(r.n_kept, 0) + coalesce(m.n_removed, 0) AS n_tokens,
         |         coalesce(m.n_removed, 0) AS n_removed
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN reb r USING (doc_id) LEFT JOIN rem m USING (doc_id))""".stripMargin

  /** Hamming distance between two 64-char bit strings, as a list fold —
    * mirrors Dedup.hammingDist exactly (integer arithmetic only). */
  private def sqlHamming(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> " +
      s"CASE WHEN substring($a, i, 1) != substring($b, i, 1) THEN 1 ELSE 0 END), (x,y) -> x+y)"

  /** 0..255 md5 bucket of `expr` — mirrors Sampling.hashBucket exactly
    * (strpos/instr both 1-based). Shared by every split/sample oracle. */
  private def sqlHashBucket(expr: String): String =
    s"(strpos('0123456789abcdef', substr(md5(CAST($expr AS VARCHAR)), 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789abcdef', substr(md5(CAST($expr AS VARCHAR)), 2, 1)) - 1)"

  /** CTE chain `... , comp(doc_id, comp)`: the q22 MinHash-LSH pipeline at
    * est_sim >= 0.5, closed transitively (comp = min reachable id). Must
    * follow a WITH RECURSIVE head. Shared by q47/q76. */
  private def sqlDedupCompCtes: String = {
    val mins = (0 until 8).map(p =>
      s"min(substring(md5('${p / 4}:' || shingle), ${(p % 4) * 8 + 1}, 8)) AS mh$p")
      .mkString(", ")
    val agree = (0 until 8).map(p => s"CASE WHEN sa.mh$p = sb.mh$p THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""sh AS ($sqlShingles),
       |sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       | SELECT doc_id, 0 AS band_id, mh0||mh1 AS band_val FROM sigs
       | UNION ALL SELECT doc_id, 1, mh2||mh3 FROM sigs
       | UNION ALL SELECT doc_id, 2, mh4||mh5 FROM sigs
       | UNION ALL SELECT doc_id, 3, mh6||mh7 FROM sigs),
       |cand AS (
       | SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       | FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_val = r.band_val
       | WHERE l.doc_id < r.doc_id),
       |pairs AS (
       | SELECT a, b FROM cand
       | JOIN sigs sa ON cand.a = sa.doc_id JOIN sigs sb ON cand.b = sb.doc_id
       | WHERE CAST($agree AS DOUBLE) / 8.0 >= 0.5),
       |edges AS (SELECT a AS s, b AS d FROM pairs
       |          UNION ALL SELECT b, a FROM pairs),
       |reach(s, d) AS (
       | SELECT doc_id, doc_id FROM documents
       | UNION
       | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |comp AS (SELECT s AS doc_id, min(d) AS comp FROM reach GROUP BY s)"""
      .stripMargin
  }

  object Queries {
    // --- relational core -------------------------------------------------

    /** TPC-H Q1-style pricing summary. DECIMAL sums → exact, order-independent. */
    def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6)))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))

    def q02TopOrders(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)

    /** Join chain with a broadcast dim (nation) — revenue per nation. */
    def q03RevenueByNation(s: SparkSession, dir: String): DataFrame = {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem"); val n = tbl(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6)))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }

    /** Per-customer top-3 orders by price (window + filter). */
    def q04TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    }

    /** Selective filter over the fact table (predicate pushdown surface). */
    def q05SelectiveFilter(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-06-01").cast(TimestampType) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))

    /** Anti join: customers with no orders. */
    def q06CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_cust"))
    }

    /** Events rollup: counts, distinct users, exact value totals. */
    def q07EventsByType(s: SparkSession, dir: String): DataFrame =
      eventsTbl(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total"))
        .orderBy(col("event_type"))

    /** Hourly tumbling-window event counts (streaming-shaped agg on batch). */
    def q08EventsHourly(s: SparkSession, dir: String): DataFrame =
      eventsTbl(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("h"), col("event_type"))

    /** Misc aggregate/scalar surface the reference's tests lean on
      * (reference hnsw_join_macro.test:22, hnsw_lateral_join.test:71,
      * hnsw_index_macros.cpp:24-41): bool_and, ordered list aggregation
      * (as sort_array ∘ collect_list), CASE WHEN. */
    def q29MiscAggregates(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          count(lit(1)).as("n"),
          // string-joined: the driver's pandas-based compare cannot sort
          // rows on array-typed cells (round-1 q14 lesson)
          concat_ws(",",
            slice(sort_array(collect_list(col("o_orderkey"))), 1, 5)).as("first_keys"))
        .withColumn("bucket",
          when(col("n") > 1000, lit("big")).otherwise(lit("small")))
        .select(col("o_orderstatus"), col("all_pos"), col("n"),
          col("first_keys"), col("bucket"))
        .orderBy(col("o_orderstatus"))

    /** `range(a,b)` table-function surface (reference hnsw_basic.test:13). */
    def q09Range(s: SparkSession, dir: String): DataFrame =
      s.range(0, 1000)
        .select(col("id"), (col("id") * col("id")).as("sq"))
        .orderBy(col("id"))

    // --- vector search core ---------------------------------------------

    private def knnBase(s: SparkSession, dir: String, distCol: DataFrame => org.apache.spark.sql.Column): DataFrame = {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), distCol(e).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    }

    /** Exact top-k NN, l2sq metric — the reference's flagship query shape
      * (`ORDER BY array_distance(vec, q) LIMIT k`, reference README.md:17-19).
      * Planned as TakeOrderedAndProject: per-partition top-k + merge. */
    def q10KnnL2(s: SparkSession, dir: String): DataFrame =
      knnBase(s, dir, _ => vector.array_distance_sq(col("embedding"), col("qv")))

    def q11KnnCosine(s: SparkSession, dir: String): DataFrame =
      knnBase(s, dir, _ => vector.array_cosine_distance(col("embedding"), col("qv")))

    def q12KnnInnerProduct(s: SparkSession, dir: String): DataFrame =
      knnBase(s, dir, _ => vector.array_negative_inner_product(col("embedding"), col("qv")))

    /** Brute-force KNN join (`vss_join` macro re-expressed Spark-first):
      * crossJoin(broadcast) → bounded top-k aggregate → explode. The shuffle
      * carries at most k rows per query row (map-side combine in MinByK).
      * Metric l2sq → score is `array_distance` (√), min-k — the reference
      * macro's contract (reference src/hnsw/hnsw_index_macros.cpp:22-41). */
    def q13VssJoin(s: SparkSession, dir: String): DataFrame = {
      val e = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val items = e.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      graft.operators.VssJoins.vssJoin(queries, items, "qvec", "nvec", 3)
        .select(col("left_tbl.qid").as("qid"), col("right_tbl.nid").as("nid"),
          col("score"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }

    /** `vss_match` macro with metric=cosine: score is raw cosine SIMILARITY
      * and the k best are the k LARGEST (`max_by`), per the reference macro
      * (reference src/hnsw/hnsw_index_macros.cpp:49-75). The matches array is
      * flattened to one (qid, rank, score, nid) row per match. */
    def q14VssMatch(s: SparkSession, dir: String): DataFrame = {
      val e = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val items = e.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      graft.operators.VssJoins.vssMatch(queries, items, "qvec", "nvec", 3, "cosine")
        .select(col("left_tbl.qid").as("qid"),
          posexplode(col("matches")).as(Seq("pos", "m")))
        .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
          col("m.score").as("score"), col("m.row.nid").as("nid"))
        .orderBy(col("qid"), col("rank"))
    }

    /** k-ary min_by (the aggregate the reference's topk rewrite targets,
      * reference src/hnsw/hnsw_optimize_topk.cpp:80-91). */
    def q15MinByK(s: SparkSession, dir: String): DataFrame = {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          vector.array_distance_sq(col("embedding"), col("qv")).as("dist"))
        .agg(graft.functions.MinByK.minByK(col("vec_id"), col("dist"), 5).as("top_ids"))
    }

    // --- index path (oracle-backed) --------------------------------------
    // All four queries execute through the engine's HNSW index machinery.
    // Exactness: ef_search is set >= table size, which makes the HNSW beam
    // search exhaustive, so index results equal brute force and an exact
    // DuckDB oracle applies — the same equivalence the reference's own tests
    // rely on (test/sql/hnsw/hnsw_lateral_join.test:36-43).

    /** Fetch one embedding as a query vector. */
    private def embQueryVec(s: SparkSession, table: String, vecId: Long): Array[Float] =
      s.table(table).filter(col("vec_id") === vecId)
        .select(col("embedding")).head().getSeq[Float](0).toArray

    private def setupIndex(s: SparkSession, dir: String, table: String,
        index: String, options: Map[String, String]): Unit = {
      graft.plans.GraftExtensions.install(s)
      Graft.registerTable(s, table, tbl(s, dir, "embeddings"))
      graft.index.IndexCatalog.dropIndex(index)
      graft.index.IndexCatalog.createIndex(s, index, table, "embedding", options)
    }

    /** Which (index → sf dir) builds this session already did. Read-only
      * query families reuse their index across invocations (bench warm-up
      * builds it once; the timed run then measures the QUERY, not the
      * build); a dir change rebuilds. Mutating queries (q19) must NOT use
      * this — they need a fresh index every run. */
    private val builtFor = scala.collection.concurrent.TrieMap.empty[String, String]

    private def setupIndexOnce(s: SparkSession, dir: String, table: String,
        index: String, options: Map[String, String]): Unit = {
      if (!builtFor.get(index).contains(dir)) {
        setupIndex(s, dir, table, index, options)
        builtFor(index) = dir
      }
    }

    /** Scale-aware build arm, scoped to one build: session-wide the
      * conf would silently change LATER same-session builds (q19 creates a
      * fresh index per measured run; the reference-replay specs assert
      * M-dependent block counts) — set, build, restore. `mode` selects the
      * arm (IndexCatalog.AutoScaleConfKey): "true"/"knobs" raises build
      * knobs on the single graph (probe-heavy consumers), "route" builds
      * bounded executor shards (build/DML-bound consumers). */
    private def withAutoScale[T](s: SparkSession, mode: String = "true")(body: => T): T =
      org.apache.spark.sql.graft.GraftConf.AutoScaleBuild.withValue(s, mode)(body)

    /** Drop the session-cached artifacts behind one Bench build family
      * (keyed by the family's warm-up query) so its NEXT run re-executes
      * the build. This is the hook that gives `build_*` metrics the same
      * measure-more-than-once machinery queries have: IsolatedSweep times
      * repeated drop+rebuild cycles for the ISOLATED.json denominator, and
      * Bench's contention re-pass re-runs a >2× build instead of shipping
      * a contended number it cannot re-sample. Each arm drops exactly what
      * its family's first run creates (re-registration of graft tables is
      * version-safe — Graft.registerTable never rewrites a served path). */
    def dropBuildArtifacts(s: SparkSession, dir: String, query: String): Unit = {
      val tag = Integer.toHexString(dir.hashCode)
      query match {
        case "q16_index_topk" =>
          graft.index.IndexCatalog.dropIndex(s"qshared_idx_$tag"); ()
        case "q35_sharded_topk" =>
          graft.index.IndexCatalog.dropIndex(s"qshard_idx_$tag"); ()
        case "q18_index_info" =>
          builtFor.remove("q18_idx")
          graft.index.IndexCatalog.dropIndex("q18_idx"); ()
        case "q28_embedding_neardup" =>
          builtFor.remove("q28_idx")
          graft.index.IndexCatalog.dropIndex("q28_idx"); ()
        case "q86_neardup_ann" =>
          builtFor.remove("q86_idx")
          graft.index.IndexCatalog.dropIndex("q86_idx"); ()
        case "q30_ivf_topk" => graft.index.IvfIndex.drop(s"q30_ivf_$tag"); ()
        case "q41_pq_topk" => graft.index.PqIndex.drop(s"q41_pq_$tag"); ()
        case "q43_ivfpq_topk" =>
          graft.index.IvfPqIndex.drop(s"q43_ivfpq_$tag"); ()
        case "q53_bm25_indexed" =>
          graft.index.TermIndex.drop(s"q53_term_$tag"); ()
        case "q55_sq_topk" => graft.index.SqIndex.drop(s"q55_sq_$tag"); ()
        case "q22_minhash_lsh_pairs" =>
          graft.index.DedupSignatures.drop(s"qshared_sigs_$tag"); ()
        case "q24_jaccard_pairs" =>
          graft.index.ShingleIndex.drop(s"qshared_sh_$tag"); ()
        case "q23_simhash" =>
          graft.index.SimHashIndex.drop(s"qshared_simhash_$tag"); ()
        case "q71_dedup_spans" =>
          s.catalog.dropTempView(s"qclean_docs_$tag"); ()
        // graph families also clear their recall-gate memo: the gate is
        // part of the build cost Bench's b79/b81 measure, so a re-measured
        // build must re-run it (and re-assert the recall) too
        case "q79_graph_topk" =>
          graft.index.IndexCatalog.dropIndex(s"qgraph_idx_$tag")
          clearRecallMemo(s, "graph")
        case "q81_sharded_graph_topk" =>
          graft.index.IndexCatalog.dropIndex(s"qsgraph_idx_$tag")
          clearRecallMemo(s, "sgraph")
        case other =>
          throw new IllegalArgumentException(s"no build family for $other")
      }
    }

    private def clearRecallMemo(s: SparkSession, prefix: String): Unit =
      graphRecallChecked.synchronized {
        Option(graphRecallChecked.get(s)).foreach { m =>
          m.keys.filter(_.startsWith(prefix + ":")).toSeq.foreach(m.remove)
        }
      }

    /** Read-only exhaustive-ef index shared by q16/q17/q34 — built once per
      * (session, sf dir); queries that mutate state (q19) build their own.
      * Returns (table, index) names. */
    private def sharedIndex(s: SparkSession, dir: String): (String, String) = {
      graft.plans.GraftExtensions.install(s)
      val tag = Integer.toHexString(dir.hashCode)
      val (table, index) = (s"qshared_emb_$tag", s"qshared_idx_$tag")
      if (graft.index.IndexCatalog.get(index).isEmpty) {
        Graft.registerTable(s, table, tbl(s, dir, "embeddings"))
        graft.index.IndexCatalog.createIndex(s, index, table, "embedding",
          Map("ef_search" -> "100000"))
      }
      (table, index)
    }

    /** Read-only SHARDED index shared by q35/q36 — the 100TB path under the
      * oracle: built one sub-graph per partition ON the executors
      * (driver holds only ShardMeta), searched by distributed fan-out.
      * ef_search >= N keeps every shard search exhaustive, so the k-way
      * merge is exact and the brute-force DuckDB oracle applies. */
    private def sharedShardedIndex(s: SparkSession, dir: String): (String, String) = {
      graft.plans.GraftExtensions.install(s)
      val tag = Integer.toHexString(dir.hashCode)
      val (table, index) = (s"qshard_emb_$tag", s"qshard_idx_$tag")
      if (graft.index.IndexCatalog.get(index).isEmpty) {
        Graft.registerTable(s, table, tbl(s, dir, "embeddings"))
        graft.index.IndexCatalog.createIndex(s, index, table, "embedding",
          Map("ef_search" -> "100000"), sharded = true, numShards = 8)
      }
      (table, index)
    }

    /** q16's TopN shape through the SHARDED index: TopKToIndexScan rewrites
      * onto HnswIndexScan, whose exec fans the search out one task per shard
      * (ShardedHnswIndex.searchDistributed), k-way-merges on the driver and
      * filters the table to the merged hits — the scale path,
      * oracle-verified. */
    def q35ShardedTopK(s: SparkSession, dir: String): DataFrame = {
      val (table, _) = sharedShardedIndex(s, dir)
      val qv = embQueryVec(s, table, 7)
      s.table(table)
        .withColumn("dist", vector.array_distance_sq(col("embedding"), lit(qv)))
        .orderBy(col("dist").asc_nulls_last).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** q17's windowed KNN-join idiom through the SHARDED index: the
      * broadcast ships shard paths + stats only; executors pull shard graphs
      * through the per-JVM ShardCache. */
    def q36ShardedKnnJoin(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val (table, _) = sharedShardedIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") >= 5 && col("vec_id") < 10 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val inner = s.table(table)
      outer.crossJoin(inner)
        .withColumn("dist", vector.array_distance_sq(col("qvec"), col("embedding")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last)))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"),
          col("rn").cast(LongType).as("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
    }

    /** TopN through the TopKToIndexScan optimizer rule: the inner
      * `ORDER BY dist LIMIT 10` is rewritten onto an HnswIndexScan filter
      * node that keeps the index's k hits
      * (reference src/hnsw/hnsw_optimize_scan.cpp:23-258); the outer sort
      * only makes tie order deterministic for the oracle compare. */
    def q16IndexTopK(s: SparkSession, dir: String): DataFrame = {
      val (table, _) = sharedIndex(s, dir)
      val qv = embQueryVec(s, table, 0)
      s.table(table)
        .withColumn("dist", vector.array_distance_sq(col("embedding"), lit(qv)))
        // NULLS LAST: DuckDB's ASC default, and the rewrite's precondition
        // over a nullable parquet column (the index never holds NULLs)
        .orderBy(col("dist").asc_nulls_last).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Windowed KNN-join idiom through the KnnJoinToIndexJoin rule →
      * HnswKnnJoin exec (reference src/hnsw/hnsw_optimize_join.cpp:323-715). */
    def q17IndexKnnJoin(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val (table, _) = sharedIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 5 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val inner = s.table(table)
      outer.crossJoin(inner)
        .withColumn("dist", vector.array_distance_sq(col("qvec"), col("embedding")))
        // NULLS LAST: DuckDB's default and the rewrite precondition — NULL
        // distances (NULL vectors) must not occupy the top ranks
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist").asc_nulls_last)))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"),
          col("rn").cast(LongType).as("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
    }

    /** Read-only TRUE-ANN index shared by the graph-mode bench entries
      * (q79/q80): built at the reference's DEFAULT ef_search=64, so
      * searches run the actual HNSW graph descent (ef < N), not the
      * exhaustive linearScan fast path the oracle-pinned queries use.
      * Recall at this ef is pinned by RecallSpec; these entries put the
      * LATENCY of the engine's headline feature on the bench record. */
    private def sharedGraphIndex(s: SparkSession, dir: String): (String, String) = {
      graft.plans.GraftExtensions.install(s)
      val tag = Integer.toHexString(dir.hashCode)
      val (table, index) = (s"qgraph_emb_$tag", s"qgraph_idx_$tag")
      if (graft.index.IndexCatalog.get(index).isEmpty) {
        Graft.registerTable(s, table, tbl(s, dir, "embeddings"))
        // graph-ef consumer: opt into scale-aware build knobs (no-op at
        // sf0.1 where n <= 16384; at sf1/sf10 this is what holds the
        // recall gate — see IndexCatalog.AutoScaleConfKey; both scale
        // decades build at MATCHED raised options, so their b79/b86
        // ratio reads the n*log n envelope, not a knob-crossing step)
        withAutoScale(s) {
          graft.index.IndexCatalog.createIndex(s, index, table, "embedding")
        }
      }
      (table, index)
    }

    /** Read-only SHARDED GRAPH-MODE index shared by q81/q82 — the 100 TB
      * ANN shape with per-shard APPROXIMATE descent: 16 sub-graphs (twice
      * q35's shard count, one per storage partition at scale), each
      * searched at the graph default ef rather than q35's exhaustive
      * ef_search >= N, k-way-merged across shards. Sharding can only
      * IMPROVE recall at fixed ef (each sub-graph is exhaustively-entered
      * with its own entry point; the union of per-shard top-k supersets
      * the single-graph candidate set), and the q81/q82 recall gate
      * measures that claim per run instead of assuming it. */
    private def sharedShardedGraphIndex(s: SparkSession, dir: String): (String, String) = {
      graft.plans.GraftExtensions.install(s)
      val tag = Integer.toHexString(dir.hashCode)
      val (table, index) = (s"qsgraph_emb_$tag", s"qsgraph_idx_$tag")
      if (graft.index.IndexCatalog.get(index).isEmpty) {
        Graft.registerTable(s, table, tbl(s, dir, "embeddings"))
        graft.index.IndexCatalog.createIndex(s, index, table, "embedding",
          Map.empty, sharded = true, numShards = 16)
      }
      (table, index)
    }

    /** q16's TopN shape in true graph mode (ef=64). APPROXIMATE by design —
      * no SQL oracle (rows-only check); instead `assertGraphRecall` gates
      * every driver run: the executed answers are compared against the
      * exact top-k and the query FAILS under the recall threshold, the
      * reference's own strategy for index-mode tests
      * (reference test/sql/hnsw/hnsw_lateral_join.test:36-43 labeled
      * with/without-index differential, hnsw_basic.test:26-31
      * distance-bound assertions). */
    def q79GraphTopK(s: SparkSession, dir: String): DataFrame = {
      val df = q79Plan(s, dir)
      assertGraphRecall(s, dir)
      df
    }

    private def q79Plan(s: SparkSession, dir: String): DataFrame = {
      val (table, _) = sharedGraphIndex(s, dir)
      val qv = embQueryVec(s, table, 0)
      s.table(table)
        .withColumn("dist", vector.array_distance_sq(col("embedding"), lit(qv)))
        .orderBy(col("dist").asc_nulls_last).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** q17's KNN-join shape in true graph mode (ef=64): 100 outer rows,
      * k=3, broadcast index, graph descent per probe. Recall-gated per
      * driver run like q79. */
    def q80GraphKnnJoin(s: SparkSession, dir: String): DataFrame = {
      val df = q80Plan(s, dir)
      assertGraphRecall(s, dir)
      df
    }

    private def q80Plan(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedGraphIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 100 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.knnJoin(s, outer, "qvec", index, 3)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
    }

    /** q79's TopN shape through the SHARDED graph-mode index (16 shards,
      * graph ef): one task per shard, per-shard graph descent, k-way merge.
      * Same probe as q79, so the bench's q79-vs-q81 latency delta and the
      * recall79-vs-recall81 pair read directly as single-graph vs sharded
      * fan-out at identical work. Recall-gated per run (recall81/82). */
    def q81ShardedGraphTopK(s: SparkSession, dir: String): DataFrame = {
      val df = q81Plan(s, dir)
      assertShardedGraphRecall(s, dir)
      df
    }

    private def q81Plan(s: SparkSession, dir: String): DataFrame = {
      val (table, _) = sharedShardedGraphIndex(s, dir)
      val qv = embQueryVec(s, table, 0)
      s.table(table)
        .withColumn("dist", vector.array_distance_sq(col("embedding"), lit(qv)))
        .orderBy(col("dist").asc_nulls_last).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** q80's KNN-join shape through the SHARDED graph-mode index: 100
      * probes, k=3, shard paths + stats broadcast, executors pull shard
      * graphs through the per-JVM ShardCache and descend each at graph ef.
      * Recall-gated per run like q80. */
    def q82ShardedGraphKnnJoin(s: SparkSession, dir: String): DataFrame = {
      val df = q82Plan(s, dir)
      assertShardedGraphRecall(s, dir)
      df
    }

    private def q82Plan(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedShardedGraphIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 100 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.knnJoin(s, outer, "qvec", index, 3)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
    }

    /** q28's near-dup mining through the GRAPH-MODE index (graph ef) — the
      * scale twin. q28's `ef_search >= n` pin exists for DuckDB hash parity
      * and makes every probe an exhaustive scan — Ω(n²) suite cost by
      * definition (53 s at sf1); this entry runs the SAME
      * `embeddingNearDupViaIndex` plan at graph ef so the sf-scaling record
      * contrasts exact-pin vs ANN in one table (reference analog:
      * hnsw_lateral_join.test:36-43's with/without-index differential).
      * APPROXIMATE by design → rows-only check, like q79–q82. Own COSINE
      * graph-mode index (q28's metric and threshold; the shared graph index
      * is L2², under which no pair sits below 0.65): same HnswIndex
      * implementation and graph ef whose recall the q79/q80 gate measures
      * each session (RECALL_GATE.json). */
    def q86NearDupAnn(s: SparkSession, dir: String): DataFrame = {
      withAutoScale(s) {
        setupIndexOnce(s, dir, "q86_emb", "q86_idx", Map("metric" -> "cosine"))
      }
      assertCosineGraphRecall(s, dir)
      graft.ops.Dedup.embeddingNearDupViaIndex(s, "q86_emb", "vec_id",
        "q86_idx", maxDist = 0.65)
        .orderBy(col("a"))
    }

    /** q65's kNN-distance outlier scores through the GRAPH-MODE index —
      * the scale twin of q65's exhaustive-ef pin; same contrast and same
      * per-session recall gating as [[q86NearDupAnn]]. */
    def q87OutliersAnn(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedGraphIndex(s, dir)
      graft.ops.Dedup.knnOutlierScores(s, table, "vec_id", index, 5)
        .orderBy(col("outlier_score").desc, col("vec_id")).limit(20)
    }

    /** Per-run correctness gate for the oracle-less graph-mode entries:
      * collect what the REAL q79/q80 plans (index rewrite, broadcast
      * descent, join plumbing — the executed path, not a shadow of it)
      * actually answer, and compare against the exact top-k computed
      * driver-side through the same index's exhaustive linear-scan path
      * (ef > N — the equivalence every oracle-pinned index query relies
      * on). Comparison is BY DISTANCE, not by id, so equidistant
      * neighbors can't fail the gate spuriously: an approximate hit
      * counts iff its distance is within the exact k-th distance.
      * Throws (failing the driver's query run) below threshold: ≥0.9 for
      * q79's single probe (one miss in ten), ≥0.95 across q80's 300
      * (probe, neighbor) pairs. Checked once per (session identity,
      * sf dir, effective ef) — i.e. once per driver Verify/Bench run, with
      * a new same-JVM session or an ef-override change re-arming the
      * gate — so the bench's steady-state q79/q80 timings still measure
      * graph-descent latency, with the gate cost landing in the
      * `build_graph_index` warm-up metric. */
    // weak-keyed on the session INSTANCE: true identity (identityHashCode
    // can collide with a dead session's), and a stopped session's entry
    // is collectable instead of accumulating forever. Values: gateKey →
    // the measured (recall79, recall80) of the PASSING run, so the bench
    // can emit the numbers into its record instead of throw-or-silent.
    private val graphRecallChecked =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession,
          scala.collection.mutable.LinkedHashMap[String, (Double, Double)]]())

    /** Measured graph-mode recall for `s`, if the q79/q80 gate has run this
      * session: (recall@10 over q79's single probe, recall@3 over q80's 300
      * pairs), from the most recent passing gate. None until a gated query
      * executes. */
    def graphRecall(s: SparkSession): Option[(Double, Double)] =
      lastRecallFor(s, "graph")

    /** Measured SHARDED graph-mode recall (q81/q82 gate — the 16-shard
      * fan-out at graph ef), same shape as [[graphRecall]]. */
    def shardedGraphRecall(s: SparkSession): Option[(Double, Double)] =
      lastRecallFor(s, "sgraph")

    private def lastRecallFor(s: SparkSession,
        prefix: String): Option[(Double, Double)] =
      graphRecallChecked.synchronized {
        Option(graphRecallChecked.get(s)).flatMap(_.toSeq.reverse.collectFirst {
          case (k, v) if k.startsWith(prefix + ":") => v
        })
      }

    /** Measured COSINE graph-mode recall (q86's own index — distinct from
      * the shared L2² graph index the q79/q80 gate covers; a recall
      * regression specific to cosine graph descent would otherwise hide
      * behind q86's rows-only check), same shape as [[graphRecall]]. */
    def cosineGraphRecall(s: SparkSession): Option[(Double, Double)] =
      lastRecallFor(s, "cgraph")

    /** q86's gate: the same two probe shapes every gated index variant
      * measures (a TopN probe and a 100×k=3 knn join), against the cosine
      * index's graph descent vs its own exhaustive path. */
    private def assertCosineGraphRecall(s: SparkSession, dir: String): Unit =
      recallGate(s, dir, "q86_emb", "q86_idx", "cgraph",
        q86TopkGatePlan(s), q86KnnGatePlan(s))

    private def q86TopkGatePlan(s: SparkSession): DataFrame = {
      val qv = embQueryVec(s, "q86_emb", 0)
      s.table("q86_emb")
        .withColumn("dist",
          vector.array_cosine_distance(col("embedding"), lit(qv)))
        .orderBy(col("dist").asc_nulls_last).limit(10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    private def q86KnnGatePlan(s: SparkSession): DataFrame = {
      val outer = s.table("q86_emb")
        .filter(col("vec_id") < 100 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.knnJoin(s, outer, "qvec", "q86_idx", 3)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("dist"))
        .orderBy(col("qid"), col("rank"))
    }

    private def assertGraphRecall(s: SparkSession, dir: String): Unit = {
      val (table, index) = sharedGraphIndex(s, dir)
      recallGate(s, dir, table, index, "graph",
        q79Plan(s, dir), q80Plan(s, dir))
    }

    private def assertShardedGraphRecall(s: SparkSession, dir: String): Unit = {
      val (table, index) = sharedShardedGraphIndex(s, dir)
      recallGate(s, dir, table, index, "sgraph",
        q81Plan(s, dir), q82Plan(s, dir))
    }

    /** The gate body, shared by the single-graph (q79/q80) and sharded
      * (q81/q82) pairs: `topkPlan`/`knnPlan` are the REAL executed plans
      * whose answers are compared against the exact top-k through the same
      * index's exhaustive path. */
    private def recallGate(s: SparkSession, dir: String, table: String,
        index: String, keyPrefix: String,
        topkPlan: => DataFrame, knnPlan: => DataFrame): Unit = {
      val entry = graft.index.IndexCatalog.get(index).get
      val gateEf = graft.index.IndexCatalog.effectiveEf(s, entry)
      val gateKey = s"$keyPrefix:$dir:$gateEf"
      // memoized only AFTER a PASSING run (below): a failed gate throws
      // without recording, so the next q79/q80 call re-checks instead of
      // silently skipping a known-bad index. (Two concurrent FIRST calls
      // can both run the gate — duplicated k-bounded work, same verdict;
      // accepted over holding a lock across Spark actions.)
      val done = graphRecallChecked.synchronized {
        Option(graphRecallChecked.get(s)).exists(_.contains(gateKey))
      }
      if (!done) {
        val idx = entry.index
        val exhaustiveEf = idx.size + 1
        // tie-robust hit test: within the exact k-th distance (+ float slack)
        def hits(approx: Seq[Double], exactKth: Double): Int =
          approx.count(_ <= exactKth * (1 + 1e-9) + 1e-12)

        // q79: one probe, k=10. A NULL distance (possible only on
        // degenerate tables with <10 non-null embeddings, via
        // asc_nulls_last) must not read as 0.0 and count as a hit —
        // drop those rows so recall can only be understated, never
        // inflated.
        val qv79 = embQueryVec(s, table, 0)
        val exact79 = idx.search(qv79, 10, exhaustiveEf)
        val approx79 = topkPlan.collect()
          .filterNot(_.isNullAt(1)).map(_.getDouble(1)).toSeq
        val recall79 = hits(approx79, exact79.last._2) / 10.0

        // q80: 100 probes, k=3 — exact k-th distance per probe
        val probes = s.table(table)
          .filter(col("vec_id") < 100 && col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val exactKth80 = probes.map { case (qid, v) =>
          qid -> idx.search(v, 3, exhaustiveEf).last._2
        }
        val approx80 = knnPlan.collect()
          .filterNot(_.isNullAt(3)).map(r => (r.getLong(0), r.getDouble(3)))
        val hit80 = approx80.count { case (qid, d) =>
          d <= exactKth80(qid) * (1 + 1e-9) + 1e-12
        }
        val recall80 = hit80.toDouble / (probes.size * 3)

        if (recall79 < 0.9 - 1e-9 || recall80 < 0.95 - 1e-9)
          throw new IllegalStateException(
            f"$keyPrefix-mode recall gate failed: topk recall@10=" +
              f"$recall79%.3f (need >=0.9), knn recall@3=$recall80%.3f " +
              s"(need >=0.95) at ef=$gateEf")
        graphRecallChecked.synchronized {
          val m = Option(graphRecallChecked.get(s)).getOrElse {
            val fresh =
              scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
            graphRecallChecked.put(s, fresh)
            fresh
          }
          m.put(gateKey, (recall79, recall80))
        }
        ()
      }
    }

    /** Grouped lateral-KNN (reference test/sql/hnsw/hnsw_lateral_join_group
      * .test): aggregate over each outer row's k nearest neighbors through
      * the index KNN join. Only order-independent aggregates (count/min/max)
      * so double results are exact. */
    def q34GroupedKnn(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 20 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.knnJoin(s, outer, "qvec", index, 5)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n"),
          min(col("dist")).as("min_d"),
          max(col("dist")).as("max_d"))
        .orderBy(col("qid"))
    }

    /** `pragma_hnsw_index_info` equivalent — stable columns of
      * IndexCatalog.describe (reference src/hnsw/hnsw_index_pragmas.cpp:22-148). */
    def q18IndexInfo(s: SparkSession, dir: String): DataFrame = {
      setupIndexOnce(s, dir, "q18_emb", "q18_idx", Map.empty)
      graft.index.IndexCatalog.describe(s)
        .where(col("index_name") === "q18_idx")
        .select(col("index_name"), col("table_name"), col("metric"),
          col("dimensions"), col("count"))
    }

    /** The reference's lateral-KNN entry point verbatim as SQL
      * (reference test/sql/hnsw/hnsw_lateral_join.test:19-27, SURVEY.md §3.3),
      * index-accelerated: Spark decorrelates the LATERAL into the windowed
      * domain-join shape, KnnJoinToIndexJoin rewrites it onto the HNSW
      * index (reference src/hnsw/hnsw_optimize_join.cpp:323-715) and then
      * drops the domain join, so q's rows stream into the index join — plan
      * pinned by SparkEntryIndexPathSpec and PlanAuditSpec. NULLS LAST spells out DuckDB's ASC
      * default (Spark's is NULLS FIRST), which is also the rewrite's
      * NULL-safety precondition. Tie-break note: the index breaks distance
      * ties by rowid and the oracle by nid; the fixture assigns rowids in
      * vec_id order and has no duplicate distances, so both agree. */
    def q27LateralKnn(s: SparkSession, dir: String): DataFrame = {
      val (table, _) = sharedIndex(s, dir)
      // the outer restriction lives in the CTE: the index join runs one
      // search per row of q, so the filter bounds the searches
      s.sql(
        s"""WITH q AS (SELECT vec_id, embedding FROM $table WHERE vec_id < 5)
           |SELECT q.vec_id AS qid, m.vec_id AS nid, m.dist
           |FROM q,
           |LATERAL (SELECT e.vec_id, array_distance_sq(e.embedding, q.embedding) AS dist
           |         FROM $table e ORDER BY dist ASC NULLS LAST LIMIT 3) m
           |ORDER BY qid, dist, nid""".stripMargin)
    }

    /** Embedding near-dup through the ANN index (the 100TB path for the
      * dedup suite): per row, the nearest OTHER row via index KNN join. */
    def q28EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
      setupIndexOnce(s, dir, "q28_emb", "q28_idx",
        Map("metric" -> "cosine", "ef_search" -> "100000"))
      graft.ops.Dedup.embeddingNearDupViaIndex(s, "q28_emb", "vec_id", "q28_idx",
        maxDist = 0.65)
        .orderBy(col("a"))
    }

    /** IVF index path: k-means inverted lists as parquet partitions, search
      * scans only the probed lists (PartitionFilters pruning). nProbe =
      * nLists makes it exact — the oracle is plain brute force. */
    def q30IvfTopK(s: SparkSession, dir: String): DataFrame = {
      // dir-tagged names: the IVF build (train + bucketed rewrite) is reused
      // across invocations within a session, like the shared HNSW indexes
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q30_emb_$tag", s"q30_ivf_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.IvfIndex.get(iname).isEmpty) {
        graft.index.IvfIndex.create(s, iname, tname, "embedding", nLists = 8)
      }
      val qv = s.table(tname).filter(col("vec_id") === 5)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.IvfIndex.search(s, iname, qv, 10, nProbe = 8,
          tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** PQ index path: vectors compress to m-byte codes, ADC scan generates
      * candidates, exact re-rank on the source rows. refine >= N/k makes it
      * exact — the oracle is plain brute force (same trick as q30's
      * nProbe = nLists and q16's ef >= N). */
    def q41PqTopK(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q41_emb_$tag", s"q41_pq_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.PqIndex.get(iname).isEmpty) {
        graft.index.PqIndex.create(s, iname, tname, "vec_id", "embedding",
          m = 8, k = 16)
      }
      val qv = s.table(tname).filter(col("vec_id") === 9)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.PqIndex.search(s, iname, qv, 10, refine = Int.MaxValue / 16,
          tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** IVF-PQ hybrid path: coarse partition pruning over m-byte PQ codes,
      * then exact re-rank. nProbe = nLists + full refine ⇒ exact. */
    def q43IvfPqTopK(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q43_emb_$tag", s"q43_ivfpq_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.IvfPqIndex.get(iname).isEmpty) {
        graft.index.IvfPqIndex.create(s, iname, tname, "vec_id", "embedding",
          nLists = 4, m = 8, k = 16)
      }
      val qv = s.table(tname).filter(col("vec_id") === 11)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.IvfPqIndex.search(s, iname, qv, 10, nProbe = 4,
          refine = Int.MaxValue / 16, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** CRUD lifecycle (reference test/sql/hnsw/hnsw_crud.test:10-47):
      * create index → INSERT (clones shifted +100000) → DELETE (every 7th
      * vec_id) → compact → index-accelerated top-k over the survivors. */
    def q19IndexCrud(s: SparkSession, dir: String): DataFrame = {
      // auto-ROUTED build (the conf's "route" arm — q19 is the build/DML-
      // bound shape: one CREATE INDEX + CRUD per run, k=10 probes, so the
      // sharded fan-out's per-probe premium never matters while the build
      // and compact dominate). Below the 16384 threshold the route folds
      // back to the same single graph as before (sf0.1 unchanged); above
      // it the per-run CREATE INDEX becomes an executor-sharded build
      // instead of a driver graph (sf10: measured 36.9 -> ~12 s warm). ef_search >= n keeps every path —
      // single, sharded fan-out, delta merge — exhaustive, so the DuckDB
      // oracle still applies exactly.
      withAutoScale(s, "route") {
        setupIndex(s, dir, "q19_emb", "q19_idx", Map("ef_search" -> "100000"))
      }
      val ins = tbl(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
      Graft.insertInto(s, "q19_emb", ins)
      Graft.deleteFrom(s, "q19_emb", col("vec_id") % 7 === 0)
      // spark variant: a routed sharded index compacts one task per shard
      // (identical local rebuild for the single-graph case)
      graft.index.IndexCatalog.compactIndex(s, "q19_idx")
      val qv = embQueryVec(s, "q19_emb", 1)
      Graft.indexTopK(s, "q19_idx", qv, 10)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    // --- dedup / text ----------------------------------------------------

    /** Exact dedup by content hash: canonical representative + dup count. */
    def q20DedupExact(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))

    /** Whitespace token counts + chars-per-token quality signal. */
    def q21TokenStats(s: SparkSession, dir: String): DataFrame =
      // sort-first: see docsSorted — the projection runs once, after the
      // range exchange, instead of twice (sampling pass + output pass)
      docsSorted(s, dir)
        .select(
          col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .withColumn("chars_per_token",
          col("n_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))

    /** MinHash-signature ARTIFACT shared by q22/q47/q76 — built once per
      * (session, sf dir), the TermIndex pattern applied to dedup: the
      * shingle+md5 corpus pass runs once, every pair-mining/clustering/
      * split pass starts from the materialized signature parquet. Returns
      * the artifact name. */
    private def sharedSignatures(s: SparkSession, dir: String): String = {
      val tag = Integer.toHexString(dir.hashCode)
      val name = s"qshared_sigs_$tag"
      if (graft.index.DedupSignatures.get(name).isEmpty) {
        tbl(s, dir, "documents").createOrReplaceTempView(s"qsig_docs_$tag")
        graft.index.DedupSignatures.create(s, name, s"qsig_docs_$tag",
          "doc_id", "text")
      }
      name
    }

    /** MinHash + LSH near-dup candidate pairs (bucketed band join, never
      * all-pairs — the 100TB shape), through the shared signature artifact.
      * md5-based permutations make the whole pipeline replayable in
      * DuckDB. */
    def q22MinHashLsh(s: SparkSession, dir: String): DataFrame =
      graft.index.DedupSignatures.pairs(s, sharedSignatures(s, dir))
        .orderBy(col("a"), col("b"))

    /** 64-bit SimHash per document as a '0'/'1' bit string — read from the
      * shared fingerprint artifact. */
    def q23SimHash(s: SparkSession, dir: String): DataFrame =
      sharedSimHashes(s, dir)
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))

    /** Hashed-shingle ARTIFACT shared by q24/q44/q45 — the shingle explode
      * over corpus text runs once, persisted bucketed-by-shingle so the
      * Jaccard self-join and by-shingle aggregates read it exchange-free.
      * Returns the artifact's shingle DataFrame. */
    private def sharedShingles(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val name = s"qshared_sh_$tag"
      if (graft.index.ShingleIndex.get(name).isEmpty) {
        tbl(s, dir, "documents").createOrReplaceTempView(s"qsh_docs_$tag")
        graft.index.ShingleIndex.create(s, name, s"qsh_docs_$tag",
          "doc_id", "text")
      }
      graft.index.ShingleIndex.shingles(s, name)
    }

    /** Exact n-gram Jaccard over LSH-free shingle join, with the
      * document-frequency skew cap on shingles — through the bucketed
      * shingle artifact (the self-join runs exchange-free). */
    def q24JaccardPairs(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.ngramJaccardPairsFromShingles(sharedShingles(s, dir),
        "doc_id", minJaccard = 0.05, maxShingleDocFreq = 100,
        // footer-only row count = an upper bound on distinct docs: the
        // broadcast decision costs no counts-checkpoint scan (Dedup doc)
        knownDocCount = Some(tbl(s, dir, "documents").count()))
        .orderBy(col("a"), col("b"))

    /** Per-document corpus-duplication fraction: how many of the doc's
      * distinct 3-gram shingles occur in other documents too. */
    def q44CorpusDup(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.corpusDupSignalFromShingles(sharedShingles(s, dir), "doc_id")
        .orderBy(col("doc_id"))

    /** Benchmark decontamination: per corpus doc, shingle overlap against a
      * held-out eval set (docs with doc_id % 41 == 0 play the benchmark).
      * The benchmark shingle set is broadcast — the corpus side never
      * shuffles until the per-doc rollup. */
    def q45Decontaminate(s: SparkSession, dir: String): DataFrame = {
      // shingles are per-document: one full-corpus artifact filtered by the
      // id predicate yields exactly each side's shingles
      val sh = sharedShingles(s, dir)
      graft.ops.Dedup.decontaminationSignalFromShingles(
        sh.where(col("doc_id") % 41 =!= 0), sh.where(col("doc_id") % 41 === 0),
        "doc_id")
        .orderBy(col("doc_id"))
    }

    /** Deterministic corpus shuffle + token-budget sequence packing —
      * two-level (bucket, md5) order so no single-partition global window
      * appears in the plan. */
    def q46PackSequences(s: SparkSession, dir: String): DataFrame =
      graft.ops.Packing.packAssignments(tbl(s, dir, "documents"), "doc_id",
        graft.ops.TextAnalysis.tokenCount(col("text")), budget = 512)
        .orderBy(col("doc_id"))

    /** Duplicate clusters: MinHash-LSH pairs (est_sim >= 0.5) → connected
      * components → per-doc cluster label (min doc id in cluster). The
      * pairwise output of q22 turned into the canonical-survivor decision
      * every dedup pipeline actually ships. */
    def q47DedupClusters(s: SparkSession, dir: String): DataFrame = {
      val d = tbl(s, dir, "documents")
      val pairs = graft.index.DedupSignatures.pairs(s, sharedSignatures(s, dir))
        .where(col("est_sim") >= 0.5).select(col("a"), col("b"))
      graft.ops.Components.connectedComponents(d.select(col("doc_id")), pairs)
        .orderBy(col("doc_id"))
    }

    /** Per-language corpus length statistics with EXACT interpolated
      * quantiles (sort-based percentile; both engines use the same
      * p·(n−1) linear interpolation, and quarter-point fractions over
      * integer token counts are exact in binary). */
    def q48CorpusStats(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "documents")
        .select(col("lang"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tok"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          percentile(col("n_tok"), lit(0.25)).as("p25_tok"),
          percentile(col("n_tok"), lit(0.5)).as("p50_tok"),
          percentile(col("n_tok"), lit(0.75)).as("p75_tok"),
          avg(col("n_chars")).as("mean_chars"))
        .orderBy(col("lang"))

    /** Deterministic mixture calibration: thin over-represented languages
      * until the kept corpus matches target proportions (bottleneck
      * language keeps rate 1). Reports the kept counts per language. */
    def q49MixtureCalibration(s: SparkSession, dir: String): DataFrame = {
      val d = tbl(s, dir, "documents")
      graft.ops.Sampling.calibrateMixture(d, "doc_id", "lang", mixtureTargets)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    }

    /** End-to-end training-data pipeline in one DataFrame program:
      * exact dedup (canonical survivor per content hash) → benchmark
      * decontamination (drop overlap ≥ 0.8 vs the held-out eval set) →
      * deterministic split assignment → per-(split, lang) corpus rollup.
      * Every stage is an op proven by its own oracle (q20/q45/q38); this
      * pins their COMPOSITION — the shape a real corpus build runs. */
    def q50PipelineE2e(s: SparkSession, dir: String): DataFrame = {
      val d = tbl(s, dir, "documents")
      val surv = graft.ops.Dedup.exact(d, "doc_id", Seq(md5(col("text"))))
      val corpus = surv.where(col("doc_id") % 41 =!= 0)
      val bench = d.where(col("doc_id") % 41 === 0)
      // the shared shingle artifact serves the derived corpus too: shingles
      // are per-document, so a semi-join on the survivor ids selects exactly
      // the corpus side's shingles without re-exploding the text (the id
      // set is small relative to the shingle table — AQE broadcasts it)
      val sh = sharedShingles(s, dir)
      val contam = graft.ops.Dedup.decontaminationSignalFromShingles(
        sh.join(corpus.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        sh.where(col("doc_id") % 41 === 0), "doc_id")
      // LEFT join: a doc too short to shingle has no contamination signal —
      // that means nothing overlapped, not that the doc should be dropped
      val clean = corpus
        .join(contam.select(col("doc_id"), col("contam_frac")), Seq("doc_id"), "left")
        .where(col("contam_frac").isNull || col("contam_frac") < 0.8)
        .drop("contam_frac")
      graft.ops.Sampling.withSplit(clean, "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("sum_tokens"))
        .orderBy(col("split"), col("lang"))
    }

    /** Z-order (Morton) interleave of two bucketized dimensions — the
      * clustering key behind layout-optimized writes (Layout.zorderWrite);
      * pure bit-twiddling, hash-exact in both engines. */
    def q51ZOrder(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.ops.Layout.zValue(col("n_chars") % 65536, col("doc_id") % 65536)
          .as("zval"))
        .orderBy(col("doc_id"))

    /** Language ID + quality score + canonical fingerprint — pure column
      * algebra, bit-identical across engines. */
    def q25TextSignals(s: SparkSession, dir: String): DataFrame =
      // sort-first (docsSorted): annotate's 20+ scans run once per row
      graft.ops.TextAnalysis.annotate(docsSorted(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("lang_pred"),
          col("quality"), col("fingerprint"))

    /** Random-hyperplane LSH near-dup candidates over embeddings — the
      * LSH-bucketed vector-space variant (banded sign-projection join, no
      * all-pairs), verified by exact cosine distance. */
    def q32EmbeddingLsh(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.embeddingLshPairs(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        maxDist = 0.8)
        .orderBy(col("a"), col("b"))

    /** [[q32EmbeddingLsh]]'s GEOMETRY-FROM-N form — the scale-facing graded
      * entry: bits-per-band from `Dedup.lshGeometry(n)` hold expected bucket
      * occupancy constant, so the banded candidate join stays O(n·target)
      * where the fixed 16-plane geometry degrades to n²/2^r (measured 31×
      * apart at 100k rows, LSH_SCALE.json). Every emitted pair is verified
      * with the exact cosine distance, and the ORACLE recomputes the same
      * geometry from count(*) in SQL — the hash check pins geometry AND
      * pairs, not just the survivors. Same maxDist as q32, so at the graded
      * sf (where both geometries use r=8) this output is a strict SUPERSET
      * of q32's: auto's 4 bands extend the fixed form's 2 over identical
      * planes — nonzero rows by construction, recall can only go up. */
    def q32bEmbeddingLshAuto(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.embeddingLshPairsAuto(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", maxDist = 0.8)
        .orderBy(col("a"), col("b"))

    /** [[q32bEmbeddingLshAuto]]'s OUTPUT-BOUNDED form — the entry that runs
      * at EVERY decade (round-15): the auto-geometry miner bounds candidate
      * volume but its OUTPUT is the true pair count, quadratic in dup-
      * cluster size (~1.1e9 rows at sf10 — skipped there through round 14).
      * Two deterministic caps (per-bucket id-successor pairing, per-anchor
      * top-k by exact distance — the reference's `min_by` k-bounding,
      * reference src/hnsw/hnsw_index_macros.cpp:25-29) make candidates
      * ≤ n·bands·cap and output ≤ n·k. The ORACLE replays both caps in SQL
      * (same bucket sort, same successor slice, same (dist, b) tie-break), so the
      * hash pins the caps' semantics, not just the survivors. */
    def q88EmbeddingLshTopK(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.embeddingLshPairsTopK(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", k = 3, bucketCap = 8, maxDist = 0.8)
        .orderBy(col("a"), col("b"))

    /** Token-level quality signals: BPE-ish subword counts plus punctuation
      * and stopword density (training-data filtering staples). */
    def q31TokenQuality(s: SparkSession, dir: String): DataFrame = {
      val t = graft.ops.TextAnalysis
      // sort-first: see docsSorted
      docsSorted(s, dir).select(
        col("doc_id"),
        t.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        t.punctRatio(col("text"), col("n_chars")).as("punct_ratio"),
        t.stopwordRatio(col("text")).as("stop_ratio"))
    }

    /** Rolling-hash (Rabin–Karp char-k-gram min) document fingerprints —
      * edit-robust near-dup keys, pure integer column algebra. */
    def q33RollingFingerprint(s: SparkSession, dir: String): DataFrame =
      // sort-first: see docsSorted
      docsSorted(s, dir)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.rollingFingerprint(col("text")).as("rfp"))

    /** Gopher-style repetition/diversity quality signals: type-token ratio,
      * top-word mass, duplicate-2gram fraction, mean word length. */
    def q37RepetitionSignals(s: SparkSession, dir: String): DataFrame =
      // sort-first (docsSorted); the op's NULL-text filter pushes below the
      // sort, and its projections preserve the sorted order
      graft.ops.TextAnalysis.repetitionSignals(docsSorted(s, dir))

    /** Deterministic hash-split (train/val/test from md5 buckets of doc_id)
      * with per-(split, lang) stratum rollup — reproducible regardless of
      * partitioning, unlike rand()/sample(). */
    def q38DeterministicSplit(s: SparkSession, dir: String): DataFrame =
      graft.ops.Sampling.withSplit(tbl(s, dir, "documents"), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("split"), col("lang"))

    /** PII detect + redact over documents with deterministic synthetic PII
      * appended (the fixture corpus carries none): per-kind match counts and
      * the md5/length of the scrubbed text. */
    def q39PiiRedaction(s: SparkSession, dir: String): DataFrame = {
      val r = graft.ops.Redaction
      // sort-first (docsSorted): the regex pipeline runs once, not twice
      val pii = docsSorted(s, dir).withColumn("pii_text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType), lit("@example.com"),
          lit(" call 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
          lit(" from 10.0.0."), pmod(col("doc_id"), lit(256)).cast(StringType)))
      // counts + chained redaction fused into ONE native pass
      // (Redaction.redactWithCounts — round 18; the piiCount×3 + redact
      // chain ran 6 regex evaluations and 6 UTF8String conversions per
      // row), aliased in its own projection so it runs once per row for
      // its five consumers (CollapseProject keeps a non-cheap
      // multi-consumer producer separate — the q37 pattern)
      pii.select(col("doc_id"),
          r.redactWithCounts(col("pii_text")).as("__pr"))
        .select(col("doc_id"),
          col("__pr.counts").getItem(r.kindIndex("email")).as("n_emails"),
          col("__pr.counts").getItem(r.kindIndex("phone")).as("n_phones"),
          col("__pr.counts").getItem(r.kindIndex("ipv4")).as("n_ips"),
          md5(col("__pr.red")).as("red_md5"),
          length(col("__pr.red")).cast(LongType).as("red_len"))
    }

    /** Gap-based sessionization (30-min gap) over event timestamps at µs
      * resolution (DuckDB 1.0 truncates TIMESTAMP(NANOS) to µs, so the
      * oracle can only see µs): per-session event counts and span. */
    def q40Sessionize(s: SparkSession, dir: String): DataFrame = {
      val ev = eventsMicros(s, dir)
      graft.ops.Sessionize
        .sessionStats(ev, "user_id", "ts", gap = 30L * 60 * 1000000L,
          tieCol = "event_id")
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("span").cast(LongType).as("span"))
        .orderBy(col("user_id"), col("session_seq"))
    }

    /** As-of join: each click matched to the user's most recent
      * prior-or-same-instant purchase (inner; µs resolution — see q40). */
    def q42AsofJoin(s: SparkSession, dir: String): DataFrame = {
      val ev = eventsMicros(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      // pre-aggregate to ONE purchase row per (user, ts): AsofJoin resolves
      // right-side timestamp ties by partition row order and DuckDB ASOF by
      // its own arbitrary choice — collapsing ties (max value) makes both
      // engines deterministic regardless of fixture tie content
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("p_value"))
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"), col("p_value"))
      graft.ops.AsofJoin.asofJoin(clicks, purchases, Seq("user_id"), "ts",
          Seq("p_ts", "p_value"))
        .orderBy(col("user_id"), col("ts"))
    }

    /** Multimodal binary-column plumbing: opaque payloads (UTF-8 bytes as
      * the fixture modality), byte-exact metadata, and REAL frame slicing —
      * n_frames/n_sampled come from materialized 64-byte frame arrays, which
      * the oracle cross-checks with independent arithmetic. */
    def q26Multimodal(s: SparkSession, dir: String): DataFrame = {
      // sort-first (docsSorted): fromText/withByteStats/frameSample are
      // order-preserving projections, so the md5+slice work runs once
      val media = graft.ops.Multimodal.fromText(docsSorted(s, dir))
      graft.ops.Multimodal.withByteStats(media)
        .withColumn("n_frames",
          size(graft.ops.Multimodal.frameSample(col("media"), 64, 1)).cast(LongType))
        .withColumn("n_sampled",
          size(graft.ops.Multimodal.frameSample(col("media"), 64, 4)).cast(LongType))
        .select(col("doc_id"), col("n_bytes"), col("content_md5"),
          col("n_frames"), col("n_sampled"))
    }

    /** REAL image-codec round-trip, hash-checked: one solid-color PNG per
      * document is ENCODED through the JDK's javax.imageio then DECODED by
      * [[graft.ops.Multimodal.decodeMedia]]; the decoder-read pixel
      * dimensions, channel count, and exact mean intensity must equal the
      * closed-form integer functions of (doc_id, n_chars) the payloads were
      * synthesized from — which the DuckDB oracle recomputes in pure SQL.
      * Narrow end-to-end: payload bytes never leave their partition. */
    def q83ImageDecode(s: SparkSession, dir: String): DataFrame = {
      val media = graft.ops.Multimodal.synthPngTable(tbl(s, dir, "documents"))
      graft.ops.Multimodal.decodeMedia(media)
        .select(col("doc_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("channels").cast(LongType).as("channels"),
          col("gray_mean"))
        // synth tables are RANGE-partitioned by doc_id, so a per-partition
        // sort yields globally id-ordered output without a second exchange
        // (whose sampling pass would re-run every codec — sort-first note
        // at docsSorted)
        .sortWithinPartitions(col("doc_id"))
    }

    /** REAL audio-codec round-trip, hash-checked: one constant-amplitude
      * 8 kHz mono WAV per document (encoded through javax.sound.sampled)
      * decoded back — sample rate, frame count, duration, and RMS amplitude
      * must equal the synthesis functions, recomputed by the oracle. */
    def q84AudioDecode(s: SparkSession, dir: String): DataFrame = {
      val media = graft.ops.Multimodal.synthWavTable(tbl(s, dir, "documents"))
      graft.ops.Multimodal.decodeMedia(media)
        .select(col("doc_id"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("n_frames"), col("duration_sec"), col("rms"))
        // synth tables are RANGE-partitioned by doc_id, so a per-partition
        // sort yields globally id-ordered output without a second exchange
        // (whose sampling pass would re-run every codec — sort-first note
        // at docsSorted)
        .sortWithinPartitions(col("doc_id"))
    }

    /** REAL video-container round-trip, hash-checked: one constant-luma-per-
      * frame Y4M clip per document (a public header-simple raw-video format,
      * synthesized byte-for-byte by [[graft.ops.Multimodal.encodeY4m]])
      * decoded back by the pure-JVM container parser — dimensions, frame
      * count, 25fps duration, and the exact integer-accumulated mean luma
      * must equal the synthesis functions, recomputed by the oracle in SQL
      * (mean luma via list_sum over the per-frame closed form). Completes
      * the codec trilogy with q83 (image) and q84 (audio). */
    def q85VideoDecode(s: SparkSession, dir: String): DataFrame = {
      val media = graft.ops.Multimodal.synthY4mTable(tbl(s, dir, "documents"))
      graft.ops.Multimodal.decodeMedia(media)
        .select(col("doc_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("n_frames"), col("duration_sec"), col("gray_mean"))
        // synth tables are RANGE-partitioned by doc_id, so a per-partition
        // sort yields globally id-ordered output without a second exchange
        // (whose sampling pass would re-run every codec — sort-first note
        // at docsSorted)
        .sortWithinPartitions(col("doc_id"))
    }

    // --- text search -----------------------------------------------------

    /** Shared keyword query for the BM25 family (q52/q53/q54). */
    val bm25Terms: Seq[String] = Seq("spark", "join", "query")

    /** Brute-force BM25 top-20 keyword search over the corpus. */
    def q52Bm25TopK(s: SparkSession, dir: String): DataFrame =
      graft.ops.TextSearch.bm25TopK(tbl(s, dir, "documents"), "doc_id", "text",
        bm25Terms, 20)

    /** The same search through the bucket-partitioned inverted term index —
      * reads only the query terms' posting partitions (PartitionFilters,
      * pinned by TextSearchSpec); result is bit-identical to q52, so the
      * two share the oracle. */
    /** Term index over the documents table shared by q53/q56 — built once
      * per (session, sf dir). Returns the index name. */
    private def sharedTermIndex(s: SparkSession, dir: String): String = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q53_docs_$tag", s"q53_term_$tag")
      tbl(s, dir, "documents").createOrReplaceTempView(tname)
      if (graft.index.TermIndex.get(iname).isEmpty) {
        graft.index.TermIndex.create(s, iname, tname, "doc_id", "text",
          nBuckets = 8)
      }
      iname
    }

    def q53Bm25Indexed(s: SparkSession, dir: String): DataFrame =
      graft.index.TermIndex.search(s, sharedTermIndex(s, dir), bm25Terms, 20)

    /** Hybrid search: BM25 keyword top-20 fused with exact vector top-20
      * (documents and embeddings share the id space) by reciprocal-rank
      * fusion — the standard no-calibration combiner. Ranks are 1-indexed
      * row_numbers over (score, id); rrf = 1/(60+rank_kw) + 1/(60+rank_vec)
      * is integer-derived IEEE division, bit-exact cross-engine. */
    def q54HybridRrf(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // Both retrieval legs run through their shared indexes — the hybrid
      // query costs |query-term buckets|/nBuckets of the postings plus one
      // k-bounded index probe, NOT a corpus re-tokenize plus a full vector
      // scan. Results are pinned bit-identical to the brute-force legs:
      // TermIndex.search ≡ bm25TopK (TextSearchSpec), and sharedIndex's
      // exhaustive ef_search makes the index probe equal brute force (the
      // q16 oracle pins the same equivalence), so the q52-shaped oracle
      // is unchanged.
      val kw = graft.index.TermIndex.search(s, sharedTermIndex(s, dir),
          bm25Terms, 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val (table, index) = sharedIndex(s, dir)
      val qv = embQueryVec(s, table, 7)
      val vec = Graft.indexTopK(s, index, qv, 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("dist"), col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.ops.TextSearch.rrfFuse(kw, vec, "doc_id")
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }

    /** Batch keyword retrieval (the BM25 analog of the KNN join): every
      * 97th document's first 3 words play the query table; top-3 docs per
      * query in ONE distributed plan — postings filtered to the union of
      * query terms before any shuffle, then a term candidate join and a
      * per-query top-k window. */
    def q56Bm25Join(s: SparkSession, dir: String): DataFrame = {
      val d = tbl(s, dir, "documents")
      val queries = d.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          slice(graft.ops.TextSearch.tokens(col("text")), 1, 3).as("terms"))
      // through the shared term index: bit-identical to the brute-force
      // bm25JoinTopK over the table (differential spec), but the corpus
      // tokenize pass is replaced by a bucket-pruned posting read
      graft.index.TermIndex.searchJoin(s, sharedTermIndex(s, dir),
          queries, "qid", "terms", 3)
        .orderBy(col("qid"), col("rank"))
    }

    /** Exact-phrase occurrence counts ("hash join") — narrow array algebra
      * per doc (no shuffle); TermIndex.phraseSearch answers the same query
      * from positional postings without scanning the corpus (differential
      * spec pins equality). */
    def q59Phrase(s: SparkSession, dir: String): DataFrame =
      graft.ops.TextSearch.phraseMatches(tbl(s, dir, "documents"),
          "doc_id", "text", Seq("hash", "join"))
        .orderBy(col("doc_id"))

    /** Corpus vocabulary: the 50 highest-df terms with document frequency
      * and total occurrences — the stopword/vocab-pruning rollup. */
    def q60VocabStats(s: SparkSession, dir: String): DataFrame =
      // through the shared term index: bit-identical to the live
      // termStats pass (artifact completeness — differential spec), but
      // the corpus is never re-tokenized; the top-50 is a
      // TakeOrderedAndProject over the per-term rollup
      graft.index.TermIndex.termStats(s, sharedTermIndex(s, dir))
        .orderBy(col("df").desc, col("term"))
        .limit(50)

    /** Overlapping token-window chunking (32-token chunks, 8-token
      * overlap): the doc → training-sequence / RAG-passage splitter. Pure
      * integer + slice + join algebra, one narrow pass. */
    def q57Chunk(s: SparkSession, dir: String): DataFrame =
      // sort-first (docsSorted): chunk's explode emits chunk_id ascending
      // per doc and preserves row order, so a per-partition sort over the
      // range-partitioned input yields the global (doc_id, chunk_id) order
      // without an exchange whose sampling pass would re-chunk the corpus
      graft.ops.Chunking.chunk(docsSorted(s, dir), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .sortWithinPartitions(col("doc_id"), col("chunk_id"))

    /** L2-normalized embeddings (DOUBLE elements; x/√(a·a) on the same
      * sequential-fold norm the kernels use) — the cosine→l2sq bridge the
      * quantized indexes document. Bit-exact: division by an identical
      * norm replays in DuckDB. Output is exploded to one scalar row per
      * (vec_id, dim) — the driver's pandas comparator cannot sort/hash a
      * raw array column (r04 q58 err: "unhashable type: numpy.ndarray"). */
    def q58Normalize(s: SparkSession, dir: String): DataFrame =
      tbl(s, dir, "embeddings")
        .where(col("vec_id") < 20)
        .select(col("vec_id"),
          graft.functions.vector.l2_normalize(col("embedding")).as("nvec"))
        .select(col("vec_id"), posexplode(col("nvec")).as(Seq("dim", "nval")))
        .orderBy(col("vec_id"), col("dim"))

    /** SQ8 scalar-quantization index path: per-dimension int8 codes, ADC
      * candidate scan, exact re-rank. Full refine ⇒ exact — the oracle is
      * plain brute force (same trick as q30/q41/q43). */
    def q55SqTopK(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q55_emb_$tag", s"q55_sq_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.SqIndex.get(iname).isEmpty) {
        graft.index.SqIndex.create(s, iname, tname, "vec_id", "embedding")
      }
      val qv = s.table(tname).filter(col("vec_id") === 13)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.SqIndex.search(s, iname, qv, 10, refine = Int.MaxValue / 16,
          tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Filtered ANN: `WHERE label = 2 ORDER BY dist LIMIT 10` through the
      * index via adaptive over-fetch (label=2 is ~9% of rows, so the first
      * k×4 fetch under-fills and the ×4 re-probe loop actually runs).
      * Exhaustive ef ⇒ exact, so the brute-force filtered oracle applies. */
    def q61FilteredTopK(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val qv = embQueryVec(s, table, 3)
      Graft.indexTopKWhere(s, index, qv, 10, col("label") === 2)
        .select(col("vec_id"), col("label"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Radius (range) search through the index: adaptive top-k doubling
      * until the fetch frontier crosses r, then keep dist <= r. Exhaustive
      * ef ⇒ exact vs the single-pass brute-force oracle. */
    def q62RadiusSearch(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val qv = embQueryVec(s, table, 3)
      Graft.indexRadiusSearch(s, index, qv, 1.55)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** SimHash near-dup lookup: the 10 documents whose 64-bit fingerprint
      * is Hamming-nearest to doc 42's. (hamming, doc_id) is a total order,
      * so top-k ties are pinned. */
    /** SimHash-fingerprint ARTIFACT shared by q23/q63/q64 — the 64-vote
      * fingerprint aggregation runs once per (session, sf dir). Returns
      * the packed fingerprint DataFrame. */
    private def sharedSimHashes(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val name = s"qshared_simhash_$tag"
      if (graft.index.SimHashIndex.get(name).isEmpty) {
        tbl(s, dir, "documents").createOrReplaceTempView(s"qsim_docs_$tag")
        graft.index.SimHashIndex.create(s, name, s"qsim_docs_$tag",
          "doc_id", "text")
      }
      graft.index.SimHashIndex.fingerprints(s, name)
    }

    def q63SimHashTopK(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.simHashTopKFromFingerprints(sharedSimHashes(s, dir),
          "doc_id", lit(42L), 10)
        .orderBy(col("hamming"), col("doc_id"))

    /** SimHash banded near-dup pairs: all pairs within 3 bit flips via
      * 4-band blocking (pigeonhole-complete for hamming <= bands-1); the
      * n² oracle self-join certifies completeness, the engine never runs
      * it. */
    def q64SimHashPairs(s: SparkSession, dir: String): DataFrame =
      graft.ops.Dedup.simHashNearDupPairsFromFingerprints(
          sharedSimHashes(s, dir), "doc_id", maxHamming = 3, bands = 4)
        .orderBy(col("a"), col("b"))

    /** Embedding-space outlier detection: top-20 rows by distance to their
      * 5th nearest other row, through the index KNN join. Exhaustive ef ⇒
      * exact vs the oracle's window-function formulation. */
    def q65KnnOutliers(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      graft.ops.Dedup.knnOutlierScores(s, table, "vec_id", index, 5)
        .orderBy(col("outlier_score").desc, col("vec_id")).limit(20)
    }

    /** MMR diversified top-5 from a 30-candidate index pool (λ=0.5):
      * greedy (1-λ)·minDistToSelected − λ·queryDist, ties to the smaller
      * id. The oracle replays the greedy as 5 chained argmax CTEs. */
    def q66MmrTopK(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val qv = embQueryVec(s, table, 3)
      Graft.mmrTopK(s, index, qv, k = 5, poolSize = 30, lambda = 0.5)
        .select(col("vec_id"), col("mmr_rank"), col("dist"))
        .orderBy(col("mmr_rank"))
    }

    /** Distributed radius θ-join through the index: every (outer, inner)
      * pair within L2² 1.55, via frontier doubling (initialK=4 forces at
      * least one escalation round at sf0.01 fan-outs of ~24). Exhaustive
      * ef ⇒ exact vs the brute-force θ-join oracle. */
    def q67RadiusJoin(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 5 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.radiusJoin(s, outer, "qid", "qvec", index, 1.55, initialK = 4)
        .select(col("qid"), col("vec_id").as("nid"), col("dist"))
        .orderBy(col("qid"), col("dist"), col("nid"))
    }

    /** Radius search through the IVF index (q30's inverted lists): lists
      * are pruned LOSSLESSLY by the triangle-inequality covering-radius
      * bound, so the result is exact regardless of pruning — no nProbe
      * knob, no recall trade-off. Oracle = brute radius scan. */
    def q68IvfRadius(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q30_emb_$tag", s"q30_ivf_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.IvfIndex.get(iname).isEmpty) {
        graft.index.IvfIndex.create(s, iname, tname, "embedding", nLists = 8)
      }
      val qv = s.table(tname).filter(col("vec_id") === 5)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.IvfIndex.radiusSearch(s, iname, qv, 1.55)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Incremental IVF maintenance under the oracle: the index is built on
      * vec_id < 400 only, the rest arrives via `IvfIndex.append` (fixed
      * centroids, additive partition files, max-merged covering radii) —
      * then an exact (nProbe = nLists) search over EVERYTHING must match
      * brute force over the full table, proving append ≡ fresh build. */
    def q69IvfAppend(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val (tname, iname) = (s"q69_emb_$tag", s"q69_ivf_$tag")
      tbl(s, dir, "embeddings").createOrReplaceTempView(tname)
      if (graft.index.IvfIndex.get(iname).isEmpty) {
        s.table(tname).where(col("vec_id") < 400)
          .createOrReplaceTempView(s"${tname}_seed")
        graft.index.IvfIndex.create(s, iname, s"${tname}_seed", "embedding",
          nLists = 8)
        graft.index.IvfIndex.append(s, iname,
          s.table(tname).where(col("vec_id") >= 400))
      }
      val qv = s.table(tname).filter(col("vec_id") === 11)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.IvfIndex.search(s, iname, qv, 10, nProbe = 8,
          tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Batch MMR join: per-query diversified top-4 from 20-candidate index
      * pools, greedy running inside the executors (flatMapGroups). The
      * oracle replays every query's greedy simultaneously with per-stage
      * windowed argmax CTEs — same 0.5-factor arithmetic as q66. */
    def q70MmrJoin(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedIndex(s, dir)
      val outer = s.table(table)
        .filter(col("vec_id") < 3 && col("embedding").isNotNull)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Graft.mmrJoin(s, outer, "qid", "qvec", index, "vec_id",
          k = 4, poolSize = 20, lambda = 0.5)
        .orderBy(col("qid"), col("mmr_rank"))
    }

    /** Exact-substring span removal (Lee et al. ACL'22 rewrite step):
      * tokens covered by any 8-token window occurring >= 2 times
      * corpus-wide are dropped and the surviving text rejoined. */
    /** Span-cleaned corpus shared by q71/q72, materialized ONCE per
      * (session, sf dir) as a registered graft table — the flow a real
      * pipeline runs: clean → register → every downstream stage reads the
      * materialized table instead of re-running the window-hash pass. */
    private def sharedCleanDocs(s: SparkSession, dir: String): DataFrame = {
      val tag = Integer.toHexString(dir.hashCode)
      val name = s"qclean_docs_$tag"
      if (!s.catalog.tableExists(name)) {
        Graft.registerTable(s, name,
          graft.ops.Dedup.removeDuplicatedSpans(tbl(s, dir, "documents"),
            "doc_id", "text", windowLen = 8, minOccurrences = 2))
      }
      s.table(name)
    }

    def q71DedupSpans(s: SparkSession, dir: String): DataFrame =
      sharedCleanDocs(s, dir)
        .select(col("doc_id"), col("clean_text"), col("n_tokens"), col("n_removed"))
        .orderBy(col("doc_id"))

    /** Cleaning pipeline composition: span-dedup REWRITES the corpus, the
      * mostly-duplicated docs (>50% removed or emptied) drop out, and the
      * survivors' CLEANED text chunks into training windows — the rewrite
      * op feeding a downstream stage. Per-doc chunk rollup. */
    def q72CleanPipeline(s: SparkSession, dir: String): DataFrame = {
      val cleaned = sharedCleanDocs(s, dir)
        .where(col("clean_text") =!= "" &&
          col("n_removed") * 2 <= col("n_tokens"))
      graft.ops.Chunking.chunk(
          cleaned.select(col("doc_id"), col("clean_text").as("text")),
          "doc_id", "text", chunkTokens = 32, overlap = 8)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("chunk_tokens"))
        .orderBy(col("doc_id"))
    }

    /** Per-label centroid aggregation under the oracle, via the exact
      * fixed-point projection (integer sums are order-independent, so the
      * distributed aggregate replays bit-exactly; VectorStats.centroids is
      * the full-precision op, spec-compared with tolerance). */
    def q73LabelCentroids(s: SparkSession, dir: String): DataFrame =
      graft.ops.VectorStats.centroidSumsFixedPoint(
          tbl(s, dir, "embeddings"), "label", "embedding")
        .where(col("dim") < 8) // bounded output: 10 labels x 8 dims
        .orderBy(col("label"), col("dim"))

    /** Radius search through the SHARDED index: every doubling round fans
      * out one task per shard (searchDistributed) and the driver k-way
      * merges — the 100 TB radius path under the oracle. */
    def q74ShardedRadius(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedShardedIndex(s, dir)
      val qv = embQueryVec(s, table, 7)
      Graft.indexRadiusSearch(s, index, qv, 1.55)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Filtered ANN through the SHARDED index: the adaptive over-fetch
      * loop's probes run as distributed per-shard searches. */
    def q75ShardedFilteredTopK(s: SparkSession, dir: String): DataFrame = {
      val (table, index) = sharedShardedIndex(s, dir)
      val qv = embQueryVec(s, table, 7)
      Graft.indexTopKWhere(s, index, qv, 10, col("label") === 4)
        .select(col("vec_id"), col("label"), col("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }

    /** Leakage-safe train/eval split: near-dup CLUSTERS (LSH pairs at
      * est_sim >= 0.5 → connected components) move to one side together —
      * the id-hash split rule applied to the cluster's canonical min id.
      * A per-doc hash split would scatter paraphrase clusters across the
      * boundary and leak training text into eval. */
    def q76ClusterSafeSplit(s: SparkSession, dir: String): DataFrame = {
      val docs = tbl(s, dir, "documents")
      val pairs = graft.index.DedupSignatures.pairs(s, sharedSignatures(s, dir))
        .where(col("est_sim") >= 0.5).select(col("a"), col("b"))
      graft.ops.Sampling.clusterSafeSplit(docs, "doc_id", pairs)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }

    /** Late-interaction MaxSim scoring (ColBERT-style): vec_id < 5 as the
      * query's vector set, label groups as candidates — each query vector
      * takes its best cosine match in the group, matches fold in qid order
      * (bit-exact; a bare SUM would be partition-order-dependent). */
    def q77MaxSim(s: SparkSession, dir: String): DataFrame = {
      val emb = tbl(s, dir, "embeddings")
      graft.ops.MultiVector.maxSimScores(
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          emb, "label", "embedding")
        .orderBy(col("label"))
    }

    /** The reference's infix distance-operator spelling (`vec <-> q`,
      * reference src/hnsw/hnsw_index.cpp:636, README.md) end-to-end
      * through the GraftSql dialect preprocessor: the q10 exact-KNN shape,
      * written as the SQL string a pgvector/duckdb-vss user would paste. */
    def q78InfixKnn(s: SparkSession, dir: String): DataFrame = {
      tbl(s, dir, "embeddings").createOrReplaceTempView("embeddings_infix")
      GraftSql.sql(s,
        """SELECT e.vec_id, e.embedding <-> q.qv AS dist
          |FROM embeddings_infix e,
          |     (SELECT embedding AS qv FROM embeddings_infix WHERE vec_id = 0) q
          |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin)
    }
  }

  // ---------------------------------------------------------------- SQL
  // oracle fragments for the dedup/text ops (DuckDB 1.0 dialect).

  /** Distinct word-3-gram shingles per doc — mirrors Dedup.shingles. */
  /** Target language proportions for the q49 mixture calibration — shared
    * verbatim by the Spark op and the SQL oracle. */
  private val mixtureTargets: Map[String, Double] =
    Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** Distinct 3-gram (doc_id, shingle) pairs over any relation with
    * (doc_id, text) — mirrors Dedup.shingles. */
  private def sqlShinglesFor(src: String): String =
    raw"""SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(w)-3,0)+1),
         |                 i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM $src)
         |  WHERE len(w) >= 3)
         |WHERE len(shingle) > 0""".stripMargin

  private val sqlShingles: String = sqlShinglesFor("documents")

  /** Morton bit-spread of the low 16 bits of `x` — mirrors Layout.spread16.
    * The fold doubles the expression text per step (16 copies of the base);
    * fine for an oracle string. */
  private def sqlSpread16(x: String): String =
    Seq(8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L, 1 -> 0x55555555L)
      .foldLeft(s"($x & 65535)") {
        case (acc, (sh, m)) => s"(($acc | ($acc << $sh)) & $m)"
      }

  /** BM25 `scored` CTE chain (doc_id, score) — mirrors TextSearch.bm25 with
    * identical literals, operator association, and per-term fold order. tf,
    * df, dl, N are integer-exact; `ln` is the one inexact step, absorbed by
    * the same round-to-6 both engines apply. */
  private def sqlBm25Scored(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivot = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN c END), 0.0)")
      .mkString(" + ")
    raw"""toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |          sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS term FROM toks)
         |       WHERE term IN ($inList) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |contrib AS (SELECT tf.doc_id, tf.term,
         |    ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |    (tf.tf * (1.2 + 1.0)) /
         |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS c
         |  FROM tf JOIN df ON tf.term = df.term
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
         |scored AS (SELECT doc_id, round($pivot, 6) AS score
         |           FROM contrib GROUP BY doc_id)""".stripMargin
  }

  /** The q52/q53 top-20 keyword search over the scored CTEs. */
  private def sqlBm25TopK(terms: Seq[String], k: Int): String =
    s"""WITH ${sqlBm25Scored(terms)}
       |SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  /** Per-language marker-count score — mirrors TextAnalysis.langScore
    * (occurrence counting via replace-length arithmetic over ' '+text+' '). */
  private def sqlLangScore(markers: Seq[String]): String =
    markers.map { m =>
      val esc = m.replace("'", "''")
      s"CAST((len(p) - len(replace(p, '$esc', ''))) / ${m.length} AS BIGINT)"
    }.mkString(" + ")

  /** Drop one build family's session-cached artifacts so its warm-up query
    * rebuilds on the next run (see [[Queries.dropBuildArtifacts]]) — the
    * hook behind IsolatedSweep's `build_*` denominators and Bench's build
    * contention re-pass. */
  def dropBuildArtifacts(s: SparkSession, dir: String, query: String): Unit =
    Queries.dropBuildArtifacts(s, dir, query)

  /** Measured graph-mode recall for `s` (see [[Queries.graphRecall]]) —
    * lets the bench surface the q79/q80 gate's numbers into its record. */
  def graphRecall(s: SparkSession): Option[(Double, Double)] =
    Queries.graphRecall(s)

  /** Measured SHARDED graph-mode recall for `s` (the q81/q82 gate —
    * 16-shard fan-out at graph ef), for the bench's recall81/recall82. */
  def shardedGraphRecall(s: SparkSession): Option[(Double, Double)] =
    Queries.shardedGraphRecall(s)

  /** Measured COSINE graph-mode recall for `s` (the q86 gate — q86's own
    * cosine index, which the L2² gates don't cover), for the bench's
    * recall86. */
  def cosineGraphRecall(s: SparkSession): Option[(Double, Double)] =
    Queries.cosineGraphRecall(s)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Queries.q01PricingSummary _),
    "q02_top_orders" -> (Queries.q02TopOrders _),
    "q03_revenue_by_nation" -> (Queries.q03RevenueByNation _),
    "q04_top_orders_per_customer" -> (Queries.q04TopOrdersPerCustomer _),
    "q05_selective_filter" -> (Queries.q05SelectiveFilter _),
    "q06_customers_without_orders" -> (Queries.q06CustomersWithoutOrders _),
    "q07_events_by_type" -> (Queries.q07EventsByType _),
    "q08_events_hourly" -> (Queries.q08EventsHourly _),
    "q09_range" -> (Queries.q09Range _),
    "q10_knn_l2" -> (Queries.q10KnnL2 _),
    "q11_knn_cosine" -> (Queries.q11KnnCosine _),
    "q12_knn_ip" -> (Queries.q12KnnInnerProduct _),
    "q13_vss_join" -> (Queries.q13VssJoin _),
    "q14_vss_match" -> (Queries.q14VssMatch _),
    "q15_min_by_k" -> (Queries.q15MinByK _),
    "q16_index_topk" -> (Queries.q16IndexTopK _),
    "q17_index_knn_join" -> (Queries.q17IndexKnnJoin _),
    "q18_index_info" -> (Queries.q18IndexInfo _),
    "q19_index_crud" -> (Queries.q19IndexCrud _),
    "q20_dedup_exact" -> (Queries.q20DedupExact _),
    "q21_token_stats" -> (Queries.q21TokenStats _),
    "q22_minhash_lsh_pairs" -> (Queries.q22MinHashLsh _),
    "q23_simhash" -> (Queries.q23SimHash _),
    "q24_jaccard_pairs" -> (Queries.q24JaccardPairs _),
    "q25_text_signals" -> (Queries.q25TextSignals _),
    "q26_multimodal" -> (Queries.q26Multimodal _),
    "q27_lateral_knn" -> (Queries.q27LateralKnn _),
    "q28_embedding_neardup" -> (Queries.q28EmbeddingNearDup _),
    "q29_misc_aggregates" -> (Queries.q29MiscAggregates _),
    "q30_ivf_topk" -> (Queries.q30IvfTopK _),
    "q31_token_quality" -> (Queries.q31TokenQuality _),
    "q32_embedding_lsh" -> (Queries.q32EmbeddingLsh _),
    "q32b_embedding_lsh_auto" -> (Queries.q32bEmbeddingLshAuto _),
    "q33_rolling_fingerprint" -> (Queries.q33RollingFingerprint _),
    "q34_grouped_knn" -> (Queries.q34GroupedKnn _),
    "q35_sharded_topk" -> (Queries.q35ShardedTopK _),
    "q36_sharded_knn_join" -> (Queries.q36ShardedKnnJoin _),
    "q37_repetition_signals" -> (Queries.q37RepetitionSignals _),
    "q38_deterministic_split" -> (Queries.q38DeterministicSplit _),
    "q39_pii_redaction" -> (Queries.q39PiiRedaction _),
    "q40_sessionize" -> (Queries.q40Sessionize _),
    "q41_pq_topk" -> (Queries.q41PqTopK _),
    "q42_asof_join" -> (Queries.q42AsofJoin _),
    "q43_ivfpq_topk" -> (Queries.q43IvfPqTopK _),
    "q44_corpus_dup" -> (Queries.q44CorpusDup _),
    "q45_decontaminate" -> (Queries.q45Decontaminate _),
    "q46_pack_sequences" -> (Queries.q46PackSequences _),
    "q47_dedup_clusters" -> (Queries.q47DedupClusters _),
    "q48_corpus_stats" -> (Queries.q48CorpusStats _),
    "q49_mixture_calibration" -> (Queries.q49MixtureCalibration _),
    "q50_pipeline_e2e" -> (Queries.q50PipelineE2e _),
    "q51_zorder" -> (Queries.q51ZOrder _),
    "q52_bm25_topk" -> (Queries.q52Bm25TopK _),
    "q53_bm25_indexed" -> (Queries.q53Bm25Indexed _),
    "q54_hybrid_rrf" -> (Queries.q54HybridRrf _),
    "q55_sq_topk" -> (Queries.q55SqTopK _),
    "q56_bm25_join" -> (Queries.q56Bm25Join _),
    "q57_chunking" -> (Queries.q57Chunk _),
    "q58_normalize" -> (Queries.q58Normalize _),
    "q59_phrase" -> (Queries.q59Phrase _),
    "q60_vocab_stats" -> (Queries.q60VocabStats _),
    "q61_filtered_topk" -> (Queries.q61FilteredTopK _),
    "q62_radius_search" -> (Queries.q62RadiusSearch _),
    "q63_simhash_topk" -> (Queries.q63SimHashTopK _),
    "q64_simhash_pairs" -> (Queries.q64SimHashPairs _),
    "q65_knn_outliers" -> (Queries.q65KnnOutliers _),
    "q66_mmr_topk" -> (Queries.q66MmrTopK _),
    "q67_radius_join" -> (Queries.q67RadiusJoin _),
    "q68_ivf_radius" -> (Queries.q68IvfRadius _),
    "q69_ivf_append" -> (Queries.q69IvfAppend _),
    "q70_mmr_join" -> (Queries.q70MmrJoin _),
    "q71_dedup_spans" -> (Queries.q71DedupSpans _),
    "q72_clean_pipeline" -> (Queries.q72CleanPipeline _),
    "q73_label_centroids" -> (Queries.q73LabelCentroids _),
    "q74_sharded_radius" -> (Queries.q74ShardedRadius _),
    "q75_sharded_filtered" -> (Queries.q75ShardedFilteredTopK _),
    "q76_cluster_safe_split" -> (Queries.q76ClusterSafeSplit _),
    "q77_maxsim" -> (Queries.q77MaxSim _),
    "q78_infix_knn" -> (Queries.q78InfixKnn _),
    // q79/q80: true-ANN graph mode (default ef=64) — approximate by design,
    // so no SQL oracle (driver rows-only check); RecallSpec pins quality
    "q79_graph_topk" -> (Queries.q79GraphTopK _),
    "q80_graph_knn_join" -> (Queries.q80GraphKnnJoin _),
    "q81_sharded_graph_topk" -> (Queries.q81ShardedGraphTopK _),
    "q82_sharded_graph_knn_join" -> (Queries.q82ShardedGraphKnnJoin _),
    "q83_image_decode" -> (Queries.q83ImageDecode _),
    "q84_audio_decode" -> (Queries.q84AudioDecode _),
    "q85_video_decode" -> (Queries.q85VideoDecode _),
    // q86/q87: ANN scale twins of q28/q65's exhaustive-ef pins —
    // approximate by design (rows-only check), recall-gated per session
    // via the q79/q80 gate on the same graph-mode index
    "q86_neardup_ann" -> (Queries.q86NearDupAnn _),
    "q87_outliers_ann" -> (Queries.q87OutliersAnn _),
    "q88_embedding_lsh_topk" -> (Queries.q88EmbeddingLshTopK _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q04_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q05_selective_filter" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 10""".stripMargin,
    "q06_customers_without_orders" ->
      """SELECT count(*) AS n_cust FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "q07_events_by_type" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q08_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q09_range" ->
      """SELECT range AS id, range * range AS sq FROM range(0, 1000) ORDER BY id""",
    "q10_knn_l2" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q11_knn_cosine" ->
      s"""SELECT e.vec_id, ${sqlCosineDist("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q12_knn_ip" ->
      s"""SELECT e.vec_id, -${sqlDot("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q13_vss_join" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  sqrt(${sqlL2Sq("a.embedding", "b.embedding")}) AS score
         | FROM embeddings a, embeddings b WHERE a.vec_id < 5)
         |SELECT qid, nid, score, CAST(rnk AS BIGINT) AS rank FROM (
         | SELECT qid, nid, score,
         |  row_number() OVER (PARTITION BY qid ORDER BY score, nid) AS rnk
         | FROM scored) t
         |WHERE rnk <= 3 ORDER BY qid, rank""".stripMargin,
    "q14_vss_match" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  (${sqlDot("a.embedding", "b.embedding")} /
         |   (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")}))) AS score
         | FROM embeddings a, embeddings b WHERE a.vec_id < 5)
         |SELECT qid, CAST(rnk AS BIGINT) AS rank, score, nid FROM (
         | SELECT qid, nid, score,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rnk
         | FROM scored) t
         |WHERE rnk <= 3 ORDER BY qid, rank""".stripMargin,
    "q15_min_by_k" ->
      s"""WITH scored AS (
         | SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         | FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q)
         |SELECT (list(vec_id ORDER BY dist, vec_id))[1:5] AS top_ids FROM scored""".stripMargin,
    "q16_index_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q17_index_knn_join" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  ${sqlL2Sq("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a, embeddings b
         | WHERE a.vec_id < 5 AND a.embedding IS NOT NULL)
         |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, dist FROM (
         | SELECT qid, nid, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         | FROM scored) t
         |WHERE rn <= 3 ORDER BY qid, rank""".stripMargin,
    "q18_index_info" ->
      """SELECT 'q18_idx' AS index_name, 'q18_emb' AS table_name,
        | 'l2sq' AS metric,
        | CAST((SELECT max(len(embedding)) FROM embeddings) AS BIGINT) AS dimensions,
        | (SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL) AS count""".stripMargin,
    "q19_index_crud" ->
      s"""WITH tab AS (
         | SELECT vec_id, embedding FROM embeddings
         | UNION ALL
         | SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 3),
         |live AS (SELECT * FROM tab WHERE vec_id % 7 <> 0),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
         |SELECT live.vec_id, ${sqlL2Sq("live.embedding", "q.qv")} AS dist
         |FROM live, q ORDER BY dist, live.vec_id LIMIT 10""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "q21_token_stats" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | n_chars,
        | CAST(n_chars AS DOUBLE) / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_minhash_lsh_pairs" -> {
      val mins = (0 until 8).map(p =>
        s"min(substring(md5('${p / 4}:' || shingle), ${(p % 4) * 8 + 1}, 8)) AS mh$p")
        .mkString(", ")
      val agree = (0 until 8).map(p => s"CASE WHEN sa.mh$p = sb.mh$p THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS ($sqlShingles),
         |sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |bands AS (
         | SELECT doc_id, 0 AS band_id, mh0||mh1 AS band_val FROM sigs
         | UNION ALL SELECT doc_id, 1, mh2||mh3 FROM sigs
         | UNION ALL SELECT doc_id, 2, mh4||mh5 FROM sigs
         | UNION ALL SELECT doc_id, 3, mh6||mh7 FROM sigs),
         |cand AS (
         | SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         | FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_val = r.band_val
         | WHERE l.doc_id < r.doc_id)
         |SELECT a, b, CAST($agree AS DOUBLE) / 8.0 AS est_sim
         |FROM cand JOIN sigs sa ON cand.a = sa.doc_id JOIN sigs sb ON cand.b = sb.doc_id
         |ORDER BY a, b""".stripMargin
    },
    "q23_simhash" ->
      s"""WITH $sqlSimhashShCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "q24_jaccard_pairs" ->
      s"""WITH sh0 AS ($sqlShingles),
         |keep AS (SELECT shingle FROM (
         |  SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1) WHERE df <= 100),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
         |  FROM sh x JOIN sh y USING (shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT a, b, CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE) AS jaccard
         |FROM inter JOIN cnt na ON inter.a = na.doc_id JOIN cnt nb ON inter.b = nb.doc_id
         |WHERE CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE) >= 0.05
         |ORDER BY a, b""".stripMargin,
    "q25_text_signals" -> {
      val langs = graft.ops.TextAnalysis.langMarkers
      val scoreCols = langs.map { case (lang, ms) => s"${sqlLangScore(ms)} AS s_$lang" }
        .mkString(", ")
      val langCases = langs.map { case (lang, _) =>
        s"WHEN m > 0 AND s_$lang = m THEN '$lang'"
      }.mkString(" ")
      val maxExpr = langs.map { case (lang, _) => s"s_$lang" }.mkString("greatest(", ", ", ")")
      s"""WITH base AS (
         | SELECT doc_id, text, n_chars, (' ' || text || ' ') AS p,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         | FROM documents),
         |scored AS (SELECT doc_id, text, n_chars, n_tokens, $scoreCols FROM base),
         |lang AS (SELECT *, $maxExpr AS m FROM scored)
         |SELECT doc_id, n_tokens,
         | CASE $langCases ELSE 'und' END AS lang_pred,
         | least(1.0,
         |  greatest(0.0, 1.0 - abs(CAST(n_chars AS DOUBLE)/CAST(n_tokens AS DOUBLE) - 6.0)/6.0) * 0.7 +
         |  greatest(0.0, 1.0 - (CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)/CAST(n_chars AS DOUBLE)) * 4.0) * 0.3) AS quality,
         | md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
         |FROM lang ORDER BY doc_id""".stripMargin
    },
    "q26_multimodal" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_md5,
        | CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
        | CAST(ceil(ceil(octet_length(encode(text)) / 64.0) / 4.0) AS BIGINT) AS n_sampled
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_lateral_knn" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  ${sqlL2Sq("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a, embeddings b WHERE a.vec_id < 5)
         |SELECT qid, nid, dist FROM (
         | SELECT qid, nid, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         | FROM scored) t
         |WHERE rn <= 3 ORDER BY qid, dist, nid""".stripMargin,
    "q28_embedding_neardup" ->
      s"""WITH pairs AS (
         | SELECT a.vec_id AS a, b.vec_id AS b,
         |  ${sqlCosineDist("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
         |best AS (
         | SELECT a, b, dist, row_number() OVER (PARTITION BY a ORDER BY dist, b) AS rn
         | FROM pairs)
         |SELECT a, b, dist FROM best WHERE rn = 1 AND dist <= 0.65 ORDER BY a""".stripMargin,
    "q29_misc_aggregates" ->
      """SELECT o_orderstatus,
        | bool_and(o_totalprice > 0) AS all_pos,
        | count(*) AS n,
        | array_to_string((list(o_orderkey ORDER BY o_orderkey))[1:5], ',') AS first_keys,
        | CASE WHEN count(*) > 1000 THEN 'big' ELSE 'small' END AS bucket
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q30_ivf_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q31_token_quality" -> {
      val enScore = sqlLangScore(graft.ops.TextAnalysis.langMarkers.toMap.apply("en"))
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]')) AS BIGINT) AS n_bpe_tokens,
         | CAST(len(regexp_replace(text, '[\\s\\p{L}\\p{N}]', '', 'g')) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
         | CAST($enScore AS DOUBLE) / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS stop_ratio
         |FROM (SELECT doc_id, text, n_chars, (' ' || text || ' ') AS p FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "q32_embedding_lsh" -> {
      // same seeded hyperplane grid as the Spark op; n/1024.0 is exact in
      // both engines, so sign bits agree bit-for-bit
      val planes = graft.ops.Dedup.hyperplaneInts(64, 16)
      val bits = planes.map { h =>
        val lst = h.mkString("[", ",", "]")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65), i ->
           | CAST(embedding[i] AS DOUBLE) * ($lst[i] / 1024.0)), (x,y) -> x+y) > 0
           | THEN '1' ELSE '0' END""".stripMargin
      }.mkString(" || ")
      s"""WITH sig AS (
         | SELECT vec_id, embedding, ($bits) AS s
         | FROM embeddings WHERE embedding IS NOT NULL),
         |bands AS (
         | SELECT vec_id, 0 AS band_id, substring(s, 1, 8) AS band_val FROM sig
         | UNION ALL SELECT vec_id, 1, substring(s, 9, 8) FROM sig),
         |cand AS (
         | SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         | FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_val = r.band_val
         | WHERE l.vec_id < r.vec_id)
         |SELECT a, b, ${sqlCosineDist("ea.embedding", "eb.embedding")} AS dist
         |FROM cand
         |JOIN embeddings ea ON cand.a = ea.vec_id
         |JOIN embeddings eb ON cand.b = eb.vec_id
         |WHERE ${sqlCosineDist("ea.embedding", "eb.embedding")} <= 0.8
         |ORDER BY a, b""".stripMargin
    },
    "q32b_embedding_lsh_auto" -> {
      // geometry recomputed from n in SQL exactly as Dedup.lshGeometry:
      // r = max(8, bitlength((n-1) // 32)) — the same INTEGER formula the
      // Scala side computes (length(bin(m)) is m's bit length), so no
      // floating-point log can flip r at a power-of-two n on either
      // engine. 4 bands of r bits; the 64 seeded planes cover r <= 16
      // (n <= 2M rows at target 32); plane i is identical under any plane
      // count (sequential seeded draw), so the 64-bit signature's prefix
      // equals the Spark side's 4*r-plane one and band substrings land on
      // the same bits.
      val planes = graft.ops.Dedup.hyperplaneInts(64, 64)
      val bits = planes.map { h =>
        val lst = h.mkString("[", ",", "]")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65), i ->
           | CAST(embedding[i] AS DOUBLE) * ($lst[i] / 1024.0)), (x,y) -> x+y) > 0
           | THEN '1' ELSE '0' END""".stripMargin
      }.mkString(" || ")
      s"""WITH p AS (
         | SELECT greatest(8, length(bin(greatest(count(*) - 1, 0) // 32))) AS r
         | FROM embeddings WHERE embedding IS NOT NULL),
         |sig AS (
         | SELECT vec_id, embedding, ($bits) AS s
         | FROM embeddings WHERE embedding IS NOT NULL),
         |bands AS (
         | SELECT vec_id, g.band_id, substring(s, CAST(g.band_id * p.r + 1 AS INTEGER), p.r) AS band_val
         | FROM sig, p, (SELECT unnest(range(0, 4)) AS band_id) g),
         |cand AS (
         | SELECT DISTINCT l.vec_id AS a, r2.vec_id AS b
         | FROM bands l JOIN bands r2 ON l.band_id = r2.band_id AND l.band_val = r2.band_val
         | WHERE l.vec_id < r2.vec_id)
         |SELECT a, b, ${sqlCosineDist("ea.embedding", "eb.embedding")} AS dist
         |FROM cand
         |JOIN embeddings ea ON cand.a = ea.vec_id
         |JOIN embeddings eb ON cand.b = eb.vec_id
         |WHERE ${sqlCosineDist("ea.embedding", "eb.embedding")} <= 0.8
         |ORDER BY a, b""".stripMargin
    },
    "q88_embedding_lsh_topk" -> {
      // q32b's auto geometry (same 64-plane prefix trick) plus the two
      // output caps replayed in SQL: per-bucket id-successor pairing
      // (list_sort + an indexed-lambda slice — DuckDB lambda indexes are
      // 1-based, so element i pairs with i+1..i+cap; Spark's 0-based
      // transform slices from 1-based i+2) and per-anchor top-3 by
      // (dist, b). Hash-matching this pins the caps' semantics — bucket
      // order, successor window, tie-break — not just the survivors.
      val planes = graft.ops.Dedup.hyperplaneInts(64, 64)
      val bits = planes.map { h =>
        val lst = h.mkString("[", ",", "]")
        s"""CASE WHEN list_reduce(list_transform(range(1, 65), i ->
           | CAST(embedding[i] AS DOUBLE) * ($lst[i] / 1024.0)), (x,y) -> x+y) > 0
           | THEN '1' ELSE '0' END""".stripMargin
      }.mkString(" || ")
      s"""WITH p AS (
         | SELECT greatest(8, length(bin(greatest(count(*) - 1, 0) // 32))) AS r
         | FROM embeddings WHERE embedding IS NOT NULL),
         |sig AS (
         | SELECT vec_id, embedding, ($bits) AS s
         | FROM embeddings WHERE embedding IS NOT NULL),
         |bands AS (
         | SELECT vec_id, g.band_id, substring(s, CAST(g.band_id * p.r + 1 AS INTEGER), p.r) AS band_val
         | FROM sig, p, (SELECT unnest(range(0, 4)) AS band_id) g),
         |buckets AS (
         | SELECT band_id, band_val, list_sort(list(vec_id)) AS ids
         | FROM bands GROUP BY band_id, band_val),
         |cand AS (
         | SELECT DISTINCT pr.a AS a, pr.b AS b FROM (
         |  SELECT unnest(flatten(list_transform(ids, (x, i) ->
         |   list_transform(list_slice(ids, i + 1, i + 8), y -> {'a': x, 'b': y})))) AS pr
         |  FROM buckets) t),
         |verified AS (
         | SELECT a, b, ${sqlCosineDist("ea.embedding", "eb.embedding")} AS dist
         | FROM cand
         | JOIN embeddings ea ON cand.a = ea.vec_id
         | JOIN embeddings eb ON cand.b = eb.vec_id
         | WHERE ${sqlCosineDist("ea.embedding", "eb.embedding")} <= 0.8)
         |SELECT a, b, dist FROM (
         | SELECT a, b, dist, row_number() OVER (PARTITION BY a ORDER BY dist, b) AS rn
         | FROM verified)
         |WHERE rn <= 3
         |ORDER BY a, b""".stripMargin
    },
    "q33_rolling_fingerprint" ->
      """SELECT doc_id,
        | list_min(list_transform(range(1, greatest(len(lower(trim(text))) - 7, 1) + 1), i ->
        |  list_reduce(list_transform(range(0, 8), j ->
        |   CAST(ascii(substring(lower(trim(text)), CAST(i + j AS INTEGER), 1)) AS BIGINT)),
        |   (acc, c) -> (acc * 257 + c) % 1000000007))) AS rfp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_sharded_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q36_sharded_knn_join" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  ${sqlL2Sq("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a, embeddings b
         | WHERE a.vec_id >= 5 AND a.vec_id < 10 AND a.embedding IS NOT NULL)
         |SELECT qid, nid, CAST(rn AS BIGINT) AS rank, dist FROM (
         | SELECT qid, nid, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         | FROM scored) t
         |WHERE rn <= 3 ORDER BY qid, rank""".stripMargin,
    "q34_grouped_knn" ->
      s"""WITH scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  ${sqlL2Sq("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a, embeddings b
         | WHERE a.vec_id < 20 AND a.embedding IS NOT NULL),
         |topk AS (
         | SELECT qid, nid, dist,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
         | FROM scored)
         |SELECT qid, count(*) AS n, min(dist) AS min_d, max(dist) AS max_d
         |FROM topk WHERE rn <= 5 GROUP BY qid ORDER BY qid""".stripMargin,
    "q37_repetition_signals" ->
      """WITH w AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |s AS (
        | SELECT doc_id, ws,
        |  len(ws) AS n_words,
        |  len(list_distinct(ws)) AS n_distinct_words,
        |  list_max(list_transform(list_distinct(ws),
        |    d -> len(list_filter(ws, x -> x = d)))) AS top_word_cnt,
        |  list_reduce(list_transform(ws, x -> len(x)), (a,b) -> a+b) AS sum_word_len,
        |  CASE WHEN len(ws) >= 2
        |   THEN len(list_distinct(list_transform(range(1, len(ws)),
        |          i -> ws[i] || ' ' || ws[i+1])))
        |   ELSE 0 END AS n_distinct_bigrams,
        |  greatest(len(ws) - 1, 0) AS n_bigrams
        | FROM w)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        | CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_word_ratio,
        | CAST(top_word_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
        | CASE WHEN n_bigrams > 0
        |  THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |  ELSE 0.0 END AS dup_2gram_frac,
        | CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len
        |FROM s ORDER BY doc_id""".stripMargin,
    "q38_deterministic_split" ->
      s"""WITH b AS (
        | SELECT *,
        |  ${sqlHashBucket("doc_id")} AS bucket
        | FROM documents),
        |s AS (
        | SELECT *, CASE WHEN bucket < 205 THEN 'train'
        |                WHEN bucket < 230 THEN 'val'
        |                ELSE 'test' END AS split
        | FROM b)
        |SELECT split, lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS first_id
        |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q39_pii_redaction" -> {
      val Seq(email, ipv4, phone) = graft.ops.Redaction.patterns.map(_._2)
      val red = graft.ops.Redaction.patterns.foldLeft("pii_text") {
        case (acc, (_, p, token)) => s"regexp_replace($acc, '$p', '$token', 'g')"
      }
      s"""WITH p AS (
         | SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |   || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |   || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS pii_text
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(pii_text, '$email')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(pii_text, '$phone')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(pii_text, '$ipv4')) AS BIGINT) AS n_ips,
         | md5($red) AS red_md5,
         | CAST(len($red) AS BIGINT) AS red_len
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "q40_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tns FROM events),
        |x AS (
        | SELECT user_id, event_id, tns,
        |  CASE WHEN tns - lag(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id)
        |            > 1800000000 THEN 1 ELSE 0 END AS is_new
        | FROM e),
        |y AS (
        | SELECT user_id, tns,
        |  1 + sum(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM x)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | count(*) AS n_events, CAST(max(tns) - min(tns) AS BIGINT) AS span
        |FROM y GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "q41_pq_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 9) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q42_asof_join" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS tus, event_type, value FROM events),
        |c AS (SELECT user_id, event_id, tus FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, tus AS p_tus, max(value) AS p_value FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id, tus)
        |SELECT c.user_id, c.event_id, c.tus AS ts, p.p_tus AS p_ts, p.p_value AS p_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.tus >= p.p_tus
        |ORDER BY c.user_id, ts""".stripMargin,
    "q43_ivfpq_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 11) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q44_corpus_dup" ->
      s"""WITH sh AS ($sqlShingles),
         |d AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         | CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
         |FROM sh JOIN d USING (shingle)
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "q45_decontaminate" ->
      s"""WITH sh AS ($sqlShingles),
         |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
         |c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 41 <> 0)
         |SELECT c.doc_id, count(*) AS n_shingles,
         | CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_overlap,
         | CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*) AS contam_frac
         |FROM c LEFT JOIN b ON c.shingle = b.shingle
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q46_pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS key
        | FROM documents),
        |b AS (
        | SELECT doc_id, n_tokens, key,
        |  CAST((strpos('0123456789abcdef', substr(key, 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(key, 2, 1)) - 1) AS INTEGER) AS bucket
        | FROM t),
        |c AS (
        | SELECT doc_id, bucket, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY bucket ORDER BY key
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        | FROM b)
        |SELECT doc_id, bucket,
        | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS pack_id,
        | n_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    // q47/q76 share the LSH→closure construction: the q22 pipeline at
    // est_sim >= 0.5, then comp(v) = min id reachable (recursive CTE; dedup
    // components are tiny, so the closure's row count stays bounded)
    "q47_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlDedupCompCtes
         |SELECT doc_id, comp FROM comp ORDER BY doc_id""".stripMargin,
    "q48_corpus_stats" ->
      """WITH t AS (
        | SELECT lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |  n_chars
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | quantile_cont(n_tok, 0.25) AS p25_tok,
        | quantile_cont(n_tok, 0.5) AS p50_tok,
        | quantile_cont(n_tok, 0.75) AS p75_tok,
        | avg(n_chars) AS mean_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q49_mixture_calibration" -> {
      val tgtRows = mixtureTargets.toSeq.sorted
        .map { case (l, t) => s"SELECT '$l' AS lang, $t AS tgt" }
        .mkString(" UNION ALL ")
      s"""WITH b AS (
         | SELECT doc_id, lang,
         |  ${sqlHashBucket("doc_id")} AS bucket
         | FROM documents),
         |t AS ($tgtRows),
         |n AS (SELECT lang, count(*) AS nl FROM b JOIN t USING (lang) GROUP BY lang),
         |k AS (SELECT min(nl / tgt) AS kk FROM n JOIN t USING (lang)),
         |r AS (SELECT n.lang, t.tgt * k.kk / n.nl AS rate
         |      FROM n JOIN t ON n.lang = t.lang CROSS JOIN k),
         |kept AS (
         | SELECT b.doc_id, b.lang FROM b JOIN r ON b.lang = r.lang
         | WHERE CAST(b.bucket AS DOUBLE) < r.rate * 256.0)
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS first_id
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q50_pipeline_e2e" ->
      s"""WITH surv_ids AS (
         | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |corpus AS (
         | SELECT d.* FROM documents d JOIN surv_ids USING (doc_id)
         | WHERE d.doc_id % 41 <> 0),
         |benchdocs AS (SELECT * FROM documents WHERE doc_id % 41 = 0),
         |shc AS (${sqlShinglesFor("corpus")}),
         |shb AS (SELECT DISTINCT shingle FROM (${sqlShinglesFor("benchdocs")})),
         |ov AS (
         | SELECT shc.doc_id,
         |  CAST(sum(CASE WHEN shb.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*) AS cf
         | FROM shc LEFT JOIN shb ON shc.shingle = shb.shingle
         | GROUP BY shc.doc_id),
         |clean AS (
         | SELECT corpus.* FROM corpus LEFT JOIN ov USING (doc_id)
         | WHERE ov.cf IS NULL OR ov.cf < 0.8),
         |sp AS (
         | SELECT *,
         |  ${sqlHashBucket("doc_id")} AS bucket
         | FROM clean),
         |s AS (
         | SELECT *, CASE WHEN bucket < 205 THEN 'train'
         |                WHEN bucket < 230 THEN 'val'
         |                ELSE 'test' END AS split
         | FROM sp)
         |SELECT split, lang, count(*) AS n_docs,
         | CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sum_tokens
         |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q51_zorder" ->
      s"""SELECT doc_id,
         | (${sqlSpread16("(n_chars % 65536)")}
         |  | (${sqlSpread16("(doc_id % 65536)")} << 1)) AS zval
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q52_bm25_topk" -> sqlBm25TopK(Queries.bm25Terms, 20),
    // q53 runs the same search through the inverted term index — results are
    // bit-identical to brute force, so the oracle is shared
    "q53_bm25_indexed" -> sqlBm25TopK(Queries.bm25Terms, 20),
    "q54_hybrid_rrf" ->
      s"""WITH ${sqlBm25Scored(Queries.bm25Terms)},
         |kw AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |       FROM (SELECT doc_id, score FROM scored
         |             ORDER BY score DESC, doc_id LIMIT 20)),
         |vv AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY dist, vec_id) AS r
         |       FROM (SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |             FROM embeddings e,
         |                  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) q
         |             ORDER BY dist, e.vec_id LIMIT 20))
         |SELECT coalesce(kw.doc_id, vv.doc_id) AS doc_id,
         |       coalesce(1.0 / (60.0 + kw.r), 0.0)
         |     + coalesce(1.0 / (60.0 + vv.r), 0.0) AS rrf
         |FROM kw FULL OUTER JOIN vv ON kw.doc_id = vv.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q55_sq_topk" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 13) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    // mirrors TextSearch.bm25JoinTopK: per-(query, doc) contributions are
    // folded in term-sorted order (list(c ORDER BY term) + list_reduce ==
    // Spark's sort_array + 0.0-seeded aggregate, since contributions are
    // positive and 0.0 + x = x)
    "q56_bm25_join" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |          sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
           |q AS (SELECT doc_id AS qid, w[1:3] AS terms FROM toks WHERE doc_id % 97 = 0),
           |qt AS (SELECT DISTINCT qid, unnest(terms) AS term FROM q),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           |       FROM (SELECT doc_id, unnest(w) AS term FROM toks)
           |       WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
           |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |contrib AS (SELECT tf.doc_id, tf.term,
           |    ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
           |    (tf.tf * (1.2 + 1.0)) /
           |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS c
           |  FROM tf JOIN df ON tf.term = df.term
           |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
           |scored AS (SELECT qt.qid, contrib.doc_id,
           |    round(list_reduce(list(contrib.c ORDER BY contrib.term), (x,y) -> x + y), 6) AS score
           |  FROM contrib JOIN qt ON contrib.term = qt.term
           |  GROUP BY qt.qid, contrib.doc_id)
           |SELECT qid, doc_id, score, rank FROM (
           |  SELECT qid, doc_id, score,
           |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
           |  FROM scored)
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // mirrors Chunking.chunk(32, 8): stride 24, nChunks = max(⌈(n−8)/24⌉, 1)
    "q57_chunking" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |n AS (SELECT doc_id, w, greatest((len(w) - 8 + 23) // 24, 1) AS nc FROM toks),
           |c AS (SELECT doc_id, w, unnest(range(0, nc)) AS chunk_id FROM n)
           |SELECT doc_id, chunk_id,
           |       array_to_string(w[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text,
           |       len(w[chunk_id*24+1 : chunk_id*24+32]) AS n_tokens
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // zip-unnest (DuckDB evaluates same-SELECT unnests in lockstep) so the
    // comparator only ever sees scalar columns
    "q58_normalize" ->
      s"""WITH nv AS (
         | SELECT vec_id,
         |  CASE WHEN ${sqlDot("embedding", "embedding")} = 0.0
         |       THEN list_transform(embedding, x -> 0.0)
         |       ELSE list_transform(embedding,
         |              x -> CAST(x AS DOUBLE) / sqrt(${sqlDot("embedding", "embedding")}))
         |  END AS nvec
         | FROM embeddings WHERE vec_id < 20)
         |SELECT vec_id,
         |       CAST(unnest(range(len(nvec))) AS INT) AS dim,
         |       unnest(nvec) AS nval
         |FROM nv ORDER BY vec_id, dim""".stripMargin,
    // mirrors TextSearch.phraseCount(["hash","join"]): 1-based start
    // offsets i with w[i]='hash' AND w[i+1]='join'
    "q59_phrase" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
           |SELECT doc_id, n_matches FROM (
           |  SELECT doc_id,
           |         len(list_filter(range(1, greatest(len(w) - 1, 0) + 1),
           |                         i -> w[i] = 'hash' AND w[i+1] = 'join')) AS n_matches
           |  FROM toks)
           |WHERE n_matches > 0 ORDER BY doc_id""".stripMargin,
    "q60_vocab_stats" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
           |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
           |FROM tf GROUP BY term
           |ORDER BY df DESC, term LIMIT 50""".stripMargin,
    "q61_filtered_topk" ->
      s"""SELECT e.vec_id, e.label, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3) q
         |WHERE e.label = 2
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q62_radius_search" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3) q
         |WHERE ${sqlL2Sq("e.embedding", "q.qv")} <= 1.55
         |ORDER BY dist, e.vec_id""".stripMargin,
    "q63_simhash_topk" ->
      s"""WITH $sqlSimhashShCte
         |SELECT a.doc_id, ${sqlHamming("a.simhash", "q.qh")} AS hamming
         |FROM sh a, (SELECT simhash AS qh FROM sh WHERE doc_id = 42) q
         |ORDER BY hamming, a.doc_id LIMIT 10""".stripMargin,
    "q64_simhash_pairs" ->
      s"""WITH $sqlSimhashShCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       ${sqlHamming("a.simhash", "b.simhash")} AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE ${sqlHamming("a.simhash", "b.simhash")} <= 3
         |ORDER BY a, b""".stripMargin,
    "q65_knn_outliers" ->
      s"""WITH d AS (
         | SELECT a.vec_id AS a, b.vec_id AS b,
         |        ${sqlL2Sq("a.embedding", "b.embedding")} AS dist
         | FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         | WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL),
         |r AS (SELECT a, dist,
         |        row_number() OVER (PARTITION BY a ORDER BY dist, b) AS rn FROM d)
         |SELECT a AS vec_id, dist AS outlier_score FROM r WHERE rn = 5
         |ORDER BY outlier_score DESC, vec_id LIMIT 20""".stripMargin,
    // the engine's greedy MMR replayed as chained argmax CTEs: sel_i adds
    // the remaining candidate maximizing 0.5*min(dist to selected) -
    // 0.5*query_dist, ties to the smaller vec_id — byte-identical
    // arithmetic to Graft.mmrTopK (same fold kernels, same 0.5 factors)
    "q66_mmr_topk" -> {
      val stages = (2 to 5).map { i =>
        s"""s$i AS (
           | SELECT c.vec_id, c.embedding, c.qdist, $i AS mmr_rank
           | FROM cand c, sel${i - 1} s
           | WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
           | GROUP BY c.vec_id, c.embedding, c.qdist
           | ORDER BY (0.5 * min(${sqlL2Sq("c.embedding", "s.embedding")})
           |           - 0.5 * c.qdist) DESC, c.vec_id
           | LIMIT 1),
           |sel$i AS (SELECT vec_id, embedding, qdist, mmr_rank FROM sel${i - 1}
           |          UNION ALL SELECT vec_id, embedding, qdist, mmr_rank FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
         |cand AS (
         | SELECT e.vec_id, e.embedding, ${sqlL2Sq("e.embedding", "q.qv")} AS qdist
         | FROM embeddings e, q WHERE e.embedding IS NOT NULL
         | ORDER BY qdist, e.vec_id LIMIT 30),
         |sel1 AS (
         | SELECT vec_id, embedding, qdist, 1 AS mmr_rank FROM cand
         | ORDER BY qdist, vec_id LIMIT 1),
         |$stages
         |SELECT vec_id, mmr_rank, qdist AS dist FROM sel5 ORDER BY mmr_rank"""
        .stripMargin
    },
    "q67_radius_join" ->
      s"""SELECT o.vec_id AS qid, e.vec_id AS nid,
         |       ${sqlL2Sq("o.embedding", "e.embedding")} AS dist
         |FROM embeddings o JOIN embeddings e
         |  ON ${sqlL2Sq("o.embedding", "e.embedding")} <= 1.55
         |WHERE o.vec_id < 5 AND o.embedding IS NOT NULL
         |ORDER BY qid, dist, nid""".stripMargin,
    "q68_ivf_radius" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 5) q
         |WHERE ${sqlL2Sq("e.embedding", "q.qv")} <= 1.55
         |ORDER BY dist, e.vec_id""".stripMargin,
    "q69_ivf_append" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 11) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q70_mmr_join" -> {
      val stages = (2 to 4).map { i =>
        s"""s$i AS (
           | SELECT qid, nid, embedding, qdist, $i AS mmr_rank FROM (
           |  SELECT m.qid, m.nid, m.embedding, m.qdist,
           |         row_number() OVER (PARTITION BY m.qid
           |           ORDER BY (0.5 * m.mind - 0.5 * m.qdist) DESC, m.nid) AS rr
           |  FROM (
           |   SELECT c.qid, c.nid, c.embedding, c.qdist,
           |          min(${sqlL2Sq("c.embedding", "s.embedding")}) AS mind
           |   FROM cand c JOIN sel${i - 1} s USING (qid)
           |   WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} p
           |                     WHERE p.qid = c.qid AND p.nid = c.nid)
           |   GROUP BY c.qid, c.nid, c.embedding, c.qdist) m)
           | WHERE rr = 1),
           |sel$i AS (SELECT qid, nid, embedding, qdist, mmr_rank FROM sel${i - 1}
           |          UNION ALL SELECT qid, nid, embedding, qdist, mmr_rank FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH pool AS (
         | SELECT o.vec_id AS qid, e.vec_id AS nid, e.embedding,
         |        ${sqlL2Sq("o.embedding", "e.embedding")} AS qdist,
         |        row_number() OVER (PARTITION BY o.vec_id
         |          ORDER BY ${sqlL2Sq("o.embedding", "e.embedding")}, e.vec_id) AS rn
         | FROM embeddings o, embeddings e
         | WHERE o.vec_id < 3 AND o.embedding IS NOT NULL AND e.embedding IS NOT NULL),
         |cand AS (SELECT qid, nid, embedding, qdist FROM pool WHERE rn <= 20),
         |sel1 AS (
         | SELECT qid, nid, embedding, qdist, 1 AS mmr_rank FROM (
         |  SELECT qid, nid, embedding, qdist,
         |         row_number() OVER (PARTITION BY qid ORDER BY qdist, nid) AS rr
         |  FROM cand) WHERE rr = 1),
         |$stages
         |SELECT qid, nid, mmr_rank, qdist AS dist FROM sel4
         |ORDER BY qid, mmr_rank""".stripMargin
    },

    "q71_dedup_spans" ->
      s"""WITH $sqlSpanCleanCtes
         |SELECT doc_id, clean_text, n_tokens, n_removed FROM clean
         |ORDER BY doc_id""".stripMargin,
    "q72_clean_pipeline" ->
      raw"""WITH SPANCTES,
           |keep AS (
           |  SELECT doc_id, clean_text FROM clean
           |  WHERE clean_text <> '' AND n_removed * 2 <= n_tokens),
           |toks2 AS (
           |  SELECT doc_id, regexp_split_to_array(trim(clean_text), '\s+') AS w FROM keep),
           |n2 AS (SELECT doc_id, w, greatest((len(w) - 8 + 23) // 24, 1) AS nc FROM toks2),
           |c2 AS (SELECT doc_id, w, unnest(range(0, nc)) AS chunk_id FROM n2)
           |SELECT doc_id, count(*) AS n_chunks,
           |       CAST(sum(len(w[chunk_id*24+1 : chunk_id*24+32])) AS BIGINT) AS chunk_tokens
           |FROM c2 GROUP BY doc_id ORDER BY doc_id""".stripMargin
        .replace("SPANCTES", sqlSpanCleanCtes),
    "q73_label_centroids" ->
      """SELECT label,
        |       CAST(ord - 1 AS INT) AS dim,
        |       CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS sum_fp,
        |       count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) AS ord
        |      FROM embeddings WHERE embedding IS NOT NULL)
        |WHERE ord - 1 < 8
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q74_sharded_radius" ->
      s"""SELECT e.vec_id, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) q
         |WHERE ${sqlL2Sq("e.embedding", "q.qv")} <= 1.55
         |ORDER BY dist, e.vec_id""".stripMargin,
    "q75_sharded_filtered" ->
      s"""SELECT e.vec_id, e.label, ${sqlL2Sq("e.embedding", "q.qv")} AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) q
         |WHERE e.label = 4
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "q76_cluster_safe_split" ->
      s"""WITH RECURSIVE $sqlDedupCompCtes,
         |b AS (
         | SELECT doc_id,
         |  ${sqlHashBucket("comp")} AS bucket
         | FROM comp)
         |SELECT doc_id, CASE WHEN bucket < 205 THEN 'train'
         |                    WHEN bucket < 230 THEN 'val'
         |                    ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "q77_maxsim" ->
      s"""WITH q AS (
         | SELECT vec_id AS qid, embedding AS qv FROM embeddings
         | WHERE vec_id < 5 AND embedding IS NOT NULL),
         |s AS (
         | SELECT e.label, q.qid,
         |        max(1.0 - ${sqlCosineDist("q.qv", "e.embedding")}) AS best
         | FROM embeddings e, q WHERE e.embedding IS NOT NULL
         | GROUP BY e.label, q.qid)
         |SELECT label,
         |       list_reduce(list(best ORDER BY qid), (x, y) -> x + y) AS maxsim_score,
         |       count(*) AS n_query
         |FROM s GROUP BY label ORDER BY label""".stripMargin,
    "q78_infix_knn" ->
      s"""SELECT e.vec_id, sqrt(${sqlL2Sq("e.embedding", "q.qv")}) AS dist
         |FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    // q83/q84: the payloads are REAL PNG/WAV bytes synthesized from
    // closed-form integer functions of (doc_id, n_chars); the oracle
    // recomputes those functions in SQL, so a hash match proves the
    // encode→decode round-trip through the actual JDK codecs.
    "q83_image_decode" ->
      """SELECT doc_id,
        | 1 + (n_chars % 13) AS width,
        | 1 + (doc_id % 11) AS height,
        | CAST(3 AS BIGINT) AS channels,
        | ((doc_id * 37 + n_chars) % 256) / 255.0 AS gray_mean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q84_audio_decode" ->
      """SELECT doc_id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | 50 + (n_chars % 101) AS n_frames,
        | (50 + (n_chars % 101)) / 8000.0 AS duration_sec,
        | ((doc_id % 1000) * 16) / 32768.0 AS rms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // gray_mean: the decoder divides the exact integer luma total by the
    // exact integer pixel count in ONE IEEE division, so sum(luma_f)*w*h /
    // (w*h*frames) here equals sum(luma_f)/frames bit-for-bit (equal
    // rationals, correctly-rounded division of exact operands)
    "q85_video_decode" ->
      """SELECT doc_id,
        | 2 * (1 + (n_chars % 7)) AS width,
        | 2 * (1 + (doc_id % 5)) AS height,
        | 1 + (doc_id % 5) AS n_frames,
        | (1 + (doc_id % 5)) / 25.0 AS duration_sec,
        | CAST(list_sum(list_transform(range(1 + (doc_id % 5)),
        |   f -> (doc_id * 31 + f * 7) % 256)) AS DOUBLE)
        |   / (1 + (doc_id % 5)) / 255.0 AS gray_mean
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
