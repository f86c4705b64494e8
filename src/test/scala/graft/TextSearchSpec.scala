package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.index.TermIndex
import graft.ops.TextSearch

class TextSearchSpec extends GraftSparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def beforeAll(): Unit = TermIndex.clear()
  override def afterAll(): Unit = TermIndex.clear()

  private def tiny = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry durian cherry cherry")).toDF("doc_id", "text")

  /** Reference BM25 (Lucene idf) on the tiny corpus, mirroring the engine's
    * rounding (Spark's Round = BigDecimal.valueOf(d).setScale HALF_UP). */
  private def refScore(tfs: Map[String, Double], dl: Double, n: Double,
      avgdl: Double, dfs: Map[String, Double], terms: Seq[String]): Double = {
    val raw = terms.map { t =>
      tfs.get(t).fold(0.0) { tf =>
        val df = dfs(t)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      }
    }.reduceLeft(_ + _)
    JBigDecimal.valueOf(raw).setScale(6, RoundingMode.HALF_UP).doubleValue
  }

  test("bm25 matches the hand-computed Okapi/Lucene formula") {
    val got = TextSearch.bm25(tiny, "doc_id", "text", Seq("apple", "cherry"))
      .as[(Long, Double)].collect().toMap
    val n = 3.0; val avgdl = 3.0
    val dfs = Map("apple" -> 1.0, "cherry" -> 2.0)
    val expected = Map(
      1L -> refScore(Map("apple" -> 2.0), 3.0, n, avgdl, dfs, Seq("apple", "cherry")),
      2L -> refScore(Map("cherry" -> 1.0), 2.0, n, avgdl, dfs, Seq("apple", "cherry")),
      3L -> refScore(Map("cherry" -> 3.0), 4.0, n, avgdl, dfs, Seq("apple", "cherry")))
    assert(got == expected)
  }

  test("bm25TopK ranks by score desc with id tie-break and honors k") {
    val top = TextSearch.bm25TopK(tiny, "doc_id", "text", Seq("cherry"), 1)
      .as[(Long, Double)].collect()
    assert(top.length == 1)
    assert(top.head._1 == 3L) // tf=3 beats tf=1
  }

  test("terms absent from the corpus contribute nothing and don't error") {
    val got = TextSearch.bm25(tiny, "doc_id", "text", Seq("banana", "zzz"))
      .as[(Long, Double)].collect().toMap
    val only = TextSearch.bm25(tiny, "doc_id", "text", Seq("banana"))
      .as[(Long, Double)].collect().toMap
    assert(got == only)
    assertThrows[IllegalArgumentException] {
      TextSearch.bm25(tiny, "doc_id", "text", Seq("a", "a"))
    }
  }

  test("TermIndex search is bit-identical to brute force (incl. 1 bucket)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("ts_docs")
    val terms = Seq("spark", "join", "query")
    val brute = TextSearch.bm25TopK(docs, "doc_id", "text", terms, 20)
      .as[(Long, Double)].collect().toSeq
    Seq(1, 8).foreach { nb =>
      val name = s"ts_idx_$nb"
      TermIndex.create(spark, name, "ts_docs", "doc_id", "text", nBuckets = nb)
      val viaIdx = TermIndex.search(spark, name, terms, 20)
        .as[(Long, Double)].collect().toSeq
      assert(viaIdx == brute, s"nBuckets=$nb")
    }
  }

  test("TermIndex.termStats is bit-identical to the live corpus rollup") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("ts_docs_vs")
    val name = "ts_idx_vocab"
    if (TermIndex.get(name).isEmpty) {
      TermIndex.create(spark, name, "ts_docs_vs", "doc_id", "text", nBuckets = 8)
    }
    val live = TextSearch.termStats(docs, "doc_id", "text")
      .orderBy($"term").as[(String, Long, Long)].collect().toSeq
    val viaIdx = TermIndex.termStats(spark, name)
      .orderBy($"term").as[(String, Long, Long)].collect().toSeq
    assert(viaIdx == live)
  }

  test("TermIndex search prunes posting partitions (PartitionFilters)") {
    val entry = TermIndex.get("ts_idx_8").get
    val df = TermIndex.search(spark, "ts_idx_8", Seq("spark"), 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(TermIndex.BucketCol), plan)
    // a single term reads a strict subset of the posting buckets
    val buckets = TermIndex.bucketsOf(spark, Seq("spark"), entry.nBuckets)
    val scanned = spark.read.parquet(entry.path)
      .where(col(TermIndex.BucketCol).isin(buckets: _*)).count()
    val total = spark.read.parquet(entry.path).count()
    assert(scanned < total && scanned > 0)
  }

  test("TermIndex.warm is semantically a no-op: stats, registry, and " +
      "search results are identical before and after") {
    tiny.createOrReplaceTempView("ts_warm_docs")
    TermIndex.create(spark, "ts_warm", "ts_warm_docs", "doc_id", "text",
      nBuckets = 4)
    val before = TermIndex.get("ts_warm").get
    val cold = TermIndex.search(spark, "ts_warm", Seq("banana", "cherry"), 3)
      .as[(Long, Double)].collect().toSeq
    TermIndex.warm(spark, "ts_warm")
    assert(TermIndex.get("ts_warm").contains(before)) // stats untouched
    val warm = TermIndex.search(spark, "ts_warm", Seq("banana", "cherry"), 3)
      .as[(Long, Double)].collect().toSeq
    assert(warm == cold)
    // warming an unknown index is the usual registry error, not a silent ok
    assertThrows[IllegalArgumentException] {
      TermIndex.warm(spark, "ts_warm_nope")
    }
    TermIndex.drop("ts_warm")
  }

  test("TermIndex duplicate name errors; drop clears") {
    assertThrows[IllegalArgumentException] {
      TermIndex.create(spark, "ts_idx_8", "ts_docs", "doc_id", "text")
    }
    val path = TermIndex.get("ts_idx_8").get.path
    assert(TermIndex.drop("ts_idx_8"))
    assert(TermIndex.get("ts_idx_8").isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    assert(!TermIndex.drop("ts_idx_8"))
  }

  test("TermIndex append equals a fresh build over the union (bit-identical)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.where(col("doc_id") < 250).createOrReplaceTempView("ts_half")
    docs.createOrReplaceTempView("ts_full")
    val terms = Seq("spark", "join", "query")
    TermIndex.create(spark, "ts_app", "ts_half", "doc_id", "text", nBuckets = 8)
    TermIndex.append(spark, "ts_app", docs.where(col("doc_id") >= 250))
    TermIndex.create(spark, "ts_fullidx", "ts_full", "doc_id", "text", nBuckets = 8)
    val appended = TermIndex.search(spark, "ts_app", terms, 20)
      .as[(Long, Double)].collect().toSeq
    val fresh = TermIndex.search(spark, "ts_fullidx", terms, 20)
      .as[(Long, Double)].collect().toSeq
    assert(appended == fresh)
    // stats folded exactly
    val (a, f) = (TermIndex.get("ts_app").get, TermIndex.get("ts_fullidx").get)
    assert(a.nDocs == f.nDocs && a.sumDl == f.sumDl)
    // empty append is a no-op
    assert(TermIndex.append(spark, "ts_app", docs.where(lit(false))) == a)
    TermIndex.drop("ts_app"); TermIndex.drop("ts_fullidx")
  }

  test("compact rewrites the artifact with fewer files and identical results") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.where(col("doc_id") < 100).createOrReplaceTempView("ts_c_seed")
    TermIndex.create(spark, "ts_comp", "ts_c_seed", "doc_id", "text", nBuckets = 2)
    try {
      (1 to 3).foreach { i =>
        TermIndex.append(spark, "ts_comp",
          docs.where(col("doc_id").between(i * 100, i * 100 + 99)))
      }
      def partFiles(p: String): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p))
          .filter(f => f.toString.endsWith(".parquet")).count()
      val oldPath = TermIndex.get("ts_comp").get.path
      val before = partFiles(oldPath)
      val terms = Seq("spark", "join", "query")
      val preScores = TermIndex.search(spark, "ts_comp", terms, 20)
        .as[(Long, Double)].collect().toSeq
      val prePhrase = TermIndex.phraseSearch(spark, "ts_comp", Seq("hash", "join"))
        .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
      val compacted = TermIndex.compact(spark, "ts_comp")
      assert(compacted.path != oldPath)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(oldPath)))
      assert(partFiles(compacted.path) < before)
      assert(TermIndex.search(spark, "ts_comp", terms, 20)
        .as[(Long, Double)].collect().toSeq == preScores)
      assert(TermIndex.phraseSearch(spark, "ts_comp", Seq("hash", "join"))
        .orderBy($"doc_id").as[(Long, Long)].collect().toSeq == prePhrase)
    } finally TermIndex.drop("ts_comp")
  }

  test("appendBatch is idempotent per batchId (at-least-once replay safe)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.where(col("doc_id") < 100).createOrReplaceTempView("ts_b_seed")
    TermIndex.create(spark, "ts_batch", "ts_b_seed", "doc_id", "text", nBuckets = 4)
    try {
      val batch = docs.where(col("doc_id").between(100, 199))
      val after1 = TermIndex.appendBatch(spark, "ts_batch", batch, batchId = 0L)
      val terms = Seq("spark", "join")
      val scores1 = TermIndex.search(spark, "ts_batch", terms, 20)
        .as[(Long, Double)].collect().toSeq
      // replay of the same batch: stats and postings unchanged
      val after2 = TermIndex.appendBatch(spark, "ts_batch", batch, batchId = 0L)
      assert(after2 == after1)
      val scores2 = TermIndex.search(spark, "ts_batch", terms, 20)
        .as[(Long, Double)].collect().toSeq
      assert(scores2 == scores1)
      // a NEW batch id still applies
      val b2 = docs.where(col("doc_id").between(200, 299))
      val after3 = TermIndex.appendBatch(spark, "ts_batch", b2, batchId = 1L)
      assert(after3.nDocs == after1.nDocs + b2.count())
    } finally TermIndex.drop("ts_batch")
  }

  test("bm25JoinTopK matches per-query bm25 runs") {
    val queries = Seq(
      (10L, Seq("apple", "cherry")),
      (20L, Seq("banana")),
      (30L, Seq("durian", "banana", "zzz"))).toDF("qid", "terms")
    val got = TextSearch.bm25JoinTopK(tiny, "doc_id", "text",
        queries, "qid", "terms", 2)
      .select($"qid", $"doc_id", $"score", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val expected = Seq(
      (10L, Seq("apple", "cherry")),
      (20L, Seq("banana")),
      (30L, Seq("durian", "banana", "zzz"))).flatMap { case (qid, ts) =>
      // per-query reference: bm25 with the terms sorted (the join's fold
      // order), then top-2 by (score desc, id)
      TextSearch.bm25(tiny, "doc_id", "text", ts.sorted)
        .as[(Long, Double)].collect().toSeq
        .sortBy { case (id, s) => (-s, id) }.take(2).zipWithIndex
        .map { case ((id, s), i) => (qid, id, s, (i + 1).toLong) }
    }.toSet
    assert(got == expected)
  }

  test("bm25JoinTopK: wide queries (>64 distinct terms) take the sorted-fold " +
      "path and equal the pivot path's per-query reference") {
    // the batch scorer pivots per-position only while every query has <=64
    // distinct terms; a wider query must fall back to the sorted-list fold
    // with identical scores (both sum in ascending term order)
    val wide = (0 until 70).map(i => f"w$i%02d") ++ Seq("apple", "banana")
    val queries = Seq((1L, wide)).toDF("qid", "terms")
    val got = TextSearch.bm25JoinTopK(tiny, "doc_id", "text",
        queries, "qid", "terms", 3)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val ref = TextSearch.bm25(tiny, "doc_id", "text", wide.sorted)
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, s) => (-s, id) }.take(3).toMap
    assert(got == ref)
  }

  test("bm25JoinTopK: the large-qterms (checkpoint) arm is bit-identical to " +
      "the driver-local arm") {
    // materializeQterms pulls the exploded (qid, term) pairs to the driver
    // when they fit under the cap; forcing the cap to 2 exercises the
    // distributed-window arm on the same data — scores, ranks, and row set
    // must be identical (both assign the same ascending-term positions)
    val queries = Seq(
      (10L, Seq("apple", "cherry")),
      (20L, Seq("banana")),
      (30L, Seq("durian", "banana", "zzz"))).toDF("qid", "terms")
    def run() = TextSearch.bm25JoinTopK(tiny, "doc_id", "text",
        queries, "qid", "terms", 2)
      .select($"qid", $"doc_id", $"score", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val local = run()
    assert(local.nonEmpty)
    System.setProperty("graft.qterms.local.cap", "2")
    try assert(run() == local)
    finally System.clearProperty("graft.qterms.local.cap")
  }

  test("materializeQterms: non-STRING terms take the window arm, same rows " +
      "as forcing it through the cap") {
    val queries = Seq(
      (1L, Seq(10, 2, 33, 2)),
      (2L, Seq(7))).toDF("qid", "terms")
    def materialize() = {
      val (qpos, maxTerms) = TextSearch.materializeQterms(queries, "qid", "terms")
      (qpos.as[(Long, Int, Int)].collect().toSet, maxTerms)
    }
    val got = materialize()
    // numeric order, not the string order a local STRING sort would give
    assert(got == ((Set((1L, 2, 0), (1L, 10, 1), (1L, 33, 2), (2L, 7, 0)), 3)))
    val prev = sys.props.get("graft.qterms.local.cap")
    System.setProperty("graft.qterms.local.cap", "2")
    try assert(materialize() == got)
    finally prev match {
      case Some(v) => System.setProperty("graft.qterms.local.cap", v)
      case None => System.clearProperty("graft.qterms.local.cap")
    }
  }

  test("phraseCount: adjacency, overlaps, repeats, and short-doc edge cases") {
    val docs = Seq(
      (1L, "a b a b a"), // "a b" twice, "b a" twice, "a b a" twice (overlapping)
      (2L, "a a a"), // "a a" twice (overlapping)
      (3L, "b"), // shorter than the phrase
      (4L, "")).toDF("doc_id", "text")
    def counts(phrase: Seq[String]) =
      docs.select($"doc_id", TextSearch.phraseCount($"text", phrase).as("n"))
        .as[(Long, Long)].collect().toMap
    assert(counts(Seq("a", "b")) == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    assert(counts(Seq("a", "b", "a")) == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    assert(counts(Seq("a", "a")) == Map(1L -> 0L, 2L -> 2L, 3L -> 0L, 4L -> 0L))
    assert(counts(Seq("b")) == Map(1L -> 2L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    // the native codegen'd expression phraseMatches evaluates agrees with
    // the declarative reference on every case
    Seq(Seq("a", "b"), Seq("a", "b", "a"), Seq("a", "a"), Seq("b")).foreach { ph =>
      val native = docs.select($"doc_id", TextSearch.tokens($"text").as("t"))
        .select($"doc_id", graft.functions.TokenPhraseCount.column($"t", ph).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(native == counts(ph), s"phrase=$ph")
    }
  }

  test("TermIndex.phraseSearch equals brute-force phraseMatches (incl. " +
      "repeated-term and single-term phrases)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("ts_ph_docs")
    TermIndex.create(spark, "ts_ph", "ts_ph_docs", "doc_id", "text", nBuckets = 8)
    try {
      Seq(Seq("hash", "join"), Seq("the", "the"), Seq("data"),
          Seq("order", "fast", "key"), Seq("nosuchword", "join")).foreach { phrase =>
        val brute = TextSearch.phraseMatches(docs, "doc_id", "text", phrase)
          .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
        val viaIdx = TermIndex.phraseSearch(spark, "ts_ph", phrase)
          .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
        assert(viaIdx == brute, s"phrase=$phrase")
      }
      // the index path reads only the phrase terms' buckets
      val plan = TermIndex.phraseSearch(spark, "ts_ph", Seq("hash", "join"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains(TermIndex.BucketCol), plan)
    } finally TermIndex.drop("ts_ph")
  }

  test("TermIndex.searchJoin is bit-identical to the brute bm25JoinTopK") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    docs.createOrReplaceTempView("ts_sj_docs")
    TermIndex.drop("ts_sj")
    TermIndex.create(spark, "ts_sj", "ts_sj_docs", "doc_id", "text", nBuckets = 4)
    try {
      val queries = docs.where($"doc_id" % 37 === 0)
        .select($"doc_id".as("qid"),
          slice(TextSearch.tokens($"text"), 1, 3).as("terms"))
      val brute = TextSearch.bm25JoinTopK(docs, "doc_id", "text",
          queries, "qid", "terms", 3)
        .orderBy($"qid", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
      val indexed = TermIndex.searchJoin(spark, "ts_sj", queries, "qid", "terms", 3)
        .select($"qid", $"doc_id", $"score", $"rank")
        .orderBy($"qid", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(indexed == brute && indexed.nonEmpty)
      // the posting read is partition-pruned to the query terms' buckets
      val plan = TermIndex.searchJoin(spark, "ts_sj", queries, "qid", "terms", 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains(TermIndex.BucketCol))
    } finally TermIndex.drop("ts_sj")
  }

  test("rrfFuse: overlap sums both lists, one-sided ids keep one term") {
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val got = TextSearch.rrfFuse(a, b, "id").as[(Long, Double)].collect().toMap
    assert(got == Map(
      1L -> 1.0 / 61.0,
      2L -> (1.0 / 62.0 + 1.0 / 61.0),
      3L -> 1.0 / 62.0))
  }
}
