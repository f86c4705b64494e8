package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-text relevance search over a document corpus — the keyword-side
  * complement of the engine's vector similarity surface (BM25 is to text
  * what the distance kernels are to embeddings).
  *
  * Scoring is Okapi BM25 with the Lucene idf variant
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` (non-negative for every df).
  * All inputs to the formula are integer-valued doubles (tf, df, doc
  * length, N — exact in both engines regardless of aggregation order; the
  * corpus length sum is < 2^53), so the ONLY cross-engine-inexact step is
  * the single `ln`, which both JVM and C runtimes compute within 1 ulp —
  * scores are rounded to 6 decimals to absorb it, and per-term
  * contributions are added in the caller's term order (a fixed-order fold,
  * not an order-unstable SUM) so the DuckDB oracle replays bit-equal.
  *
  * Scale shape: the tokenize→tf pass filters to the query's terms BEFORE
  * the (doc, term) shuffle, so a 100 TB corpus shuffles only rows
  * containing query terms; df and corpus stats are single-row/broadcast
  * joins. For repeated querying, [[graft.index.TermIndex]] materializes the
  * same postings partitioned by term bucket so each query reads only its
  * terms' partitions. */
object TextSearch {

  /** Whitespace tokens (same contract as [[TextAnalysis.tokenCount]]). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Exploded (idCol, dl, term) token rows — the shared head of every
    * postings pipeline. */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast(DoubleType))
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))

  /** (term, id, dl) → tf aggregation shared by all postings variants. */
  private def tfAgg(rows: DataFrame, idCol: String): DataFrame =
    rows.groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"))

  /** Posting rows (idCol, term, tf, dl): one row per (doc, distinct term),
    * with the doc's token count carried alongside. `terms = Some(q)`
    * filters to the query's terms before the tf shuffle. */
  def postingsFor(docs: DataFrame, idCol: String, textCol: String,
      terms: Option[Seq[String]] = None): DataFrame = {
    val rows = tokenRows(docs, idCol, textCol)
    tfAgg(terms.fold(rows)(q => rows.where(col("term").isin(q: _*))), idCol)
  }

  /** [[postingsFor]] filtered by a DataFrame of terms (single column
    * `term`) via a broadcast semi-join before the tf shuffle — the batch
    * form used when the term set is data, not literals. */
  def postingsForTerms(docs: DataFrame, idCol: String, textCol: String,
      termsDf: DataFrame): DataFrame =
    tfAgg(tokenRows(docs, idCol, textCol)
      .join(broadcast(termsDf.select(col("term")).distinct()), Seq("term"), "left_semi"),
      idCol)

  /** Positional posting rows (idCol, term, tf, dl, pos sorted array<int>)
    * — the [[postingsFor]] shape plus each term's occurrence positions
    * (1-based token index). Stored by [[graft.index.TermIndex]] so phrase
    * queries can verify adjacency from the index alone; BM25 reads of the
    * same artifact never touch the pos column (parquet prunes it). */
  def positionalPostingsFor(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast(DoubleType))
      .select(col(idCol), col("dl"),
        posexplode(col("__toks")).as(Seq("__p0", "term")))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"),
        sort_array(collect_list(col("__p0") + 1)).as("pos"))

  /** Postings + one-row stats → per-(doc, term) BM25 contribution in
    * column `out` (Lucene idf × the Okapi tf saturation term). The single
    * scoring formula shared by the fixed-term and batch-join paths. */
  private def withContrib(postings: DataFrame, stats: DataFrame,
      k1: Double, b: Double, out: String): DataFrame = {
    val df = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("df"))
    postings
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn(out,
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
  }

  /** Exact-phrase occurrence count over a PRE-SPLIT token-array column:
    * the number of token offsets i (1-based) where toks[i..i+m-1] equals
    * `phrase`. Pure array algebra — a narrow map, no shuffle, bit-exact in
    * SQL (list_filter over an index range). `toks` must be a bound column
    * (not an inline split(...) expression): expressions embedded in the
    * filter lambda re-evaluate PER ELEMENT — an inline tokenizer there
    * costs O(n²) per doc; the interpreted HOF path alone is ~10× (measured, sf0.1). */
  def phraseCountTokens(toks: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val m = phrase.length
    val n = size(toks)
    val starts = sequence(lit(1), (n - lit(m - 1)).cast(IntegerType))
    val hits = filter(starts, i =>
      phrase.zipWithIndex.map { case (t, j) =>
        element_at(toks, (i + lit(j)).cast(IntegerType)) === lit(t)
      }.reduce(_ && _))
    when(n >= m, size(hits)).otherwise(lit(0)).cast(LongType)
  }

  /** [[phraseCountTokens]] over raw text — convenience for one-off column
    * use; prefer projecting the token array once (as [[phraseMatches]]
    * does) when scanning a corpus. */
  def phraseCount(text: Column, phrase: Seq[String]): Column =
    phraseCountTokens(tokens(text), phrase)

  /** Docs containing the exact phrase, with occurrence counts:
    * (idCol, n_matches > 0). Evaluated by the native codegen'd
    * [[graft.functions.TokenPhraseCount]] (one JVM loop per doc);
    * [[phraseCountTokens]] is the declarative reference formulation the
    * spec differentials it against. */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        graft.functions.TokenPhraseCount.column(col("__toks"), phrase)
          .as("n_matches"))
      .where(col("n_matches") > 0)

  /** One-row corpus stats (n docs, avg doc length). Both values are exact
    * cross-engine: n is a count and avgdl is an exact integer sum divided
    * by n (token counts are integers, so the double sum is exact below
    * 2^53 regardless of aggregation order). Docs with NULL text count
    * toward n but contribute no length (they also produce no postings). */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    corpusCounts(docs, textCol)
      .select(col("n"), (col("sumdl") / col("n")).as("avgdl"))

  /** The additive form of [[corpusStats]]: (n, sumdl) — what an
    * incremental index append can update exactly (avg is re-derived as
    * sumdl/n, the same division avg() performs). */
  def corpusCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(size(tokens(col(textCol))).cast(DoubleType).as("__dl"))
      .agg(count(lit(1)).cast(DoubleType).as("n"), sum(col("__dl")).as("sumdl"))

  /** BM25 score per document from posting rows. `stats` is a one-row
    * (n, avgdl) frame (broadcast); df is computed from the postings
    * themselves, so postings must cover every occurrence of each query term
    * (true for both the brute-force pass and a term-bucketed index read).
    * Output: (idCol, score DOUBLE rounded to 6 decimals), docs matching at
    * least one term. */
  def scorePostings(postings: DataFrame, stats: DataFrame, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    require(terms.distinct == terms, "query terms must be distinct (fixed-order fold)")
    val contrib = withContrib(postings, stats, k1, b, "contrib")
    // fixed-order pivot: one column per query term, then a left-to-right
    // fold in the caller's term order — float addition is not associative,
    // so an order-unstable SUM would not replay in the oracle
    val pivotCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("contrib"))).as(s"__c_$i")
    }
    val score = terms.indices
      .map(i => coalesce(col(s"__c_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    contrib.groupBy(col(idCol)).agg(pivotCols.head, pivotCols.tail: _*)
      .select(col(idCol), round(score, 6).as("score"))
  }

  /** Batch keyword retrieval — the BM25 analog of the KNN join: for EVERY
    * row of a queries table (qid, array-of-terms), the top-k docs by BM25
    * score, in one distributed plan (no per-query loop):
    *
    *   query terms exploded+deduped → postings filtered to the union of
    *   all query terms (broadcast semi-join BEFORE the tf shuffle) → df/idf
    *   once per distinct term → postings ⋈ query-terms on term (the
    *   candidate join — each doc meets only queries it shares a term with,
    *   never all queries) → per-(qid, doc) score → per-qid top-k window.
    *
    * Scores match [[bm25]] run per query. Per-(qid, doc) contributions are
    * summed by an explicit term-sorted fold (collect_list → sort_array →
    * aggregate) — deterministic addition order over a dynamic term set, so
    * the DuckDB oracle (`list(c ORDER BY term)` + list_reduce) replays
    * bit-equal; 0.0-seeded fold and first-element-seeded list_reduce agree
    * because 0.0 + x = x and contributions are positive.
    *
    * Output: (qidCol, idCol, score, rank 1..k). */
  def bm25JoinTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, termsCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (qpos, maxTerms) = materializeQterms(queries, qidCol, termsCol)
    val postings = postingsForTerms(docs, idCol, textCol, qpos)
    bm25JoinScored(postings, corpusStats(docs, textCol), qpos, maxTerms,
      idCol, qidCol, k, k1, b)
  }

  /** Row cap for the driver-local query-term materialization below. The
    * batch scorers already broadcast the exploded (qid, term) table to the
    * postings semi-join and the candidate join, so the table MUST fit on
    * the driver regardless; the cap only bounds the Row-object overhead of
    * holding it there eagerly. System-property override exists for specs
    * that exercise the large (checkpoint) arm on small data. */
  // 512k pairs: sf0.1/sf1-sized query tables (≤190k pairs) take the
  // zero-action local arm; sf10's 1.86M pairs take the checkpoint arm,
  // which measured slightly FASTER there (10.6 vs 11.7 s warm — the
  // driver-side Row conversion of ~2M pairs costs more than one
  // distributed window) and keeps the driver's Row-object footprint small
  private[graft] val QTermsLocalCapDefault: Int = 1 << 19
  private[graft] def qtermsLocalCap: Int =
    graft.Knobs.propInt("graft.qterms.local.cap", QTermsLocalCapDefault)

  /** Materialize the exploded distinct (qid, term) table ONCE, with each
    * term's ascending-term-order position within its query (`__pos`) and
    * the max per-query distinct-term count. Shared head of both batch BM25
    * paths ([[bm25JoinTopK]], TermIndex.searchJoin); the downstream plan
    * is bit-identical either way:
    *
    *  - STRING terms, ≤ [[qtermsLocalCap]] pairs (every benched scale):
    *    ONE limit-collect action pulls the pairs to the driver; positions
    *    are assigned driver-side in UTF8String binary order — exactly the window's
    *    `orderBy(term)` ascending-nulls-first sort order — and the result
    *    is a LocalRelation with exact size stats. The old shape paid a
    *    localCheckpoint action + a maxTerms head() action (whose plan ran
    *    the position window once) + a SECOND run of the window inside the
    *    main plan (an exchange + sort) — per-invocation fixed cost that
    *    dominated sub-second corpora (q56 regressed 2.48 → 3.03 s at sf0.1
    *    in round 17 exactly on this overhead).
    *  - larger, or non-STRING terms: the window-computed positions are localCheckpointed (ONE
    *    action; the window runs once, not twice) and maxTerms is a cheap
    *    aggregate over the materialized blocks. */
  private[graft] def materializeQterms(queries: DataFrame, qidCol: String,
      termsCol: String): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    import org.apache.spark.unsafe.types.UTF8String
    val exploded = queries
      .select(col(qidCol), explode(col(termsCol)).as("term"))
      .distinct()
    // the local arm orders terms the way Spark sorts STRING; any other term
    // type takes the window arm, whose orderBy knows every orderable type
    val localPairs =
      if (exploded.schema("term").dataType != StringType) None
      else {
        val cap = qtermsLocalCap
        Some(exploded.limit(cap + 1).collect()).filter(_.length <= cap)
      }
    localPairs.map { head =>
      // Spark's ascending sort over STRING: nulls first, then UTF8String
      // binary (UTF-8 byte) order — String.compareTo (UTF-16 code units)
      // differs on supplementary planes, so compare the same UTF8Strings
      // the window would
      val termOrd = new Ordering[Any] {
        def compare(a: Any, b: Any): Int = (a, b) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x: String, y: String) =>
            UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
        }
      }
      var maxTerms = 0
      val rows = head.groupBy(_.get(0)).valuesIterator.flatMap { grp =>
        val sorted = grp.sortBy(_.get(1))(termOrd)
        if (sorted.length > maxTerms) maxTerms = sorted.length
        sorted.iterator.zipWithIndex.map { case (r, i) =>
          Row(r.get(0), r.get(1), i)
        }
      }.toVector
      val schema = StructType(exploded.schema.fields :+
        StructField("__pos", IntegerType, nullable = false))
      import scala.jdk.CollectionConverters._
      (queries.sparkSession.createDataFrame(rows.asJava, schema), maxTerms)
    }.getOrElse {
      val posW = Window.partitionBy(col(qidCol)).orderBy(col("term"))
      val qpos = exploded
        .select(col(qidCol), col("term"),
          (row_number().over(posW) - 1).as("__pos"))
        .localCheckpoint()
      val maxTerms = qpos.agg(max(col("__pos"))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0) + 1
      }
      (qpos, maxTerms)
    }
  }

  /** The scoring tail of [[bm25JoinTopK]] from prepared inputs: postings
    * covering every occurrence of each retained term (df is computed from
    * them), one-row corpus stats, and the [[materializeQterms]] output —
    * the materialized (qid, term, __pos) table plus the max per-query
    * distinct-term count. Shared by the brute-force path above and the
    * term-index batch join (TermIndex.searchJoin), so both score with the
    * one formula. */
  private[graft] def bm25JoinScored(postings: DataFrame, stats: DataFrame,
      qpos: DataFrame, maxTerms: Int, idCol: String, qidCol: String, k: Int,
      k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val contrib = withContrib(postings, stats, k1, b, "c")
    // Plan shape, MEASURED against the one-exchange alternative: forcing a
    // single hash(qid) repartition before the aggregate (which would
    // satisfy both the agg and the window) reads 3.65 s warm at sf1 vs
    // 2.51 s for this two-exchange shape — the hash(qid, doc) exchange
    // keeps the aggregate hash-based with map-side partial lists, and the
    // window's second exchange moves only the one-row-per-(qid, doc)
    // scored output, which is cheaper than one sort-aggregated pass over
    // raw candidates.
    //
    // Determinism: per-(qid, doc) contributions are summed in ascending
    // TERM order. When every query has few distinct terms (the normal
    // batch-retrieval shape), the sum is a fixed per-position pivot —
    // each query term carries its ascending-order index (`__pos`, assigned
    // once by materializeQterms), the candidate join carries the int
    // position instead of the term string, and the aggregate is
    // max-per-position over primitive buffers folded left-to-right.
    // Bit-identical to the sorted-list fold (positions enumerate ascending
    // term order; contributions are positive and x + 0.0 == x for positive
    // x, so the coalesce(…, 0.0) slots of a doc's absent terms don't
    // perturb the IEEE sum) — and measured 15.9 -> 7.4 s on q56 at the
    // 100x cut: the interpreted collect_list/sort_array/fold over 24.7M
    // groups and the term strings riding the 58M-row candidate join were
    // half the query. Queries with many distinct terms (pivot width
    // unbounded) keep the sorted-list fold.
    val scored =
      if (maxTerms > 0 && maxTerms <= 64) {
        val slots = (0 until maxTerms).map(p =>
          coalesce(max(when(col("__pos") === p, col("c"))), lit(0.0)))
        contrib
          .join(qpos, "term")
          .select(col(qidCol), col(idCol), col("__pos"), col("c"))
          .groupBy(col(qidCol), col(idCol))
          .agg(round(slots.reduceLeft(_ + _), 6).as("score"))
      } else {
        contrib
          .join(qpos.select(col(qidCol), col("term")), "term")
          .groupBy(col(qidCol), col(idCol))
          .agg(round(
            aggregate(
              transform(sort_array(collect_list(struct(col("term"), col("c")))),
                x => x.getField("c")),
              lit(0.0), (acc, v) => acc + v), 6).as("score"))
      }
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
  }

  /** Corpus vocabulary rollup: per term, document frequency and total
    * occurrence count — the vocabulary-building / stopword-pruning
    * primitive (and the data a df-threshold filter consumes). One postings
    * pass + one per-term rollup; both counts are exact integers. */
  def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsFor(docs, idCol, textCol)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast(LongType).as("total_tf"))

  /** Brute-force corpus-wide BM25 scores for a fixed query-term set. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scorePostings(postingsFor(docs, idCol, textCol, Some(terms)),
      corpusStats(docs, textCol), idCol, terms, k1, b)

  /** Top-k keyword search: highest BM25 score first, ties broken by id —
    * a TakeOrderedAndProject over the scored docs (per-partition top-k +
    * k-row driver merge, same shape as the vector topK). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25(docs, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * two ranked lists: `rrf = Σ 1/(c + rank)` over the lists containing the
    * id (1-indexed ranks; absent list contributes 0). Pure integer-derived
    * division and a fixed-order two-term sum — bit-exact cross-engine, no
    * rounding needed. The standard hybrid-search combiner: fuse a vector
    * top-k with a BM25 top-k without score calibration. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String = "rank", c: Int = 60): DataFrame = {
    val cc = lit(c.toDouble)
    a.select(col(idCol), col(rankCol).cast(DoubleType).as("__ra"))
      .join(b.select(col(idCol), col(rankCol).cast(DoubleType).as("__rb")),
        Seq(idCol), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (cc + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (cc + col("__rb")), lit(0.0)))
      .drop("__ra", "__rb")
  }
}
