package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding near-dup.
  *
  * Hash design note: MinHash permutations and SimHash bits derive from
  * md5(<seed>:<token>) — md5 is identical across engines, so every op here
  * has an exact DuckDB oracle (Spark's murmur `hash()` and DuckDB's `hash()`
  * do not agree). MinHash signatures compare md5 hex strings
  * lexicographically — a uniform "permutation" without any hex→int
  * conversion (which DuckDB 1.0 cannot express).
  *
  * Scale shape: everything is explode → per-doc aggregate (map-side
  * combined) → equi-join on bucket keys. No cross joins; the only shuffles
  * are by doc_id and by band key, both bounded by data size, and band-bucket
  * join fan-out is the LSH candidate set, not n². */
object Dedup {

  /** Exact dedup: first (min id) row per distinct key wins. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of `text`, as a distinct-exploded (id, shingle)
    * DataFrame. Within-document dedup happens in the ARRAY domain
    * (`array_distinct` before the explode) — per-(id, shingle) distinctness
    * never needs a shuffle, so downstream consumers aggregate or join the
    * exploded table directly off the scan. REQUIRES one input row per id:
    * a docs frame with duplicated ids (un-deduped union, join fan-out)
    * yields duplicated (id, shingle) pairs, which inflates every
    * downstream count. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingleArray(col(textCol), n)).as("shingle"))

  /** The DISTINCT word n-gram shingles of a text column as an array —
    * pure narrow column algebra, shared by the batch and streaming dedup
    * ops. Empty for texts shorter than n words. */
  def shingleArray(textCol: Column, n: Int): Column =
    // native one-loop gram construction (graft.functions.WordShingles);
    // the interpreted-HOF formulation below is the differential-spec
    // reference — identical output, measured 16.4 s -> ~1 s of the
    // signature build's corpus pass at the 100x cut (ProfileSigs)
    graft.functions.WordShingles.column(split(trim(textCol), "\\s+"), n)

  /** The declarative (interpreted-HOF) formulation of [[shingleArray]] —
    * the differential-spec reference the native expression is pinned
    * against, and the shape the SQL oracles replay. */
  private[graft] def shingleArrayDeclarative(textCol: Column, n: Int): Column = {
    val words = split(trim(textCol), "\\s+")
    val grams = transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n))))
    array_distinct(filter(
      when(size(words) >= n, grams).otherwise(array()),
      x => length(x) > 0))
  }

  /** MinHash signature columns computed in the ARRAY domain — one narrow
    * projection per document (`array_min` over the md5-permuted shingle
    * array), no explode, no shuffle. NULL signature ⇔ the doc has no
    * shingles: permutation p's value for a shingle is an 8-hex-char slice
    * of md5('<p/4>:'||shingle) — TWO md5 calls feed four 32-bit
    * permutations each (hashing dominates signature cost; slicing one
    * digest into independent 32-bit values is the standard k-from-few
    * hashing trick), and the signature is the lexicographic min per
    * permutation (≡ a random permutation).
    *
    * `gramsCol` must reference an ALREADY-MATERIALIZED shingle-array column
    * (see [[shingleArray]]), not the array expression itself: higher-order
    * functions are opaque to common-subexpression elimination, so inlining
    * the construction here would recompute it once per permutation. */
  def minHashSignatureCols(gramsCol: Column, numPerms: Int): Seq[Column] =
    (0 until numPerms).map { p =>
      array_min(transform(gramsCol,
        x => substring(md5(concat(lit(s"${p / 4}:"), x)), (p % 4) * 8 + 1, 8)))
        .as(s"mh$p")
    }

  /** The two-step form of [[minHashSignatureCols]] that actually REALIZES
    * the 2-digests-feed-8-permutations saving in the array domain: HOF
    * lambdas are opaque to subexpression elimination, so the one-shot form
    * above still evaluates md5 once per permutation. Materialize the
    * digest arrays first ([[minHashDigestCols]] → `__mhd<i>` columns),
    * then slice signatures out of them. */
  def minHashDigestCols(gramsCol: Column, numPerms: Int): Seq[Column] =
    (0 until (numPerms + 3) / 4).map { s =>
      transform(gramsCol, x => md5(concat(lit(s"$s:"), x))).as(s"__mhd$s")
    }

  /** Signature columns sliced from materialized `__mhd<i>` digest arrays. */
  def minHashSignatureColsFromDigests(numPerms: Int): Seq[Column] =
    (0 until numPerms).map { p =>
      array_min(transform(col(s"__mhd${p / 4}"),
        h => substring(h, (p % 4) * 8 + 1, 8))).as(s"mh$p")
    }

  /** Exploded shingles keyed by 64-bit xxhash instead of the shingle
    * string: the ops below never OUTPUT shingle text, only counts keyed by
    * it, so shuffling/joining 8-byte longs instead of 20-30-byte strings
    * cuts shuffle volume ~3× at identical results (collision odds
    * ~n²/2⁶⁴ — negligible against any corpus this runs on, same trade
    * every production hash-based dedup makes). This is the build
    * expression of the shingle ARTIFACT (graft.index.ShingleIndex): the
    * explode + hash pass over corpus text is the dominant cost of every
    * op below, so persist it once — bucketed by shingle — and the
    * `…FromShingles` variants run off the bucketed scan. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))

  /** Corpus-duplication (contamination) signal: per document, the fraction
    * of its DISTINCT word n-gram shingles that also occur in at least one
    * other document — how much of this text is boilerplate the corpus
    * already contains elsewhere (the per-doc readout of C4/RefinedWeb-style
    * duplicate-span removal).
    *
    * Scale shape: a shingle with document frequency 1 has exactly one owner,
    * so shared-per-doc = total-per-doc − unique-per-doc, and both terms are
    * hash AGGREGATES with map-side partial combine (outputs: one row per doc,
    * one row per distinct shingle) joined doc-level at the end — no window
    * sort over the full exploded shingle table, no self-join, no pair
    * explosion; hot shingles cost their row count, never df². */
  def corpusDupSignal(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3): DataFrame =
    // two consumers of the exploded shingle table: materialize it once
    corpusDupSignalFromShingles(
      hashedShingles(docs, idCol, textCol, shingleLen).localCheckpoint(), idCol)

  /** [[corpusDupSignal]] from an ALREADY-MATERIALIZED hashed-shingle table
    * (a ShingleIndex artifact or a checkpointed frame — both consumers
    * re-scan it). A shingle-bucketed artifact makes the by-shingle
    * aggregate exchange-free. */
  def corpusDupSignalFromShingles(sh: DataFrame, idCol: String): DataFrame = {
    val perDoc = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val uniqPerDoc = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"), min(col(idCol)).as("__owner"))
      .where(col("__df") === 1)
      .groupBy(col("__owner").as(idCol))
      .agg(count(lit(1)).as("__n_unique"))
    perDoc.join(uniqPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        ((col("n_shingles") - coalesce(col("__n_unique"), lit(0L))).cast(DoubleType)
          / col("n_shingles").cast(DoubleType)).as("dup_frac"))
  }

  /** Exact-substring span REMOVAL — the rewrite step of "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al., ACL'22): a
    * token is dropped when ANY length-`windowLen` token window covering it
    * occurs at least `minOccurrences` times corpus-wide (md5 window
    * fingerprints stand in for suffix-array matches; windows, not suffixes,
    * bound the state). Returns (id, clean_text, n_tokens, n_removed) with
    * the surviving tokens rejoined in order.
    *
    * Scale shape: window hashing is narrow array algebra per doc; the
    * global occurrence count is one map-side-combined aggregate keyed by
    * window hash; hot windows flow back via an equi-join on the hash (NOT
    * a broadcast — the duplicated-window set scales with the corpus), and
    * covered-position expansion is bounded by hot windows × windowLen.
    * The rebuild is one per-doc aggregate. ~3 shuffles total, all keyed. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      windowLen: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    // the window table feeds BOTH the hot-window aggregate and the cover
    // join: materialize it once so the tokenize+md5 pass over the corpus
    // runs once, not twice. Window hashes come from the native GramHashes
    // loop (the interpreted-HOF slice+concat_ws+md5 chain measured 6.1 s
    // of this pass at the 100x cut — ProfileSigs); posexplode gives the
    // 0-based window start.
    val wins = docs
      .select(col(idCol), filter(words, t => length(t) > 0).as("__w"))
      .select(col(idCol), posexplode(
        graft.functions.GramHashes.column(col("__w"), windowLen))
        .as(Seq("start", "whash")))
      .localCheckpoint()
    val hot = wins.groupBy(col("whash")).agg(count(lit(1)).as("__occ"))
      .where(col("__occ") >= minOccurrences).select(col("whash"))
    val covered = wins.join(hot, "whash")
      .select(col(idCol), explode(sequence(col("start"),
        col("start") + lit(windowLen - 1))).as("pos"))
      .distinct()
    // Rebuild shape: the covered-position set is DUPLICATE-MASS-sized
    // (only docs containing a hot window appear; measured 2.5M positions
    // over 47.7k of 500k docs at the 100x cut) while the token stream is
    // the corpus — so instead of anti-joining every exploded token and
    // re-aggregating the whole corpus through collect_list, gather each
    // doc's covered positions into a sorted array and rebuild the cleaned
    // text from the original token array in one native two-pointer pass
    // (RemoveTokensAt). Identical output: same kept tokens in the same
    // order, n_tokens = all non-empty tokens, n_removed = |covered|.
    val coveredPerDoc = covered.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__cpos"))
    docs
      .select(col(idCol),
        coalesce(filter(words, t => length(t) > 0),
          array().cast("array<string>")).as("__w"))
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.RemoveTokensAt.column(col("__w"),
          coalesce(col("__cpos"), array().cast("array<int>"))).as("clean_text"),
        size(col("__w")).cast(LongType).as("n_tokens"),
        coalesce(size(col("__cpos")), lit(0)).cast(LongType).as("n_removed"))
  }

  /** The original exploded-token formulation of [[removeDuplicatedSpans]]
    * — the differential-spec reference for the native rebuild (identical
    * output contract, including NULL-text docs yielding ("", 0, 0)). */
  private[graft] def removeDuplicatedSpansDeclarative(docs: DataFrame,
      idCol: String, textCol: String,
      windowLen: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val toks = docs
      .select(col(idCol), filter(words, t => length(t) > 0).as("__w"))
      .select(col(idCol), posexplode(col("__w")).as(Seq("pos", "tok")))
    // guard: Spark's sequence(1, 0) is DESCENDING, not empty — short docs
    // must produce zero windows, not a slice at start 0
    val nWin = size(col("__w")) - windowLen + 1
    val winStarts = when(nWin >= 1, sequence(lit(1), nWin))
      .otherwise(array().cast("array<int>"))
    val wins = docs
      .select(col(idCol), filter(words, t => length(t) > 0).as("__w"))
      .select(col(idCol), posexplode(transform(winStarts,
        i => md5(concat_ws(" ", slice(col("__w"), i, lit(windowLen))))))
        .as(Seq("start", "whash")))
      .localCheckpoint()
    val hot = wins.groupBy(col("whash")).agg(count(lit(1)).as("__occ"))
      .where(col("__occ") >= minOccurrences).select(col("whash"))
    val covered = wins.join(hot, "whash")
      .select(col(idCol), explode(sequence(col("start"),
        col("start") + lit(windowLen - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    val removedPerDoc = covered.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_removed"))
    kept.groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_kept"),
        count(lit(1)).as("__n_kept"))
      .join(docs.select(col(idCol)), Seq(idCol), "right")
      .join(removedPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_kept"), lit("")).as("clean_text"),
        (coalesce(col("__n_kept"), lit(0L)) +
          coalesce(col("__n_removed"), lit(0L))).as("n_tokens"),
        coalesce(col("__n_removed"), lit(0L)).as("n_removed"))
  }

  /** Benchmark decontamination signal (the GPT-3/PaLM n-gram-overlap recipe):
    * for each corpus document, the count and fraction of its DISTINCT word
    * n-gram shingles that appear anywhere in `benchmark` (the held-out eval
    * set). Documents above a caller-chosen `contam_frac` threshold get
    * dropped before training.
    *
    * Scale shape: eval suites are MBs while the corpus is TBs, so the
    * benchmark shingle set is distinct-ed and BROADCAST — the corpus shingle
    * table joins partition-locally with no shuffle, and the only shuffle is
    * the per-doc rollup (map-side combined, keyed by doc id). */
  def decontaminationSignal(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3): DataFrame =
    decontaminationSignalFromShingles(
      hashedShingles(docs, idCol, textCol, shingleLen),
      hashedShingles(benchmark, idCol, textCol, shingleLen), idCol)

  /** [[decontaminationSignal]] from already-exploded hashed-shingle tables
    * (e.g. one ShingleIndex artifact filtered into corpus/benchmark sides —
    * shingles are per-document, so an id-predicate filter over the full
    * artifact yields exactly the subset's shingles). */
  def decontaminationSignalFromShingles(corpusSh: DataFrame, benchSh0: DataFrame,
      idCol: String): DataFrame = {
    val benchSh = benchSh0
      .select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    corpusSh
      .join(broadcast(benchSh), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__hit") === 1, 1L).otherwise(0L)).as("n_overlap"))
      .select(col(idCol), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("contam_frac"))
  }

  /** The MinHash signature table (idCol, mh0..mh{numPerms-1}) of a corpus —
    * signatures via explode + map-side-combined min aggregate: measured
    * FASTER than the shuffle-free array-domain form (minHashSignatureCols)
    * at sf0.1 — 8 md5s per exploded row inside one codegen stage beat 8
    * per-permutation array materializations per doc. This is the
    * compute-heavy half of the LSH pipeline; persist it once per corpus
    * (graft.index.DedupSignatures) and every downstream pair mining /
    * clustering / split pass reuses it. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 8): DataFrame = {
    val aggs = (0 until numPerms).map { p =>
      min(substring(md5(concat(lit(s"${p / 4}:"), col("shingle"))),
        (p % 4) * 8 + 1, 8)).as(s"mh$p")
    }
    shingles(docs, idCol, textCol, shingleLen)
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs from an ALREADY-MATERIALIZED signature table
    * ([[minHashSignatures]] — a parquet artifact or a checkpointed frame;
    * the three consumers here re-scan it, so passing the raw signature
    * expression would recompute the md5 pipeline per consumer). Docs
    * sharing any band (bands of `rowsPerBand` signature rows) pair up,
    * verified with the MinHash similarity estimate (#agreeing perms /
    * perms). Returns (a, b, est_sim), a < b. */
  def lshPairsFromSignatures(sigs: DataFrame, idCol: String,
      numPerms: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    val numBands = numPerms / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"), concat(cols: _*).as("band_val"))
    }
    val exploded = sigs.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_val"))
    val l = exploded.select(col(idCol).as("a"), col("band_id"), col("band_val"))
    val r = exploded.select(col(idCol).as("b"), col("band_id"), col("band_val"))
    val cand = l.join(r, Seq("band_id", "band_val")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    val sa = sigs.toDF(sigs.columns.map(c => if (c == idCol) "a" else s"a_$c").toIndexedSeq: _*)
    val sb = sigs.toDF(sigs.columns.map(c => if (c == idCol) "b" else s"b_$c").toIndexedSeq: _*)
    val agree = (0 until numPerms)
      .map(p => when(col(s"a_mh$p") === col(s"b_mh$p"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        (agree.cast(DoubleType) / lit(numPerms.toDouble)).as("est_sim"))
  }

  /** LSH candidate pairs end-to-end: docs sharing any band (bands of
    * `rowsPerBand` signature rows), with the MinHash similarity estimate
    * (#agreeing perms / perms). Returns (a, b, est_sim), a < b. One-shot
    * form — signatures are computed inline and localCheckpoint'ed for the
    * three consumers (band explode + both verify sides). Pipelines that
    * mine pairs more than once per corpus should build the signature
    * ARTIFACT instead (graft.index.DedupSignatures) and call
    * [[lshPairsFromSignatures]]. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    val sigs = minHashSignatures(docs, idCol, textCol, shingleLen, numPerms)
      .localCheckpoint()
    lshPairsFromSignatures(sigs, idCol, numPerms, rowsPerBand)
  }

  /** 64-bit SimHash over whitespace tokens, returned as a 16-hex-char-derived
    * bit string ('0'/'1' × 64, MSB first). Bit j of token t = bit j of
    * md5(t)'s first 16 hex chars; simhash bit = majority vote. */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    val h = md5(col("tok"))
    // per hex position (0..15), the nibble value 0..15
    val nibbleVals = (0 until 16).map { pos =>
      (unhexDigit(substring(h, pos + 1, 1))).as(s"nib$pos")
    }
    val withNibs = tokens.select(col(idCol) +: nibbleVals: _*)
    // each nibble contributes 4 bits; vote = sum(+1/-1)
    val votes = (0 until 64).map { bit =>
      val pos = bit / 4
      val bitInNib = 3 - (bit % 4) // MSB first within the nibble
      val bitVal = shiftright(col(s"nib$pos"), bitInNib) % 2
      sum(when(bitVal === 1, 1).otherwise(-1)).as(s"v$bit")
    }
    val voted = withNibs.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val bitChars = (0 until 64).map(b => when(col(s"v$b") > 0, "1").otherwise("0"))
    voted.select(col(idCol), concat(bitChars.map(lit0 => lit0.cast(StringType)): _*).as("simhash"))
  }

  /** Hex digit '0'..'f' → 0..15 via position arithmetic (portable; no conv()). */
  private def unhexDigit(c: Column): Column =
    (instr(lit("0123456789abcdef"), c) - 1).cast(IntegerType)

  /** Exact n-gram Jaccard similarity for all candidate pairs that share at
    * least one shingle. Returns (a, b, jaccard), a < b.
    *
    * `maxShingleDocFreq` is the skew guard for the self-join: one hot
    * boilerplate shingle appearing in d documents alone produces O(d²)
    * candidate pairs; capping document frequency bounds the per-key join
    * fan-out. Set sizes are computed AFTER the cap, so jaccard stays a
    * consistent similarity over the retained (rare) shingle space. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minJaccard: Double = 0.0,
      maxShingleDocFreq: Int = Int.MaxValue): DataFrame =
    // the exploded shingle table feeds the hot-list aggregate, the cap
    // anti-join, the per-doc set sizes, and both sides of the pair join —
    // materialize the (CPU-heavy) explode exactly once. The persistent
    // form of that materialization is graft.index.ShingleIndex: a
    // shingle-BUCKETED table the self-join and shingle-keyed aggregates
    // read exchange-free (a localCheckpoint cannot carry partitioning
    // through the aliased join branches).
    ngramJaccardPairsFromShingles(
      hashedShingles(docs, idCol, textCol, shingleLen).localCheckpoint(),
      idCol, minJaccard, maxShingleDocFreq)

  /** [[ngramJaccardPairs]] from an already-materialized hashed-shingle
    * table. `knownDocCount` is any UPPER BOUND on the distinct-doc count
    * (e.g. the source table's parquet row count — a footer-only job): with
    * it supplied, the broadcast-size decision needs no extra scan and the
    * per-doc counts stay FUSED in the plan (no checkpoint materialization —
    * the map-side aggregate over the bucketed artifact is cheap to compute
    * once per join side, and at small n the checkpoint's job overhead costs
    * more than the fusion saves). */
  def ngramJaccardPairsFromShingles(sh0: DataFrame, idCol: String,
      minJaccard: Double = 0.0,
      maxShingleDocFreq: Int = Int.MaxValue,
      knownDocCount: Option[Long] = None): DataFrame = {
    val capped =
      if (maxShingleDocFreq == Int.MaxValue) sh0
      else {
        // The hot-shingle list is tiny (at most totalShingleRows/cap distinct
        // values, in practice a handful of boilerplate phrases), so compute it
        // with a map-side-combined aggregate and broadcast-anti-join it away.
        // This shuffles only per-partition partial counts — a window count
        // here would shuffle the ENTIRE exploded shingle table by shingle
        // before filtering. At a scale where even the hot list outgrows a
        // broadcast, drop the hint and AQE falls back to a shuffle join.
        val hot = sh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxShingleDocFreq)
          .select(col("shingle"))
        sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    // downstream consumers re-run only the cheap broadcast anti-join over
    // the checkpointed explode, never the explode itself
    val sh = capped
    // Per-doc set sizes, materialized once (the checkpoint also yields the
    // exact row count for the broadcast decision). The candidate-pair
    // stream out of the self-join is the BIG side — ~sum(df²)/2 rows (113M
    // at the sf10 cut) — and the two set-size joins used to reshuffle it
    // twice (by a, then by b). One count row is ~24 bytes, so up to the
    // 128 MB-per-copy bar (two aliased copies ⇒ ≤ 256 MB total, q88's
    // arm) the joins broadcast and the pair stream never moves again:
    // measured 27.8 → 10.2 s on the sf10 decomposition (ProfileJaccard).
    // Past the bar — billions of docs — sort-merge is the right plan and
    // the hint must not fire.
    val counts0 = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val (counts, nDocs) = knownDocCount match {
      case Some(n) => (counts0, n) // upper bound: safe for the size decision
      case None =>
        val c = counts0.localCheckpoint()
        (c, c.count())
    }
    def cside(d: DataFrame): DataFrame =
      if (nDocs * 24L <= 128L * 1024 * 1024) broadcast(d) else d
    val a = sh.select(col(idCol).as("a"), col("shingle"))
    val b = sh.select(col(idCol).as("b"), col("shingle"))
    val inter = a.join(b, "shingle").where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(cside(counts.select(col(idCol).as("a"), col("n").as("n_a"))), "a")
      .join(cside(counts.select(col(idCol).as("b"), col("n").as("n_b"))), "b")
      .select(col("a"), col("b"),
        (col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType)).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Seeded random hyperplanes for vector LSH, as integer grids over 1024 —
    * n/1024 is exactly representable in FLOAT and in decimal SQL, so both
    * engines compute bit-identical projections. */
  def hyperplaneInts(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Int]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextInt(2001) - 1000))
  }

  /** Random-hyperplane (sign-random-projection) LSH near-dup candidates over
    * an embedding column (Charikar 2002): bit b = sign(v · h_b); vectors
    * sharing any band of consecutive bits are candidates, verified with the
    * exact cosine distance. The banded equi-join keeps this all-pairs-free —
    * the vector-space sibling of the MinHash pipeline, and the LSH-bucketed
    * alternative to the IVF/HNSW index paths. Returns (a, b, dist), a < b. */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 16, rowsPerBand: Int = 8, maxDist: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    require(nPlanes % rowsPerBand == 0, "nPlanes must divide into bands")
    val nonNull = df.where(col(vecCol).isNotNull)
    val dimRow = nonNull.select(size(col(vecCol))).head(1)
    if (dimRow.isEmpty) { // empty/all-null input → empty result, not a crash
      return df.where(lit(false))
        .select(col(idCol).as("a"), col(idCol).as("b"), lit(0.0).as("dist"))
    }
    // signatures feed the band explode AND the verify join-back: materialize
    // once (same reasoning as minHashLshPairs)
    val sig = nonNull
      .select(col(idCol), col(vecCol),
        lshSignatureBits(vecCol, dimRow(0).getInt(0), nPlanes, seed).as("sig"))
      .localCheckpoint()
    // bands carry only (id, band key) — vectors stay out of the shuffle
    val exploded = lshBandExplode(sig, idCol, nPlanes, rowsPerBand)
    val l = exploded.toDF("a", "band_id", "band_val")
    val r = exploded.toDF("b", "band_id", "band_val")
    val cand = l.join(r, Seq("band_id", "band_val")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct() // dedup multi-band collisions FIRST
    val va = sig.select(col(idCol).as("a"), col(vecCol).as("va"))
    val vb = sig.select(col(idCol).as("b"), col(vecCol).as("vb"))
    cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        graft.functions.vector.array_cosine_distance(col("va"), col("vb")).as("dist"))
      .where(col("dist") <= maxDist) // exact verify once per distinct pair
  }

  /** The concatenated sign-bit string of `nPlanes` seeded hyperplane
    * projections — [[embeddingLshPairs]]'s signature column, shared with
    * [[lshBandKeys]]. One fused expression (graft.functions
    * .LshSignatureBits), bit-identical to the former per-plane
    * CASE WHEN concat but ~200x faster past the whole-stage codegen cliff
    * the auto geometry's 40+ plane counts fell off (67 s of a 70 s 200k-row
    * q88 run was this column — ProfileLsh decomposition). */
  private def lshSignatureBits(vecCol: String, dim: Int, nPlanes: Int,
      seed: Long): Column =
    graft.functions.LshSignatureBits.column(col(vecCol),
      hyperplaneInts(dim, nPlanes, seed))

  /** Explode a `sig` bit-string column into (id, band_id, band_val) rows —
    * the banded equi-join keys. */
  private def lshBandExplode(sig: DataFrame, idCol: String, nPlanes: Int,
      rowsPerBand: Int): DataFrame = {
    val nBands = nPlanes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        substring(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("band_val"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_val"))
  }

  /** The (id, band_id, band_val) join keys [[embeddingLshPairs]] buckets
    * on, exposed for probes: candidate volume is Σ c·(c−1)/2 over the
    * bucket sizes of this frame — one groupBy, no join — and its bucket
    * histogram is the skew evidence behind geometry choices. */
  def lshBandKeys(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 16, rowsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    require(nPlanes % rowsPerBand == 0, "nPlanes must divide into bands")
    val nonNull = df.where(col(vecCol).isNotNull)
    val dimRow = nonNull.select(size(col(vecCol))).head(1)
    if (dimRow.isEmpty)
      return df.where(lit(false)).select(col(idCol),
        lit(0).as("band_id"), lit("").as("band_val"))
    val sig = nonNull.select(col(idCol),
      lshSignatureBits(vecCol, dimRow(0).getInt(0), nPlanes, seed).as("sig"))
    lshBandExplode(sig, idCol, nPlanes, rowsPerBand)
  }

  /** Signature geometry for [[embeddingLshPairsAuto]]: bits per band sized so
    * the EXPECTED bucket occupancy stays near `targetBucketRows` — the
    * smallest r with 2^r >= n / target gives n / 2^r <= target for every n,
    * so the banded candidate join's volume is O(n * target) instead of the
    * n^2 / 2^r a fixed geometry degrades to once n >> 2^r. Deterministic in
    * n, so a replay over the same snapshot reproduces the same pairs.
    *
    * Computed INTEGRALLY as bit-length((n-1) / target): for integer m,
    * m >= n/target iff m >= ceil(n/target), so the smallest power of two is
    * 2^bitlen(ceil(n/target) - 1) and ceil(n/target) - 1 = (n-1) / target
    * (integer division). The SQL oracles replay the identical integer
    * formula (`greatest(8, length(bin((n-1) // target)))`) — no
    * floating-point log on either side, so an n where n/target lands on a
    * power of two cannot flip r between engines (round-15 advice: the old
    * ceil(ln/ln) vs DuckDB's ceil(log2) could disagree by 1 there). */
  def lshGeometry(n: Long, targetBucketRows: Int = 32): Int = {
    val m = if (n <= 1) 0L else (n - 1) / targetBucketRows
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.max(8, bitLen)
  }

  /** Geometry-from-n variant of [[embeddingLshPairs]] — the scale shape.
    *
    * The fixed-parameter form has a structural ceiling: b bands of r sign
    * bits hash into at most b * 2^r buckets, so once n >> 2^r candidate
    * volume grows as n^2 / 2^r — quadratic at ANY fixed geometry (measured
    * on the sf0.1 -> sf1 scale-up: 2k -> 20k rows at r=8 grew the candidate
    * join ~100x for 10x data). This variant holds expected bucket occupancy
    * near `targetBucketRows` via [[lshGeometry]], so candidates — and the
    * exact-cosine verify behind them — grow linearly with n. Longer bands
    * cost per-band recall (P[cand] = 1 - (1 - p^r)^b, Charikar 2002);
    * `nBands` is the buy-it-back knob, and because every emitted pair is
    * verified with the exact distance, geometry only moves recall, never
    * precision. The count() is one null-filtered scan of the vector column's
    * presence — O(rows), no vector bytes shuffled. */
  def embeddingLshPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 4, targetBucketRows: Int = 32, maxDist: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    val n = df.where(col(vecCol).isNotNull).count()
    val rowsPerBand = lshGeometry(n, targetBucketRows)
    embeddingLshPairs(df, idCol, vecCol, nPlanes = nBands * rowsPerBand,
      rowsPerBand = rowsPerBand, maxDist = maxDist, seed = seed)
  }

  /** OUTPUT-BOUNDED embedding-LSH near-dup mining — the run-at-every-decade
    * form of [[embeddingLshPairsAuto]].
    *
    * The auto-geometry miner bounds CANDIDATE volume (expected bucket
    * occupancy held near a constant) but not OUTPUT: at a loose `maxDist`
    * on dup-dense data its result set is the true pair count, which grows
    * quadratically in cluster size (the sf10 fixture reads ~1.1e9 rows —
    * un-runnable, and not what a 100 TB user wants anyway; they cap). Two
    * deterministic caps make every stage linear in n:
    *
    *  1. WITHIN each LSH band bucket, a row pairs only with its
    *     `bucketCap` id-successors (members sorted by id, generated by a
    *     higher-order slice — never the c² bucket self-join, so one hot
    *     bucket of c rows costs c·bucketCap, not c²). Dense dup clusters
    *     stay discoverable: successor pairs chain through the cluster.
    *  2. PER ANCHOR, only the k best verified pairs survive — the
    *     reference's own k-bounding pattern for its similarity macros
    *     (reference src/hnsw/hnsw_index_macros.cpp:25-29 keeps k best via
    *     `min_by`), ties broken by (dist, b).
    *
    * Candidates ≤ n·bands·bucketCap, output ≤ n·k, one bucket-key shuffle —
    * runnable at any decade. Returns (a, b, dist), a < b by construction
    * (successors have larger ids). */
  def embeddingLshPairsTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 3, bucketCap: Int = 8, nBands: Int = 4,
      targetBucketRows: Int = 32, maxDist: Double = 0.5,
      seed: Long = 42L, knownCount: Option[Long] = None): DataFrame = {
    val nonNull = df.where(col(vecCol).isNotNull)
    val dimRow = nonNull.select(size(col(vecCol))).head(1)
    if (dimRow.isEmpty) {
      return df.where(lit(false))
        .select(col(idCol).as("a"), col(idCol).as("b"), lit(0.0).as("dist"))
    }
    // the geometry decision needs only n; a pipeline caller that already
    // holds the non-null row count passes it through `knownCount` and the
    // aggregate-only pre-scan disappears (round-15 ask)
    val n = knownCount.getOrElse(nonNull.count())
    val rowsPerBand = lshGeometry(n, targetBucketRows)
    val nPlanes = nBands * rowsPerBand
    val sig = nonNull
      .select(col(idCol), col(vecCol),
        lshSignatureBits(vecCol, dimRow(0).getInt(0), nPlanes, seed).as("sig"))
      .localCheckpoint()
    // per-bucket id-sorted member lists; a bucket row is O(members), and
    // successor pairs are emitted by slicing — linear in bucket size
    val buckets = lshBandExplode(sig, idCol, nPlanes, rowsPerBand)
      .groupBy(col("band_id"), col("band_val"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val cand = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        // element at 0-based i pairs with its bucketCap successors
        // (1-based slice start i+2); slice truncates past the end
        transform(slice(col("ids"), i + lit(2), lit(bucketCap)),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct() // a pair can collide in several bands
    // Verify join-back: the candidate stream is ~n·bands·cap FAT rows once
    // it picks up two 64-float vectors — when the (id, vector) side fits an
    // executor (n·rowBytes under ~256 MB), broadcasting it turns both
    // join-backs map-side and the candidates never shuffle their vectors
    // (measured ~2x on the 200k fixture). Past that size the sort-merge
    // join is the right 100 TB plan and the hint must not fire — same
    // size-aware arm pattern as the connected-components threshold.
    // ONE (id, vec) frame joined under two aliases (identical canonicalized
    // subplans give ReuseExchange its chance), and the hint threshold is
    // HALVED to 128 MB: the two join keys differ, so the planner may still
    // materialize two hash relations — the bound that must hold is
    // Σ(broadcast copies) <= 256 MB per executor, not per-copy
    // (round-15 advice: the old two-frame form shipped up to 2 × 256 MB at
    // the threshold boundary).
    val rowBytes = dimRow(0).getInt(0) * 4L + 24L
    val vecs0 = sig.select(col(idCol).as("__vid"), col(vecCol).as("__vvec"))
    val vecs =
      if (n * rowBytes <= 128L * 1024 * 1024) broadcast(vecs0) else vecs0
    val verified = cand
      .join(vecs.as("vl"), col("a") === col("vl.__vid"))
      .join(vecs.as("vr"), col("b") === col("vr.__vid"))
      .select(col("a"), col("b"),
        graft.functions.vector.array_cosine_distance(
          col("vl.__vvec"), col("vr.__vvec")).as("dist"))
      .where(col("dist") <= maxDist)
    verified
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("dist"), col("b"))))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Embedding near-dup through a registered ANN index — the 100TB path:
    * the index broadcast is shard paths + delta (tiny), the outer side
    * streams partition-parallel with no shuffle, and per row only k=2
    * candidates come back (self + nearest other). Exact when the index ef
    * covers the table. Returns (a, b, dist): each row's nearest OTHER row,
    * kept when within `maxDist`. */
  def embeddingNearDupViaIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, idCol: String, indexName: String, maxDist: Double): DataFrame = {
    val entry = graft.index.IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
    val t = spark.table(table)
    val outer = t.select(col(idCol).as("a"), col(entry.column).as("__qv"))
      .where(col("__qv").isNotNull)
    graft.Graft.knnJoin(spark, outer, "__qv", indexName, 2)
      .where(col("a") =!= col(idCol)) // drop the self-match whatever its rank
      .select(col("a"), col(idCol).as("b"), col("dist"))
      // duplicate vectors can leave BOTH k=2 candidates as others; keep the
      // single best per row deterministically (ties by (dist, b))
      .groupBy(col("a"))
      .agg(graft.functions.MinByK.minByK(
        struct(col("dist"), col("b")), col("dist"), 1).as("best"))
      .select(col("a"), col("best").getItem(0).getField("b").as("b"),
        col("best").getItem(0).getField("dist").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Embedding near-dup: for every row, its nearest *other* row by cosine
    * distance; pairs under `maxDist` are near-duplicates. Brute-force
    * (crossJoin+minByK, one bounded shuffle) — correctness baseline and
    * small-table path; `embeddingNearDupViaIndex` is the scale path.
    * Returns (a, b, dist) with a's nearest b. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      maxDist: Double): DataFrame = {
    val l = df.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = df.select(col(idCol).as("b"), col(vecCol).as("vb"))
    val scored = l.crossJoin(broadcast(r)).where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        graft.functions.vector.array_cosine_distance(col("va"), col("vb")).as("dist"))
    scored.groupBy(col("a"))
      .agg(graft.functions.MinByK.minByK(
        struct(col("dist"), col("b")), col("dist"), 1).as("best"))
      .select(col("a"), col("best").getItem(0).getField("b").as("b"),
        col("best").getItem(0).getField("dist").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Embedding-space outlier scores: each row's distance to its k-th
    * nearest OTHER row — small score = dense cluster member, large score =
    * isolated point. The standard kNN-distance outlier signal for
    * embedding-space quality filtering of training corpora.
    *
    * Runs through the index KNN join (broadcast index, shuffle-free outer):
    * fetch k+1 neighbors (self may or may not appear under duplicate
    * vectors), drop self, rank the rest by (dist, id) and keep rank k.
    * One window over at most (k+1) rows per key — outer×(k+1) total. */
  def knnOutlierScores(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String, indexName: String, k: Int): DataFrame = {
    val entry = graft.index.IndexCatalog.get(indexName)
      .getOrElse(throw new IllegalArgumentException(s"no HNSW index named $indexName"))
    val t = spark.table(table)
    val outer = t.select(col(idCol).as("__qid"), col(entry.column).as("__qv"))
      .where(col("__qv").isNotNull)
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("dist"), col(idCol))
    graft.Graft.knnJoin(spark, outer, "__qv", indexName, k + 1)
      .where(col("__qid") =!= col(idCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === k)
      .select(col("__qid").as(idCol), col("dist").as("outlier_score"))
  }

  /** Hamming distance between two [[simHash]] fingerprints ('0'/'1' × 64
    * bit strings): count of differing positions. Pure codegen column
    * algebra over a 64-slot HOF — integer result, so engine/oracle parity
    * is exact by construction. */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(
      transform(sequence(lit(1), lit(64)),
        i => when(a.substr(i, lit(1)) =!= b.substr(i, lit(1)), 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /** [[simHash]] plus the fingerprint packed into two 64-bit words —
    * the column layout the banded pair join and its codegen'd
    * xor+bit_count verify need, and the build expression of the SimHash
    * ARTIFACT (graft.index.SimHashIndex). */
  def simHashPacked(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simHash(docs, idCol, textCol)
      .select(col(idCol), col("simhash"),
        conv(substring(col("simhash"), 1, 32), 2, 10).cast(LongType).as("__h0"),
        conv(substring(col("simhash"), 33, 32), 2, 10).cast(LongType).as("__h1"))

  /** Near-dup lookup by document: the k fingerprints nearest to `queryId`'s
    * SimHash by Hamming distance. The query row's 64-char hash is a 1-row
    * broadcast; scoring is a narrow pass over the fingerprint table and the
    * top-k is a TakeOrderedAndProject — no shuffle of the corpus. Ranks
    * deterministically by (hamming, id). */
  def simHashTopK(docs: DataFrame, idCol: String, textCol: String,
      queryId: Column, k: Int): DataFrame =
    // materialize the fingerprints once: the query-hash branch and the
    // scoring pass would otherwise each re-run the 64-vote aggregation
    simHashTopKFromFingerprints(
      simHash(docs, idCol, textCol).localCheckpoint(), idCol, queryId, k)

  /** [[simHashTopK]] from an already-materialized fingerprint table (a
    * SimHashIndex artifact or a checkpointed frame). */
  def simHashTopKFromFingerprints(hashes: DataFrame, idCol: String,
      queryId: Column, k: Int): DataFrame = {
    val q = hashes.where(col(idCol) === queryId)
      .select(col("simhash").as("__qhash"))
    hashes.crossJoin(broadcast(q))
      .select(col(idCol), hammingDist(col("simhash"), col("__qhash")).as("hamming"))
      .orderBy(col("hamming"), col(idCol)).limit(k)
  }

  /** All fingerprint pairs within `maxHamming` bit flips, via banded
    * blocking: split the 64-bit SimHash into `bands` equal substrings and
    * equi-join on (band index, band value) — any pair differing in at most
    * `bands - 1` bits shares at least one identical band (pigeonhole), so
    * with the default 4 bands the result is COMPLETE for maxHamming <= 3.
    * Exact Hamming is then verified once per distinct candidate pair.
    *
    * Scale shape: identical to MinHash LSH — the only shuffles are the
    * per-doc fingerprint aggregation and the band equi-join, whose fan-out
    * is the collision set, never n². Returns (a, b, hamming), a < b. */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame =
    // one fingerprint pass feeds both join sides and the verify — without
    // this the self-join recomputes the 64-vote aggregation per branch;
    // the persistent form is the SimHashIndex artifact
    simHashNearDupPairsFromFingerprints(
      simHashPacked(docs, idCol, textCol).localCheckpoint(),
      idCol, maxHamming, bands)

  /** [[simHashNearDupPairs]] from an already-materialized PACKED
    * fingerprint table ([[simHashPacked]] — id, simhash, __h0, __h1). The
    * packing matters because boilerplate text makes band buckets SKEWED
    * (one hot band value can carry hundreds of docs → candidate pairs in
    * the hundreds of thousands), and the verify must stay codegen'd
    * integer algebra — xor+bit_count — rather than an interpreted 64-slot
    * string fold (HOF lambdas don't codegen). */
  def simHashNearDupPairsFromFingerprints(hashes: DataFrame, idCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      hotBucketMin: Int = 64): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming <= bands - 1,
      s"banded blocking is only complete for maxHamming <= bands-1 " +
        s"(got maxHamming=$maxHamming, bands=$bands): raise bands")
    val w = 64 / bands
    val banded = hashes.select(col(idCol), col("__h0"), col("__h1"),
      posexplode(array((0 until bands).map(b =>
        substring(col("simhash"), b * w + 1, w)): _*)).as(Seq("band", "bandval")))
    // Cold-bucket path: band equi-join with the Hamming verify INSIDE the
    // join's codegen'd output stream (the original formulation ran a
    // distinct on the raw candidate pairs first, shuffling the full
    // collision volume). For the common high-entropy corpus (band buckets
    // of a handful of rows) this is optimal: no aggregation state, pure
    // streaming codegen.
    def joinPath(b: DataFrame): DataFrame = {
      val l = b.select(col(idCol).as("a"), col("__h0").as("a0"),
        col("__h1").as("a1"), col("band"), col("bandval"))
      val r = b.select(col(idCol).as("b"), col("__h0").as("b0"),
        col("__h1").as("b1"), col("band"), col("bandval"))
      l.join(r, Seq("band", "bandval"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"),
          (bit_count(col("a0").bitwiseXOR(col("b0"))) +
            bit_count(col("a1").bitwiseXOR(col("b1")))).cast(IntegerType)
            .as("hamming"))
        .where(col("hamming") <= maxHamming)
    }
    if (hashes.schema(idCol).dataType != LongType)
      return joinPath(banded).distinct()
    // Hot-bucket path: a LOW-ENTROPY fingerprint corpus concentrates band
    // values (200k audio clips whose 16-bit band values live in a
    // ~225-value space → ~900-row buckets → ~350M joined rows to keep
    // ~700 pairs, 54 s of wall even with the verify inlined — emitting a
    // joined row costs ~100 ns where the raw xor+bit_count costs ~1 ns).
    // Buckets with more than `hotBucketMin` members are aggregated once
    // and compared pairwise over primitive long arrays in-task, pairs
    // emitted lazily (task memory = the bucket's 24 B/row arrays, never
    // the candidate or output volume); everything else streams through
    // the join. A pair sharing hot AND cold buckets is verified in both
    // paths — the final distinct over actual matches dedupes it. Skew
    // bound: a hot bucket costs O(c²) comparisons in one task under
    // EITHER strategy (the join hashes equal keys to one partition too);
    // the local loop just pays ~100x less per comparison.
    val sizes = banded.groupBy(col("band"), col("bandval"))
      .agg(count(lit(1)).as("__c"))
    val sized = banded.join(sizes, Seq("band", "bandval"))
    val cold = joinPath(sized.where(col("__c") <= hotBucketMin).drop("__c"))
    val outSchema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false)))
    val hot = sized.where(col("__c") > hotBucketMin)
      .groupBy(col("band"), col("bandval"))
      .agg(collect_list(struct(col(idCol), col("__h0"), col("__h1"))).as("__m"))
      .select(col("__m"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val m = r.getSeq[Row](0)
          val n = m.length
          val ids = new Array[Long](n)
          val h0 = new Array[Long](n)
          val h1 = new Array[Long](n)
          var i = 0
          while (i < n) {
            val e = m(i)
            ids(i) = e.getLong(0); h0(i) = e.getLong(1); h1(i) = e.getLong(2)
            i += 1
          }
          new Iterator[Row] {
            private var ii = 0
            private var jj = 0
            private var nextRow: Row = null
            private def advance(): Unit = {
              while (nextRow == null && ii < n - 1) {
                jj += 1
                if (jj >= n) { ii += 1; jj = ii + 1 }
                if (ii < n - 1 && jj < n) {
                  val d = java.lang.Long.bitCount(h0(ii) ^ h0(jj)) +
                    java.lang.Long.bitCount(h1(ii) ^ h1(jj))
                  if (d <= maxHamming && ids(ii) != ids(jj)) {
                    val (a, b) =
                      if (ids(ii) < ids(jj)) (ids(ii), ids(jj))
                      else (ids(jj), ids(ii))
                    nextRow = Row(a, b, d)
                  }
                }
              }
            }
            advance()
            def hasNext: Boolean = nextRow != null
            def next(): Row = {
              val r0 = nextRow; nextRow = null; advance(); r0
            }
          }
        }
      }(Encoders.row(outSchema))
    cold.unionByName(hot).distinct()
  }
}
