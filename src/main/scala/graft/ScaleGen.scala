package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the scaling-shape record: replicates the driver's
  * sf0.1 tables `copies`× into a new sf directory with the key spaces kept
  * DISJOINT and the within-copy structure intact, so every query family's
  * work grows linearly by construction:
  *
  *  - fact keys shift by `copy * 10^10` (customer/orders/lineitem keys
  *    co-shift, so joins match within a copy exactly as at sf0.1);
  *  - dimension tables (region/nation/supplier/part) stay single-copy —
  *    fact-only scaling, like growing a cluster's data under fixed
  *    reference data; dim joins fan out 10× per key, linearly;
  *  - document text is word-suffixed per copy (every shingle differs
  *    across copies, so MinHash/Jaccard/SimHash miners see each copy as
  *    fresh material and pair volume scales LINEARLY with the planted
  *    structure — naive replication would make every row a 10-way
  *    near-dup and explode pair mining quadratically, measuring the
  *    fixture, not the plan); n_chars is recomputed from the new text;
  *  - embeddings transform by a copy-specific SIGNED PERMUTATION of the
  *    dimensions (seeded per copy): an orthogonal map, so within-copy L2
  *    distances, inner products, AND cosine similarities are preserved
  *    bit-for-bit (a float negation or reorder loses no bits). The first
  *    cut used a constant-vector translation — which preserves L2 but
  *    DESTROYS cosine structure (every vector in a shifted copy points
  *    roughly along the shift, so ~91% of within-copy pairs fell inside
  *    q32's 0.8 cosine-distance threshold vs 5.5% in the real data — the
  *    sf1 record was measuring that degenerate fixture, not the plans).
  *    Cross-copy pair density under a signed permutation was MEASURED at
  *    the data's own base rate (5.5% at sim >= 0.2, exactly the
  *    within-copy rate), i.e. copies look like fresh samples from the
  *    same distribution — the faithful scale-up. Consequence to read the
  *    record by: loose-threshold pair miners (q32 at cosine-dist 0.8)
  *    have OUTPUT quadratic in n on this distribution, so their cost
  *    ratio tracks their output ratio (output-sensitive), while
  *    tight-threshold and top-k ops (q28's k=1 probes, the index
  *    searches) stay linear — cross-copy similarity never reaches their
  *    thresholds (measured max 0.564 at sf0.1).
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <destDir> [copies]`. */
object ScaleGen {
  /** Copy k's embedding transform: a seeded SIGNED PERMUTATION of the
    * dimensions — orthogonal, so within-copy geometry (L2, inner product,
    * cosine) is preserved bit-for-bit, while cross-copy similarity sits at
    * the data's own base rate (copies look like fresh samples from the same
    * distribution). Copy 0 is the identity. Shared by the fixture writer
    * and the in-memory scale probes so every scale record uses the SAME
    * transform. */
  def signedPermutation(emb: org.apache.spark.sql.Column, dim: Int,
      k: Int): org.apache.spark.sql.Column =
    if (k == 0) emb
    else {
      val rnd = new scala.util.Random(k.toLong * 7919L)
      val perm = rnd.shuffle((0 until dim).toIndexedSeq)
      val signs = IndexedSeq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      array((0 until dim).map { j =>
        (emb.getItem(perm(j)) * signs(j)).cast("float")
      }: _*)
    }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "scale_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SessionTuning.session(src)
    generate(spark, src, dest, copies)
    spark.stop()
    println(s"[scale] wrote $dest ($copies copies of $src)")
  }

  /** The fixture writer proper, callable in-session (TimingScaleSpec regens
    * a scale fixture inside the shared test session — `main` would stop
    * it). */
  def generate(spark: SparkSession, src: String, dest: String,
      copies: Int): Unit = {
    val stride = 10_000_000_000L

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$dest/$name.parquet").count()} rows")
    }
    def replicate(name: String)(copyK: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(name)
      write(name, (0 until copies).map(k => copyK(base, k)).reduce(_ unionAll _))
    }

    // dimensions: verbatim single copy
    Seq("region", "nation", "supplier", "part").foreach(n => write(n, read(n)))

    replicate("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * stride))
    }
    replicate("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * stride))
        .withColumn("o_custkey", col("o_custkey") + lit(k * stride))
    }
    replicate("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * stride))
    }
    replicate("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * stride))
        .withColumn("user_id", col("user_id") + lit(k * stride))
    }
    replicate("documents") { (df, k) =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), w => concat(w, lit(k.toString))),
          " ")
      df.withColumn("doc_id", col("doc_id") + lit(k * stride))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val dim = read("embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    replicate("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * stride))
        .withColumn("embedding", signedPermutation(col("embedding"), dim, k))
    }
  }
}
