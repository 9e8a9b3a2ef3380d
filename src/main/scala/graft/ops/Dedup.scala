package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SparkUtil.materialize

/** Deduplication operators over the `documents` table — exact, MinHash+LSH,
  * SimHash (banded), n-gram Jaccard. All pure `functions._` (codegen'd, no
  * UDFs) and all mirrored 1:1 by DuckDB oracle SQL in SparkEntry.
  *
  * Scale notes:
  *  - every variant is shuffle-bounded by (doc, shingle/band) exploded rows,
  *    never by O(n²) pairs; candidate pairs only materialize inside a bucket
  *    (LSH band / simhash byte / shared shingle with a DF cap);
  *  - the `MaxShingleDf` frequency cap kills the hot-shingle skew ("the the
  *    the") that would otherwise square inside the shingle join.
  */
object Dedup {
  val ShingleLen = 3
  val MaxShingleDf = 100       // drop shingles appearing in more docs (skew cap)
  val JaccardThreshold = 0.5
  val MinhashBands = 4         // 4 bands × 2 rows = 8 minhash functions
  val SimhashBits = 32
  val SimhashMaxHamming = 2 // tight: the tiny synthetic vocab makes signatures cluster
  /** max docs per (band, byte) bucket — buckets larger than this are skipped
    * (standard LSH hot-bucket cap; same motive as MaxShingleDf). Signatures
    * cluster on this synthetic vocab, and an uncapped bucket join is
    * quadratic inside each hot bucket at scale.
    */
  val MaxSimhashBucket = 100

  def docsDf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def toks: Column = split(col("text"), "\\s+")

  /** exact dedup: hash-groupBy on the full text (map-side partial agg). */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    docsDf(spark, sfDir)
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** distinct (doc_id, shingle) pairs, hot shingles capped. */
  def shingles(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docsDf(spark, sfDir)
      .select(col("doc_id"), toks.as("t"))
      .where(size(col("t")) >= ShingleLen)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("t")) - ShingleLen), i =>
          array_join(slice(col("t"), i + 1, lit(ShingleLen)), " "))).as("shingle"))
      .distinct()
    val hot = base.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > MaxShingleDf).select("shingle")
    base.join(hot, Seq("shingle"), "left_anti")
  }

  /** n-gram Jaccard near-dup pairs (doc_a < doc_b, J ≥ threshold). */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), "shingle")
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
    materialize(out, sh)
  }

  /** per-doc MinHash signature: mh_k = min(md5(k || ':' || shingle)). */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val aggs = (0 until 2 * MinhashBands).map(k =>
      min(md5(concat(lit(k.toString), lit(":"), col("shingle")))).as(s"mh$k"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Production one-pass MinHash: the typed [[graft.functions.MinHashAgg]]
    * Aggregator over xxhash64 shingle hashes — k hash functions in one typed
    * pass (vs k md5 min() columns). Not DuckDB-expressible → the driver
    * oracle rides [[minhashSignatures]]; OpsSpec pins determinism,
    * repartition-invariance (merge path) and equal-doc collision.
    */
  def minhash64(spark: SparkSession, sfDir: String, k: Int = 2 * MinhashBands): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.MinHashAgg(k).toColumn
    shingles(spark, sfDir)
      .select(col("doc_id").cast("long"), xxhash64(col("shingle")))
      .as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(agg.name("sig"))
      .toDF("doc_id", "sig")
  }

  /** MinHash-LSH candidate pairs: docs sharing any band bucket
    * (band b = md5(mh_{2b} || mh_{2b+1})).
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = minhashSignatures(spark, sfDir)
    // single posexplode projection — NOT a union of per-band selects: each
    // union arm would recompute the whole shingle+minhash aggregation (no
    // exchange reuse across differing projections; the AliasDict.build trap).
    // Deliberately NOT cached: at data sizes where recompute would hurt, the
    // self-join is a sort-merge join on identical (band, bucket) exchanges
    // and ReuseExchange materializes the subtree once (steady-state ~5 s at
    // sf0.1; caching measured no better and breaks codegen fusion); only the
    // tiny-input AQE-broadcast case double-computes, where the subtree is
    // cheap anyway.
    val all = sig.select(col("doc_id"), posexplode(array((0 until MinhashBands).map(b =>
      md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))): _*)).as(Seq("band", "bucket")))
    all.as("a").join(all.as("b"), Seq("band", "bucket"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** 32-bit SimHash per doc: bit i = sign of Σ_tokens (±1 by the high bit of
    * hex digit i of md5(token)); token multiplicity counts.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val exploded = docsDf(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("tok"))
    // ±1 bit vectors as a per-DISTINCT-token dimension, broadcast back onto
    // the token stream: md5 + 32 substring compares run once per vocab word,
    // not once per token instance (Zipf: vocab ≪ instances — this was a 10×
    // CPU sink when evaluated per instance). The oracle SQL stays the
    // per-instance formulation; the two are algebraically identical.
    val dim = exploded.select("tok").distinct()
      .withColumn("h", md5(col("tok")))
      .select(col("tok") +: (0 until SimhashBits).map(i =>
        when(substring(col("h"), i + 1, 1) >= "8", 1).otherwise(-1).as(s"b$i")): _*)
    val bitSums = (0 until SimhashBits).map(i => sum(col(s"b$i")).as(s"s$i"))
    val summed = exploded.join(broadcast(dim), "tok")
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until SimhashBits)
      .map(i => when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ + _)
    summed.select(col("doc_id"), hash.as("simhash"))
  }

  /** Production-oriented 64-bit SimHash: one xxhash64 per token, bits sliced
    * from the integer — no hex strings anywhere. Not DuckDB-expressible
    * (xxhash64 is Spark-side), so the driver oracle rides [[simhash]]'s
    * md5 construction; OpsSpec pins this variant's structural properties
    * (band containment of identical docs) instead.
    */
  def simhash64(spark: SparkSession, sfDir: String): DataFrame = {
    val bits = 64
    val exploded = docsDf(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until bits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i"))
    val summed = exploded.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until bits)
      .map(i => when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    summed.select(col("doc_id"), hash.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs: candidate pairs come from shared
    * random-hyperplane LSH band buckets (Similarity.lshBands — never
    * all-pairs), then the exact cosine (native Catalyst expression, 6dp
    * rounded for cross-engine determinism) keeps pairs ≥ threshold. The
    * candidate generation is part of the operator contract (the DuckDB
    * oracle mirrors bands + join + filter), exactly like minhashLsh.
    */
  val EmbDupThreshold = 0.4 // synthetic embeddings: max pairwise cosine ~0.5-0.6

  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Fns
    val bands = Similarity.lshBands(Similarity.embDf(spark, sfDir))
    bands.as("a").join(bands.as("b"), Seq("band", "bucket"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(Fns.cosine_sim(col("a.embedding"), col("b.embedding")), 6).as("cosine"))
      .where(col("cosine") >= EmbDupThreshold)
      .distinct()
  }

  /** SimHash near-dup pairs via byte banding: candidates share a same-position
    * byte of the signature, then exact Hamming ≤ max.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // one posexplode projection (no union fan-out), cached: it feeds the
    // hot-bucket count and both self-join sides
    val bands = simhash(spark, sfDir)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBits / 8).map(k =>
          shiftright(col("simhash"), 8 * k).bitwiseAND(lit(255L))): _*))
          .as(Seq("band", "byte")))
      .cache()
    // skip overfull buckets: clustered signatures pile into a few byte-band
    // buckets and the pair join squares inside each — the cap bounds per-
    // bucket work at MaxSimhashBucket² regardless of corpus size
    val hot = bands.groupBy("band", "byte").agg(count(lit(1)).as("n"))
      .where(col("n") > MaxSimhashBucket).select("band", "byte")
    val capped = bands.join(broadcast(hot), Seq("band", "byte"), "left_anti")
    val out = capped.as("a").join(capped.as("b"), Seq("band", "byte"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // hamming filter BEFORE the distinct: candidates are pruned where they
      // are produced instead of paying the dedup shuffle first
      .where(col("hamming") <= SimhashMaxHamming)
      .distinct()
    materialize(out, bands)
  }

  /** Duplicate CLUSTERS — the end-step a real dedup pipeline runs after
    * candidate pairing: connected components over the MinHash-LSH pair graph
    * ([[minhashLsh]]), each cluster labeled by its minimum doc_id (the
    * canonical keeper a keep-one-per-cluster filter would retain). Only docs
    * participating in ≥ 1 near-dup pair appear (singletons are trivially
    * their own keeper).
    *
    * Reuses [[graft.kg.Canonical.connectedComponents]] — the alternating
    * star loop measured flat to 9.75M edges (BENCH/CC_BENCH.md) — over
    * zero-padded string ids so the component min-label agrees with numeric
    * min; the padding is stripped on output.
    */
  def clusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLsh(spark, sfDir)
    // pad width 20 > the 19 digits of Long.MaxValue: lpad TRUNCATES inputs
    // longer than the pad width, which would silently collapse distinct
    // 13+-digit ids under a narrower pad
    val edges = pairs.select(
      lpad(col("doc_a").cast("string"), 20, "0").as("src"),
      lpad(col("doc_b").cast("string"), 20, "0").as("dst"))
    val cc = graft.kg.Canonical.connectedComponents(edges)
    val labeled = cc.select(
      col("entity_id").cast("long").as("doc_id"),
      col("canonical_id").cast("long").as("cluster_id"))
      .persist()
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val out = labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
    materialize(out, labeled)
  }
}
