package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Fns
import graft.kg.GoldRef

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * - `cosineTopK`: brute-force exact top-k — the correctness baseline. The
  *   query set is broadcast; the big side is scanned once, ranked per query.
  * - `annLsh`: random-hyperplane LSH — the scale path. Signatures are
  *   computed in one scan (16 codegen'd CosineSimilarity calls against
  *   broadcast literal hyperplanes), candidates pair only within a band
  *   bucket, exact cosine re-ranks candidates. At 10^9 vectors the bucket
  *   join replaces the O(n·q) scan; recall is tunable via bands/bits.
  *
  * Cosine is the native Catalyst expression graft.functions.CosineSimilarity
  * (whole-stage codegen), not a UDF.
  */
object Similarity {
  val TopK = 10
  val QueryMod = 100 // vec_id % QueryMod == 0 → query vector
  val LshBits = 16
  val Dim = 64

  def embDf(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def queries(spark: SparkSession, sfDir: String): DataFrame =
    embDf(spark, sfDir).where(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))

  /** Exact top-k neighbors per query (cosine rounded to 6dp for
    * deterministic cross-engine ranking; ties broken by vec_id).
    */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embDf(spark, sfDir)
    val scored = e.crossJoin(broadcast(queries(spark, sfDir)))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Fns.cosine_sim(col("q"), col("embedding")), 6).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  /** Deterministic ±1 hyperplanes (md5-derived, shared with the DuckDB
    * oracle generator in SparkEntry).
    */
  private[graft] def hyperplane(h: Int): Array[Float] =
    Array.tabulate(Dim)(d => if (GoldRef.mdFrac(s"hp:$h:$d") < 0.5) 1f else -1f)

  /** bit h = sign of the hyperplane cosine, decided on the 6dp-ROUNDED value
    * so a DuckDB oracle computing the same rounded cosine makes identical
    * bit decisions (list_cosine_similarity matches the Catalyst expression
    * to <1e-6; the raw sign could differ inside that band).
    */
  private[ops] def signature(emb: Column): Column =
    (0 until LshBits).map { h =>
      when(round(Fns.cosine_sim(emb, typedlit(hyperplane(h))), 6) > 0, shiftleft(lit(1L), h))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: 4 bands × 4 bits (random vectors have weak neighbor
    * correlation, so narrow bands keep recall usable); exact cosine re-rank
    * inside the candidate set. Output shape matches cosineTopK.
    */
  // ------------------------------------------------------------------ IVF

  val IvfClusters = 32
  /** measured on the sf0.01 corpus (10 planted label clusters → weak
    * fine-grained neighbor structure): probes=10 × rep=2 is the knee of the
    * recall curve — recall@10 ≈ 0.85 vs brute force at ~60% effective scan;
    * single-assignment needed probes=16 (50% scan) for 0.84
    */
  val IvfProbes = 10
  /** each vector is indexed under its top-`IvfAssignRep` cells (standard IVF
    * replication / multi-assignment): boundary vectors — where recall dies —
    * become reachable from both adjacent probes at 2× index storage
    */
  val IvfAssignRep = 2
  val KmeansIters = 8

  /** 32 cosine scores against broadcast centroid literals, as one codegen'd
    * array of (score, cluster) structs. Scores are 6dp-ROUNDED before any
    * ordering decision — the same trick as the LSH signature bits — so the
    * DuckDB oracle computing round(list_cosine_similarity, 6) over the
    * STAGED centroids makes identical assignment/probe selections.
    */
  private[ops] def centroidScores(emb: Column, cents: Seq[Array[Float]]): Column =
    array(cents.zipWithIndex.map { case (c, k) =>
      struct(round(Fns.cosine_sim(emb, typedlit(c)), 6).as("s"), lit(k).as("k"))
    }: _*)

  // ---------------------------------------------- fast scoring (scan path)

  /** Spark `round(_, 6)` exactly (HALF_UP on the decimal form of the double)
    * — the rounding every assignment/probe decision goes through, shared
    * between the Catalyst-expression path and the mapPartitions scan path so
    * the two are bit-identical.
    */
  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** plain-loop mirror of [[graft.functions.CosineSimilarity]] — same
    * accumulation order, so the value is bit-identical to the expression
    */
  private def cosineLoop(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** top-`rep` clusters by (6dp-rounded score DESC, cluster id DESC) — the
    * exact ordering of `reverse(array_sort(scores))` over (s, k) structs in
    * [[centroidScores]] (struct sort is lexicographic, so the reverse breaks
    * score ties on the LARGER cluster id). OpsSpec pins loop == expression.
    *
    * This is the SCAN path for centroid scoring: the literal-array expression
    * is fine for the driver-sized router/query tables, but at corpus scale ×
    * large k the k-struct array construction per row dominates — a broadcast
    * centroid table + tight loop is the shape that survives 10^9 rows (the
    * same reasoning as the mention model broadcast).
    */
  private[ops] def topClustersLoop(emb: Array[Float], cents: Array[Array[Float]],
                                   rep: Int): Array[Int] = {
    val raw = new Array[Double](cents.length)
    var k = 0
    while (k < cents.length) {
      val c = cosineLoop(emb, cents(k))
      // NaN sorts GREATEST in Spark orderings (a corrupt embedding still gets
      // assigned by the expression path) — mirror that with a sentinel above
      // the cosine range instead of letting NaN fail every comparison below
      // (which would select an empty candidate set and crash the caller)
      raw(k) = if (java.lang.Double.isNaN(c)) 2.0 else c
      k += 1
    }
    // 6dp rounding moves a value by < 5e-7, so only clusters whose RAW score
    // is within 1e-5 of the rep-th best can change the rounded top-rep set
    // or order — round and sort just those few. (Both a BigDecimal per
    // (row, cluster) and a boxed full sort per row were measured bottlenecks
    // of the 1M-vector build: 128M setScale calls / 1M 128-way sorts per
    // scan. This path is a branchy two-pass selection over a double array.)
    val m = math.min(rep, raw.length)
    val top = Array.fill(m)(Double.NegativeInfinity)
    k = 0
    while (k < raw.length) {
      var v = raw(k)
      var i = 0
      while (i < m) {
        if (v > top(i)) { val t = top(i); top(i) = v; v = t }
        i += 1
      }
      k += 1
    }
    val thr = top(m - 1) - 1e-5
    val cand = scala.collection.mutable.ArrayBuffer.empty[Int]
    k = 0
    while (k < raw.length) { if (raw(k) >= thr) cand += k; k += 1 }
    cand.toArray.sortBy(k => (-round6(raw(k)), -k)).take(rep)
  }

  /** Seeded spherical k-means centroids, k = [[IvfClusters]]. Assignment runs as a broadcast +
    * mapPartitions scan ([[topClustersLoop]] — bit-identical to the literal
    * expression), and the update step aggregates per-partition partial
    * (cluster, dim) sums — k×(dim+1) values per task instead of a
    * posexplode shuffle of n×dim rows. Deterministic: init picks the k
    * vectors with the smallest md5(vec_id) (a seeded uniform sample),
    * averages are rounded to 6dp so partition/merge-order float noise
    * (~1e-13) can't flip an assignment, and argmax ties break on cluster id.
    * Index-build cost amortizes across queries — one live entry per
    * sfDir, replaced when the corpus signature changes.
    */
  private val centroidCache = new graft.core.Derived.Memo[Seq[Array[Float]]](_ => ())

  /** File-level corpus signature (names + sizes + mtimes of the embeddings
    * parquet — no data scan, [[graft.core.FileSig]]): an in-place
    * regeneration of the corpus under the same sfDir changes it,
    * superseding both the centroid slot and the on-disk IVF index marker.
    */
  private[ops] def corpusSig(sfDir: String): String =
    graft.core.FileSig.of(s"$sfDir/embeddings.parquet")

  /** Bump on any change to the index BUILDER (k-means seeding, cluster
    * count, multi-assignment, layout): the on-disk marker encodes
    * version + corpus, so a code change invalidates an existing index even
    * when the corpus bytes are unchanged.
    */
  private val IvfIndexVersion = "ivfidx-v1"

  def kmeansCentroids(spark: SparkSession, sfDir: String): Seq[Array[Float]] =
    centroidCache.get(sfDir, corpusSig(sfDir)) {
      import spark.implicits._
      val e = embDf(spark, sfDir).select("vec_id", "embedding").cache()
      var cents = e.orderBy(md5(col("vec_id").cast("string"))).limit(IvfClusters)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
      val typed = e.as[(Long, Array[Float])]
      for (_ <- 1 to KmeansIters) {
        val bcC = spark.sparkContext.broadcast(cents.toArray)
        // one scan: per-partition partial (cluster → sumVec, count), merged
        // on the driver (k×(dim+1) doubles per task — no row-level shuffle)
        val partials = typed.mapPartitions { it =>
          val cs = bcC.value
          var sums: Array[Array[Double]] = null
          val counts = new Array[Long](cs.length)
          it.foreach { case (_, emb) =>
            if (sums == null) sums = Array.ofDim[Double](cs.length, emb.length)
            val c = topClustersLoop(emb, cs, 1)(0)
            var d = 0
            while (d < emb.length) { sums(c)(d) += emb(d); d += 1 }
            counts(c) += 1
          }
          if (sums == null) Iterator.empty
          else Iterator.range(0, cs.length).map(c => (c, sums(c), counts(c)))
        }.collect()
        bcC.destroy()
        val dim = cents.head.length
        val sum = Array.ofDim[Double](cents.length, dim)
        val cnt = new Array[Long](cents.length)
        partials.foreach { case (c, s, n) =>
          var d = 0
          while (d < dim) { sum(c)(d) += s(d); d += 1 }
          cnt(c) += n
        }
        val next = cents.map(_.clone).toArray
        for (c <- cents.indices if cnt(c) > 0; d <- 0 until dim)
          next(c)(d) = round6(sum(c)(d) / cnt(c)).toFloat
        cents = next.toSeq
      }
      e.unpersist()
      cents
    }

  /** IVF ANN — the other scale path: vectors are ASSIGNED to their nearest
    * k-means centroid (one scan, centroids broadcast as literals), queries
    * PROBE their `IvfProbes` nearest clusters, and the candidate join is an
    * equi-join on cluster id — at 10^9 vectors the inverted lists live
    * bucketed/clustered by `cluster`, so a probe reads ~probes/clusters of
    * the corpus instead of scanning it. Exact cosine re-ranks candidates;
    * output shape matches cosineTopK. OpsSpec pins recall@10 ≥ 0.8 vs the
    * brute-force baseline.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embDf(spark, sfDir)
    val cents = kmeansCentroids(spark, sfDir)
    val scored = e.withColumn("scores", centroidScores(col("embedding"), cents))
    // natural struct ordering: sort by (score, then cluster id) — deterministic
    val assigned = scored
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"slice(reverse(array_sort(scores)), 1, $IvfAssignRep)")).as("a"))
      .select(col("vec_id"), col("embedding"), col("a.k").as("cluster"))
    val probes = scored.where(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        explode(expr(s"slice(reverse(array_sort(scores)), 1, $IvfProbes)")).as("p"))
      .select(col("query_id"), col("q"), col("p.k").as("cluster"))
    val cand = assigned.join(broadcast(probes), Seq("cluster"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Fns.cosine_sim(col("q"), col("embedding")), 6).as("cosine"))
      .distinct() // a replicated vector can surface via both of its cells
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  // ------------------------------------------------- IVF on-disk layout

  /** The 10^9-vector scale path made CONCRETE: the assigned inverted lists
    * are materialized partitioned by cluster id, so a probe reads only
    * ~probes/clusters of the corpus via static partition pruning (the scan
    * shows `PartitionFilters` and touches no unprobed cluster directory).
    * This is the layout `annIvf`'s in-memory join only approximates — at
    * corpus scale the index is built once per centroid epoch and queries
    * are pure pruned reads.
    */
  def buildIvfIndex(spark: SparkSession, sfDir: String, indexDir: String): Unit = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, sfDir).toArray
    val bcC = spark.sparkContext.broadcast(cents)
    // assignment is the corpus-sized scan — broadcast + loop (bit-identical
    // to the literal-expression scoring; OpsSpec pins it), not a k-struct
    // array construction per row
    embDf(spark, sfDir).select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        it.flatMap { case (id, emb) =>
          topClustersLoop(emb, cs, IvfAssignRep).iterator.map(c => (id, emb, c))
        }
      }
      .toDF("vec_id", "embedding", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(indexDir)
  }

  /** Builds the index, then stages the converged centroids to the
    * oracle-visible `ivf_centroids.parquet` (32 rows: the k-means float
    * iteration is not SQL-expressible, but given fixed centroids the DuckDB
    * gate re-derives the assignment → probe → exact-cosine re-rank), both
    * under one corpus-signature marker ([[graft.core.Derived.ensure]]): an
    * in-place corpus regeneration can never serve stale inverted lists (even
    * within one JVM), a fresh JVM skips the rebuild when the on-disk index
    * already matches the corpus, and concurrent callers on one indexDir
    * never interleave overwrite writes.
    */
  def ensureIvfIndex(spark: SparkSession, sfDir: String, indexDir: String): Unit =
    graft.core.Derived.ensure(java.nio.file.Paths.get(indexDir, "_CORPUS_SIG"),
      s"$IvfIndexVersion:k=$IvfClusters:rep=$IvfAssignRep:${corpusSig(sfDir)}") {
      buildIvfIndex(spark, sfDir, indexDir)
      import spark.implicits._
      spark.createDataset(kmeansCentroids(spark, sfDir).zipWithIndex.map { case (c, i) => (i, c) })
        .toDF("cluster", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.sources.ReaderStage.stageDir(sfDir).resolve("ivf_centroids.parquet").toString)
    }

  /** the router step alone: (query_id, q, probed cluster) rows,
    * driver-collected — |queries| × probes rows by construction
    */
  private def probeRows(spark: SparkSession, sfDir: String): Array[(Long, Array[Float], Int)] = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, sfDir)
    embDf(spark, sfDir).where(col("vec_id") % QueryMod === 0)
      .withColumn("scores", centroidScores(col("embedding"), cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        explode(expr(s"slice(reverse(array_sort(scores)), 1, $IvfProbes)")).as("p"))
      .select(col("query_id"), col("q"), col("p.k").as("cluster"))
      .as[(Long, Array[Float], Int)].collect()
  }

  /** Query path over the materialized index: probe clusters are resolved
    * first (a driver-sized set — the router step of any ANN service), the
    * index scan is filtered to exactly those partitions, then the same
    * candidate join + exact re-rank as `annIvf`. Output is row-identical to
    * `annIvf` (spec-pinned), so the staged-centroid DuckDB oracle covers
    * this path too.
    */
  def annIvfIndexed(spark: SparkSession, sfDir: String, indexDir: String): DataFrame = {
    import spark.implicits._
    // the probe table is driver-sized by construction (|queries| × probes
    // rows — the router step of an ANN service), so compute it ONCE, collect
    // it, and serve both the partition filter and the broadcast join from
    // the collected rows instead of scanning/scoring the query side twice
    val routed = probeRows(spark, sfDir)
    val probeDf = spark.createDataset(routed.toIndexedSeq)
      .toDF("query_id", "q", "cluster")
    val probed = routed.map(_._3).distinct
    val index = spark.read.parquet(indexDir)
      .where(col("cluster").isInCollection(probed.toIndexedSeq))
    val cand = index.join(broadcast(probeDf), Seq("cluster"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Fns.cosine_sim(col("q"), col("embedding")), 6).as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  /** vectors exploded into their (band, bucket) LSH cells — shared by the
    * ANN query path and the embedding near-dup dedup.
    */
  private[ops] def lshBands(df: DataFrame): DataFrame =
    df.withColumn("sig", signature(col("embedding")))
      .select(col("vec_id"), col("embedding"),
        posexplode(array((0 until LshBits / 4).map(k =>
          shiftright(col("sig"), 4 * k).bitwiseAND(lit(15L))): _*))
          .as(Seq("band", "bucket")))

  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // one posexplode projection per side (no per-band union arms — each arm
    // would recompute the 16-cosine signature scan), and the query side is
    // FILTERED BEFORE the signature computation, so its scan reads 1% of the
    // table with the predicate pushed into parquet
    val bands = lshBands(embDf(spark, sfDir))
    val qb = lshBands(embDf(spark, sfDir).where(col("vec_id") % QueryMod === 0))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("band"), col("bucket"))
    val cand = bands.join(broadcast(qb), Seq("band", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Fns.cosine_sim(col("q"), col("embedding")), 6).as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
  }

  /** Symmetric int8 scalar quantization of the embedding column — the 4×
    * storage/bandwidth reduction step a 100 TB vector corpus applies before
    * indexing: scale = max|v|/127, q_i = round(v_i/scale), plus the
    * reconstruction-integrity stats a pipeline gates on.
    *
    * Cross-engine determinism (no rounding slop needed anywhere):
    * max / divide / multiply / subtract are single IEEE double ops (the
    * float32 inputs widen exactly), both engines round() half-away-from-
    * zero, and `q_sum` is a sum of small INTEGER-valued terms — exact in
    * any order. The only defensively-rounded fields are the two 8 dp stats.
    * Pure codegen'd array HOFs (`transform`/`aggregate`/`array_max`), one
    * parquet scan, zero shuffles — embarrassingly parallel at any scale.
    */
  def quantize(spark: SparkSession, sfDir: String): DataFrame = {
    val s = col("s")
    def qd(v: Column): Column = round(v.cast("double") / s) // quantized double
    embDf(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), v => abs(v.cast("double")))) / 127)
          .as("s"))
      .select(col("vec_id"),
        round(s, 8).as("scale"),
        when(s === 0, lit(0L)).otherwise(
          aggregate(col("embedding"), lit(0L), (acc, v) => acc + qd(v).cast("long")))
          .as("q_sum"),
        when(s === 0, lit(0)).otherwise(
          array_min(transform(col("embedding"), v => qd(v).cast("int")))).as("q_min"),
        when(s === 0, lit(0)).otherwise(
          array_max(transform(col("embedding"), v => qd(v).cast("int")))).as("q_max"),
        when(s === 0, lit(0.0)).otherwise(
          round(array_max(transform(col("embedding"),
            v => abs(v.cast("double") - qd(v) * s))), 8)).as("max_err"))
  }
}
