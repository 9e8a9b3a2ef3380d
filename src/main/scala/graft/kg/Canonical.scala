package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SparkUtil.{SparkStringOrdering, releaseBroadcasts}

/** Stage 3 — canonicalization: connected components over candidate-entity
  * edges, via alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond" — the PAPERS.md "BTS" lineage), as an
  * iterative DataFrame loop. No GraphX, no RDDs (input_hint); lineage is
  * truncated with localCheckpoint every iteration, convergence is detected
  * with a cheap (count, hash-sum) fingerprint instead of a full diff.
  *
  * O(log n) rounds; each round is two self-joins on the min-neighbor
  * aggregate. Hot head-token stars (the skew case) are exactly what
  * large-star splits.
  */
object Canonical {

  /** Per-alias candidate cap for edge derivation: a degenerate alias carrying
    * thousands of candidates would square inside the pair expansion; capping
    * at the SORTED first k keeps per-alias work bounded and deterministic
    * (the synthetic dict has ≤2 candidates; a real KB occasionally more).
    */
  val MaxCandidatesPerAlias = 16

  /** candidate edges from the dictionary: an alias carrying k candidate
    * entities connects ALL of them pairwise (shared-alias ambiguity,
    * SURVEY.md §7 stage 3) — a (min, max)-only derivation would silently
    * split components when an alias has ≥3 candidates. Its driver twin is
    * [[edgesFromRows]].
    */
  def edgesFromDict(dict: DataFrame): DataFrame =
    dict.groupBy("alias")
      .agg(slice(sort_array(collect_set(col("entity_id"))), 1, MaxCandidatesPerAlias).as("es"))
      .where(size(col("es")) > 1)
      .select(explode(expr(
        "flatten(transform(es, (x, i) -> transform(slice(es, i + 2, size(es)), " +
          "y -> struct(x as src, y as dst))))")).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()

  /** The driver twin of [[edgesFromDict]] over collected dictionary rows: per
    * alias the sorted distinct entity ids (Spark's string order, as
    * `sort_array` sorts), the first [[MaxCandidatesPerAlias]] of them, and
    * every pair of them as (lower, higher), de-duplicated. CanonicalSpec pins
    * the two equal.
    */
  def edgesFromRows(rows: Array[AliasRow]): Array[(String, String)] =
    rows.groupMap(_.alias)(_.entity_id).valuesIterator.flatMap { ids =>
      val es = ids.distinct.sorted(SparkStringOrdering).take(MaxCandidatesPerAlias)
      es.indices.iterator.flatMap(i => es.iterator.drop(i + 1).map(es(i) -> _))
    }.toArray.distinct

  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
      .where(col("u") =!= col("v"))
    val minN = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.join(minN, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    // orient each edge large -> small
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
    val minN = dir.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    dir.join(minN, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .unionAll(minN.select(col("u").as("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def fingerprint(edges: DataFrame): (Long, Long) = {
    // decimal sum: ANSI mode (Spark 4 default) would overflow a Long sum
    val row = edges.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h")).head()
    (row.getLong(0), row.getDecimal(1).hashCode().toLong)
  }

  /** The crossover of every driver fast path: below this many rows the input
    * fits comfortably on the driver, and a local loop over the collected rows
    * beats the chain of small Spark jobs the distributed path costs (about 6
    * per star round). The rows are edges for CC here, `GraphOps.labelProp`
    * and `GraphOps.kcore`, and alias-dictionary rows for the dictionary side
    * of every linker ([[DictSide.of]]). It sits below the crossover
    * `graft.Perf cc` measured (BENCH/CC_BENCH.md). The distributed loops and the
    * relational dictionary side remain the path for KB-scale inputs.
    */
  val DriverCcThreshold = 500000L

  /** The one size guard in front of the driver fast paths: a single bounded
    * action, `limit(threshold + 1)` then collect. Returns the rows when there
    * are at most `threshold` of them, and `None` otherwise; above the
    * threshold it does not know the exact count. The fast paths take the
    * collected rows, never a DataFrame, so none can run on unguarded input.
    *
    * The collect scans partitions incrementally (`executeTake`): one
    * partition, then up to 4× the partitions scanned so far while fewer than
    * `threshold + 1` rows have arrived (Spark's default
    * `spark.sql.limit.initialNumPartitions` 1 and `scaleUpFactor` 4). On an
    * input of P partitions with no exchange that is at most 1 + ⌈log₅ P⌉ jobs
    * (2 for P ≤ 5); an exchange below adds its map-stage job, and AQE usually
    * coalesces the small post-shuffle side to one partition. A negative
    * threshold returns `None` without a job; one of `Int.MaxValue` or more
    * collects every row, as no array holds more. The collect's broadcast
    * relations are released as soon as it returns
    * ([[graft.core.SparkUtil.releaseBroadcasts]]).
    */
  def collectIfSmall[T](rows: Dataset[T], threshold: Long): Option[Array[T]] =
    if (threshold < 0) None
    else {
      val bounded = rows.limit((math.min(threshold, Int.MaxValue - 1L) + 1).toInt)
      val got = bounded.collect()
      releaseBroadcasts(bounded)
      if (got.length > threshold) None else Some(got)
    }

  /** `(src, dst)` of an edge frame as the typed input of [[collectIfSmall]]. */
  def edgePairs(edges: DataFrame): Dataset[(String, String)] =
    edges.select("src", "dst").as(Encoders.tuple(Encoders.STRING, Encoders.STRING))

  /** edges → (entity_id, canonical_id) mapping covering every node that
    * appears in an edge (isolated entities stay their own canonical id via
    * the coalesce at apply time).
    */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 20,
                          driverThreshold: Long = DriverCcThreshold): DataFrame =
    connectedComponentsWithStats(edges0, maxIter, driverThreshold)._1

  /** run statistics for benchmarking/diagnostics: which path ran and how many
    * star rounds the distributed loop needed (0 on the driver fast path)
    */
  final case class CcStats(edgesIn: Long, usedDriverPath: Boolean, iterations: Int)

  /** Throws IllegalStateException when the star loop is still changing after
    * `maxIter` rounds, instead of returning a partial labeling.
    *
    * The size guard runs on the distinct edges before anything is
    * checkpointed, so the driver path costs only the guard's bounded collect.
    * The star-loop path then computes the distinct edges a second time for
    * its `localCheckpoint`: once for the guard, once for the loop. `edgesIn`
    * is the number of collected pairs on the driver path and the first
    * fingerprint's count on the star-loop path.
    */
  def connectedComponentsWithStats(edges0: DataFrame, maxIter: Int = 20,
                                   driverThreshold: Long = DriverCcThreshold): (DataFrame, CcStats) = {
    val distinctEdges = edges0.select("src", "dst").where(col("src") =!= col("dst")).distinct()
    collectIfSmall(edgePairs(distinctEdges), driverThreshold) match {
      case Some(pairs) => (driverUnionFind(edges0.sparkSession, pairs),
        CcStats(pairs.length.toLong, usedDriverPath = true, 0))
      case None => starLoop(distinctEdges, maxIter)
    }
  }

  private def starLoop(distinctEdges: DataFrame, maxIter: Int): (DataFrame, CcStats) = {
    var edges = distinctEdges.localCheckpoint(true)
    var fp = fingerprint(edges)
    val nIn = fp._1
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge: $nIn edges, $i star rounds (maxIter = $maxIter)")
    // star forest: edges point child -> root; roots map to themselves
    val out = edges.select(col("src").as("entity_id"), col("dst").as("canonical_id"))
      .unionAll(edges.select(col("dst").as("entity_id"), col("dst").as("canonical_id")))
      .groupBy("entity_id").agg(min("canonical_id").as("canonical_id"))
    (out, CcStats(nIn, usedDriverPath = false, i))
  }

  /** small-graph fast path: union-find with min-root over the collected
    * edges, one local DataFrame out. Same output contract as the star loop
    * (component minimum as canonical id, in Spark's string order — the order
    * the loop's `min`/`least` use) — KgPipelineSpec pins both paths against
    * GoldRef's independent union-find.
    */
  private[kg] def driverUnionFind(spark: SparkSession, pairs: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (SparkStringOrdering.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    nodes.iterator.map(n => (n, find(n))).toSeq.sortBy(_._1)
      .toDF("entity_id", "canonical_id")
  }

  /** canonical-map rows above which the broadcast join flips to shuffle —
    * same sizing rationale as Link.BroadcastMaxAliases (the map rows are
    * narrower, so the threshold is higher).
    */
  val BroadcastMaxMapRows = 2000000L

  /** Size-guarded canonicalize: the map is an aggregate the caller usually
    * persists, so the count probe is cheap; broadcast vs shuffle follows the
    * actual row count instead of a static flag.
    */
  def canonicalizeAuto(linked: DataFrame, canonMap: DataFrame,
                       maxBroadcastRows: Long = BroadcastMaxMapRows): DataFrame =
    canonicalize(linked, canonMap, useBroadcast = canonMap.count() <= maxBroadcastRows)

  /** apply the canonical map to linked mentions; map is usually ≪ corpus →
    * broadcast, but caller can disable for huge KBs.
    */
  def canonicalize(linked: DataFrame, canonMap: DataFrame, useBroadcast: Boolean): DataFrame = {
    val m = if (useBroadcast) broadcast(canonMap) else canonMap
    linked.join(m, Seq("entity_id"), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col("entity_id")))
  }
}
