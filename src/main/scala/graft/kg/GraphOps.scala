package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SparkUtil.{adaptiveParts, materialize, SparkStringOrdering}

/** Stage 5 — graph analytics over the materialized (subj, pred, obj) triple
  * table: the consumers the north rule's "graph materialize" step exists to
  * feed. The reference pipeline stops at span/triple emission; a KG user's
  * first queries against the materialized graph are degree profiles, a
  * centrality ranking, and hub neighborhood reach — so those ship as
  * first-class, oracle-gated operators here.
  *
  * Scale notes (100 TB / billions of triples):
  *  - the triple table is distinct by construction (one distinct over the
  *    four families in [[Triples.fromCanonical]]), so `co_occurs_with` rows ARE a
  *    deduplicated edge list — no re-distinct here.
  *  - degree profiles are pure two-phase hash aggregations (map-side partial
  *    combine bounds what a hot entity ships across the exchange).
  *  - PageRank and HITS collect the edge list through the one size guard
  *    ([[Canonical.collectIfSmall]]) and, at or below
  *    [[Canonical.DriverCcThreshold]] edges, run their fixed iterations as a
  *    driver loop over the collected array: one bounded collect instead of a
  *    join+aggregate job pair per iteration, and no broadcast relation left
  *    behind in the cached result. Above the guard they run the classic
  *    edge-list loop: edges are persisted and joined by `src` each
  *    iteration; the per-destination sum is a partial-aggregated groupBy, so
  *    hub in-degree skew combines map-side. Hot-`src` join skew (one hub's
  *    million edges in one task) is inherent to edge-list PR; at cluster
  *    scale the rank side is one row per key, so AQE skew-join splitting
  *    applies cleanly.
  *  - two-hop reach is bounded to the top-[[GraphOps.TopHubs]] hubs
  *    (deterministic tie-break), so the quadratic second hop never fans out
  *    from every node; the hub list is driver-sized and broadcast.
  *  - partition counts, cache lifetime and the driver fast paths' string
  *    order follow the [[graft.core.SparkUtil]] rules.
  */
object GraphOps {
  /** PageRank damping factor (Brin & Page 1998's standard 0.85). */
  val Damping = 0.85
  /** fixed iteration count — keeps the op deterministic and lets the DuckDB
    * oracle unroll the recurrence as chained CTEs. */
  val PrIters = 5
  /** hub budget for the two-hop reach query. */
  val TopHubs = 20

  /** entity→entity edge list: the `co_occurs_with` predicate of the triple
    * table. Distinct by construction (see class doc). */
  def coEdges(triples: DataFrame): DataFrame =
    triples.where(col("pred") === "co_occurs_with")
      .select(col("subj").as("src"), col("obj").as("dst"))

  /** Per-entity degree profile over the materialized graph: co-occurrence
    * out/in degree plus document frequency (`mentioned_in` fan-out). Three
    * partial-aggregated counts full-outer-joined on the entity key; every
    * canonical entity appears (mentioned_in covers all of them).
    */
  def degrees(triples: DataFrame): DataFrame = {
    val e = coEdges(triples)
    val out = e.groupBy(col("src").as("entity_id")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("entity_id")).agg(count(lit(1)).as("in_degree"))
    val docs = triples.where(col("pred") === "mentioned_in")
      .groupBy(col("subj").as("entity_id")).agg(count(lit(1)).as("n_docs"))
    docs.join(out, Seq("entity_id"), "full_outer")
      .join(in, Seq("entity_id"), "full_outer")
      .select(col("entity_id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Directed PageRank over the co-occurrence graph, [[PrIters]] fixed
    * iterations at damping [[Damping]], dangling mass dropped (the standard
    * simplification — matches the unrolled oracle recurrence exactly):
    *
    *   r_{t+1}(v) = (1-d)/N + d * sum over edges u→v of r_t(u)/outdeg(u)
    *
    * Output is rank normalized to mean 1 (`rank * N`) rounded to 4 dp —
    * O(1)-magnitude values keep the float rounding far above the ~1e-12
    * summation-order noise between Spark and the oracle engine.
    *
    * At or below `driverThreshold` edges the iterations run on the driver
    * ([[pagerankDriver]]); above it, as the distributed loop below.
    */
  def pagerank(triples: DataFrame,
               driverThreshold: Long = Canonical.DriverCcThreshold): DataFrame = {
    val e = coEdges(triples)
    val small = Canonical.collectIfSmall(Canonical.edgePairs(e), driverThreshold)
    if (small.isDefined) return materialize(pagerankDriver(e.sparkSession, small.get))
    val parts = adaptiveParts(e)
    // both loop-invariant tables are persisted ALREADY PARTITIONED on their
    // join keys (partition count scale-adaptive, see adaptiveParts): every
    // iteration's SMJ/HashJoin reads the cached exchange instead of
    // re-shuffling the (large) edge table five times — the rank side is the
    // only per-iteration shuffle, and it's one row per node
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .repartition(parts, col("id")).persist()
    val n = nodes.count().toDouble
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edges = e.join(deg, "src").repartition(parts, col("src")).persist()
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(ranks, edges("src") === ranks("id"))
        .select(edges("dst").as("id"), (col("rank") / col("outdeg")).as("m"))
        .groupBy("id").agg(sum("m").as("m"))
      ranks = nodes.join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit((1 - Damping) / n) + lit(Damping) * coalesce(col("m"), lit(0.0))).as("rank"))
    }
    materialize(rankNorm(ranks, n), nodes, edges)
  }

  /** `(id, rank)` rows as the output rows: rank normalized to mean 1 and
    * rounded by Spark, on either path. */
  private def rankNorm(ranks: DataFrame, n: Double): DataFrame =
    ranks.select(col("id").as("entity_id"), round(col("rank") * n, 4).as("rank_norm"))

  /** the same [[PrIters]] iterations as a driver loop over the collected
    * edge list. Duplicate edges count in `outdeg` and in the contributions,
    * as in the distributed join; `N` is the number of distinct endpoints,
    * and a node no edge reaches keeps `(1-d)/N`. Each iteration evaluates
    * the distributed loop's expressions; only the order in which a node's
    * contributions are summed may differ, far below the 4-dp rounding.
    */
  private def pagerankDriver(spark: SparkSession, edges: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val nodes = endpoints(edges)
    val n = nodes.length.toDouble
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to PrIters) {
      val m = scala.collection.mutable.HashMap.empty[String, Double]
      edges.foreach { case (u, v) => m(v) = m.getOrElse(v, 0.0) + rank(u) / outdeg(u) }
      rank = nodes.map(v => v -> ((1 - Damping) / n + Damping * m.getOrElse(v, 0.0))).toMap
    }
    rankNorm(nodes.map(v => (v, rank(v))).toSeq.toDF("id", "rank"), n)
  }

  /** the distinct endpoints of a collected edge list, sorted. */
  private def endpoints(edges: Array[(String, String)]): Array[String] =
    edges.flatMap { case (u, v) => Array(u, v) }.distinct.sorted

  /** Per-entity triangle participation count over the UNDIRECTED
    * co-occurrence graph (a standard cohesion signal; the denominator of
    * local clustering coefficients).
    *
    * Algorithm: degree-ordered edge orientation (Cohen 2009 / the standard
    * MapReduce triangle recipe) — orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges at each
    * node's out-neighbors, and close them against the oriented edge list.
    * Orientation bounds oriented out-degree by O(sqrt(m)) on any graph, so
    * the wedge fan-out a hot hub would generate under naive enumeration
    * (deg² pairs) collapses to the theoretical minimum; all three steps are
    * equi-joins/aggregations (AQE-splittable, map-side combinable). The
    * DuckDB oracle counts the same triangles via the naive lexicographic
    * a<b<c three-way join — a genuinely different algorithm that must land
    * the identical per-entity counts (triangle counts are
    * orientation-independent).
    */
  def triangles(triples: DataFrame): DataFrame = {
    val e = coEdges(triples)
    // persisted multi-use inputs (und feeds deg + the orientation join;
    // oriented feeds both wedge sides + the closing-edge probe), so each is
    // computed exactly once by construction instead of leaning on runtime
    // exchange reuse
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct().persist()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // u → w with (deg,id)(u) < (deg,id)(w); carry w's key for wedge ordering
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("w"),
      when(aFirst, col("db")).otherwise(col("da")).as("dw")).persist()
    val e1 = oriented.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val e2 = oriented.select(col("u"), col("w").as("x"), col("dw").as("dx"))
    val wedges = e1.join(e2, Seq("u"))
      .where(col("dv") < col("dx") || (col("dv") === col("dx") && col("v") < col("x")))
      .select(col("u"), col("v"), col("x"))
    // the closing edge {v,x} is oriented v → x by construction (v precedes x
    // in the same total order the wedge filter used)
    val closing = oriented.select(col("u").as("v"), col("w").as("x"))
    val out = wedges.join(closing, Seq("v", "x"))
      .select(explode(array(col("u"), col("v"), col("x"))).as("entity_id"))
      .groupBy("entity_id").agg(count(lit(1)).as("n_triangles"))
    materialize(out, und, oriented)
  }

  /** Connected components of the co-occurrence graph: every node labeled
    * with its component's minimum entity id plus the component size — the
    * "what clusters does the KG decompose into" query, and the generic CC
    * surface [[Canonical.connectedComponents]] already provides for entity
    * canonicalization (driver union-find below the measured crossover,
    * O(log n) alternating-star loop above it; see CC_BENCH.md). Self-loops
    * drop inside the CC kernel; nodes whose only edges were self-loops still
    * appear, as singleton components via the coalesce. The size join is one
    * row per component — broadcast-or-shuffle is left to AQE (component
    * count is data-dependent: near-singleton fragmentation keeps it large).
    */
  def components(triples: DataFrame): DataFrame = {
    val e = coEdges(triples)
    val cc = Canonical.connectedComponents(e)
    val nodes = e.select(col("src").as("entity_id"))
      .unionAll(e.select(col("dst").as("entity_id"))).distinct()
    // labeled feeds both the size aggregate and the final join — persist so
    // the CC map applies once
    val labeled = nodes.join(cc, Seq("entity_id"), "left_outer")
      .select(col("entity_id"),
        coalesce(col("canonical_id"), col("entity_id")).as("component_id"))
      .persist()
    val sizes = labeled.groupBy("component_id").agg(count(lit(1)).as("comp_size"))
    val out = labeled.join(sizes, "component_id")
      .select(col("entity_id"), col("component_id"), col("comp_size"))
    materialize(out, labeled)
  }

  /** deterministic top-k hub pick shared by [[twoHop]] and [[bfsDistances]]
    * (and mirrored by their oracles): highest out-degree first, ties broken
    * by ascending entity id. One shared implementation so the tie-break
    * cannot drift between the two ops and their oracle SQL. */
  private def topHubs(e: DataFrame, k: Int): DataFrame =
    e.groupBy(col("src").as("entity_id")).agg(count(lit(1)).as("out_degree"))
      .orderBy(col("out_degree").desc, col("entity_id")).limit(k)

  /** Distinct two-hop out-neighbor count for the top-[[TopHubs]] hubs by
    * co-occurrence out-degree (ties broken by entity id, so the hub set is
    * deterministic). The second hop LEFT-joins so a hub whose neighbors are
    * all sinks still reports `n_two_hop = 0`; `count(col)` skips the null
    * rows such a hub contributes. Distinct-pairs-then-count keeps the
    * dedup two-phase instead of a per-group distinct aggregate.
    */
  def twoHop(triples: DataFrame): DataFrame = {
    val e = coEdges(triples)
    val hubs = topHubs(e, TopHubs)
    val second = e.select(col("src").as("mid"), col("dst").as("nbr2"))
    broadcast(hubs)
      .join(e, hubs("entity_id") === e("src"))
      .select(col("entity_id"), col("out_degree"), col("dst").as("mid"))
      .join(second, Seq("mid"), "left_outer")
      .select(col("entity_id"), col("out_degree"), col("nbr2"))
      .distinct()
      .groupBy("entity_id", "out_degree")
      .agg(count(col("nbr2")).as("n_two_hop"))
  }

  /** hot-hub degree cap for [[neighborsJaccard]]: nodes whose undirected
    * degree exceeds this are excluded from the NEIGHBOR role (they generate
    * deg² wedge pairs and carry no similarity signal — every entity touches
    * them). The cap makes both the candidate fan-out AND the similarity
    * universe deterministic, so the oracle applies the same cap. */
  val MaxWedgeDeg = 32
  /** minimum capped-Jaccard to emit from [[neighborsJaccard]]. */
  val JaccardMinSim = 0.5
  /** minimum joint-doc count for a pair to appear in [[coocPmi]]. */
  val PmiMinJoint = 2

  /** undirected (symmetric, self-loop-free, distinct) view of an edge list —
    * shared by the neighborhood/community ops; mirrored by the oracles'
    * `sym` CTE. */
  private def symEdges(e: DataFrame): DataFrame =
    e.where(col("src") =!= col("dst"))
      .unionAll(e.where(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Entity relatedness by neighborhood overlap: for every entity pair
    * sharing at least one (low-degree) common neighbor in the UNDIRECTED
    * co-occurrence graph, the Jaccard similarity of their neighbor sets —
    * the standard "related entities" signal (and the similarity driving
    * link-prediction baselines).
    *
    * Semantics are hot-hub-capped on BOTH sides (candidate generation and
    * the similarity universe): neighbor lists contain only neighbors of
    * undirected degree ≤ [[MaxWedgeDeg]]. That makes the wedge fan-out per
    * shared neighbor ≤ cap² (a constant) — the same reason
    * [[triangles]] orients by degree — while keeping the output a pure
    * function of the graph that the DuckDB oracle reproduces exactly.
    * All steps are equi-joins + two-phase aggregations; the wedge join is
    * keyed by the shared neighbor, whose fan-out the cap bounds, so no AQE
    * skew handling is even needed.
    */
  def neighborsJaccard(triples: DataFrame): DataFrame = {
    val sym = symEdges(coEdges(triples))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // neighbor lists restricted to low-degree neighbors; nb feeds the sizes
    // aggregate and both wedge sides — persist so the sym+deg join runs once
    val nb = sym.join(deg.where(col("d") <= MaxWedgeDeg), sym("dst") === deg("id"))
      .select(sym("src").as("id"), sym("dst").as("nbr"))
      .persist()
    val sz = nb.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = nb.as("a").join(nb.as("b"), col("a.nbr") === col("b.nbr"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
      .agg(count(lit(1)).as("i"))
    val out = inter
      .join(sz.as("sa"), col("ia") === col("sa.id"))
      .join(sz.as("sb"), col("ib") === col("sb.id"))
      .select(col("ia").as("entity_a"), col("ib").as("entity_b"),
        col("i").as("n_common"),
        round(col("i") / (col("sa.n") + col("sb.n") - col("i")), 4).as("jaccard"))
      .where(col("jaccard") >= JaccardMinSim)
    materialize(out, nb)
  }

  /** HITS iterations for [[hits]]. */
  val HitsIters = 3

  /** Kleinberg HITS (hubs & authorities) over the directed co-occurrence
    * graph — UNNORMALIZED, [[HitsIters]] fixed iterations:
    *
    *   a_t(v) = Σ_{u→v} h_{t-1}(u),   h_t(u) = Σ_{u→v} a_t(v),   h_0 ≡ 1
    *
    * Dropping the per-iteration norm keeps every score an INTEGER, so the
    * op is bit-exact against any engine (the DuckDB oracle unrolls the same
    * recurrence as chained joins — no float rounding anywhere) and the
    * hub/authority RANKING is unchanged (normalization only rescales).
    * Overflow bound: scores grow ≤ maxdeg^(2t); with t=3 a max degree up to
    * ~10^3 stays far inside Int64. Beyond that (web-scale hub degrees)
    * you'd flip to the standard normalized-double variant — same plan
    * shape, per-iteration scalar norm — and an approximate oracle.
    *
    * Scale: at or below `driverThreshold` edges the iterations run on the
    * driver ([[hitsDriver]]). Above it, each half-iteration is one
    * equi-join edge⋈score + one map-side-combined groupBy sum — identical
    * shuffle profile to [[pagerank]], with the same persisted
    * pre-partitioned edge table.
    */
  def hits(triples: DataFrame,
           driverThreshold: Long = Canonical.DriverCcThreshold): DataFrame = {
    val e = coEdges(triples)
    val small = Canonical.collectIfSmall(Canonical.edgePairs(e), driverThreshold)
    if (small.isDefined) return materialize(hitsDriver(e.sparkSession, small.get))
    val parts = adaptiveParts(e)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .repartition(parts, col("id")).persist()
    val bySrc = e.repartition(parts, col("src")).persist()
    var hub = nodes.select(col("id"), lit(1L).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsIters) {
      auth = bySrc.join(hub, bySrc("src") === hub("id"))
        .groupBy(bySrc("dst").as("id")).agg(sum(col("h")).as("a"))
      hub = bySrc.join(auth, bySrc("dst") === auth("id"))
        .groupBy(bySrc("src").as("id")).agg(sum(col("a")).as("h"))
    }
    val out = nodes
      .join(auth.withColumnRenamed("id", "aid"), col("id") === col("aid"), "left_outer")
      .join(hub.withColumnRenamed("id", "hid"), col("id") === col("hid"), "left_outer")
      .select(col("id").as("entity_id"),
        coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
    materialize(out, nodes, bySrc)
  }

  /** the same [[HitsIters]] iterations as a driver loop over the collected
    * edge list, duplicate edges counted as in the distributed join. The sums
    * are exact `Long` additions that throw on overflow, as Spark's ANSI
    * `sum` does.
    */
  private def hitsDriver(spark: SparkSession, edges: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    def sums(key: ((String, String)) => String, score: ((String, String)) => Long) = {
      val acc = scala.collection.mutable.HashMap.empty[String, Long]
      edges.foreach(e => acc(key(e)) = Math.addExact(acc.getOrElse(key(e), 0L), score(e)))
      acc
    }
    val nodes = endpoints(edges)
    var hub: collection.Map[String, Long] = nodes.map(_ -> 1L).toMap
    var auth: collection.Map[String, Long] = Map.empty
    for (_ <- 1 to HitsIters) {
      auth = sums(_._2, e => hub(e._1))
      hub = sums(_._1, e => auth(e._2))
    }
    nodes.map(v => (v, auth.getOrElse(v, 0L), hub.getOrElse(v, 0L))).toSeq
      .toDF("entity_id", "auth", "hub")
  }

  /** BFS roots (top hubs) and depth bound for [[bfsDistances]]. */
  val BfsHubs = 5
  val BfsDepth = 3

  /** Shortest-hop distances (≤ [[BfsDepth]]) from the top-[[BfsHubs]]
    * out-degree hubs, by frontier-expansion BFS — the "how far is
    * everything from the core entities" traversal a KG consumer runs for
    * influence radii and ego networks. Deterministic hub pick: [[topHubs]]
    * (shared with [[twoHop]] — out-degree desc, entity id asc).
    *
    * Each level is one equi-join frontier⋈edges (keyed by the frontier
    * node) + a distinct; the final min-dist groupBy collapses multi-path
    * rediscoveries. Levels are NOT pruned against the visited set — at a
    * fixed small depth the per-level distinct already bounds rows at
    * roots×|V|, and skipping the visited anti-join saves a shuffle per
    * level (the min-agg dedups at the end). All shapes AQE-splittable.
    */
  def bfsDistances(triples: DataFrame): DataFrame = {
    val e = coEdges(triples)
    val hubs = topHubs(e, BfsHubs).select(col("entity_id").as("root"))
    var reach = broadcast(hubs)
      .select(col("root"), col("root").as("node"), lit(0).as("dist"))
    var frontier = reach
    for (d <- 1 to BfsDepth) {
      // re-alias BOTH sides each level: from level 2 on, frontier's lineage
      // already contains e, so dataset-tagged references to e's columns trip
      // the ambiguous-self-join check — fresh aliases give unique exprIds
      val f = frontier.select(col("root").as("f_root"), col("node").as("f_node"))
      val er = e.select(col("src").as("e_src"), col("dst").as("e_dst"))
      frontier = f.join(er, col("f_node") === col("e_src"))
        .select(col("f_root").as("root"), col("e_dst").as("node"), lit(d).as("dist"))
        .distinct()
      reach = reach.unionAll(frontier)
    }
    reach.groupBy(col("root"), col("node").as("entity_id"))
      .agg(min(col("dist")).as("dist"))
  }

  /** label-propagation iterations for [[labelProp]]. */
  val LpaIters = 3

  /** Community detection by SYNCHRONOUS label propagation over the
    * undirected co-occurrence graph, [[LpaIters]] fixed iterations:
    * every node starts as its own label; each round it adopts the most
    * frequent label among its neighbors, ties broken by MINIMUM label.
    * Fixed synchronous rounds + the deterministic tie-break make the result
    * a pure function of the graph (classic async LPA is run-order-dependent
    * — useless against a value oracle), so the DuckDB oracle unrolls the
    * identical rounds.
    *
    * Scale: per round, one equi-join edge⋈labels (keyed by the neighbor —
    * hub fan-out = its degree, AQE-splittable), a map-side-combined
    * (node, label) count, and a per-node top-1 window that Spark executes
    * as WindowGroupLimit (partial top-1 BEFORE the exchange — the same
    * plan shape as text_tfidf's top-k).
    */
  def labelProp(triples: DataFrame,
                driverThreshold: Long = Canonical.DriverCcThreshold): DataFrame = {
    val e0 = coEdges(triples)
    val parts = adaptiveParts(e0)
    val sym = symEdges(e0)
      .repartition(parts, col("dst")).persist()
    // driver fast path below the CC crossover; KB-scale graphs take the
    // distributed loop below
    val small = Canonical.collectIfSmall(Canonical.edgePairs(sym), driverThreshold)
    if (small.isDefined)
      return materialize(labelPropDriver(sym.sparkSession, small.get), sym)
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("c").desc, col("label").asc)
    for (_ <- 1 to LpaIters) {
      labels = sym.join(labels.withColumnRenamed("id", "nid"),
          sym("dst") === col("nid"))
        .groupBy(sym("src").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("label"))
        // lineage-truncate each round (the kcore/Canonical pattern): three
        // nested join+agg+window rounds re-plan fine today, but compounding
        // round lineage is exactly what sent kcore's six rounds superlinear
        // in catalyst+AQE re-planning — truncation keeps plan depth O(1)
        // in LpaIters; coalesce first so the pinned checkpoint partitioning
        // is the adaptive count, not the shuffle-partition constant
        .coalesce(parts)
        .localCheckpoint(true)
    }
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    val out = labels.join(sizes, "label")
      .select(col("id").as("entity_id"), col("label").as("community"),
        col("community_size"))
    materialize(out, sym)
  }

  /** the same [[LpaIters]] synchronous rounds (most-frequent neighbor label,
    * ties to the MINIMUM label) as a driver loop over the collected symmetric
    * edge list — exact semantics.
    */
  private def labelPropDriver(spark: SparkSession, sym: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val nbrs = adjacency(sym)
    // max count, tie -> minimum label in Spark's string order (the window's
    // c desc, label asc)
    val byCountThenLabel = Ordering.Tuple2(Ordering.Long, SparkStringOrdering)
    var labels: Map[String, String] = nbrs.keysIterator.map(u => u -> u).toMap
    for (_ <- 1 to LpaIters) {
      labels = nbrs.map { case (u, vs) =>
        val freq = scala.collection.mutable.HashMap.empty[String, Long]
        vs.foreach(v => freq(labels(v)) = freq.getOrElse(labels(v), 0L) + 1L)
        u -> freq.toSeq.minBy { case (l, c) => (-c, l) }(byCountThenLabel)._1
      }
    }
    val sizes = labels.values.groupBy(identity).map { case (l, c) => l -> c.size.toLong }
    labels.toSeq.sortBy(_._1)
      .map { case (u, l) => (u, l, sizes(l)) }
      .toDF("entity_id", "community", "community_size")
  }

  /** the collected symmetric edge list ([[Canonical.collectIfSmall]]) as a
    * driver adjacency map — the input of the driver fast paths
    * ([[labelPropDriver]], [[kcoreDriver]]). The fixed synchronous rounds are
    * a pure function of the symmetric edge set, so the local loops give the
    * distributed loops' result; GraphOpsSpec pins each pair.
    */
  private def adjacency(sym: Array[(String, String)]): Map[String, Array[String]] =
    sym.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }

  /** Pointwise mutual information between co-mentioned entities, from the
    * `mentioned_in` predicate: for entity pairs mentioned together in
    * ≥ [[PmiMinJoint]] documents,
    *
    *   pmi(a,b) = ln( n_ab * N_docs / (n_a * n_b) )
    *
    * with n_x = #docs mentioning x (the `mentioned_in` rows are distinct
    * (entity, doc) by construction). The association score a KG builder uses
    * to weight co-occurrence edges before thresholding them into the graph.
    *
    * Scale: the pair join is keyed by doc_id — uniform, never entity-skewed
    * — and per-doc fan-out is quadratic only in entities-per-doc, which the
    * document length bounds. Marginals join back on the entity key with
    * map-side-combined counts. N_docs is the one scalar (a driver count).
    */
  def coocPmi(triples: DataFrame): DataFrame = {
    val mi = triples.where(col("pred") === "mentioned_in")
      .select(col("subj").as("ent"), col("obj").as("doc"))
      .persist()
    val nDocs = mi.select("doc").distinct().count().toDouble
    val cnt = mi.groupBy(col("ent")).agg(count(lit(1)).as("c"))
    val pairs = mi.as("a").join(mi.as("b"), col("a.doc") === col("b.doc"))
      .where(col("a.ent") < col("b.ent"))
      .groupBy(col("a.ent").as("entity_a"), col("b.ent").as("entity_b"))
      .agg(count(lit(1)).as("n_joint"))
      .where(col("n_joint") >= PmiMinJoint)
    val out = pairs
      .join(cnt.as("ca"), col("entity_a") === col("ca.ent"))
      .join(cnt.as("cb"), col("entity_b") === col("cb.ent"))
      .select(col("entity_a"), col("entity_b"), col("n_joint"),
        round(log(col("n_joint") * lit(nDocs) / (col("ca.c") * col("cb.c"))), 4)
          .as("pmi"))
    materialize(out, mi)
  }

  /** peeling threshold and fixed round budget for [[kcore]]. Six rounds
    * converge with a round to spare on the gate-scale graph (k=3 peeling
    * stabilizes in 5); the semantics are DEFINED as the bounded-round peel
    * (like [[BfsDepth]]) so the op stays a pure function of the graph and
    * the oracle can unroll the identical rounds. */
  val KcoreK = 3
  val KcoreIters = 6

  /** Bounded-round k-core peeling (Seidman 1983 degeneracy cores; the
    * Matula–Beck peel expressed as synchronous rounds): each round removes
    * every node whose degree among the REMAINING nodes is < [[KcoreK]];
    * after [[KcoreIters]] rounds, survivors are the (approximate-until-
    * converged, exact once stable) k-core — the densely-linked entity
    * nucleus a KG consumer uses to separate backbone entities from
    * peripheral ones. Emits, per node: its full symmetric degree, the round
    * it was peeled (0 = never), and the in-core flag.
    *
    * Scale: each round is two equi-joins of the edge list against the
    * active-node set (keyed by src / dst — a hub's fan-out is its degree,
    * AQE-splittable) plus a map-side-combined degree count. The active set
    * shrinks monotonically, so later rounds join against ever-smaller
    * sides; each round's survivor set is lineage-truncated via
    * localCheckpoint (plan depth stays O(1) across rounds — see the inline
    * note) and the loop is bounded by the fixed round budget, not
    * data-dependent convergence.
    */
  def kcore(triples: DataFrame,
            driverThreshold: Long = Canonical.DriverCcThreshold): DataFrame = {
    // localCheckpoint (the Canonical star-loop pattern) rather than cache:
    // each round's plan must be TRUNCATED, not just materialized — six
    // nested join/agg rounds of compounding lineage sent catalyst+AQE
    // re-planning time superlinear (a 7-minute wall on a 10k-edge graph,
    // vs ~1 s with truncation)
    val e0 = coEdges(triples)
    val parts = adaptiveParts(e0)
    val sym = symEdges(e0).coalesce(parts).localCheckpoint(true)
    // driver fast path below the CC crossover
    val small = Canonical.collectIfSmall(Canonical.edgePairs(sym), driverThreshold)
    if (small.isDefined) return kcoreDriver(sym.sparkSession, small.get)
    val deg0 = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("sym_degree"))
      .coalesce(parts).localCheckpoint(true)
    var active = deg0.select(col("id"))
    var peeled = active.where(lit(false)).withColumn("peel_round", lit(0))
    for (r <- 1 to KcoreIters) {
      val a1 = active.select(col("id").as("sid"))
      val a2 = active.select(col("id").as("did"))
      val deg = sym.join(a1, col("src") === col("sid"))
        .join(a2, col("dst") === col("did"))
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      val annotated = active.join(deg, Seq("id"), "left_outer")
        .withColumn("d", coalesce(col("d"), lit(0L)))
        .coalesce(parts).localCheckpoint(true)
      peeled = peeled.unionAll(
        annotated.where(col("d") < KcoreK)
          .select(col("id"), lit(r).as("peel_round")))
      active = annotated.where(col("d") >= KcoreK).select(col("id"))
    }
    deg0.join(peeled, Seq("id"), "left_outer")
      .select(col("id").as("entity_id"), col("sym_degree"),
        coalesce(col("peel_round"), lit(0)).as("peel_round"),
        isnull(col("peel_round")).cast("int").as("in_kcore"))
  }

  /** the same [[KcoreIters]] synchronous peel rounds (remove active nodes
    * whose active-degree < [[KcoreK]]) as a driver loop over the collected
    * symmetric edge list — exact semantics.
    */
  private def kcoreDriver(spark: SparkSession, sym: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val nbrs = adjacency(sym)
    val deg0 = nbrs.map { case (u, vs) => u -> vs.length.toLong }
    var active = nbrs.keySet
    val peelRound = scala.collection.mutable.HashMap.empty[String, Int]
    for (r <- 1 to KcoreIters) {
      val d = active.iterator
        .map(u => u -> nbrs(u).count(active.contains).toLong).toMap
      val peeled = active.filter(u => d(u) < KcoreK)
      peeled.foreach(u => peelRound(u) = r)
      active = active -- peeled
    }
    deg0.toSeq.sortBy(_._1)
      .map { case (u, dg) =>
        (u, dg, peelRound.getOrElse(u, 0), if (peelRound.contains(u)) 0 else 1)
      }
      .toDF("entity_id", "sym_degree", "peel_round", "in_kcore")
  }
}
