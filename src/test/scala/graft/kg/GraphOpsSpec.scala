package graft.kg

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Graph-analytics semantics vs a dependency-free driver-side re-derivation
  * on a hand-built triple table (the driver's DuckDB oracle covers the same
  * ops over the full staged corpus; this pins the formulas on a graph small
  * enough to reason about, including the corner rows the corpus may lack:
  * sink hubs, entities with no edges, dangling-mass drop).
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graphops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // a → b, a → c, b → c, c → a ; entity z has docs but NO co-occurrence edges
  private val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
  private def triplesDf = {
    import spark.implicits._
    val co = edges.map { case (s, o) => (s, "co_occurs_with", o) }
    val docs = Seq(("a", "mentioned_in", "d1"), ("a", "mentioned_in", "d2"),
      ("b", "mentioned_in", "d1"), ("c", "mentioned_in", "d3"),
      ("z", "mentioned_in", "d9"))
    val kinds = Seq(("a", "instance_of", "k1")) // must be ignored by the graph ops
    (co ++ docs ++ kinds).toDF("subj", "pred", "obj")
  }

  private def co(es: Seq[(String, String)]) = {
    import spark.implicits._
    es.map { case (s, o) => (s, "co_occurs_with", o) }.toDF("subj", "pred", "obj")
  }
  // ring + a +7 chord: in- and out-degree 2 everywhere, 4 distinct
  // symmetric neighbors (±1, ±7) per node
  private val ringN = 64
  private def ring = co((0 until ringN).flatMap(i => Seq(i -> (i + 1) % ringN, i -> (i + 7) % ringN))
    .map { case (a, b) => (f"n$a%03d", f"n$b%03d") })
  // hub ↔ each of m spokes: by symmetry every spoke scores alike, so each
  // op reduces to two scalars; the hub's m in-edges are the partial-agg
  // skew, its m out-edges the join skew
  private val starM = 32
  private def star = co((1 to starM).flatMap(i => Seq((f"s$i%03d", "hub"), ("hub", f"s$i%03d"))))
  /** both sides of every driver fast path: below the size guard, and the
    * distributed loop (a negative threshold skips the guard's collect). */
  private val paths = Seq(Canonical.DriverCcThreshold, -1L)
  /** an operator's cached result, collected and released, so a later call
    * on the same graph plans afresh instead of hitting the cache. */
  private def collected(df: DataFrame): Array[Row] =
    try df.collect() finally df.unpersist()

  test("degrees: out/in/doc counts with zero-fill for edgeless entities") {
    val got = GraphOps.degrees(triplesDf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "a" -> ((2L, 1L, 2L)),
      "b" -> ((1L, 1L, 1L)),
      "c" -> ((1L, 2L, 1L)),
      "z" -> ((0L, 0L, 1L))))
  }

  test("pagerank: matches the unrolled recurrence, dangling mass dropped") {
    // driver-side re-derivation of the exact formula
    val nodes = edges.flatMap { case (s, o) => Seq(s, o) }.distinct.sorted
    val n = nodes.size.toDouble
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to GraphOps.PrIters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => rank(u) / outdeg(u) }.sum).toMap
      rank = nodes.map(v =>
        v -> ((1 - GraphOps.Damping) / n + GraphOps.Damping * contrib.getOrElse(v, 0.0))).toMap
    }
    val expect = rank.map { case (v, r) =>
      v -> BigDecimal(r * n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = GraphOps.pagerank(triplesDf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == expect)
    // rank mass stays below 1 (dangling drop cannot inflate it)
    assert(rank.values.sum <= 1.0 + 1e-9)
  }

  test("triangles: per-entity counts, direction/duplication-insensitive") {
    import spark.implicits._
    // base triangle a-b-c (c→a closes it); add d-a, d-b (second triangle
    // a-b-d), a reverse-duplicate edge b→a (must not double-count), a
    // self-loop e→e (must be ignored), and a pendant edge c→f (no triangle)
    val extra = Seq(("d", "a"), ("d", "b"), ("b", "a"), ("e", "e"), ("c", "f"))
    val tri = triplesDf.union(
      extra.map { case (s, o) => (s, "co_occurs_with", o) }.toDF("subj", "pred", "obj"))
    val got = GraphOps.triangles(tri).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // triangles: {a,b,c} and {a,b,d}
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
  }

  test("components: min-id labels and sizes; self-loop-only node is a singleton") {
    import spark.implicits._
    // component 1: a,b,c (the base edges); component 2: x-y; z2 has only a
    // self-loop → singleton; entity z (docs only, no co-edges) must NOT appear
    val extra = Seq(("x", "y"), ("z2", "z2"))
    val tri = triplesDf.union(
      extra.map { case (s, o) => (s, "co_occurs_with", o) }.toDF("subj", "pred", "obj"))
    val got = GraphOps.components(tri).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("a", "a", 3L), ("b", "a", 3L), ("c", "a", 3L),
      ("x", "x", 2L), ("y", "x", 2L),
      ("z2", "z2", 1L)))
  }

  test("two-hop: distinct reach per hub, sinks report zero") {
    import spark.implicits._
    // add a hub whose only neighbor is a sink: s → t, t has no out-edges
    val tri = triplesDf.union(Seq(
      ("s", "co_occurs_with", "t"), ("s", "mentioned_in", "d4")).toDF("subj", "pred", "obj"))
    val adj = (edges :+ ("s" -> "t")).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = adj.map { case (h, nbrs) =>
      (h, nbrs.size.toLong, nbrs.flatMap(m => adj.getOrElse(m, Set.empty)).size.toLong)
    }.toSet
    val got = GraphOps.twoHop(tri).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(got.exists { case (h, _, two) => h == "s" && two == 0L }) // sink hub
  }

  test("neighborsJaccard: capped neighbor sets, threshold on the ROUNDED score") {
    import spark.implicits._
    // star hub h touches everything (degree > cap once enough spokes exist)
    // — it must vanish from every neighbor list; a and b then share exactly
    // their mutual neighbor c. Graph: a-c, b-c, a-b plus hub h to all spokes.
    val spokes = (1 to GraphOps.MaxWedgeDeg + 1).map(i => ("h", f"sp$i%03d"))
    // twins t1/t2 share exactly {c, d} → jaccard 1.0 (kept); the a-b-c
    // triangle pairs all score 1/3 (dropped by the 0.5 threshold)
    val und = Seq(("a", "c"), ("b", "c"), ("a", "b"),
      ("t1", "c"), ("t1", "d"), ("t2", "c"), ("t2", "d"),
      ("h", "a"), ("h", "b"), ("h", "c")) ++ spokes
    val tri = und.map { case (s, o) => (s, "co_occurs_with", o) }
      .toDF("subj", "pred", "obj")
    val got = GraphOps.neighborsJaccard(tri).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // driver re-derivation: neighbor sets EXCLUDING h (deg(h) > cap)
    val sym = und.flatMap { case (s, o) => Seq(s -> o, o -> s) }.distinct
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    val nb = sym.filter { case (_, n) => deg(n) <= GraphOps.MaxWedgeDeg }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      x <- nb.keys; y <- nb.keys if x < y
      i = (nb(x) & nb(y)).size if i > 0
      j = BigDecimal(i.toDouble / (nb(x).size + nb(y).size - i))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= GraphOps.JaccardMinSim
    } yield (x, y) -> ((i.toLong, j))).toMap
    assert(got == expect)
    assert(got(("t1", "t2")) == ((2L, 1.0)))   // identical capped neighborhoods
    assert(got(("c", "d")) == ((2L, 0.5)))     // exactly at the threshold → kept
    assert(!got.contains(("a", "b")))          // 1/3 < 0.5 → dropped
    assert(!got.keys.exists { case (x, y) => x == "h" || y == "h" }) // hub diluted out
  }

  test("hits: integer-exact unnormalized recurrence, zero-fill for sinks/sources") {
    // driver re-derivation of the exact integer recurrence on the base graph
    val nodes = edges.flatMap { case (s, o) => Seq(s, o) }.distinct
    var hub = nodes.map(_ -> 1L).toMap
    var auth = Map.empty[String, Long]
    for (_ <- 1 to GraphOps.HitsIters) {
      auth = edges.groupBy(_._2).view.mapValues(_.map(e => hub.getOrElse(e._1, 0L)).sum).toMap
      hub = edges.groupBy(_._1).view.mapValues(_.map(e => auth.getOrElse(e._2, 0L)).sum).toMap
    }
    val expect = nodes.map(v =>
      v -> ((auth.getOrElse(v, 0L), hub.getOrElse(v, 0L)))).toMap
    val got = GraphOps.hits(triplesDf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    // scores must be nontrivial (the graph is strongly connected enough)
    assert(got.values.exists { case (a, h) => a > 1 && h > 1 })
  }

  test("bfsDistances: min-hop levels from top hubs match a driver BFS; sink 't' never roots") {
    import spark.implicits._
    // add s → t so there is a sink (t has no out-edges, must never be a
    // root) and a node at distance >1 from some roots
    val dirEdges = edges :+ ("s" -> "t")
    val tri = dirEdges.map { case (s, o) => (s, "co_occurs_with", o) }
      .toDF("subj", "pred", "obj")
    val adj = dirEdges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // hub pick: out-degree desc, id asc, top BfsHubs (all 4 sources here)
    val roots = adj.toSeq.map { case (v, ns) => (v, ns.size) }
      .sortBy { case (v, d) => (-d, v) }.take(GraphOps.BfsHubs).map(_._1)
    val expect = roots.flatMap { r =>
      var dist = Map(r -> 0)
      var frontier = Set(r)
      for (d <- 1 to GraphOps.BfsDepth) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist ++= frontier.map(_ -> d)
      }
      dist.map { case (n, d) => (r, n) -> d }
    }.toMap
    val got = GraphOps.bfsDistances(tri).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(got == expect)
    assert(!got.keys.exists(_._1 == "t"))             // sinks never root
    assert(got(("s", "t")) == 1 && got(("a", "a")) == 0)
  }

  test("labelProp: synchronous rounds with min-label tie-break match a driver re-derivation") {
    import spark.implicits._
    // two triangles bridged by c-x: communities should coalesce per clique
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val tri = und.map { case (s, o) => (s, "co_occurs_with", o) }
      .toDF("subj", "pred", "obj")
    // dependency-free synchronous LPA
    val sym = und.flatMap { case (s, o) => Seq(s -> o, o -> s) }.distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to GraphOps.LpaIters) {
      lab = adj.map { case (v, nbrs) =>
        val counts = nbrs.map(lab).groupBy(identity).view.mapValues(_.size).toMap
        val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        v -> best
      }
    }
    val sz = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = lab.map { case (v, l) => v -> ((l, sz(l))) }
    val got = GraphOps.labelProp(tri).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == expect)
    // sanity: the bridge did not merge everything into one community
    assert(got.values.map(_._1).toSet.size >= 2)
  }

  test("kcore: multi-round peel matches a driver re-derivation; clique core survives") {
    import spark.implicits._
    // 4-clique {a,b,c,d} (the 3-core) + hub x over pendants e,f,g: e,f,g
    // peel in round 1 (degree < 3), which drops x to degree 0 so it peels
    // in round 2 — exercising the round-dependent cascade
    val und = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("x", "e"), ("x", "f"), ("x", "g"), ("e", "f"))
    val tri = und.map { case (s, o) => (s, "co_occurs_with", o) }
      .toDF("subj", "pred", "obj")
    // dependency-free synchronous peel
    val sym = und.flatMap { case (s, o) => Seq(s -> o, o -> s) }.distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var active = adj.keySet
    var peelRound = Map.empty[String, Int]
    for (r <- 1 to GraphOps.KcoreIters) {
      val peel = active.filter(v => (adj(v) & active).size < GraphOps.KcoreK)
      peelRound ++= peel.map(_ -> r)
      active --= peel
    }
    val expect = adj.map { case (v, ns) =>
      v -> ((ns.size.toLong, peelRound.getOrElse(v, 0),
        if (peelRound.contains(v)) 0 else 1))
    }
    val got = GraphOps.kcore(tri).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got == expect)
    // the cascade actually happened: pendants in round 1, their hub in
    // round 2, the clique never
    assert(got("e")._2 == 1 && got("f")._2 == 1 && got("g")._2 == 1)
    assert(got("x")._2 == 2)
    assert(Seq("a", "b", "c", "d").forall(got(_)._3 == 1))
  }

  test("labelProp/kcore: driver fast path == distributed loop row-for-row") {
    import spark.implicits._
    // ring + chords + pendant so peel rounds and label frequencies are
    // non-trivial; big enough that ties and multi-round peels occur
    val rnd = new scala.util.Random(11)
    val es = (0 until 40).map(i => (s"n$i", s"n${(i + 1) % 40}")) ++
      (0 until 25).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}")) ++
      Seq(("n0", "p1"), ("p1", "p2"))
    val tri = es.filter { case (a, b) => a != b }
      .map { case (s, o) => (s, "co_occurs_with", o) }.toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphOps.labelProp(tri)) == rows(GraphOps.labelProp(tri, driverThreshold = -1L)))
    assert(rows(GraphOps.kcore(tri)) == rows(GraphOps.kcore(tri, driverThreshold = -1L)))
  }

  test("labelProp: driver tie-break uses Spark's string order on non-BMP labels") {
    import spark.implicits._
    // m's two neighbors tie on count; U+E000 sorts first in Spark (UTF-8
    // bytes), U+1F600 first in String.compareTo (UTF-16 units)
    val tri = Seq(("m", "\uE000"), ("m", "\uD83D\uDE00"))
      .map { case (s, o) => (s, "co_occurs_with", o) }.toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val driver = rows(GraphOps.labelProp(tri))
    assert(driver == rows(GraphOps.labelProp(tri, driverThreshold = -1L)))
    assert(driver.contains(Seq("m", "\uE000", 1L)))
  }

  test("closed forms on a ring+chord and a hub star: pagerank, hits, kcore") {
    val (n, m) = (ringN, starM)
    def byEntity(df: DataFrame) = collected(df).map(r => r.getString(0) -> r).toMap
    val nd = (m + 1).toDouble
    var (h, sp) = (1.0 / nd, 1.0 / nd)
    for (_ <- 1 to GraphOps.PrIters) {
      val h2 = (1 - GraphOps.Damping) / nd + GraphOps.Damping * m * sp
      sp = (1 - GraphOps.Damping) / nd + GraphOps.Damping * h / m
      h = h2
    }
    val t = GraphOps.HitsIters
    val mT = BigInt(m).pow(t).toLong

    for (th <- paths) withClue(s"driverThreshold $th: ") {
      // pagerank: uniform on the ring, exactly 1.0 after rank·N rounding
      val ringPr = byEntity(GraphOps.pagerank(ring, th))
      assert(ringPr.size == n && ringPr.values.forall(_.getDouble(1) == 1.0), ringPr.values.mkString(","))
      // pagerank on the star: the two-variable recurrence (hub, spoke)
      val starPr = byEntity(GraphOps.pagerank(star, th)).view.mapValues(_.getDouble(1)).toMap
      assert(starPr.size == m + 1)
      assert(math.abs(starPr("hub") - h * nd) <= 1.01e-4, s"hub ${starPr("hub")} vs ${h * nd}")
      starPr.removed("hub").values.foreach(r => assert(math.abs(r - sp * nd) <= 1.01e-4, s"spoke $r vs ${sp * nd}"))

      // hits: 2-regular ring gives auth = 2^(2T-1), hub = 2^(2T) everywhere;
      // the star gives powers of m: hub (m^T, m^T), spokes (m^(T-1), m^T)
      val ringHits = byEntity(GraphOps.hits(ring, th)).values.map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(ringHits == Set((1L << (2 * t - 1), 1L << (2 * t))))
      val starHits = byEntity(GraphOps.hits(star, th)).view.mapValues(r => (r.getLong(1), r.getLong(2))).toMap
      assert(starHits("hub") == ((mT, mT)))
      assert(starHits.removed("hub").values.toSet == Set((BigInt(m).pow(t - 1).toLong, mT)))
    }

    // kcore on the distributed loop: the ring's symmetric degree 4 >= k, so
    // no node peels; on the star every spoke (degree 1) peels in round 1,
    // which isolates the hub, peeled in round 2
    val ringCore = byEntity(GraphOps.kcore(ring, driverThreshold = -1L)).values
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    assert(ringCore.size == n && ringCore.toSet == Set((4L, 0, 1)))
    val starCore = byEntity(GraphOps.kcore(star, driverThreshold = -1L)).view
      .mapValues(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toMap
    assert(starCore("hub") == ((m.toLong, 2, 0)))
    assert(starCore.size == m + 1 && starCore.removed("hub").values.toSet == Set((1L, 1, 0)))
  }

  test("pagerank/hits: driver fast path == distributed loop row-for-row") {
    // the spec graph, the spec graph with a doubled edge (duplicates count
    // in outdeg and in the sums on both paths), the ring+chord, the hub star
    val doubled = co(edges :+ ("a" -> "b"))
    def rows(df: DataFrame) = collected(df).map(_.toSeq).toSet
    for ((name, g) <- Seq("spec" -> triplesDf, "doubled" -> doubled, "ring" -> ring, "star" -> star))
      withClue(s"$name: ") {
        val pr = rows(GraphOps.pagerank(g))
        assert(pr.nonEmpty && pr == rows(GraphOps.pagerank(g, driverThreshold = -1L)))
        val hits = rows(GraphOps.hits(g))
        assert(hits.nonEmpty && hits == rows(GraphOps.hits(g, driverThreshold = -1L)))
      }
    // the doubled edge moves the scores: the duplicate is not dropped
    assert(rows(GraphOps.pagerank(doubled)) != rows(GraphOps.pagerank(triplesDf)))
    assert(rows(GraphOps.hits(doubled)) != rows(GraphOps.hits(triplesDf)))
  }

  test("hits: a Long overflow fails loudly on both paths") {
    // a ↔ b, each direction k times: scores grow as k^(2T), past Long.MaxValue
    val k = 1500
    val g = co(Seq.fill(k)(Seq("a" -> "b", "b" -> "a")).flatten)
    assert(BigInt(k).pow(2 * GraphOps.HitsIters) > Long.MaxValue)
    def arithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))
    // the distributed path's failing task is expected: keep its stack
    // traces out of the test log
    val quiet = Seq("org.apache.spark.executor.Executor", "org.apache.spark.scheduler.TaskSetManager")
    val levels = quiet.map(l => l -> LogManager.getLogger(l).getLevel)
    quiet.foreach(Configurator.setLevel(_, Level.OFF))
    try for (th <- paths) withClue(s"driverThreshold $th: ") {
      val err = intercept[Exception](GraphOps.hits(g, th))
      assert(arithmetic(err), err.toString)
    } finally levels.foreach { case (l, lv) => Configurator.setLevel(l, lv) }
  }

  test("coocPmi: ln(n_ab·N / (n_a·n_b)) at 4 dp, min-joint filter") {
    import spark.implicits._
    val mi = Seq(
      ("a", "d1"), ("a", "d2"), ("a", "d3"),
      ("b", "d1"), ("b", "d2"),
      ("c", "d3"), ("c", "d4")) // (a,b) joint 2 → kept; (a,c) joint 1 → dropped
    val tri = mi.map { case (e, d) => (e, "mentioned_in", d) }
      .toDF("subj", "pred", "obj")
    val got = GraphOps.coocPmi(tri).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val expectPmi = BigDecimal(math.log(2.0 * 4 / (3 * 2)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(("a", "b") -> ((2L, expectPmi))))
  }
}
