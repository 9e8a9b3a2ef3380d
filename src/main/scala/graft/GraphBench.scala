package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fmt
import graft.kg.GraphOps

/** Graph-analytics scale benchmark: the sf corpora produce only ~10^3-entity
  * graphs, so [[graft.kg.GraphOps]] gets its scale evidence the CcBench way —
  * deterministic synthetic graphs with CLOSED-FORM PageRank, sized past
  * anything the oracle gate reaches:
  *
  *   - **ring+chord** (every node → next and → node+7): out-degree == in-degree
  *     == 2 everywhere, so PageRank is exactly uniform at every iteration —
  *     rank_norm must be 1.0 on all n nodes. A 2n-edge regular graph with no
  *     skew: the pure throughput row.
  *   - **star** (hub ↔ every spoke): by symmetry all spokes share one rank, so
  *     the whole graph reduces to a 2-variable scalar recurrence computed on
  *     the driver — an exact expectation at ANY size. The hub's n in-edges are
  *     the partial-agg skew case; its n out-edges are the join-side skew case.
  *
  * Correctness is asserted inline on every row (distinct-rank cardinality +
  * value equality at the output's 4 dp). Usage: runMain graft.GraphBench
  * (SPARK_GRAFT_CPUS to vary parallelism for the two-level scaling row).
  */
object GraphBench {

  /** directed ring + a +7 chord: 2-regular in AND out → uniform PageRank.
    * n must exceed the chord stride: at n == 7 the chord is a self-loop and
    * at n <= 6 it collides with ring edges, silently producing a multigraph
    * that still passes the uniform-rank check. */
  def ringChordTriples(spark: SparkSession, n: Long): DataFrame = {
    require(n > 7, s"ring+chord needs n > 7 (chord stride), got $n")
    spark.range(n).selectExpr(
      "format_string('n%010d', id) as subj",
      s"array(format_string('n%010d', (id + 1) % $n)," +
        s" format_string('n%010d', (id + 7) % $n)) as dsts")
      .select(col("subj"), lit("co_occurs_with").as("pred"),
        explode(col("dsts")).as("obj"))
  }

  /** hub ↔ spoke star: 2(n-1) edges, all spokes symmetric. */
  def starTriples(spark: SparkSession, n: Long): DataFrame =
    spark.range(1, n).selectExpr(s"format_string('n%010d', id) as spoke")
      .selectExpr(
        "array(named_struct('subj', spoke, 'obj', 'hub')," +
          " named_struct('subj', 'hub', 'obj', spoke)) as es")
      .select(explode(col("es")).as("e"))
      .select(col("e.subj").as("subj"), lit("co_occurs_with").as("pred"),
        col("e.obj").as("obj"))

  /** the star graph's exact 2-variable recurrence (hub rank, spoke rank),
    * UNROUNDED — the distributed side folds the hub's n-term contribution sum
    * in partial-agg order, so the comparison is relative-tolerance, not the
    * output's 4 dp (which is sub-ulp-noise-sized at rank_norm ~ 1e6). */
  def starExpected(n: Long): (Double, Double) = {
    val nd = n.toDouble
    var h = 1.0 / nd
    var s = 1.0 / nd
    for (_ <- 1 to GraphOps.PrIters) {
      val h2 = (1 - GraphOps.Damping) / nd + GraphOps.Damping * (nd - 1) * s
      val s2 = (1 - GraphOps.Damping) / nd + GraphOps.Damping * h / (nd - 1)
      h = h2; s = s2
    }
    (h * nd, s * nd)
  }

  final case class Row2(graph: String, nodes: Long, edges: Long,
                        pagerankSec: Double, degreeSec: Double,
                        prLoad: Double, degLoad: Double,
                        hitsSec: Double = -1.0, hitsLoad: Double = 0.0,
                        kcoreSec: Double = -1.0, kcoreLoad: Double = 0.0)

  /** closed-form integer HITS on the 2-regular ring+chord: every node has
    * in-deg == out-deg == 2, so a_t = 2·h_{t-1} and h_t = 2·a_t uniformly →
    * auth = 2^(2T-1), hub = 2^(2T). */
  def ringHitsExpected: (Long, Long) =
    (1L << (2 * GraphOps.HitsIters - 1), 1L << (2 * GraphOps.HitsIters))

  /** closed-form integer HITS on the hub↔spoke star with m = n-1 spokes:
    * the recurrence collapses to powers of m — hub (auth, hub) = (m^T, m^T),
    * spoke (auth, hub) = (m^(T-1), m^T). Returns None when m^T overflows
    * Int64 (the op's DOCUMENTED bound: scores grow ≤ maxdeg^(2t)) — the
    * bench then SKIPS the row rather than asserting on wrapped values. */
  def starHitsExpected(n: Long): Option[(Long, Long, Long)] = {
    val m = BigInt(n - 1)
    val t = GraphOps.HitsIters
    val mT = m.pow(t)
    if (mT > BigInt(Long.MaxValue)) None
    else Some((mT.toLong, m.pow(t - 1).toLong, mT.toLong))
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** min wall across 2 reps (host has noisy neighbors: a single-rep row once
    * recorded 149 s for a run whose twin measured 21.6 s), with the winning
    * rep's contention reading so a polluted pair is machine-flaggable. The
    * reading is max(sampled loadavg-based external load, hypervisor steal
    * converted to stolen CORES of this JVM's requested parallelism) — both
    * on the cores scale, covering the two distinct noise sources (other
    * processes on this host; other guests of the hypervisor).
    */
  private def measure[A](spark: SparkSession, selfCpus: Double)(body: => A): (A, Double, Double) = {
    var best = Double.MaxValue
    var bestLoad = 0.0
    var res: Option[A] = None
    for (_ <- 1 to 2) {
      spark.catalog.clearCache()
      val sampler = new graft.core.LoadProbe.Sampler(selfCpus)
      val st0 = graft.core.StealProbe.snapshot()
      val (a, sec) = timed(body)
      val load = math.max(sampler.stop(),
        graft.core.StealProbe.pct(st0, graft.core.StealProbe.snapshot()) / 100.0 * selfCpus)
      if (sec < best) { best = sec; bestLoad = load; res = Some(a) }
    }
    (res.get, best, bestLoad)
  }

  def main(args: Array[String]): Unit = {
    val cpus = BenchSession.cpus
    val spark = BenchSession("graft-graph-bench", cpus)

    val rows = scala.collection.mutable.ArrayBuffer.empty[Row2]

    // unmeasured warmup: the first PageRank run pays ~5x codegen/JIT warmup
    // (measured: 115 s for a ring the steady state runs in <10 s), which
    // would misattribute compiler time to the smallest measured row
    GraphOps.pagerank(ringChordTriples(spark, 100000L)).count()
    GraphOps.hits(ringChordTriples(spark, 100000L)).count()
    GraphOps.kcore(ringChordTriples(spark, 100000L)).count()
    spark.catalog.clearCache()

    val selfCpus = cpus.toDouble
    val sizes = sys.env.get("SPARK_GRAFT_GRAPH_NODES")
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(500000L, 2000000L, 5000000L))

    sizes.foreach { n =>
      // ring+chord: uniform closed form
      val ring = ringChordTriples(spark, n)
      val (prDistinct, prSec, prLoad) = measure(spark, selfCpus) {
        GraphOps.pagerank(ring).select("rank_norm").distinct().collect()
      }
      require(prDistinct.length == 1 && prDistinct.head.getDouble(0) == 1.0,
        s"ring n=$n: uniform closed form violated: ${prDistinct.mkString(",")}")
      val (degAgg, degSec, degLoad) = measure(spark, selfCpus) {
        GraphOps.degrees(ring.union(
          // degrees also wants mentioned_in rows; one per node keeps it regular
          spark.range(n).selectExpr("format_string('n%010d', id) as subj",
            "'mentioned_in' as pred", "format_string('d%010d', id) as obj")))
          .agg(min("out_degree"), max("out_degree"), min("in_degree"),
            max("in_degree"), count(lit(1))).collect().head
      }
      require(degAgg.getLong(0) == 2 && degAgg.getLong(1) == 2 &&
        degAgg.getLong(2) == 2 && degAgg.getLong(3) == 2 && degAgg.getLong(4) == n,
        s"ring n=$n: degree closed form violated: $degAgg")
      val (ringHits, rhSec, rhLoad) = measure(spark, selfCpus) {
        GraphOps.hits(ring)
          .select("auth", "hub").distinct().collect()
      }
      val (expA, expH) = ringHitsExpected
      require(ringHits.length == 1 && ringHits.head.getLong(0) == expA &&
        ringHits.head.getLong(1) == expH,
        s"ring n=$n: HITS closed form violated: ${ringHits.mkString(",")} != ($expA,$expH)")
      // k-core on the 4-regular symmetric view (neighbors ±1, ±7): degree 4
      // >= KcoreK everywhere, so NO node is ever peeled and all six rounds
      // join against the full n-node active set — the worst-case round cost
      val (ringCore, rcSec, rcLoad) = measure(spark, selfCpus) {
        GraphOps.kcore(ring)
          .groupBy("sym_degree", "peel_round", "in_kcore")
          .agg(count(lit(1)).as("c")).collect()
      }
      require(ringCore.length == 1 && ringCore.head.getLong(0) == 4 &&
        ringCore.head.getInt(1) == 0 && ringCore.head.getInt(2) == 1 &&
        ringCore.head.getLong(3) == n,
        s"ring n=$n: kcore closed form violated: ${ringCore.mkString(",")}")
      rows += Row2(s"ring+chord", n, 2 * n, prSec, degSec, prLoad, degLoad,
        rhSec, rhLoad, rcSec, rcLoad)

      // star: scalar-recurrence closed form, hub skew by construction
      val star = starTriples(spark, n)
      val (hubSpoke, starSec, starLoad) = measure(spark, selfCpus) {
        GraphOps.pagerank(star)
          .groupBy("rank_norm").agg(count(lit(1)).as("c"))
          .orderBy(col("c")).collect()
      }
      val (expHub, expSpoke) = starExpected(n)
      // the op rounds rank_norm to 4 dp, so one rounding step (1e-4) is the
      // tolerance floor; 1e-6 relative covers the hub's large-magnitude sum
      def close(a: Double, b: Double) =
        math.abs(a - b) <= math.max(1.01e-4, 1e-6 * math.abs(b))
      require(hubSpoke.length == 2, s"star n=$n: expected 2 rank classes, got ${hubSpoke.length}")
      require(close(hubSpoke(0).getDouble(0), expHub) && hubSpoke(0).getLong(1) == 1L,
        s"star n=$n: hub rank ${hubSpoke(0)} != $expHub")
      require(close(hubSpoke(1).getDouble(0), expSpoke) && hubSpoke(1).getLong(1) == n - 1,
        s"star n=$n: spoke rank ${hubSpoke(1)} != $expSpoke")
      // HITS on the star: 2-class integer closed form; SKIPPED (sec = -1)
      // when m^T would overflow Int64 — the op's documented score bound
      val (shSec, shLoad) = starHitsExpected(n) match {
        case Some((hubScore, spokeAuth, spokeHub)) =>
          val (classes, sec, load) = measure(spark, selfCpus) {
            GraphOps.hits(star)
              .groupBy("auth", "hub").agg(count(lit(1)).as("c"))
              .orderBy(col("c")).collect()
          }
          require(classes.length == 2, s"star n=$n: HITS expected 2 classes, got ${classes.length}")
          require(classes(0).getLong(0) == hubScore && classes(0).getLong(1) == hubScore &&
            classes(0).getLong(2) == 1L,
            s"star n=$n: hub HITS ${classes(0)} != ($hubScore,$hubScore,1)")
          require(classes(1).getLong(0) == spokeAuth && classes(1).getLong(1) == spokeHub &&
            classes(1).getLong(2) == n - 1,
            s"star n=$n: spoke HITS ${classes(1)} != ($spokeAuth,$spokeHub,${n - 1})")
          (sec, load)
        case None =>
          println(s"""{"metric":"graph_bench_note","graph":"star","nodes":$n,""" +
            s""""hits":"skipped: (n-1)^${GraphOps.HitsIters} exceeds Int64 — documented score bound"}""")
          (-1.0, 0.0)
      }
      // k-core on the star: every spoke has symmetric degree 1 < KcoreK →
      // peeled in round 1; the hub (degree n-1, the skew side of the
      // round-1 join) is left isolated → peeled in round 2; rounds 3-6 run
      // on an EMPTY active set — the fast-shrink case complementing the
      // ring's no-shrink case
      val (starCore, scSec, scLoad) = measure(spark, selfCpus) {
        GraphOps.kcore(star)
          .groupBy("sym_degree", "peel_round", "in_kcore")
          .agg(count(lit(1)).as("c")).orderBy(col("c").desc).collect()
      }
      require(starCore.length == 2, s"star n=$n: kcore expected 2 classes, got ${starCore.mkString(",")}")
      require(starCore(0).getLong(0) == 1 && starCore(0).getInt(1) == 1 &&
        starCore(0).getInt(2) == 0 && starCore(0).getLong(3) == n - 1,
        s"star n=$n: spoke kcore class ${starCore(0)} != (1,1,0,${n - 1})")
      require(starCore(1).getLong(0) == n - 1 && starCore(1).getInt(1) == 2 &&
        starCore(1).getInt(2) == 0 && starCore(1).getLong(3) == 1L,
        s"star n=$n: hub kcore class ${starCore(1)} != (${n - 1},2,0,1)")
      rows += Row2("star(hub-skew)", n, 2 * (n - 1), starSec, -1.0, starLoad, 0.0,
        shSec, shLoad, scSec, scLoad)
    }

    rows.foreach { r =>
      println(s"""{"metric":"graph_bench","graph":"${r.graph}","nodes":${r.nodes},""" +
        s""""edges":${r.edges},"cpus":$cpus,"pagerank_sec":${Fmt.f3(r.pagerankSec)}""" +
        s""","pr_ext_load":${Fmt.f2(r.prLoad)}""" +
        (if (r.degreeSec >= 0)
          s""","degree_sec":${Fmt.f3(r.degreeSec)},"deg_ext_load":${Fmt.f2(r.degLoad)}"""
        else "") +
        (if (r.hitsSec >= 0)
          s""","hits_sec":${Fmt.f3(r.hitsSec)},"hits_ext_load":${Fmt.f2(r.hitsLoad)}"""
        else "") +
        (if (r.kcoreSec >= 0)
          s""","kcore_sec":${Fmt.f3(r.kcoreSec)},"kcore_ext_load":${Fmt.f2(r.kcoreLoad)}}"""
        else "}"))
    }

    val md = new StringBuilder
    md ++= s"## GraphOps at scale — measured on local[$cpus] (regenerate: `runMain graft.GraphBench`)\n\n"
    md ++= "PageRank (5 iters), degree profile, and integer-exact HITS (3 iters) over\n"
    md ++= "synthetic graphs with closed-form expectations, asserted on every row:\n"
    md ++= "ring+chord is 2-regular (uniform rank exactly 1.0; HITS auth/hub exactly\n"
    md ++= "2^(2T-1)/2^(2T)); the star collapses to scalar recurrences (hub's n\n"
    md ++= "in-edges = partial-agg skew, n out-edges = join skew; HITS classes are\n"
    md ++= "powers of m = n-1, and rows where m^T would overflow Int64 are SKIPPED —\n"
    md ++= "the op's documented score bound). Wall times are the min of 2 reps;\n"
    md ++= "ext_load is the winning rep's contention reading —\n"
    md ++= "max(2 s-sampled loadavg external load, hypervisor steal% converted to\n"
    md ++= "stolen cores of this JVM's parallelism) — nonzero = contaminated window.\n\n"
    md ++= "k-core (k=3, 6 synchronous peel rounds) joins the battery with its own\n"
    md ++= "closed forms: the ring's symmetric view is 4-regular, so NO node peels\n"
    md ++= "and all six rounds join the full active set (worst-case round cost); the\n"
    md ++= "star cascades — spokes (degree 1) peel in round 1 through the hub-skewed\n"
    md ++= "join, the isolated hub in round 2, rounds 3-6 run on an empty set.\n\n"
    md ++= "| graph | nodes | edges | pagerank (s) | pr ext_load | degrees (s) | deg ext_load | hits (s) | hits ext_load | kcore (s) | kcore ext_load |\n|---|---|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { r =>
      md ++= s"| ${r.graph} | ${r.nodes} | ${r.edges} | ${Fmt.f1(r.pagerankSec)} | " +
        s"${Fmt.f2(r.prLoad)} | " +
        s"${if (r.degreeSec >= 0) s"${Fmt.f1(r.degreeSec)} | ${Fmt.f2(r.degLoad)}" else "— | —"} | " +
        s"${if (r.hitsSec >= 0) s"${Fmt.f1(r.hitsSec)} | ${Fmt.f2(r.hitsLoad)}" else "— (Int64 bound) | —"} | " +
        s"${if (r.kcoreSec >= 0) s"${Fmt.f1(r.kcoreSec)} | ${Fmt.f2(r.kcoreLoad)}" else "— | —"} |\n"
    }
    Files.createDirectories(Paths.get("BENCH"))
    val out = Paths.get(s"BENCH/GRAPH_BENCH_c$cpus.md")
    Files.writeString(out, md.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    spark.stop()
  }
}
