package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.{Fmt, ModelConfig, PyramidInference}
import graft.kg.{AliasDict, Canonical, DocGen}

/** The probe entry point, one mode per layer: `runMain graft.Perf <mode> ...`
  *
  *   - `kernel [reps] [sentences] [default|genia]` (L0): one-thread Pyramid
  *     inference over [[InferBench]]'s seeded input, tokens/s per rep and the
  *     decode checksum. Needs no Spark on the classpath.
  *   - `query <sfDir> <query>...`: times the named `SparkEntry.queries` in
  *     one warm JVM through Bench's noop sink; `SparkEntry.stage` runs first,
  *     outside every timing.
  *   - `scaling [sfDir] [N] [amplify] [default|genia]` (L4): the
  *     [[KgHeadline]] at `local[N]` and `local[4N]`, with each level's
  *     machine ceiling; writes `BENCH/BASELINE.md` (`BASELINE_GENIA.md`).
  *   - `cc [sfDir]`: connected components on the dictionary graph (both
  *     paths) and on synthetic chain+star graphs above the driver guard;
  *     writes `BENCH/CC_BENCH.md`.
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, then the sf0.1 test corpus.
  */
object Perf {

  def main(args: Array[String]): Unit = args.toList match {
    case "kernel" :: rest => kernel(rest)
    case "query" :: rest => query(rest)
    case "scaling" :: rest => scaling(rest)
    case "cc" :: rest => Cc(rest)
    case mode => throw new IllegalArgumentException(
      s"unknown mode '${mode.headOption.getOrElse("")}': use kernel, query, scaling or cc")
  }

  private def sfDirOr(arg: Option[String]): String =
    arg.getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

  private def cfgOf(name: String): ModelConfig =
    if (name == "genia") ModelConfig.genia else ModelConfig()

  // ---- kernel

  /** The checksum must not change under kernel-level optimizations (the
    * kernels block over output rows and tokens, never inside one row's sum).
    * The blocked SIMD kernels need about 10 reps to reach steady state, so
    * compare the median of the later reps.
    */
  private def kernel(args: List[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(5)
    val nSent = args.lift(1).map(_.toInt).getOrElse(192)
    val (inf, sents) = InferBench.setup(cfgOf(args.lift(2).getOrElse("default")), nSent)
    val nTok = sents.map(_.length.toLong).sum
    var sum = 0L
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      sum = InferBench.checksum(inf, sents)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[perf kernel] rep $r: ${nTok / sec}%.0f tokens/s ($sec%.3f s, $nTok tokens)")
    }
    println(s"[perf kernel] checksum=$sum")
  }

  // ---- query

  private def query(args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      throw new IllegalArgumentException("query needs <sfDir> <query>..."))
    val names = args.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val spark = BenchSession("graft-perf-query", BenchSession.cpus)
    try {
      SparkEntry.stage(spark, sfDir)
      names.foreach { n =>
        val (_, sec) = Bench.time(Bench.force(SparkEntry.queries(n)(spark, sfDir)))
        println(f"[perf query] $n%-24s $sec%9.3f s")
      }
    } finally spark.stop()
  }

  // ---- scaling

  private final case class Level(cpus: Int, best: KgHeadline.Rep, tokens: Long,
                                 extLoad: Double, cpuUtil: Double, stealPct: Double,
                                 calibPerThread: Double) {
    def triplesPerSec: Double = best.triples / best.sec
    def tokensPerSec: Double = tokens / best.sec
  }

  /** 1 warm-up rep, then `reps` timed ones. The level's time is the MIN of
    * the timed reps: the host has bursty noisy neighbors that depress a rep's
    * throughput while this JVM still gets its cores (external memory
    * bandwidth), so the minimum is the least-contended sample. `extLoad` is
    * the largest sampled external load over the timed reps; cpu util and
    * steal are their means.
    */
  private def level(cpus: Int, sfDir: String, amplify: Int, reps: Int,
                    cfg: ModelConfig): Level = {
    val spark = BenchSession(s"graft-scaling-$cpus", cpus)
    try {
      val kg = new KgHeadline(spark, sfDir, amplify, cfg, cpus)
      val timed = (0 to reps).map(_ => kg.rep()).drop(1)
      // the machine ceiling at this width, after the Spark reps (warm JIT)
      val calib = calibPerThread(cpus, cfg, kg.model.vocab.size)
      Level(cpus, timed.minBy(_.sec), kg.tokens, timed.map(_.load).max,
        timed.map(r => r.cpuSec / r.sec / cpus).sum / reps, timed.map(_.steal).sum / reps, calib)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Per-thread tokens/s of a zero-coordination workload at `threads`
    * threads: each thread runs its own [[PyramidInference]] over InferBench's
    * seeded input (2 s JIT warm-up, then 8 s). The ratio between two widths
    * is the machine's parallel ceiling (shared caches, clocks, steal), not
    * the job's. The input takes the job's config and vocab size: a
    * genia-shaped 40 MB embedding table is memory-bound at widths where the
    * default config's is not.
    */
  private def calibPerThread(threads: Int, cfg: ModelConfig, vocabSize: Int): Double = {
    val (w, vocab, sents) = InferBench.seeded(cfg, 256, vocabSize)
    def burst(wallSec: Double): Double = {
      val deadline = System.nanoTime() + (wallSec * 1e9).toLong
      val tokens = new AtomicLong
      val ts = Array.fill(threads)(new Thread(() => {
        val inf = new PyramidInference(w, vocab)
        var tok = 0L
        var i = 0
        while (System.nanoTime() < deadline) {
          tok += inf.forward(sents(i % sents.length)).layers.head.length
          i += 1
        }
        tokens.addAndGet(tok)
      }))
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      tokens.get / ((System.nanoTime() - t0) / 1e9) / threads
    }
    burst(2.0)
    burst(8.0)
  }

  private def scaling(args: List[String]): Unit = {
    val sfDir = sfDirOr(args.lift(0))
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val amplify = args.lift(2).map(_.toInt).getOrElse(16)
    val cfgName = args.lift(3).getOrElse("default")
    val cfg = cfgOf(cfgName)
    val reps = 3

    val lo = level(n, sfDir, amplify, reps, cfg)
    val hi = level(4 * n, sfDir, amplify, reps, cfg)
    val efficiency = (hi.triplesPerSec / lo.triplesPerSec) / 4.0
    val hwCeiling = hi.calibPerThread / lo.calibPerThread
    val swEfficiency = efficiency / hwCeiling

    val json =
      s"""{"metric":"scaling_efficiency","value":$efficiency,"unit":"ratio",""" +
        s""""sf":"$sfDir","amplify":$amplify,"cfg":"$cfgName","docs_tokens":${lo.tokens},""" +
        s""""triples":${lo.best.triples},""" +
        s""""n_cpus":${lo.cpus},"triples_per_sec_N":${lo.triplesPerSec},""" +
        s""""wall_sec_N":${lo.best.sec},""" +
        s""""n4_cpus":${hi.cpus},"triples_per_sec_4N":${hi.triplesPerSec},""" +
        s""""wall_sec_4N":${hi.best.sec},""" +
        s""""ext_load_N":${Fmt.f1(lo.extLoad)},"ext_load_4N":${Fmt.f1(hi.extLoad)},""" +
        s""""steal_pct_N":${Fmt.f1(lo.stealPct)},"steal_pct_4N":${Fmt.f1(hi.stealPct)},""" +
        s""""cpu_util_N":${Fmt.f3(lo.cpuUtil)},"cpu_util_4N":${Fmt.f3(hi.cpuUtil)},""" +
        s""""calib_per_thread_N":${Fmt.f0(lo.calibPerThread)},""" +
        s""""calib_per_thread_4N":${Fmt.f0(hi.calibPerThread)},""" +
        s""""hw_ceiling":${Fmt.f3(hwCeiling)},"sw_scaling_eff":${Fmt.f3(swEfficiency)}}"""
    println(json)

    def row(name: String, l: Level) =
      s"| $name | ${l.cpus} | ${Fmt.f2(l.best.sec)} | ${Fmt.f0(l.triplesPerSec)} | " +
        s"${Fmt.f0(l.tokensPerSec)} | ${Fmt.f1(l.extLoad)} | ${Fmt.f1(l.stealPct)} | ${Fmt.f2(l.cpuUtil)} |"
    val md =
      s"""# BENCH/BASELINE — measured results (regenerate: `runMain graft.Perf scaling`)
         |
         |KG pipeline (docs → pyramid mentions → link → canonicalize → triples),
         |identical job + identical input at two parallelism levels (model config: $cfgName)
         |(`local[${lo.cpus}]` vs `local[${hi.cpus}]`, the sandbox stand-in for N vs 4N
         |executors). Minimum of $reps runs (least-contended sample on a shared
         |host), warm-up excluded.
         |
         || level | cores | wall (s) | triples/s | tokens/s | ext. host load | steal % | cpu util |
         ||---|---|---|---|---|---|---|---|
         |${row("N", lo)}
         |${row("4N", hi)}
         |
         |- corpus: `$sfDir/documents.parquet` deterministically amplified ×$amplify
         |  (${lo.tokens} text tokens; ${lo.best.triples} distinct-triple rows)
         |- **raw scaling efficiency = (thr@4N / thr@N) / 4 = ${Fmt.f3(efficiency)}**
         |  (target ≥ 0.8, BASELINE.md row 9)
         |- **machine ceiling at 4N threads** (embarrassingly-parallel per-thread
         |  inference, zero coordination):
         |  ${Fmt.f0(lo.calibPerThread)} tokens/s/thread at ${lo.cpus} threads →
         |  ${Fmt.f0(hi.calibPerThread)} at ${hi.cpus} threads = ${Fmt.f3(hwCeiling)}.
         |  This is what ONE BOX gives a perfectly-parallel job when widening
         |  ${lo.cpus} → ${hi.cpus} threads (shared LLC, hypervisor steal, full-width
         |  clocks). A real N→4N-EXECUTOR scale-up adds machines instead of
         |  saturating one, so the box ceiling does not apply there.
         |- **ceiling-normalized (software) scaling efficiency =
         |  ${Fmt.f3(efficiency)} / ${Fmt.f3(hwCeiling)} = ${Fmt.f3(swEfficiency)}** — the
         |  job-structure component (shuffles, barriers, stragglers, fixed
         |  stages), i.e. what transfers to a multi-machine cluster. A value
         |  above 1 is unphysical (a coordinated job cannot out-scale a
         |  zero-coordination one) and means the CEILING calibration itself
         |  caught a contended window — treat the raw row as the binding read
         |  and the normalized figure as diagnostic only.
         |- ext. host load = the largest 1-min loadavg minus this JVM's cores,
         |  sampled every 2 s during the timed reps (noisy neighbors; external
         |  load ≳ a few cores contends the 4N level and deflates measured
         |  efficiency — compare cpu util: the fraction of requested cores the
         |  JVM actually obtained)
         |- steal % = hypervisor CPU steal over the timed reps (/proc/stat):
         |  contention from another GUEST, invisible to loadavg — a nonzero
         |  value flags a window the other two signals would call quiet
         |- JSON: `$json`
         |""".stripMargin
    writeBench(if (cfgName == "genia") "BASELINE_GENIA.md" else "BASELINE.md", md)
  }

  private def writeBench(name: String, md: String): Unit = {
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH", name), md)
  }

  /** The `cc` mode, in its own object so that the kernel mode's class loads
    * without Spark on the classpath. */
  object Cc {

    /** Chains of `blockLen` consecutive nodes plus a star spoke from every 4th
      * node to its block head: ⌈n / blockLen⌉ components, long chains (the
      * most star rounds) and hot heads (the skew case) by construction. Node
      * ids are strings like the production entity ids.
      */
    def syntheticEdges(spark: SparkSession, nNodes: Long, blockLen: Int): DataFrame =
      spark.range(nNodes)
        .selectExpr(
          s"format_string('n%010d', id) as src",
          s"""case when (id + 1) % $blockLen != 0 and id + 1 < $nNodes
             |  then format_string('n%010d', id + 1) else null end as chain_dst""".stripMargin,
          s"""case when id % 4 = 0 and id % $blockLen != 0
             |  then format_string('n%010d', id - id % $blockLen) else null end as star_dst""".stripMargin)
        .selectExpr("src", "explode(array(chain_dst, star_dst)) as dst")
        .where(col("dst").isNotNull)

    private final case class Row(graph: String, edges: Long, path: String, iterations: Int,
                                 wallSec: Double, components: Long)

    private def run(name: String, edges: DataFrame, distributed: Boolean): Row = {
      val t0 = System.nanoTime()
      val (map, stats) = Canonical.connectedComponentsWithStats(
        edges, driverThreshold = if (distributed) 0L else Long.MaxValue)
      val components = map.select("canonical_id").distinct().count()
      val wall = (System.nanoTime() - t0) / 1e9
      Row(name, stats.edgesIn, if (stats.usedDriverPath) "driver" else "star-loop",
        stats.iterations, wall, components)
    }

    def apply(args: List[String]): Unit = {
      val sfDir = sfDirOr(args.lift(0))
      val cpus = BenchSession.cpus
      val spark = BenchSession("graft-perf-cc", cpus)
      try {
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        // the production edge shape: both paths on the sf dictionary's edges
        val dictEdges = Canonical.edgesFromDict(AliasDict.build(DocGen.docs(spark, sfDir)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        dictEdges.count()
        val realDriver = run(s"dict@$sfDir", dictEdges, distributed = false)
        val realStar = run(s"dict@$sfDir", dictEdges, distributed = true)
        require(realDriver.components == realStar.components,
          s"paths disagree on the real graph: ${realDriver.components} vs ${realStar.components}")
        rows += realDriver += realStar
        dictEdges.unpersist()

        // synthetic chain+star graphs above the driver guard
        val blockLen = 64
        Seq(1000000L, 4000000L, 8000000L).foreach { n =>
          val expected = (n + blockLen - 1) / blockLen
          val r = run(s"chain+star n=$n", syntheticEdges(spark, n, blockLen), distributed = true)
          require(r.components == expected, s"n=$n: got ${r.components} components, want $expected")
          require(r.iterations > 0, "distributed loop must actually iterate")
          rows += r
          // the driver path on the same graph up to 2M edges (collect cost bounds it)
          if (r.edges <= 2000000L) {
            val d = run(s"chain+star n=$n", syntheticEdges(spark, n, blockLen), distributed = false)
            require(d.components == expected, s"n=$n driver: got ${d.components}, want $expected")
            rows += d
          }
        }

        rows.foreach { r =>
          println(s"""{"metric":"cc_bench","graph":"${r.graph}","edges":${r.edges},""" +
            s""""path":"${r.path}","iterations":${r.iterations},"wall_sec":${r.wallSec},""" +
            s""""components":${r.components}}""")
        }
        val md = new StringBuilder
        md ++= "## Distributed CC star loop — measured (regenerate: `runMain graft.Perf cc`)\n\n"
        md ++= "`Canonical.connectedComponents` large/small-star loop, forced past the\n"
        md ++= s"driver fast path (threshold 0), `local[$cpus]`. The synthetic graphs are\n"
        md ++= s"$blockLen-node chains with a star spoke from every 4th node to its block\n"
        md ++= "head — max star rounds (chains) + hot heads (skew) by construction.\n"
        md ++= "Component counts verified against the closed form on every row.\n\n"
        md ++= "| graph | edges | path | star rounds | wall (s) | components |\n|---|---|---|---|---|---|\n"
        rows.foreach { r =>
          md ++= s"| ${r.graph} | ${r.edges} | ${r.path} | ${r.iterations} | ${Fmt.f1(r.wallSec)} | ${r.components} |\n"
        }
        md ++= "\n- crossover: the driver union-find wins below ~O(10^6) edges (collect +\n"
        md ++= "  single-threaded scan beat ~6 Spark jobs per star round); the star loop's\n"
        md ++= "  per-round cost scales with cores and its round count is O(log chain-len),\n"
        md ++= "  so above the threshold it is the only path that does not hit driver memory.\n"
        md ++= "  The production `DriverCcThreshold = 500k` sits below the measured crossover\n"
        md ++= "  — conservative in the right direction (never slower AND never OOM).\n"
        writeBench("CC_BENCH.md", md.toString)
      } finally spark.stop()
    }
  }
}
