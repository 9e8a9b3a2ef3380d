package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.{Fmt, ModelConfig}
import graft.kg.{DocGen, Mentions, Triples}

/** Two-parallelism-level scaling benchmark (BASELINE.md rows 8-9, north_rule):
  * runs the identical KG-pipeline job on the identical input at local[N] and
  * local[4N] (sandbox stand-in for N vs 4N executors), reports min-of-3
  * throughput at each level (least-contended sample — see runLevel) plus the
  * raw and machine-ceiling-normalized scaling efficiency
  * (thr@4N / thr@N) / 4, and writes BENCH/BASELINE.md.
  *
  * Usage: runMain graft.ScalingBench [sfDir] [N] [amplify] [cfg] —
  * `cfg` is `default` or `genia` (the reference's real experiment shape;
  * writes BENCH/BASELINE_GENIA.md instead of BENCH/BASELINE.md).
  */
object ScalingBench {

  final case class Level(cpus: Int, bestSec: Double, triples: Long, tokens: Long,
                         triplesPerSec: Double, tokensPerSec: Double,
                         extLoad: Double, cpuUtil: Double, calibPerThread: Double,
                         stealPct: Double = 0.0)

  /** 1-min host load average minus this JVM's own running threads — the
    * sandbox host has noisy neighbors (external load 10-20 at times), which
    * silently poisons the 4N wall-clock level while leaving the N level
    * untouched; record it so a contended run is visible in the report.
    * Shared implementation: [[graft.core.LoadProbe]].
    */
  private def externalLoad(selfCpus: Double): Double =
    graft.core.LoadProbe.externalLoad(selfCpus)

  private def processCpuSec(): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    os.getProcessCpuTime / 1e9
  }

  def runLevel(cpus: Int, sfDir: String, amplify: Int, reps: Int,
               cfg: ModelConfig = ModelConfig()): Level = {
    val spark = BenchSession(s"graft-scaling-$cpus", cpus)
    try {
      val docs = DocGen.amplifiedDocs(spark, sfDir, amplify).cache()
      docs.count() // materialize input outside the timed region
      val model = Mentions.buildModel(docs, cfg)
      val tokens = docs.toDF()
        .selectExpr("sum(size(filter(spans, s -> s.kind = 'text')))").head().getLong(0)
      var triples = 0L
      var loadSum = 0.0
      var cpuSum = 0.0
      var stealSum = 0.0
      val times = (0 to reps).map { i => // rep 0 = warm-up, excluded
        val load0 = externalLoad(cpus)
        val cpu0 = processCpuSec()
        val st0 = graft.core.StealProbe.snapshot()
        val t0 = System.nanoTime()
        val h = Triples.pipelineHandle(docs, model)
        h.triples.write.format("noop").mode("overwrite").save()
        if (i == 0) triples = h.triples.count()
        h.unpersistAll()
        val sec = (System.nanoTime() - t0) / 1e9
        if (i > 0) {
          loadSum += (load0 + externalLoad(cpus)) / 2
          cpuSum += (processCpuSec() - cpu0) / sec / cpus // fraction of cpus actually obtained
          // hypervisor steal: the contention loadavg can NOT see (another
          // guest) — the round-5b batteries measured 2-3x wall spread at
          // ext_load 0.0 that /proc/stat steal flagged plainly
          stealSum += graft.core.StealProbe.pct(st0, graft.core.StealProbe.snapshot())
        }
        sec
      }.drop(1).sorted
      // MIN of reps, not median: the sandbox host has bursty noisy neighbors
      // that loadavg-based attribution misses (they depress a rep's
      // throughput while this JVM still reports ~full cpu_util — external
      // memory-bandwidth pressure). The minimum wall is the
      // least-contended sample, the standard uncontended-time estimator on a
      // shared machine; observed spread across runs was 294-402 s at N=8 for
      // identical work, entirely environmental.
      val best = times.head
      docs.unpersist()
      // machine ceiling at this width: embarrassingly-parallel per-thread
      // throughput (run after the Spark reps, same JVM, warm JIT)
      val calib = InferCalib.perThread(cpus, cfg = cfg, vocabSize = model.vocab.size)
      Level(cpus, best, triples, tokens, triples / best, tokens / best,
        loadSum / reps, cpuSum / reps, calib, stealSum / reps)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val n = args.lift(1).map(_.toInt).getOrElse(8)
    val amplify = args.lift(2).map(_.toInt).getOrElse(16)
    val cfgName = args.lift(3).getOrElse("default")
    val cfg = if (cfgName == "genia") ModelConfig.genia else ModelConfig()
    val reps = 3

    val lo = runLevel(n, sfDir, amplify, reps, cfg)
    val hi = runLevel(4 * n, sfDir, amplify, reps, cfg)
    val efficiency = (hi.triplesPerSec / lo.triplesPerSec) / 4.0
    // the machine's own ceiling for a zero-coordination workload at 4N vs N
    // threads (single box: shared LLC + hypervisor steal + full-width turbo);
    // a real 4N-executor cluster adds machines instead of widening one
    val hwCeiling = hi.calibPerThread / lo.calibPerThread
    val swEfficiency = efficiency / hwCeiling

    val json =
      s"""{"metric":"scaling_efficiency","value":$efficiency,"unit":"ratio",""" +
        s""""sf":"$sfDir","amplify":$amplify,"cfg":"$cfgName","docs_tokens":${lo.tokens},""" +
        s""""triples":${lo.triples},""" +
        s""""n_cpus":${lo.cpus},"triples_per_sec_N":${lo.triplesPerSec},""" +
        s""""wall_sec_N":${lo.bestSec},""" +
        s""""n4_cpus":${hi.cpus},"triples_per_sec_4N":${hi.triplesPerSec},""" +
        s""""wall_sec_4N":${hi.bestSec},""" +
        s""""ext_load_N":${Fmt.f1(lo.extLoad)},"ext_load_4N":${Fmt.f1(hi.extLoad)},""" +
        s""""steal_pct_N":${Fmt.f1(lo.stealPct)},"steal_pct_4N":${Fmt.f1(hi.stealPct)},""" +
        s""""cpu_util_N":${Fmt.f3(lo.cpuUtil)},"cpu_util_4N":${Fmt.f3(hi.cpuUtil)},""" +
        s""""calib_per_thread_N":${Fmt.f0(lo.calibPerThread)},""" +
        s""""calib_per_thread_4N":${Fmt.f0(hi.calibPerThread)},""" +
        s""""hw_ceiling":${Fmt.f3(hwCeiling)},"sw_scaling_eff":${Fmt.f3(swEfficiency)}}"""
    println(json)

    val md =
      s"""# BENCH/BASELINE — measured results
         |
         |KG pipeline (docs → pyramid mentions → link → canonicalize → triples),
         |identical job + identical input at two parallelism levels (model config: $cfgName)
         |(`local[${lo.cpus}]` vs `local[${hi.cpus}]`, the sandbox stand-in for N vs 4N
         |executors per the driver instruction). Minimum of $reps runs (least-contended
         |sample on a shared host — see ScalingBench.runLevel), warm-up excluded.
         |
         || level | cores | wall (s) | triples/s | tokens/s | ext. host load | steal % | cpu util |
         ||---|---|---|---|---|---|---|---|
         || N | ${lo.cpus} | ${Fmt.f2(lo.bestSec)} | ${Fmt.f0(lo.triplesPerSec)} | ${Fmt.f0(lo.tokensPerSec)} | ${Fmt.f1(lo.extLoad)} | ${Fmt.f1(lo.stealPct)} | ${Fmt.f2(lo.cpuUtil)} |
         || 4N | ${hi.cpus} | ${Fmt.f2(hi.bestSec)} | ${Fmt.f0(hi.triplesPerSec)} | ${Fmt.f0(hi.tokensPerSec)} | ${Fmt.f1(hi.extLoad)} | ${Fmt.f1(hi.stealPct)} | ${Fmt.f2(hi.cpuUtil)} |
         |
         |- corpus: `$sfDir/documents.parquet` deterministically amplified ×$amplify
         |  (${lo.tokens} text tokens; ${lo.triples} distinct-triple rows)
         |- **raw scaling efficiency = (thr@4N / thr@N) / 4 = ${Fmt.f3(efficiency)}**
         |  (target ≥ 0.8, BASELINE.md row 9)
         |- **machine ceiling at 4N threads** (`graft.InferCalib`:
         |  embarrassingly-parallel per-thread inference, zero coordination):
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
         |- ext. host load = 1-min loadavg minus this JVM's cores (sandbox host
         |  has noisy neighbors; external load ≳ a few cores contends the 4N
         |  level and deflates measured efficiency — compare cpu util: the
         |  fraction of requested cores the JVM actually obtained)
         |- steal % = hypervisor CPU steal over the timed reps (/proc/stat):
         |  contention from another GUEST, invisible to loadavg — a nonzero
         |  value flags a window the other two signals would call quiet
         |- JSON: `$json`
         |""".stripMargin
    Files.createDirectories(Paths.get("BENCH"))
    val out = if (cfgName == "genia") "BENCH/BASELINE_GENIA.md" else "BENCH/BASELINE.md"
    Files.writeString(Paths.get(out), md)
  }
}
