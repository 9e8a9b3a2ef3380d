package graft

import java.util.concurrent.atomic.AtomicLong
import graft.core._

/** Embarrassingly-parallel inference calibration: per-thread tokens/s of a
  * fixed seeded Pyramid workload at a given thread count — zero
  * synchronization, zero shared mutable state, so the N→4N per-thread ratio
  * is the MACHINE's parallel-compute ceiling (hypervisor steal, shared-cache
  * contention, turbo behavior), not the job's.
  *
  * ScalingBench runs this at both levels and reports raw wall-clock scaling
  * efficiency alongside the ceiling-normalized (software) efficiency: on a
  * real N-vs-4N-executor cluster the 4N level runs on 4× the MACHINES and
  * does not pay a single box's full-width penalty, so the normalized number
  * is the cluster-relevant one. Both are reported; neither is hidden.
  */
object InferCalib {
  private type Input = (PyramidWeights, WordVocab, Array[Array[String]])

  private def burst(threads: Int, wallSec: Double, input: Input): Double = {
    val (w, vocab, sents) = input
    val deadline = System.nanoTime() + (wallSec * 1e9).toLong
    val tokens = new AtomicLong
    val ts = Array.tabulate(threads) { _ =>
      new Thread(() => {
        val inf = new PyramidInference(w, vocab) // per-thread scratch
        var tok = 0L
        var i = 0
        while (System.nanoTime() < deadline) {
          tok += inf.forward(sents(i % sents.length)).layers.head.length
          i += 1
        }
        tokens.addAndGet(tok)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    tokens.get / ((System.nanoTime() - t0) / 1e9) / threads
  }

  /** per-thread tokens/s at `threads` (2 s JIT warm-up burst, then measure)
    * over InferBench's seeded input. The probe must match the JOB's kernel
    * shape: the ceiling is width-dependent through the embedding-table
    * gather (a genia-shaped model randomly reads a ~40 MB word-embedding
    * table — DRAM/L3-bound at 16 threads in a way the default config's
    * 0.4 MB table never is), so a default-config ceiling would overstate what
    * the machine offers a genia-config job. ScalingBench passes the run's
    * cfg + the REAL model's vocab size.
    */
  def perThread(threads: Int, wallSec: Double = 8.0, cfg: ModelConfig = ModelConfig(),
                vocabSize: Int = 2000): Double = {
    val input = InferBench.seeded(cfg, 256, vocabSize)
    burst(threads, 2.0, input)
    burst(threads, wallSec, input)
  }

  /** standalone probe: runMain graft.InferCalib <threads>... [genia] [vocabSize] */
  def main(args: Array[String]): Unit = {
    val cfg = if (args.contains("genia")) ModelConfig.genia else ModelConfig()
    val vocabSize = args.filter(_.forall(_.isDigit)).drop(1).headOption.map(_.toInt)
      .getOrElse(if (args.contains("genia")) 50000 else 2000)
    val threads = args.filter(_.forall(_.isDigit)).headOption.map(_.toInt).getOrElse(4)
    val r = perThread(threads, cfg = cfg, vocabSize = vocabSize)
    println(f"[infercalib] threads=$threads vocab=$vocabSize ${r}%.0f tokens/s/thread")
  }
}
