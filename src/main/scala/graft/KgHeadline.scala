package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{LoadProbe, ModelConfig, StealProbe}
import graft.kg.{DocGen, Mentions, PyramidDoc, Triples}

/** The amplified KG-pipeline headline: `Triples.pipelineHandle` over
  * `sfDir`'s corpus amplified `amplify` times, timed into the noop sink. The
  * one measurement behind Bench's KG headlines (L3) and `Perf scaling` (L4).
  *
  * The constructor prepares the input once, outside every timing: it caches
  * the amplified docs, counts them, builds the model and counts text tokens,
  * then releases the docs. Each [[rep]] caches and materializes the docs
  * again outside the timed region and releases everything it cached before
  * it returns, so between reps the session's cache is as the caller left it.
  * The caller owns the rep count and how reps combine (Bench and the scaling
  * mode take the minimum).
  */
final class KgHeadline(spark: SparkSession, sfDir: String, amplify: Int,
                       cfg: ModelConfig, selfCpus: Double) {
  private val docs: Dataset[PyramidDoc] = DocGen.amplifiedDocs(spark, sfDir, amplify)

  val (docsN: Long, model: Mentions.Model, tokens: Long) =
    try {
      docs.cache()
      val n = docs.count()
      val m = Mentions.buildModel(docs, cfg)
      val t = docs.toDF()
        .selectExpr("sum(size(filter(spans, s -> s.kind = 'text')))").head().getLong(0)
      (n, m, t)
    } finally docs.unpersist()

  /** One timed build. `load` is the largest external host load sampled
    * during the timed region ([[LoadProbe.Sampler]]), `steal` the
    * hypervisor steal % over it, `cpuSec` this process's CPU seconds in it.
    */
  def rep(): KgHeadline.Rep =
    try {
      docs.cache()
      docs.count()
      val sampler = new LoadProbe.Sampler(selfCpus)
      try timed(sampler) finally sampler.stop()
    } finally docs.unpersist()

  /** `pipelineHandle` into the noop sink: the model broadcast, the
    * dictionary's bounded collect and the write; then the triple count over
    * the handle's cached subtrees, outside the timing. */
  private def timed(sampler: LoadProbe.Sampler): KgHeadline.Rep = {
    val st0 = StealProbe.snapshot()
    val cpu0 = KgHeadline.processCpuSec()
    val t0 = System.nanoTime()
    val bc = spark.sparkContext.broadcast(model)
    try {
      val h = Triples.pipelineHandleBc(docs, bc)
      try {
        Bench.force(h.triples)
        val sec = (System.nanoTime() - t0) / 1e9
        val cpuSec = KgHeadline.processCpuSec() - cpu0
        val load = sampler.stop()
        val steal = StealProbe.pct(st0, StealProbe.snapshot())
        KgHeadline.Rep(sec, h.triples.count(), load, steal, cpuSec)
      } finally h.unpersistAll()
    } finally bc.destroy()
  }
}

object KgHeadline {
  final case class Rep(sec: Double, triples: Long, load: Double, steal: Double, cpuSec: Double)

  private def processCpuSec(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}
