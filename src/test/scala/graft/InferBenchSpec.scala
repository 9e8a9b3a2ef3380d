package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ModelConfig

/** The InferBench decode checksums at 192 sentences: bit-exact Pyramid
  * inference, so any kernel or decode change that alters one FP rounding
  * step fails here.
  */
class InferBenchSpec extends AnyFunSuite {
  private def checksum(cfg: ModelConfig): Long = {
    val (inf, sents) = InferBench.setup(cfg, 192)
    InferBench.checksum(inf, sents)
  }

  test("default-config checksum") {
    assert(checksum(ModelConfig()) == 786524789216057308L)
  }

  test("GENIA-config checksum") {
    assert(checksum(ModelConfig.genia) == -5572058606795618873L)
  }
}
