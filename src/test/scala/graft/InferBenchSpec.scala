package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ModelConfig

/** The InferBench decode checksums at 192 sentences: bit-exact Pyramid
  * inference, so any kernel or decode change that alters one FP rounding
  * step fails here. The SIMD kernels and the scalar ones must give the same
  * checksums.
  */
class InferBenchSpec extends AnyFunSuite {
  import InferBenchSpec._

  test("default-config checksum") {
    assert(checksum(ModelConfig()) == DefaultChecksum)
  }

  test("GENIA-config checksum") {
    assert(checksum(ModelConfig.genia) == GeniaChecksum)
  }

  test("scalar kernels (GRAFT_NO_SIMD=1) give the same checksums") {
    // the SIMD switch is read once per JVM, so the scalar run needs its own;
    // the vector module is on, so only the variable turns SIMD off
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(javaBin, "-Xmx512m", "--add-modules", "jdk.incubator.vector",
      "-cp", sys.props("java.class.path"), "graft.InferBenchSpec")
    pb.environment().put("GRAFT_NO_SIMD", "1")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, out)
    assert(out.linesIterator.contains(s"simd=false default=$DefaultChecksum genia=$GeniaChecksum"), out)
  }
}

/** Also a main: prints whether the SIMD kernels are on and both checksums,
  * for the scalar-kernel test's child JVM.
  */
object InferBenchSpec {
  val DefaultChecksum = 786524789216057308L
  val GeniaChecksum = -5572058606795618873L

  def checksum(cfg: ModelConfig): Long = {
    val (inf, sents) = InferBench.setup(cfg, 192)
    InferBench.checksum(inf, sents)
  }

  def main(args: Array[String]): Unit =
    println(s"simd=${graft.core.Simd.enabled} default=${checksum(ModelConfig())} " +
      s"genia=${checksum(ModelConfig.genia)}")
}
