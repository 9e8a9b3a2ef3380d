package graft

/** Targeted per-query timing: `runMain graft.QueryBench <sfDir> <query>...`
  * times only the named SparkEntry queries (one warm JVM, same forcing sink
  * as Bench) — for attributing regressions to a single operator without
  * paying the full battery. Staging runs first, outside every timing, as in
  * Bench.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val spark = BenchSession("graft-query-bench", BenchSession.cpus)
    Bench.stage(spark, sfDir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val (_, sec) = Bench.time(Bench.force(fn(spark, sfDir)))
      println(f"QUERYBENCH $n%-24s $sec%9.3f s")
    }
    spark.stop()
  }
}
