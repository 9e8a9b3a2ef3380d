package perfbench

import java.nio.file.Files

/** The metric names and units `BENCHMARK.json` declares. */
object Layers {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "tokens_per_s" -> "tok/s",
    "triples_per_s" -> "triples/s", "peak_heap_mb" -> "MB")

  /** Layers whose job groups get spill, GC and task-count rows. */
  val Groups: Seq[String] = Seq(
    "docgen.corpus", "mentions.build_model", "mentions.detect", "aliasdict.build", "link",
    "canonical.cc", "canonical.apply", "triples", "runner.run", "runner.resume", "query")

  /** Every per-layer metric. A layer the workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.forward.tokens_per_s" -> "tok/s",
    "core.forward_genia.tokens_per_s" -> "tok/s",
    "core.detect.tokens_per_s" -> "tok/s",
    "core.sampled_share" -> "ratio",
    "docgen.corpus.wall_s" -> "s",
    "mentions.build_model.wall_s" -> "s",
    "mentions.detect.wall_s" -> "s",
    "mentions.detect.cpu_s" -> "s",
    "mentions.detect.task_max_over_median" -> "ratio",
    "mentions.detect.mentions" -> "count",
    "mentions.detect.tokens_per_core_s" -> "tok/s",
    "aliasdict.build.wall_s" -> "s",
    "aliasdict.build.shuffle_bytes" -> "B",
    "aliasdict.build.rows" -> "count",
    "link.wall_s" -> "s",
    "link.shuffle_bytes" -> "B",
    "link.linked_frac" -> "ratio",
    "canonical.cc.wall_s" -> "s",
    "canonical.cc.edges_in" -> "count",
    "canonical.cc.iterations" -> "count",
    "canonical.cc.driver_path" -> "flag",
    "canonical.apply.wall_s" -> "s",
    "triples.wall_s" -> "s",
    "triples.shuffle_bytes" -> "B",
    "triples.distinct_frac" -> "ratio",
    "runner.run.wall_s" -> "s",
    "runner.resume_s" -> "s",
    "runner.bucket_wall_s.p50" -> "s",
    "runner.bucket_wall_s.max" -> "s",
    "runner.compact_s" -> "s",
    "runner.bytes_written_per_input_byte" -> "ratio",
    "runner.files_written" -> "count",
  ) ++ KgQuery.Queries.map(q => s"query.$q.wall_s" -> "s") ++ Seq(
    "query.p50_s" -> "s",
    "scaling.eff" -> "ratio",
  ) ++ Groups.flatMap(g => Seq(s"$g.spill_bytes" -> "B", s"$g.gc_s" -> "s", s"$g.tasks" -> "count")) ++ Seq(
    "trace.overhead_frac" -> "ratio",
    "trace.unattributed_s" -> "s",
    "trace.executor_samples" -> "count",
  )
}

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  * Prints every metric by name and unit, then the result object as the last
  * line of stdout. Exits 1 when an operation or an output check failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wl = Workloads.byName(o.workload)
    val c = new Ctx(o)
    val noise = new HostNoise(o.cores)
    try wl.run(c)
    finally c.stopSpark()
    c.log(f"workload done; live heap at checkpoints (MB): ${c.heap.checkpointsMb.map(m => f"$m%.1f").mkString(", ")}")
    val (steal, load) = noise.stop()
    c.e2e("peak_heap_mb") = c.heap.peakMb

    val declared = if (o.trace) Layers.PerLayer else Layers.EndToEnd
    val values: Map[String, Double] =
      if (o.trace) {
        val unknown = c.layers.keySet.toSet -- Layers.PerLayer.map(_._1)
        require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
        Layers.PerLayer.map { case (n, _) => n -> c.layers.getOrElse(n, 0.0) }.toMap
      } else c.e2e.toMap
    val attempted = c.ops + c.checks.attempted
    val failed = c.opsFailed + c.checks.failed
    val complete = declared.forall { case (n, _) => values.contains(n) }

    val lines = declared.filter(d => values.contains(d._1)).map { case (n, u) => (n, values(n), u) } ++
      (if (o.trace) Nil else c.extra.map { case (n, (v, u)) => (n, v, u) })
    lines.foreach { case (n, v, u) => println(f"[perfbench] ${o.workload}%-10s $n%-44s $v%.6g $u") }
    println(f"[perfbench] ${o.workload}%-10s host steal_pct=$steal%.2f ext_load=$load%.2f " +
      s"attempted=$attempted failed=$failed")

    val metricsJson = declared.filter(d => values.contains(d._1)).map { case (n, u) =>
      s"${Json.str(n)}:{${"\"value\""}:${Json.num(values(n))},${"\"unit\""}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val correct = failed == 0 && complete
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}"""

    val record = s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"trace":${o.trace},""" +
      s""""seconds":${o.seconds},"cores":${o.cores},"steal_pct":${Json.num(steal)},""" +
      s""""ext_load":${Json.num(load)},"failed_checks":${c.checks.failures.map(Json.str).mkString("[", ",", "]")},""" +
      c.extra.map { case (n, (v, u)) => s"${Json.str(n)}:{${"\"value\""}:${Json.num(v)},${"\"unit\""}:${Json.str(u)}}" }
        .mkString(""""extra":{""", ",", "},") +
      s""""result":$result}"""
    Files.writeString(c.dir("results").resolve(
      s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${ProcessHandle.current().pid()}.json"), record + "\n")

    println(result)
    // exit explicitly: a lingering non-daemon thread must not keep the JVM up
    sys.exit(if (correct) 0 else 1)
  }
}
