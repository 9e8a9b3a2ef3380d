package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev utility: dumps `.explain("formatted")` of the headline pipeline
  * stages + representative queries to PLANS.md for plan-hygiene review
  * (pushdown, pruning, broadcast, codegen spans).
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Seq(
      "kg_docs", "kg_mentions", "kg_dict", "kg_linked", "kg_triples",
      "kg_mentions_ctx_slice", "kg_mentions_ctx_bucketed", "kg_mentions_st",
      "mm_decode_png",
      "q1_agg", "q2_join_agg", "q5_range_join", "src_wiki", "src_iob2",
      "src_wordvec_nearest", "src_wordvec_ann",
      "dedup_minhash_lsh", "sim_cosine_topk", "sim_ann_ivf", "eval_span_prf",
      "kg_degree", "kg_pagerank", "kg_two_hop", "kg_triangles", "kg_components",
      "kg_nbr_jaccard", "kg_cooc_pmi", "kg_hits", "kg_communities", "kg_bfs",
      "emb_quantize",
      "text_repetition", "text_pii_scrub", "dedup_windows",
      "text_tfidf", "dedup_clusters", "doc_sample",
      "text_decontam", "text_lang_temp", "doc_pack",
      "mm_dedup_pixels", "mm_interleave", "kg_kcore")
    // stage before any build, then build and dump each pick once: dumps made
    // this way on a cold and on a warm stage root agree in all 43 sections.
    // A build-every-pick pass before the dumps is not needed for that, and
    // with it the dumps varied from run to run in kg_triangles and
    // kg_nbr_jaccard (AQE planned the second build over the first build's
    // cached result in some runs and not in others).
    SparkEntry.stage(spark, sfDir)
    val sb = new StringBuilder
    sb ++= "# PLANS — `.explain(\"formatted\")` of the key operators\n\n"
    sb ++= s"Generated by `runMain graft.PlanDump $sfDir` — review notes inline.\n"
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      // scrub JVM-run-specific lambda ids/addresses and the JVM-wide counter
      // in higher-order-function variable names (`lambda x_11`) so
      // regenerating the dump diffs only when a PLAN changes, not on every
      // fresh JVM or after other work in this one
      sb ++= df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
        .replaceAll("\\$\\$Lambda/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
        .replaceAll("(lambda [a-z]+)_\\d+", "$1_N")
      sb ++= "```\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $outFile")
    spark.stop()
  }
}
