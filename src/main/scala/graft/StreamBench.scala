package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.core.{Fmt, ModelConfig}
import graft.kg.{DocGen, KgStream, Link, Mentions}

/** Streaming-KG-at-state benchmark (VERDICT r4 next-round #6): the
  * checkpointed streaming ingest (`KgStream.linkedCheckpointed`) was proven
  * exactly-once at slice scale; this main runs it over an AMPLIFIED corpus
  * (default 32×) arriving in two incremental waves of ≥2 micro-batches each,
  * and measures:
  *
  *   - per-wave ingest throughput (docs/s, tokens/s) through the parquet
  *     sink + checkpoint;
  *   - RESUME cost: a no-op restart of the same checkpoint after each wave —
  *     the number that must stay metadata-bound (seconds, flat) as the
  *     accumulated sink/state grows;
  *   - stream == batch: the sink's total row count must equal the batch
  *     detect+link over the identical corpus with the identical model/dict
  *     (the slice-scale KgStreamSpec equality, re-checked at amplified scale
  *     by count).
  *
  * Usage: runMain graft.StreamBench  (GRAFT_STREAM_AMPLIFY overrides 32)
  */
object StreamBench {

  private def wipe(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(Files.delete)
      } finally s.close()
    }
    Files.createDirectories(p)
  }

  private def partFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = BenchSession.cpus
    val amplify = sys.env.getOrElse("GRAFT_STREAM_AMPLIFY", "32").toInt
    val nFiles = 16
    val filesPerTrigger = 4 // → 2 micro-batches per 8-file wave
    val spark = BenchSession("graft-stream-bench", cpus)
    import spark.implicits._

    val work = Paths.get("/root/repo/target/streambench")
    val all = work.resolve("all")
    val src = work.resolve("src")
    val sink = work.resolve("sink")
    val ckpt = work.resolve("ckpt")
    Seq(all, src, sink, ckpt).foreach(wipe)

    // amplified RAW corpus (doc_id, text) as nFiles part files — each file is
    // an arrival unit; assembly/detection happen inside the stream
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as[Long], $"text".as[String])
      .flatMap { case (id, text) => (0 until amplify).iterator.map(k => (id * 1000L + k, text)) }
      .toDF("doc_id", "text")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(all.toString)
    val files = partFiles(all)
    require(files.length == nFiles, s"expected $nFiles part files, got ${files.length}")

    def arrive(fs: Seq[Path]): Unit =
      fs.foreach(f => Files.copy(f, src.resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING))

    def runWave(): Double = {
      val t0 = System.nanoTime()
      val (q, cleanup) = KgStream.linkedCheckpointed(spark, sfDir, src.toString,
        sink.toString, ckpt.toString, maxFilesPerTrigger = filesPerTrigger,
        availableNow = true)
      q.awaitTermination()
      cleanup()
      (System.nanoTime() - t0) / 1e9
    }

    def sinkRows(): Long = spark.read.parquet(sink.toString).count()

    // wave A: first half arrives (8 files → 2 micro-batches)
    arrive(files.take(nFiles / 2))
    val waveASec = runWave()
    val rowsA = sinkRows()
    // no-op resume with HALF the accumulated state
    val noopHalfSec = runWave()
    val rowsAAfterNoop = sinkRows()
    require(rowsAAfterNoop == rowsA, s"no-op resume changed the sink: $rowsA -> $rowsAAfterNoop")

    // wave B: second half arrives; resume the SAME checkpoint
    arrive(files.drop(nFiles / 2))
    val waveBSec = runWave()
    val rowsTotal = sinkRows()
    // no-op resume with FULL accumulated state — must stay in the same
    // seconds band as the half-state one (metadata-bound recovery)
    val noopFullSec = runWave()
    require(sinkRows() == rowsTotal, "no-op resume changed the sink")

    // stream == batch at amplified scale (count equality; the exact row-set
    // equality is pinned at slice scale by KgStreamSpec): same slice model +
    // dict as the stream's static side
    val sliceDocs = DocGen.docs(spark, sfDir)
      .orderBy("doc_id").limit(graft.kg.Eval.EvalSliceDocs).cache()
    val model = Mentions.buildModel(sliceDocs, ModelConfig())
    val bcBatch = spark.sparkContext.broadcast(model)
    val dict = graft.kg.AliasDict.build(sliceDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val amplified = spark.read.parquet(all.toString)
      .select($"doc_id".as[Long], $"text".as[String])
      .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }
    val t0 = System.nanoTime()
    val batchRows = Link.link(Mentions.detect(amplified, bcBatch).toDF(), dict).count()
    val batchSec = (System.nanoTime() - t0) / 1e9
    require(batchRows == rowsTotal,
      s"stream sink ($rowsTotal rows) != batch equivalent ($batchRows rows)")
    val nDocs = spark.read.parquet(all.toString).count()
    val nTokens = amplified.toDF()
      .selectExpr("sum(size(filter(spans, s -> s.kind = 'text')))").head().getLong(0)
    dict.unpersist(); sliceDocs.unpersist(); bcBatch.destroy()

    val ingestSec = waveASec + waveBSec
    val line =
      s"""{"metric":"stream_bench","sf":"$sfDir","amplify":$amplify,"files":$nFiles,""" +
        s""""files_per_trigger":$filesPerTrigger,"docs":$nDocs,"tokens":$nTokens,""" +
        s""""linked_rows":$rowsTotal,"wave_a_sec":${Fmt.f1(waveASec)},""" +
        s""""wave_b_sec":${Fmt.f1(waveBSec)},"noop_resume_half_sec":${Fmt.f2(noopHalfSec)},""" +
        s""""noop_resume_full_sec":${Fmt.f2(noopFullSec)},""" +
        s""""stream_tokens_per_sec":${Fmt.f0(nTokens / ingestSec)},""" +
        s""""batch_equiv_sec":${Fmt.f1(batchSec)},""" +
        s""""batch_tokens_per_sec":${Fmt.f0(nTokens / batchSec)},"stream_eq_batch":true}"""
    println(line)

    val md = new StringBuilder
    md ++= "## Streaming KG ingest at amplified state — measured (round 5)\n\n"
    md ++= s"`KgStream.linkedCheckpointed` (parquet sink + checkpoint, exactly-once),\n"
    md ++= s"amplify-$amplify corpus over $sfDir arriving as two $filesPerTrigger-files-per-trigger\n"
    md ++= s"waves of ${nFiles / 2} files (2 micro-batches each), local[$cpus]. A no-op restart\n"
    md ++= "of the checkpoint runs after each wave — the recovery-cost number that must\n"
    md ++= "stay flat as accumulated state doubles. Sink row count is asserted equal to\n"
    md ++= "the batch detect+link over the identical corpus (same model + dict).\n\n"
    md ++= "| docs | tokens | linked rows | wave A (s) | wave B (s) | no-op resume @half (s) | no-op resume @full (s) | stream tok/s | batch tok/s |\n"
    md ++= "|---|---|---|---|---|---|---|---|---|\n"
    md ++= s"| $nDocs | $nTokens | $rowsTotal | ${Fmt.f1(waveASec)} | ${Fmt.f1(waveBSec)} " +
      s"| ${Fmt.f2(noopHalfSec)} | ${Fmt.f2(noopFullSec)} " +
      s"| ${Fmt.f0(nTokens / ingestSec)} | ${Fmt.f0(nTokens / batchSec)} |\n"
    md ++= s"\n- raw JSON: `$line`\n"
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/ROUND5_STREAM.md"), md.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    spark.stop()
  }
}
