package graft.kg

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/resume + lineage tests for the ops layer (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
class KgRunnerSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("runner-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("bucketed checkpointed run reproduces the monolithic pipeline triples") {
    val out = Files.createTempDirectory("graft_runner").toString
    val report = KgRunner.run(spark, sfDir, out, buckets = 4)
    assert(report.processed.length == 4 && report.skipped.isEmpty)
    val got = tripleSet(KgRunner.triples(spark, out).select("subj", "pred", "obj").distinct())
    val want = tripleSet(Triples.pipeline(spark, sfDir).select("subj", "pred", "obj").distinct())
    assert(got == want)
    // manifests carry lineage + metrics
    report.processed.foreach { b =>
      assert(b.nDocs > 0 && b.nTriples > 0 && b.lineage.nonEmpty, s"bucket ${b.bucket}")
      assert(b.lineage.map(_._2).sum == b.nMentions, s"lineage sums for bucket ${b.bucket}")
    }
    // global compaction: committed, counted, and equal to the distinct view
    val compacted = tripleSet(spark.read.parquet(s"$out/triples_compacted"))
    assert(compacted == want)
    val compactJson = Files.readString(java.nio.file.Paths.get(out, "manifest", "compact.json"))
    assert(compactJson.contains(s""""n_triples":${compacted.size}"""))
    assert(compactJson.contains(""""buckets":[0,1,2,3]"""))
    // metrics table view agrees with the in-memory report
    val m = KgRunner.metrics(spark, out).collect()
    assert(m.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    val perBucketMentions = m.groupBy(_.getLong(0))
      .map { case (b, rows) => b -> rows.map(_.getLong(6)).sum }
    report.processed.foreach(b =>
      assert(perBucketMentions(b.bucket.toLong) == b.nMentions, s"metrics bucket ${b.bucket}"))
  }

  test("mid-job kill + resume: no lost and no duplicated buckets") {
    val out = Files.createTempDirectory("graft_runner_kill").toString
    intercept[KgRunner.InjectedKill] {
      KgRunner.run(spark, sfDir, out, buckets = 4, failAfter = Some(2))
    }
    assert(KgRunner.committedBuckets(java.nio.file.Paths.get(out)).size == 2)
    // resume: processes exactly the remaining buckets
    val resumed = KgRunner.run(spark, sfDir, out, buckets = 4)
    assert(resumed.skipped.size == 2 && resumed.processed.size == 2)
    val got = tripleSet(KgRunner.triples(spark, out).select("subj", "pred", "obj").distinct())
    val want = tripleSet(Triples.pipeline(spark, sfDir).select("subj", "pred", "obj").distinct())
    assert(got == want)
    // kill-resume equality holds on the COMPACTED output too (the killed run
    // never reached compaction; the resume must leave a complete compact)
    assert(tripleSet(spark.read.parquet(s"$out/triples_compacted")) == want)
    // second resume is a no-op — INCLUDING the global compaction stage:
    // compact.json already covers all 4 buckets, so the resume must not
    // re-pay the shuffle-distinct + rewrite of triples_compacted
    val compactPath = java.nio.file.Paths.get(out, "manifest", "compact.json")
    val c1 = Files.getLastModifiedTime(compactPath)
    val again = KgRunner.run(spark, sfDir, out, buckets = 4)
    assert(again.processed.isEmpty && again.skipped.size == 4)
    assert(Files.getLastModifiedTime(compactPath) == c1,
      "no-op resume must skip re-compaction")
  }

  test("a bucket written but not committed is reprocessed alone on resume") {
    val out = Files.createTempDirectory("graft_runner_uncommitted").toString
    KgRunner.run(spark, sfDir, out, buckets = 4)
    // a kill after bucket 1's triples were written but before its manifest
    // commit, and so before compaction
    val manifest = java.nio.file.Paths.get(out, "manifest")
    Files.delete(manifest.resolve("bucket-1.json"))
    Files.delete(manifest.resolve("compact.json"))
    val resumed = KgRunner.run(spark, sfDir, out, buckets = 4)
    assert(resumed.processed.map(_.bucket) == Seq(1) && resumed.skipped == Seq(0, 2, 3))
    val want = tripleSet(Triples.pipeline(spark, sfDir).select("subj", "pred", "obj").distinct())
    assert(tripleSet(spark.read.parquet(s"$out/triples_compacted")) == want)
  }

  test("run leaves no model broadcast behind") {
    import org.apache.spark.BroadcastBlocks
    val out = Files.createTempDirectory("graft_runner_broadcast").toString
    def models(ids: Set[Long]) = ids.count(BroadcastBlocks.holds[Mentions.Model])
    val before = BroadcastBlocks.live()
    KgRunner.run(spark, sfDir, out, buckets = 4)
    // no garbage collection in between: the ContextCleaner would free an
    // unreachable broadcast too, so only an explicit destroy passes reliably
    assert(models(BroadcastBlocks.live() -- before) == 0)
  }

  test("ensureRun stages once per corpus signature and serves the compacted table") {
    val out = Files.createTempDirectory("graft_runner_ensure").toString
    KgRunner.ensureRun(spark, sfDir, out)
    val marker = java.nio.file.Paths.get(out, "_RUNSIG")
    assert(Files.exists(marker))
    val t1 = Files.getLastModifiedTime(marker)
    val compactPath = java.nio.file.Paths.get(out, "manifest", "compact.json")
    val c1 = Files.getLastModifiedTime(compactPath)
    KgRunner.ensureRun(spark, sfDir, out) // unchanged corpus → full no-op
    assert(Files.getLastModifiedTime(marker) == t1 &&
      Files.getLastModifiedTime(compactPath) == c1, "unchanged corpus must not rerun")
    val got = tripleSet(spark.read.parquet(s"$out/triples_compacted"))
    val want = tripleSet(Triples.pipeline(spark, sfDir).select("subj", "pred", "obj").distinct())
    assert(got == want && got.nonEmpty)
  }

  test("resume with a changed buckets argument uses the recorded run manifest") {
    val out = Files.createTempDirectory("graft_runner_buckets").toString
    intercept[KgRunner.InjectedKill] {
      KgRunner.run(spark, sfDir, out, buckets = 4, failAfter = Some(2))
    }
    // caller now passes a DIFFERENT bucket count (the RunnerMain-default-32
    // vs recipe-8 trap): the recorded run.json must win — resume completes
    // the remaining 2 of the original 4 buckets, not 32
    val resumed = KgRunner.run(spark, sfDir, out, buckets = 32)
    assert(resumed.skipped.size == 2 && resumed.processed.size == 2)
    val got = tripleSet(KgRunner.triples(spark, out).select("subj", "pred", "obj").distinct())
    val want = tripleSet(Triples.pipeline(spark, sfDir).select("subj", "pred", "obj").distinct())
    assert(got == want)
  }
}
