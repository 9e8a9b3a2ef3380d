package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.core.ModelConfig
import graft.kg._

/** A workload: set-up, a closed-loop timed operation (one client, the next
  * operation starts when the previous one has returned), output checks, and a
  * traced variant that attributes time to layers.
  */
trait Workload {
  def name: String
  def run(c: Ctx): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(KgBuild, KgQuery)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  val SetupReps = 3
  val GoldSampleDocs = 200

  /** setup_s: JVM start to Spark session, plus the median of `SetupReps`
    * in-process set-ups. Returns the last set-up's result.
    */
  def setup[T](c: Ctx, jvmToSession: Double)(body: Tracer => T): T = {
    var last: Option[T] = None
    val secs = (1 to SetupReps).map { i =>
      val tr = if (i == SetupReps) c.tracer else c.scratchTracer
      val (r, s) = Stats.time(body(tr))
      last = Some(r)
      s
    }
    c.e2e("setup_s") = jvmToSession + Stats.median(secs)
    c.log(f"set-up done: session ${jvmToSession}%.2f s, in-process ${secs.mkString(", ")}")
    last.get
  }

  /** Cached amplified corpus plus its model: the set-up every KG workload shares. */
  final case class Corpus(docs: Dataset[PyramidDoc], tokens: Long, model: Mentions.Model) {
    def release(): Unit = docs.unpersist(blocking = true)
  }

  def corpus(c: Ctx, tr: Tracer, sfDir: String, amplify: Int, prev: Option[Corpus]): Corpus = {
    prev.foreach(_.release())
    val docs = tr.span("docgen.corpus") {
      val d = (if (amplify > 1) DocGen.amplifiedDocs(c.spark, sfDir, amplify) else DocGen.docs(c.spark, sfDir))
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val model = tr.span("mentions.build_model")(Mentions.buildModel(docs, ModelConfig()))
    Corpus(docs, textTokens(docs.toDF()), model)
  }

  def textTokens(docs: DataFrame): Long =
    docs.selectExpr("sum(size(filter(spans, s -> s.kind = 'text')))").head().getLong(0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A seeded sample of the corpus's doc ids for the GoldRef check. */
  def goldSample(corpus: Corpus, seed: Long): Seq[String] = {
    val ids = corpus.docs.toDF().select("doc_id").collect().map(_.getString(0)).sorted
    new scala.util.Random(seed).shuffle(ids.toSeq).take(GoldSampleDocs)
  }

  /** Checks every run makes: the default-config InferBench checksum, and on a
    * traced run the GENIA checksum too, with both probes' single-thread rates.
    */
  def coreProbe(c: Ctx, detectDocs: => (Seq[PyramidDoc], Mentions.Model)): Unit = {
    val reps = if (c.o.trace) 2 else 1
    val (sum, tps) = CoreProbe.forward(ModelConfig(), reps)
    c.checks.check("core.forward default checksum")(sum == CoreProbe.DefaultChecksum)
    if (c.o.trace) {
      val (gsum, gtps) = CoreProbe.forward(ModelConfig.genia, reps)
      c.checks.check("core.forward GENIA checksum")(gsum == CoreProbe.GeniaChecksum)
      val (docs, model) = detectDocs
      c.layers("core.forward.tokens_per_s") = tps
      c.layers("core.forward_genia.tokens_per_s") = gtps
      c.layers("core.detect.tokens_per_s") = CoreProbe.detect(docs, model, reps)
    }
  }

  /** Per-layer rows every traced run reports from the listener: spill, GC and
    * task count of each layer's job groups.
    */
  def groupRows(c: Ctx): Unit = Layers.Groups.foreach { g =>
    val m = c.listener.layer(g)
    c.layers(s"$g.spill_bytes") = m.spillBytes.toDouble
    c.layers(s"$g.gc_s") = m.gcMs / 1000.0
    c.layers(s"$g.tasks") = m.tasks.toDouble
  }

  /** Runs `body` under an [[InferenceSampler]] and reports the share of busy
    * executor-thread samples that were inside Pyramid inference.
    */
  def sampled[T](c: Ctx)(body: => T): T = {
    val s = new InferenceSampler
    try body
    finally {
      val (n, share) = s.stop()
      c.layers("core.sampled_share") = share
      c.layers("trace.executor_samples") = n.toDouble
    }
  }

  def writeTrace(c: Ctx): Unit = {
    c.log("traced run done")
    val f = c.dir("traces").resolve(s"${c.tracer.runId}.json")
    Files.writeString(f, c.tracer.toJson)
    System.err.println(s"[perfbench] spans written to $f")
  }
}

/** The amplified-corpus KG build: `Triples.pipelineHandle` into the noop
  * sink. Detection-bound, so kernel and detection-operator changes show here.
  * Its traced run also drives `KgRunner` ([[RunnerProbe]]) and repeats the
  * build at `local[1]` for the scaling efficiency (ROADMAP L4), where serial
  * driver work shows even when the parallel wall time is flat.
  */
object KgBuild extends Workload {
  import Workloads._
  val name = "kg_build"
  val BaseDocs = 500
  val Amplify = 2

  def run(c: Ctx): Unit = {
    val jvm = c.startSpark(c.o.cores)
    val sfDir = Inputs.writeCorpus(c.spark, c.dir(s"corpus/build-$BaseDocs-s${c.o.seed}"), BaseDocs, Some(c.o.seed))
    val (corpus, hash, wall) = measure(c, sfDir, jvm)
    if (c.o.trace) traced(c, corpus, wall)
    corpus.release()
    if (c.o.trace) {
      RunnerProbe.run(c)
      groupRows(c)
      writeTrace(c)
      for (w <- wall; h <- hash) scaling(c, sfDir, w, h)
    }
  }

  /** One pipeline build; returns its seconds and, when `check` is set, the
    * distinct triples' hash. Building the handle already runs jobs (the dict
    * and canonical-map size probes execute the alias dictionary and connected
    * components), so it is inside the timed region with the write. With
    * `heap` set, the live heap is taken while the build's stages are cached.
    */
  def build(c: Ctx, corpus: Corpus, check: Boolean, heap: Boolean): (Double, Option[RowHash]) = {
    val (h, s) = Stats.time {
      val h = Triples.pipelineHandle(corpus.docs, corpus.model)
      noop(h.triples)
      h
    }
    if (heap) c.heap.checkpoint()
    val rh = if (check) Some(RowHash.of(h.triples)) else None
    // the handle persists its input too, so releasing it drops the corpus
    // cache: release synchronously and cache the corpus again, so every
    // build starts from the same cached state
    h.cached.foreach(_.unpersist(blocking = true))
    corpus.docs.persist(StorageLevel.MEMORY_AND_DISK).count()
    (s, rh)
  }

  /** Set-up, timed reps, and the output checks; fills the end-to-end metrics.
    * Returns the corpus, the triples' hash and the median wall time.
    */
  private def measure(c: Ctx, sfDir: String, jvmToSession: Double): (Corpus, Option[RowHash], Option[Double]) = {
    var prev: Option[Corpus] = None
    val corpus = setup(c, jvmToSession) { tr =>
      val x = Workloads.corpus(c, tr, sfDir, Amplify, prev)
      prev = Some(x)
      x
    }
    c.heap.checkpoint()
    // the output checks run first: their sequential and distributed inference
    // also warm the kernels before the warm-up build
    val bc = c.spark.sparkContext.broadcast(corpus.model)
    c.checks.check("distributed mentions == GoldRef.mentions on the sampled docs")(
      GoldCheck.mentionsMatch(corpus.docs, goldSample(corpus, c.o.seed), corpus.model, bc))
    coreProbe(c, (corpus.docs.limit(GoldSampleDocs).collect().toSeq, corpus.model))
    c.log("checks done")
    // the first two warm-up builds are the checked ones; the JIT keeps
    // improving the build over its first few runs, hence three warm-ups. The
    // heap is taken in the first build only: later checkpoints race the
    // asynchronous clean-up of the previous build's broadcasts and shuffles.
    val hashes = scala.collection.mutable.ArrayBuffer.empty[RowHash]
    val secs = c.untraced(c.timedReps(c.o.seconds, minReps = 3, warmups = 3) {
      val (s, rh) = build(c, corpus, check = hashes.size < 2, heap = hashes.isEmpty)
      hashes ++= rh
      s
    })
    c.log(s"timed reps: ${secs.mkString(", ")}")
    c.checks.check("triples identical across builds")(hashes.size == 2 && hashes.distinct.size == 1)
    val wall = if (secs.isEmpty) None else Some(Stats.median(secs))
    for (w <- wall) {
      c.e2e("wall_s") = w
      c.e2e("tokens_per_s") = corpus.tokens / w
      c.e2e("triples_per_s") = hashes.head.rows / w
    }
    (corpus, hashes.headOption, wall)
  }

  /** The pipeline with every stage boundary materialized (persist + count),
    * so each span's time belongs to its own layer.
    */
  private def traced(c: Ctx, corpus: Corpus, untraced: Option[Double]): Unit = {
    val tr = c.tracer
    val sc = c.spark.sparkContext
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    val (counts, total) = Stats.time(sampled(c)(tr.span(name) {
      val bc = sc.broadcast(corpus.model)
      val mentions = tr.span("mentions.detect") { val m = keep(Mentions.detect(corpus.docs, bc).toDF()); m.count(); m }
      val dict = tr.span("aliasdict.build") { val d = keep(AliasDict.build(corpus.docs)); d.count(); d }
      val linked = tr.span("link") { val l = keep(Link.linkAuto(mentions, dict)); l.count(); l }
      val (canonMap, st) = tr.span("canonical.cc") {
        val (m, st) = Canonical.connectedComponentsWithStats(Canonical.edgesFromDict(dict))
        keep(m).count()
        (m, st)
      }
      val canon = tr.span("canonical.apply") {
        val x = keep(Canonical.canonicalizeAuto(linked, canonMap)); x.count(); x
      }
      val nTriples = tr.span("triples") { keep(Triples.fromCanonical(canon)).count() }
      (mentions.count(), dict.count(), linked.count(), st, candidateTriples(canon), nTriples)
    }))
    persisted.foreach(_.unpersist(blocking = true))
    val (nMentions, nDict, nLinked, st, nCandidates, nTriples) = counts
    val l = c.listener
    val det = l.group("mentions.detect")
    c.layers("mentions.detect.wall_s") = tr.selfOf("mentions.detect")
    c.layers("mentions.detect.cpu_s") = det.cpuNs / 1e9
    c.layers("mentions.detect.task_max_over_median") = det.taskMaxOverMedian
    c.layers("mentions.detect.mentions") = nMentions.toDouble
    c.layers("mentions.detect.tokens_per_core_s") = corpus.tokens / math.max(det.runMs / 1000.0, 1e-9)
    c.layers("aliasdict.build.wall_s") = tr.selfOf("aliasdict.build")
    c.layers("aliasdict.build.shuffle_bytes") = l.group("aliasdict.build").shuffleBytes.toDouble
    c.layers("aliasdict.build.rows") = nDict.toDouble
    c.layers("link.wall_s") = tr.selfOf("link")
    c.layers("link.shuffle_bytes") = l.group("link").shuffleBytes.toDouble
    c.layers("link.linked_frac") = nLinked.toDouble / math.max(nMentions, 1L)
    c.layers("canonical.cc.wall_s") = tr.selfOf("canonical.cc")
    c.layers("canonical.cc.edges_in") = st.edgesIn.toDouble
    c.layers("canonical.cc.iterations") = st.iterations.toDouble
    c.layers("canonical.cc.driver_path") = if (st.usedDriverPath) 1.0 else 0.0
    c.layers("canonical.apply.wall_s") = tr.selfOf("canonical.apply")
    c.layers("triples.wall_s") = tr.selfOf("triples")
    c.layers("triples.shuffle_bytes") = l.group("triples").shuffleBytes.toDouble
    c.layers("triples.distinct_frac") = nTriples.toDouble / math.max(nCandidates, 1L)
    c.layers("docgen.corpus.wall_s") = tr.selfOf("docgen.corpus")
    c.layers("mentions.build_model.wall_s") = tr.selfOf("mentions.build_model")
    for (u <- untraced) c.layers("trace.overhead_frac") = (total - u) / u
    c.layers("trace.unattributed_s") = tr.selfOf(name)
  }

  /** Rows the four triple families of `Triples.fromCanonical` emit before
    * de-duplication: instance_of and mentioned_in one per canonicalized
    * mention, depicted_in one per mention with media, co_occurs_with one per
    * consecutive pair of different entities in a document.
    */
  private def candidateTriples(canon: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val next = lead(col("canonical_id"), 1).over(Window.partitionBy("doc_id").orderBy(col("order"), col("canonical_id")))
    canon.select(
      (lit(2) + (col("media_ref") =!= "").cast("int") +
        (next.isNotNull && next =!= col("canonical_id")).cast("int")).as("n"))
      .agg(sum("n")).head().getLong(0)
  }

  /** The same build in a fresh `local[1]` session: scaling efficiency is
    * (tokens/s at `cores` ÷ tokens/s at 1 core) ÷ cores. The triples must
    * not depend on the parallelism.
    */
  private def scaling(c: Ctx, sfDir: String, wallN: Double, hashN: RowHash): Unit = {
    c.stopSpark()
    c.startSpark(1)
    val one = Workloads.corpus(c, c.scratchTracer, sfDir, Amplify, None)
    // an untimed build first, so costs only a session's first build pays
    // stay out of the 1-core figure, as they do out of the warmed nproc one
    for (_ <- c.op(build(c, one, check = false, heap = false));
         (s, rh) <- c.op(build(c, one, check = true, heap = false))) {
      c.log(f"local[1] build: $s%.2f s")
      c.checks.check("triples identical at local[1] and local[cores]")(rh.contains(hashN))
      c.layers("scaling.eff") = s / wallN / c.o.cores
    }
    one.release()
  }
}

/** `KgRunner.run` into a fresh table directory, then a second run killed at
  * the middle bucket and resumed: writes beside reads, per-bucket jobs,
  * manifest commits and compaction. Part of kg_build's traced run; its
  * per-layer rows come from the run's own manifests and files.
  */
object RunnerProbe {
  val BaseDocs = 100
  val Buckets = 2

  def run(c: Ctx): Unit = {
    val sfDir = Inputs.writeCorpus(c.spark, c.dir(s"corpus/runner-$BaseDocs-s${c.o.seed}"), BaseDocs, Some(c.o.seed))
    val ref = Workloads.corpus(c, c.scratchTracer, sfDir, 1, None)
    val inMemory = c.op(RowHash.of(Triples.pipelineHandle(ref.docs, ref.model).triples))
    ref.release()
    val fresh = c.o.work.resolve("runner/fresh")
    val resumed = c.o.work.resolve("runner/resumed")
    Files2.deleteTree(fresh)
    Files2.deleteTree(resumed)
    val tr = c.tracer
    val out = c.op {
      val freshReport = tr.span("runner.run")(KgRunner.run(c.spark, sfDir, fresh.toString, Buckets))
      val killed = tr.span("runner.killed") {
        try { KgRunner.run(c.spark, sfDir, resumed.toString, Buckets, failAfter = Some(Buckets / 2)); false }
        catch { case _: KgRunner.InjectedKill => true }
      }
      val resumeReport = tr.span("runner.resume")(KgRunner.run(c.spark, sfDir, resumed.toString, Buckets))
      (freshReport, killed, resumeReport)
    }
    def compacted(p: Path) = RowHash.of(c.spark.read.parquet(s"$p/triples_compacted"))
    c.checks.check("runner: compacted triples == in-memory pipeline triples")(
      out.isDefined && inMemory.contains(compacted(fresh)))
    c.checks.check("runner: killed + resumed run == fresh run")(
      out.isDefined && compacted(resumed) == compacted(fresh))
    c.checks.check("runner: every bucket committed exactly once across kill and resume")(out.exists {
      case (f, killed, r) =>
        f.processed.size == Buckets && killed &&
          r.skipped.size == Buckets / 2 && r.processed.size == Buckets - Buckets / 2
    })
    if (out.isEmpty) return

    val manifests = Files.list(fresh.resolve("manifest"))
    val bucketFiles = try manifests.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.matches("bucket-\\d+\\.json")) finally manifests.close()
    val WallMs = """"wall_ms"\s*:\s*(\d+)""".r
    val walls = bucketFiles.map(f => WallMs.findFirstMatchIn(Files.readString(f)).get.group(1).toDouble / 1000)
    val lastBucket = bucketFiles.map(Files.getLastModifiedTime(_).toMillis).max
    val compactAt = Files.getLastModifiedTime(fresh.resolve("manifest/compact.json")).toMillis
    val (files, bytes) = Files2.usage(fresh)
    val inputBytes = Files2.usage(java.nio.file.Paths.get(sfDir, "documents.parquet"))._2
    c.layers("runner.run.wall_s") = tr.selfOf("runner.run")
    c.layers("runner.resume_s") = tr.selfOf("runner.resume")
    c.layers("runner.bucket_wall_s.p50") = Stats.median(walls)
    c.layers("runner.bucket_wall_s.max") = walls.max
    c.layers("runner.compact_s") = (compactAt - lastBucket) / 1000.0
    c.layers("runner.bytes_written_per_input_byte") = bytes.toDouble / inputBytes
    c.layers("runner.files_written") = files.toDouble
  }
}

/** Passes over a fixed list of `SparkEntry.queries` (graph analytics, dedup,
  * text ops), in seed order, over a fixed corpus staged once. No query runs
  * Pyramid inference, so `core` and `Mentions` changes must not move it.
  */
object KgQuery extends Workload {
  import Workloads._
  val name = "kg_query"
  val Docs = 500
  /** The ROADMAP's ranked candidates and one graph analytic: dedup_clusters
    * (the dedup family's full chain: shingles, minhash, LSH pairs, clusters),
    * text_decontam, kg_canonical_map (a docs scan plus the alias dictionary
    * and connected components) and kg_pagerank (iterative, over the staged
    * triple table). Few queries, so each is warm after the checked pass.
    */
  val Queries: Seq[String] = Seq("kg_canonical_map", "kg_pagerank", "dedup_clusters", "text_decontam")

  def expectedFile(c: Ctx): Path = c.o.benchDir.resolve("expected/kg_query.json")

  def run(c: Ctx): Unit = {
    val jvm = c.startSpark(c.o.cores)
    val unknown = Queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries missing from SparkEntry.queries: ${unknown.mkString(", ")}")
    // one fixed corpus for every seed, staged once per checkout: the expected
    // row counts and hashes are properties of this corpus
    val sfDir = Inputs.writeCorpus(c.spark, c.dir(s"corpus/query-$Docs"), Docs, None)
    val kgrun = graft.sources.ReaderStage.stageDir(sfDir).resolve("kgrun").toString
    val nTriples = setup(c, jvm) { tr =>
      tr.span("staging") {
        KgStage.stage(c.spark, sfDir)
        KgRunner.ensureRun(c.spark, sfDir, kgrun)
        c.spark.read.parquet(s"$kgrun/triples_compacted").count()
      }
    }
    val tokens = textTokens(DocGen.docs(c.spark, sfDir).toDF())
    c.heap.checkpoint()
    val order = new scala.util.Random(c.o.seed).shuffle(Queries)
    val fns = SparkEntry.queries

    // checked pass, in the fixed order so its heap checkpoints do not depend on
    // the seed: every result is hashed and checked against the parent's, and
    // the live heap is taken while each query's cached data is held
    val got = Queries.flatMap { q =>
      val r = c.op(RowHash.of(fns(q)(c.spark, sfDir)))
      c.heap.checkpoint()
      c.spark.catalog.clearCache()
      r.map(q -> _)
    }.toMap
    val expected = readExpected(expectedFile(c))
    Queries.foreach { q =>
      c.checks.check(s"$q rows and hash match expected/kg_query.json")(got.get(q) == expected.get(q))
    }
    // on a mismatch, show what this commit produced in the file's own format,
    // so a change that is meant to alter query output can update it by hand
    if (Queries.exists(q => got.get(q) != expected.get(q)))
      System.err.println("[perfbench] kg_query results of this run:\n" +
        Queries.map(q => s"  ${Json.str(q)}: ${got.get(q).fold("null")(_.json)}").mkString("{\n", ",\n", "\n}"))
    c.log("check pass done")

    def pass(tr: Option[Tracer]): Seq[Double] = order.map { q =>
      val (_, s) = Stats.time(tr match {
        case Some(t) => t.span(s"query.$q")(noop(fns(q)(c.spark, sfDir)))
        case None    => noop(fns(q)(c.spark, sfDir))
      })
      c.spark.catalog.clearCache()
      s
    }
    // one untimed pass in seed order, then the timed ones: passes keep getting
    // faster over the first few (JIT), so the median of five lands past the
    // steep part of that curve
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    c.untraced(if (c.op(pass(None)).isDefined) {
      val t0 = System.nanoTime()
      while (c.opsFailed == 0 && (passes.size < 5 || (System.nanoTime() - t0) / 1e9 < c.o.seconds))
        c.op(pass(None)).foreach(passes += _)
    })
    passes.foreach(p => c.log(order.zip(p).map { case (q, s) => f"$q $s%.2f" }.mkString("pass: ", ", ", "")))
    if (passes.nonEmpty) {
      val wall = Stats.median(passes.map(_.sum).toSeq)
      c.e2e("wall_s") = wall
      c.e2e("tokens_per_s") = tokens / wall
      c.e2e("triples_per_s") = nTriples / wall
      c.extra("query_p50_s") = (Stats.median(passes.map(Stats.median).toSeq), "s")
    }

    if (c.o.trace) {
      val tr = c.tracer
      val (per, total) = Stats.time(sampled(c)(tr.span(name)(pass(Some(tr)))))
      order.foreach(q => c.layers(s"query.$q.wall_s") = tr.selfOf(s"query.$q"))
      c.layers("query.p50_s") = Stats.median(per)
      for (w <- c.e2e.get("wall_s")) c.layers("trace.overhead_frac") = (total - w) / w
      c.layers("trace.unattributed_s") = tr.selfOf(name)
      groupRows(c)
      writeTrace(c)
    }
    coreProbe(c, {
      val docs = DocGen.docs(c.spark, sfDir)
      (docs.limit(GoldSampleDocs).collect().toSeq, Mentions.buildModel(docs, ModelConfig()))
    })
  }

  private def readExpected(f: Path): Map[String, RowHash] = {
    if (!Files.exists(f)) return Map.empty
    val Entry = """"([a-z0-9_]+)"\s*:\s*\{"rows":(\d+),"hash":"([0-9a-f]+)"\}""".r
    Entry.findAllMatchIn(Files.readString(f)).map { m =>
      m.group(1) -> RowHash(m.group(2).toLong, java.lang.Long.parseUnsignedLong(m.group(3), 16))
    }.toMap
  }
}
