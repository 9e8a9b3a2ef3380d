package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.{Fmt, ModelConfig}
import graft.kg.{DocGen, Mentions, PyramidDoc, Triples}

/** Driver benchmark main: runs every SparkEntry query (forced to full
  * materialization via the noop sink) plus the amplified KG-pipeline
  * headlines, prints ONE JSON line in the driver schema.
  *
  * Output-size contract: the driver captures only the LAST ~2000 bytes of
  * stdout and parses the result line out of that window (BENCH_r03/r04 both
  * lost their per-query maps to it), so the line is kept under the window by
  * construction — trimmed 2-decimal query seconds, headline fields nested
  * under compact "kg"/"kg2" objects, per-query load annotations capped to the
  * top-3 nonzero ("hot"), and the queries map LAST so a future overflow
  * truncates the head, not the timings. The untruncated full-precision
  * record (all per-query ext_load entries, per-rep headline times) is written
  * to `BENCH/last_bench_full.json` alongside.
  */
object Bench {

  def force(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // external-contention instrumentation lives in graft.core.LoadProbe
  // (shared with ScalingBench) + graft.core.StealProbe
  private def externalLoad(selfCpus: Double): Double =
    graft.core.LoadProbe.externalLoad(selfCpus)
  private type LoadSampler = graft.core.LoadProbe.Sampler

  /** "12.30" -> "12.3", "1.00" -> "1" — JSON numbers, minimum bytes. */
  private def trim(s: String): String =
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
  private def t2(d: Double): String = trim(Fmt.f2(d))
  private def t1(d: Double): String = trim(Fmt.f1(d))

  /** One amplified KG-pipeline headline, rep-protected: input prep (docs
    * materialization, model/lexicon build, token count) runs ONCE outside the
    * timed region; the timed pipeline then runs once per interleaved pass and
    * the MIN across passes is recorded (same noise defense as the battery —
    * back-to-back reps share a contention window, interleaved ones don't).
    */
  private final class Headline(val tag: String, cfg: ModelConfig, val amp: Int,
                               spark: SparkSession, sfDir: String, selfCpus: Double) {
    var sec: Double = Double.MaxValue
    var load: Double = 0.0
    var steal: Double = 0.0
    var triples: Long = -1L
    var docsN: Long = -1L
    var tokens: Long = -1L
    var failed = false
    val repSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    private var docs: Dataset[PyramidDoc] = _
    private var model: Mentions.Model = _

    def prepare(): Unit =
      try {
        docs = DocGen.amplifiedDocs(spark, sfDir, amp).cache()
        docsN = docs.count()
        model = Mentions.buildModel(docs, cfg)
        tokens = docs.toDF()
          .selectExpr("sum(size(filter(spans, s -> s.kind = 'text')))")
          .head().getLong(0)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $tag headline prep FAILED: ${e.getMessage}")
          failed = true
      } finally if (docs != null) docs.unpersist() // each rep re-caches its own

    def rep(): Unit = if (!failed)
      try {
        // each rep caches + materializes ITS OWN corpus outside the timed
        // region (the battery's clearCache() between queries unregisters any
        // earlier registration anyway), and drops it again afterwards — so
        // only one headline's docs occupy storage memory during any timed
        // region, and the other headline/battery queries run cache-clean
        docs.cache()
        docs.count()
        val sampler = new LoadSampler(selfCpus)
        val st0 = graft.core.StealProbe.snapshot()
        val h = Triples.pipelineHandle(docs, model)
        val (_, s) = time(force(h.triples))
        val l = sampler.stop()
        val st = graft.core.StealProbe.pct(st0, graft.core.StealProbe.snapshot())
        val t = h.triples.count() // cached subtrees — count is cheap
        h.unpersistAll()
        repSecs += s
        if (s < sec) { sec = s; load = l; steal = st; triples = t }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $tag headline rep FAILED: ${e.getMessage}")
          failed = true
      } finally docs.unpersist()

    def cleanup(): Unit = if (docs != null) docs.unpersist()
    def secOrSentinel: Double = if (failed || sec == Double.MaxValue) -1.0 else sec
    private def perSec(n: Long): String =
      t1(if (secOrSentinel > 0) n / secOrSentinel else -1.0)
    /** compact nested object for the size-bounded driver line */
    def json(cfgName: String): String =
      s"""{"cfg":"$cfgName","sec":${t2(secOrSentinel)},"triples":$triples,""" +
        s""""docs":$docsN,"tokens":$tokens,"amp":$amp,"load":${t1(load)},""" +
        s""""steal":${t1(steal)},"tps":${perSec(triples)},"toks":${perSec(tokens)}}"""
    /** minimum viable headline for the last shrink level: the throughput
      * read (sec, tokens, toks) plus the steal diagnostic; docs/amp/load
      * live in the sidecar */
    def jsonMin(cfgName: String): String =
      s"""{"cfg":"$cfgName","sec":${t2(secOrSentinel)},"tokens":$tokens,""" +
        s""""steal":${t1(steal)},"toks":${perSec(tokens)}}"""
    /** last-resort barebones headline: the two numbers a reader of the
      * driver line actually needs (wall seconds, tokens/s); everything else
      * lives in the sidecar */
    def jsonBare: String =
      s"""{"sec":${t2(secOrSentinel)},"toks":${perSec(tokens)}}"""
    /** full-precision object for the sidecar file */
    def jsonFull(cfgName: String): String =
      s"""{"cfg":"$cfgName","sec":$secOrSentinel,"rep_secs":[${repSecs.mkString(",")}],""" +
        s""""triples":$triples,"docs":$docsN,"tokens":$tokens,"amp":$amp,"load":$load,""" +
        s""""steal":$steal,""" +
        s""""tps":${if (secOrSentinel > 0) triples / secOrSentinel else -1.0},""" +
        s""""toks":${if (secOrSentinel > 0) tokens / secOrSentinel else -1.0}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = BenchSession.cpus
    val amplify = sys.env.getOrElse("GRAFT_AMPLIFY", "8").toInt
    // the reference's real experiment shape (GENIA: depth 8, 200-d) costs
    // ~5.6x the default per token (InferBench calibration) — bench it at a
    // smaller amplification so the secondary headline stays bounded
    val amplifyGenia = sys.env.getOrElse("GRAFT_AMPLIFY_GENIA", "2").toInt
    // GRAFT_CFG=genia flips the PRIMARY headline to the reference-shaped
    // model; by default the primary is the default config and a genia
    // secondary headline is emitted alongside it
    val cfgName = sys.env.getOrElse("GRAFT_CFG", "default")
    // per-attempt wall-time budget: one pathological query must not eat the
    // battery window. On expiry the job group is cancelled and the query is
    // marked failed (-1 sentinel), so worst-case battery time is bounded by
    // reps * |queries| * timeout (in practice: one timeout, then skipped).
    val timeoutSec = sys.env.getOrElse("GRAFT_BENCH_TIMEOUT_SEC", "900").toInt
    val spark = BenchSession("graft-bench", cpus)
    val selfCpus = cpus.toDouble

    val (_, stageSec) = time(SparkEntry.stage(spark, sfDir))

    // failures are reported EXPLICITLY (failed list + negative sentinel time)
    // — a swallowed exception must not masquerade as a plausible duration.
    // A query that failed once is SKIPPED on later passes (re-running a
    // known-failing query would only re-pay its wall time).
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // R full INTERLEAVED battery passes, min per query ACROSS passes: the
    // sandbox host has bursty multi-minute noisy-neighbor windows, and
    // back-to-back reps of one query share the same window (round-3 battery
    // showed a 7 s query as a 119 s row even with min-of-2). Interleaving
    // puts a full battery (~minutes) between a query's reps, so the min is
    // taken across DIFFERENT contention windows.
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "2").toInt
    require(reps >= 1, s"GRAFT_BENCH_REPS must be >= 1, got $reps")
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the full battery, always (QueryBench times a subset)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // per query: (best sec, ext_load of the best rep)
    // name -> (best sec, ext load at best, steal% at best)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    // the two headlines join the interleaving (one rep per battery pass)
    val primaryCfg = if (cfgName == "genia") ModelConfig.genia else ModelConfig()
    val secondaryName = if (cfgName == "genia") "default" else "genia"
    val secondaryCfg = if (cfgName == "genia") ModelConfig() else ModelConfig.genia
    val primary = new Headline(cfgName, primaryCfg, amplify, spark, sfDir, selfCpus)
    val secondary = new Headline(secondaryName, secondaryCfg,
      amplifyGenia, spark, sfDir, selfCpus)

    for (pass <- 1 to reps) {
      names.foreach { case (name, fn) =>
        if (!failed.contains(name)) {
          val load0 = externalLoad(selfCpus)
          val st0 = graft.core.StealProbe.snapshot()
          val group = s"bench-$name"
          val (ok, sec) = time {
            // the attempt runs under a cancellable job group on a worker
            // thread; on timeout the group is cancelled (tasks interrupted)
            // and the battery moves on
            val fut = scala.concurrent.Future {
              spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
              try { force(fn(spark, sfDir)); true }
              finally spark.sparkContext.clearJobGroup()
            }
            try scala.concurrent.Await.result(
              fut, scala.concurrent.duration.Duration(timeoutSec, "s"))
            catch {
              case _: java.util.concurrent.TimeoutException =>
                // AndFutureJobs: the abandoned worker thread may be between
                // actions (a multi-job query) — plain cancelJobGroup would
                // only kill the currently-active job and let the zombie keep
                // burning cores / holding staging locks under later
                // measurements; this poisons its subsequent jobs too, so the
                // zombie dies at its next action
                spark.sparkContext.cancelJobGroupAndFutureJobs(group)
                System.err.println(s"[bench] $name TIMED OUT after ${timeoutSec}s")
                failed += name
                false
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                failed += name
                false
            }
          }
          val extLoad = (load0 + externalLoad(selfCpus)) / 2
          val steal = graft.core.StealProbe.pct(st0, graft.core.StealProbe.snapshot())
          // materialized operators return their result cached, and the eval
          // slice docs are session-cached; drop them between queries so
          // storage-memory pressure from query k doesn't tax query k+1
          spark.catalog.clearCache()
          if (ok && best.get(name).forall(_._1 > sec)) best(name) = (sec, extLoad, steal)
        }
      }
      // headline rep at the tail of each battery pass — prep once (before
      // rep 1), timed region per pass, min across passes. clearCache() above
      // runs BETWEEN queries only, so the prepared docs caches survive the
      // whole interleaving; pipeline intermediates are dropped per rep.
      if (pass == 1) { primary.prepare(); secondary.prepare() }
      primary.rep()
      secondary.rep()
    }
    primary.cleanup()
    secondary.cleanup()
    spark.catalog.clearCache()
    // a later-pass failure (a contention-window timeout, say) must not throw
    // away a valid earlier-pass measurement — report the best successful rep
    // when one exists; `failed` still names the query, so the record shows
    // the partial failure. -1 only when NO rep ever succeeded.
    val results = names.map { case (name, _) =>
      name -> best.getOrElse(name, (-1.0, 0.0, 0.0))
    }

    // ---- emission. Everything below MUST not throw away the measured run:
    // each stage is fenced so a formatting/IO failure still prints the line.
    val sfName = new java.io.File(sfDir).getName
    // 1 dp in the size-bounded line (2 dp pushed a 77-query line to 1985 B
    // against the driver's ~2000 B window); full precision in the sidecar
    val qs = results.map { case (k, (v, _, _)) => "\"" + k + "\":" + t1(v) }
      .mkString("{", ",", "}")
    // last-resort variant: whole-second query times (a 79-entry 1 dp map puts
    // the line at ~1984 B — one 100 s query or a failed-list entry would
    // overflow; integer secs buy ~150 B of slack, full precision is in the
    // sidecar either way)
    val qs0 = results.map { case (k, (v, _, _)) => "\"" + k + "\":" + math.round(v) }
      .mkString("{", ",", "}")
    // per-query load/steal annotations: top-3 NONZERO only (the full maps
    // live in the sidecar file) — on a quiet window these are {} (9 B each)
    val hot = results.filter(_._2._2 > 0.05).sortBy(-_._2._2).take(3)
      .map { case (k, (_, l, _)) => "\"" + k + "\":" + t1(l) }
      .mkString("{", ",", "}")
    val hotSteal = results.filter(_._2._3 > 0.5).sortBy(-_._2._3).take(3)
      .map { case (k, (_, _, s)) => "\"" + k + "\":" + t1(s) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2._1).filter(_ >= 0).sum + math.max(primary.secOrSentinel, 0)
    def assemble(hotJs: String, stealJs: String, qsJs: String = qs,
                 minHeadlines: Boolean = false) = {
      val (kgJs, kg2Js) =
        if (minHeadlines) (primary.jsonMin(cfgName), secondary.jsonMin(secondaryName))
        else (primary.json(cfgName), secondary.json(secondaryName))
      s"""{"metric":"total","value":${t1(total)},"unit":"sec","sf":"$sfName",""" +
        s""""failed":$failedJson,"reps":$reps,"prep":${t1(stageSec)},""" +
        s""""kg":$kgJs,"kg2":$kg2Js,""" +
        s""""hot":$hotJs,"steal":$stealJs,"queries":$qsJs}"""
    }
    // barebones: only what the driver schema requires (metric/value/unit/
    // sf/queries) plus two-number headlines; failed stays IF nonempty (a
    // dropped failure list would hide real failures), reps/prep/hot/steal
    // are sidecar-only. ~150 B under the minHeadlines level at 95 queries.
    def assembleBare(qsJs: String) =
      s"""{"metric":"total","value":${t1(total)},"unit":"sec","sf":"$sfName",""" +
        (if (failed.nonEmpty) s""""failed":$failedJson,""" else "") +
        s""""kg":${primary.jsonBare},"kg2":${secondary.jsonBare},""" +
        s""""queries":$qsJs}"""
    // the driver tail-captures ~2000 B: on a dirty window the hot/steal
    // annotation maps can push the line past it, so shrink progressively —
    // the annotations live in full in the sidecar, the queries map does not;
    // the later levels trade query-time precision (1 dp -> whole seconds),
    // then headline detail, then every non-schema field (the barebones
    // level: at 95 queries the minHeadlines level already emits 1985 B —
    // ON the bracketed capture edge — while barebones sits ~1835 B)
    // threshold 1950, not ~2000: the window's true edge is only bracketed
    // (a 1985 B line was captured whole, a 2004 B one truncated), so stay
    // safely below the known-good bound rather than at the bracket's middle
    val line = Seq(assemble(hot, hotSteal), assemble("{}", hotSteal),
        assemble("{}", "{}"), assemble("{}", "{}", qs0),
        assemble("{}", "{}", qs0, minHeadlines = true), assembleBare(qs0))
      .find(_.length <= 1950)
      .getOrElse(assembleBare(qs0))
    if (line.length > 1950)
      System.err.println(s"[bench] WARNING: result line ${line.length} B exceeds the " +
        "driver's ~2000 B tail window; per-query timings may truncate")
    // full-precision sidecar (not size-bounded): every per-query ext_load,
    // per-rep headline seconds — best-effort, never blocks the line
    try {
      val fullQs = results.map { case (k, (v, _, _)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val fullLoads = results.map { case (k, (_, l, _)) => "\"" + k + "\":" + l }
        .mkString("{", ",", "}")
      val fullSteal = results.map { case (k, (_, _, s)) => "\"" + k + "\":" + s }
        .mkString("{", ",", "}")
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
          s""""cpus":$cpus,"failed":$failedJson,"reps":$reps,"prep":$stageSec,""" +
          s""""timeout_sec":$timeoutSec,"kg":${primary.jsonFull(cfgName)},""" +
          s""""kg2":${secondary.jsonFull(secondaryName)},""" +
          s""""ext_load":$fullLoads,"steal":$fullSteal,"queries":$fullQs}"""
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_FULL_OUT", "BENCH/last_bench_full.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, full + "\n")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] sidecar write failed (line still printed): $e")
    }
    println(line)
    spark.stop()
  }
}
