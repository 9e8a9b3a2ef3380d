package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ModelConfig

/** End-to-end distributed-vs-sequential equality at sf0.001 (SURVEY.md §5.4):
  * the Spark pipeline must reproduce GoldRef's sequential re-derivation
  * exactly — per-row span-sequence equality for mentions, set equality
  * (P = R = 1.0) for triples.
  */
class KgPipelineSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kg-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val goldDocs: Seq[PyramidDoc] = {
    import spark.implicits._
    // gold path reads the raw parquet once, sequentially assembled
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as[Long], $"text".as[String])
      .collect().sortBy(_._1)
      .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }
      .toSeq
  }
  private lazy val model: Mentions.Model = {
    import spark.implicits._
    Mentions.buildModel(DocGen.docs(spark, sfDir), ModelConfig())
  }

  test("docs table derivation is deterministic and interleaved") {
    val docs = DocGen.docs(spark, sfDir).collect()
    assert(docs.length == goldDocs.length)
    val byId = docs.map(d => d.doc_id -> d).toMap
    goldDocs.foreach { g =>
      val got = byId(g.doc_id)
      assert(got.spans.toSeq == g.spans.toSeq, s"spans of ${g.doc_id}")
    }
    val media = docs.map(_.spans.count(_.kind == "media")).sum
    assert(media > 0, "no media spans interleaved")
    docs.foreach { d =>
      assert(d.spans.map(_.offset).toSeq == d.spans.indices.toSeq, s"offsets of ${d.doc_id}")
    }
  }

  test("per-row mention invariant: span-sequence equality (kind, text, media_ref, order)") {
    val bc = spark.sparkContext.broadcast(model)
    // different partitioning than the scan default → proves partition invariance
    val mentions = Mentions.detect(DocGen.docs(spark, sfDir).repartition(7), bc).collect()
    val gold = GoldRef.mentions(goldDocs, model)
    val gotByDoc = mentions.groupBy(_.doc_id).view
      .mapValues(_.sortBy(_.order).map(m => (m.kind, m.text, m.media_ref, m.order)).toSeq).toMap
    val goldByDoc = gold.groupBy(_.doc_id).view
      .mapValues(_.sortBy(_.order).map(m => (m.kind, m.text, m.media_ref, m.order)).toSeq).toMap
    assert(gotByDoc.keySet == goldByDoc.keySet, "doc coverage differs")
    goldByDoc.foreach { case (doc, seq) =>
      assert(gotByDoc(doc) == seq, s"span sequence of $doc")
    }
    assert(gold.nonEmpty, "gold mention set empty — model bias miscalibrated")
  }

  test("GENIA-shaped config: distributed == sequential, deep layers exercised") {
    import spark.implicits._
    val slice = goldDocs.take(60)
    val modelG = Mentions.buildModel(spark.createDataset(slice), ModelConfig.genia)
    val bc = spark.sparkContext.broadcast(modelG)
    val got = Mentions.detect(spark.createDataset(slice).repartition(7), bc)
      .collect().toSeq.sortBy(m => (m.doc_id, m.order))
    val want = GoldRef.mentions(slice, modelG).sortBy(m => (m.doc_id, m.order))
    assert(got == want)
    assert(want.nonEmpty, "calibrated genia config must detect mentions")
    // depth-8 pyramid actually fires beyond the default config's depth 4
    assert(want.exists(m => m.len > ModelConfig().maxDepth),
      "no mention longer than the default depth — genia layers 5..8 unexercised")
  }

  test("article-bucketed contextual detection == shuffle path, with no Exchange in plan") {
    import spark.implicits._
    val docs = spark.createDataset(goldDocs)
    val bcM = spark.sparkContext.broadcast(model)
    val bcV = spark.sparkContext.broadcast(
      graft.core.VariantWeights.build(Mentions.ModelSeed, ModelConfig(), Mentions.Kinds.length))
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx_bucketed").toString
    Mentions.writeArticleBucketed(docs, dir)
    // layout invariant: every article's docs land wholly in ONE read split
    val placement = spark.read.parquet(dir).as[PyramidDoc]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map(d => (Mentions.articleIdOf(d.doc_id), pid))
      }.distinct().collect().groupBy(_._1)
    placement.foreach { case (aid, ps) =>
      assert(ps.length == 1, s"article $aid straddles read splits: ${ps.mkString(",")}")
    }
    val bucketed = Mentions.detectContextualBucketed(spark, dir, bcM, bcV)
    // the whole point: NO shuffle — the groupByKey exchange is gone
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed ctx plan must be shuffle-free:\n${plan.take(1000)}")
    def key(ms: Array[Mention]) = ms.map(m =>
      (m.doc_id, m.kind, m.start_tok, m.len, m.order, m.media_ref)).sorted.toSeq
    val shuffled = Mentions.detectContextual(docs, bcM, bcV).collect()
    assert(key(bucketed.collect()) == key(shuffled), "bucketed path must equal shuffle path")
    assert(shuffled.nonEmpty)
  }

  test("bucketed contextual detection fails loudly on a mid-article file split") {
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(model)
    val bcV = spark.sparkContext.broadcast(
      graft.core.VariantWeights.build(Mentions.ModelSeed, ModelConfig(), Mentions.Kinds.length))
    // adversarial layout: one article's docs deliberately split across two
    // files (what a bucket file outgrowing its row group would look like) —
    // the reader's precondition guard must throw, not silently emit
    // mentions with truncated context windows
    val art0 = goldDocs.filter(d => Mentions.articleIdOf(d.doc_id) == 0L)
    assert(art0.length > 1, "need a multi-doc article for the split")
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx_split").toString
    spark.createDataset(art0).toDF()
      .repartitionByRange(2, org.apache.spark.sql.functions.col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    // force one file per read partition — Spark otherwise packs small files
    // into a single partition (size-ordered), which can hide the split
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        Mentions.detectContextualBucketed(spark, dir, bcM, bcV).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("mid-article")),
        s"expected the mid-article guard, got: ${chain(e).mkString(" | ")}")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("bucketed guard catches a mid-article chunk packed behind a valid partition head") {
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(model)
    val bcV = spark.sparkContext.broadcast(
      graft.core.VariantWeights.build(Mentions.ModelSeed, ModelConfig(), Mentions.Kinds.length))
    // The r4 guard checked only the partition HEAD. Spark packs multiple file
    // chunks into one read partition in size-descending bins, so a
    // mid-article chunk landing AFTER a clean file leaves the partition
    // starting at a valid article boundary while a split article silently
    // truncates. Reproduce that placement: file A = a complete article
    // (article-start head, larger), file B = another article's TAIL
    // (smaller, mid-article) — bin-packing puts A first, B mid-partition.
    val art1 = goldDocs.filter(d => Mentions.articleIdOf(d.doc_id) == 1L)
      .sortBy(_.doc_id)
    val art0tail = goldDocs.filter(d => Mentions.articleIdOf(d.doc_id) == 0L)
      .sortBy(_.doc_id).drop(2)
    assert(art1.nonEmpty && art0tail.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx_packed")
    def writeOne(docs: Seq[PyramidDoc], mode: String): Unit =
      spark.createDataset(docs).toDF().repartition(1).sortWithinPartitions("doc_id")
        .write.mode(mode).parquet(dir.toString)
    writeOne(art1, "overwrite")
    def partSizes(): Map[String, Long] = {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
    val aFiles = partSizes()
    writeOne(art0tail, "append")
    val all = partSizes()
    val aSize = aFiles.values.sum
    val bSize = (all -- aFiles.keys).values.sum
    assert(aSize > bSize, s"placement needs file A ($aSize B) > file B ($bSize B)")
    val olds = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      // precondition: the adversarial placement really is ONE partition whose
      // head is a valid article start (the case the head-only guard missed)
      val heads = spark.read.parquet(dir.toString).as[PyramidDoc]
        .mapPartitions(it => if (it.hasNext) Iterator.single(it.next().doc_id)
                             else Iterator.empty).collect()
      assert(heads.length == 1 && heads.head == art1.head.doc_id,
        s"expected one packed partition headed by ${art1.head.doc_id}, got ${heads.toSeq}")
      val e = intercept[org.apache.spark.SparkException] {
        Mentions.detectContextualBucketed(spark, dir.toString, bcM, bcV).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("mid-article")),
        s"expected the mid-article guard, got: ${chain(e).mkString(" | ")}")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("alias dictionary matches the sequential re-derivation") {
    val got = AliasDict.build(DocGen.docs(spark, sfDir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        BigDecimal(r.getDouble(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val gold = GoldRef.dict(goldDocs)
      .map(r => (r.alias, r.entity_id, r.kind,
        BigDecimal(r.prior).setScale(9, BigDecimal.RoundingMode.HALF_UP))).toSet
    assert(got.size == gold.size, s"dict size got ${got.size} want ${gold.size}")
    assert(got == gold)
  }

  test("triples: pipeline output == sequential gold (P = R = 1.0)") {
    val got = Triples.pipeline(spark, sfDir)
      .collect().map(r => Triple(r.getString(0), r.getString(1), r.getString(2))).toSet
    val gold = GoldRef.triples(goldDocs, model)
    val tp = (got intersect gold).size.toDouble
    val p = if (got.nonEmpty) tp / got.size else 0.0
    val r = if (gold.nonEmpty) tp / gold.size else 0.0
    assert(gold.nonEmpty, "gold triple set empty")
    withClue(s"P=$p R=$r got=${got.size} gold=${gold.size} " +
      s"onlyGot=${(got -- gold).take(5)} onlyGold=${(gold -- got).take(5)}") {
      assert(p == 1.0 && r == 1.0)
    }
  }

  test("connected components handle skewed star + chain graphs (both CC paths)") {
    import spark.implicits._
    // hot star: e0000 ↔ e0001..e2000; chain: c00..c19; isolated pair
    val star = (1 to 2000).map(i => (f"e$i%04d", "e0000"))
    val chain = (1 until 20).map(i => (f"c$i%02d", f"c${i - 1}%02d"))
    val pair = Seq(("zz1", "zz0"))
    val edges = (star ++ chain ++ pair).toDF("src", "dst")
    // driverThreshold=0 forces the distributed star loop; default takes the
    // driver union-find fast path — both must agree
    for (threshold <- Seq(0L, Canonical.DriverCcThreshold)) {
      val cc = Canonical.connectedComponents(edges, driverThreshold = threshold).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert((0 to 2000).forall(i => cc(f"e$i%04d") == "e0000"), s"threshold=$threshold")
      assert((0 until 20).forall(i => cc(f"c$i%02d") == "c00"), s"threshold=$threshold")
      assert(cc("zz1") == "zz0" && cc("zz0") == "zz0", s"threshold=$threshold")
    }
  }

  test("PipelineHandle.unpersistAll releases only the caches the handle created") {
    def cacheEmpty = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    val docs = DocGen.docs(spark, sfDir).cache()
    Triples.pipelineHandle(docs, model).unpersistAll()
    assert(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "caller-cached docs were unpersisted")
    docs.unpersist(blocking = true)
    assert(cacheEmpty)
    Triples.pipelineHandle(DocGen.docs(spark, sfDir), model).unpersistAll()
    assert(cacheEmpty, "handle-cached docs were left behind")
  }

  test("pipelineHandleBc runs only the dictionary's bounded collect before it returns") {
    val docs = DocGen.docs(spark, sfDir).cache()
    docs.count()
    val bc = spark.sparkContext.broadcast(model)
    // the sf0.001 dictionary fits the driver guard: one bounded collect (its
    // distinct's map stage and the collect, 2 jobs with AQE) and no probe,
    // checkpoint or count of the link and canonicalization stages
    val (handle, jobs) = graft.JobCount.during(spark.sparkContext)(Triples.pipelineHandleBc(docs, bc))
    try assert(jobs.size <= 2, jobs.mkString("\n"))
    finally { handle.unpersistAll(); docs.unpersist() }
  }

  test("edgesFromDict connects ALL candidates of a multi-candidate alias") {
    import spark.implicits._
    // an alias with 3 candidates must form ONE component — the old
    // (min, max)-only derivation would silently drop E2 from it
    val dict = Seq(
      ("shared", "E1", "protein", 0.9),
      ("shared", "E2", "DNA", 0.5),
      ("shared", "E3", "RNA", 0.4),
      ("other", "E9", "RNA", 0.7) // single-candidate: no edges
    ).toDF("alias", "entity_id", "kind", "prior")
    val edges = Canonical.edgesFromDict(dict).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("E1", "E2"), ("E1", "E3"), ("E2", "E3")))
    val cc = Canonical.connectedComponents(Canonical.edgesFromDict(dict)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("E1" -> "E1", "E2" -> "E1", "E3" -> "E1"))
  }

  test("link with broadcast disabled produces identical output") {
    val docs = DocGen.docs(spark, sfDir)
    val bc = spark.sparkContext.broadcast(model)
    val mentions = Mentions.detect(docs, bc).toDF()
    val dict = AliasDict.build(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(Link.linkBest(mentions, Link.bestCandidates(dict), useBroadcast = true)) ==
      rows(Link.linkBest(mentions, Link.bestCandidates(dict), useBroadcast = false)))
  }

  test("size-guarded joins pick broadcast below the threshold, shuffle above (crossover)") {
    val docs = DocGen.docs(spark, sfDir)
    val bc = spark.sparkContext.broadcast(model)
    val mentions = Mentions.detect(docs, bc).toDF()
    val dict = AliasDict.build(docs).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // our STRATEGY choice lives in the optimized logical plan as a join hint
    // (the physical plan can't witness it: AQE re-broadcasts tiny inputs on
    // its own, which is fine — the guard is about not FORCING a huge one)
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast")
    val below = Link.linkAuto(mentions, dict) // dict ≪ default threshold
    val above = Link.linkAuto(mentions, dict, maxBroadcastRows = 0)
    assert(hinted(below), "small dict must take the broadcast hint")
    assert(!hinted(above), "above-threshold dict must not be force-broadcast")
    assert(rows(below) == rows(above), "strategy must not change the result")

    val canonMap = Canonical.connectedComponents(Canonical.edgesFromDict(dict)).cache()
    // build on the UNhinted linked frame: `below` carries the link join's
    // broadcast hint in its plan string, which would mask this join's choice
    val cBelow = Canonical.canonicalizeAuto(above, canonMap)
    val cAbove = Canonical.canonicalizeAuto(above, canonMap, maxBroadcastRows = 0)
    assert(hinted(cBelow) && !hinted(cAbove))
    assert(rows(cBelow) == rows(cAbove))
    dict.unpersist(); canonMap.unpersist()
  }

  test("dictionary side above the guard: the rows of the driver side, and link builds no CC") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = DocGen.docs(spark, sfDir)
    val mentions = Mentions.detect(docs, spark.sparkContext.broadcast(model)).toDF().cache()
    val small = AliasDict.build(docs).cache()
    // single-candidate aliases that no mention text matches: they add no CC
    // edge and no link, only enough rows to put the dict above the guard
    val filler = spark.range(Canonical.DriverCcThreshold)
      .select(concat(lit("~filler "), col("id")).as("alias"),
        concat(lit("F"), col("id")).as("entity_id"), lit("misc").as("kind"), lit(0.5).as("prior"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val below = DictSide.of(small)
    val above = DictSide.of(small.unionByName(filler))
    try {
      assert(below.cached.isEmpty, "below the guard nothing is cached")
      // above it the dict is cached at once, the canonical map only when the
      // first canonicalize runs CC: its jobs start there, not in link
      assert(above.cached.size == 1)
      val linked = rows(above.link(mentions))
      assert(above.cached.size == 1, "link alone ran CC")
      assert(linked.nonEmpty && linked == rows(below.link(mentions)))
      val (canonicalized, ccJobs) =
        graft.JobCount.during(spark.sparkContext)(above.canonicalize(mentions))
      assert(ccJobs.nonEmpty && above.cached.size == 2)
      assert(rows(canonicalized) == rows(below.canonicalize(mentions)))
    } finally { above.release(); small.unpersist(); mentions.unpersist() }
  }

  test("simhash64 production variant: identical docs collide, bits are stable") {
    val sig = graft.ops.Dedup.simhash64(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // one signature per doc, and equal-text docs get equal signatures
    assert(sig.count() == docs.count())
    val byText = docs.join(sig, "doc_id")
      .groupBy("text").agg(org.apache.spark.sql.functions.countDistinct("simhash").as("n"))
    assert(byText.filter(org.apache.spark.sql.functions.col("n") > 1).count() == 0)
  }
}
