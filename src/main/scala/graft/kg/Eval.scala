package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BcRegistry, Fmt, ModelConfig, VariantWeights}
import graft.core.SparkUtil.materialize

/** Evaluation surface (SURVEY.md §2.6 M3-M8, M13; §2.7 E3): distributed
  * confusion counting + the reference's exact P/R/F1 math.
  *
  * The reference computes confusion matrices in driver loops over python
  * sets (`utils/metrics.py:168-211`); here each per-token / per-position
  * label SET becomes a distinct row and the set algebra becomes joins:
  * TP = inner join, FP = pred anti gold, FN = gold anti pred — three
  * shuffle-free-on-one-side hash aggregations over co-keyed rows, which is
  * the shape that survives a 100 TB pred/gold compare. Only the per-class
  * count table (|kinds| rows) ever reaches the driver.
  */
object Eval {

  /** BIOES tags of a token span (exclusive end), port of
    * `utils/metrics.py:83-117`: single token → S; else B … I … E.
    */
  def bioesTags(start: Int, len: Int): Seq[(Int, String)] = {
    val end = start + len
    if (len <= 1) Seq((start, "S"))
    else (Seq((start, "B")) ++ (start + 1 until end - 1).map((_, "I"))) :+ (end - 1, "E")
  }

  /** BIOES expansion as a pure Catalyst expression (no UDF — stays inside
    * whole-stage codegen). `sequence` is only emitted for len > 2 because
    * Spark's sequence(a, b) runs DESCENDING when b < a.
    */
  private val bioesSql =
    """CASE
      |  WHEN len <= 1 THEN array(named_struct('idx', start_tok, 'tag', 'S'))
      |  WHEN len = 2 THEN array(named_struct('idx', start_tok, 'tag', 'B'),
      |                          named_struct('idx', start_tok + 1, 'tag', 'E'))
      |  ELSE concat(
      |    array(named_struct('idx', start_tok, 'tag', 'B')),
      |    transform(sequence(start_tok + 1, start_tok + len - 2),
      |              i -> named_struct('idx', i, 'tag', 'I')),
      |    array(named_struct('idx', start_tok + len - 1, 'tag', 'E')))
      |END""".stripMargin

  /** Mentions (doc_id, kind, start_tok, len) → distinct per-token tag rows
    * (doc_id, idx, kind, tag). Distinct implements the reference's
    * per-(token, category) tag SET (`metrics.py:147-153`).
    */
  def bioesRows(mentions: DataFrame): DataFrame =
    mentions.select(col("doc_id"), col("kind"), explode(expr(bioesSql)).as("bt"))
      .select(col("doc_id"), col("kind"), col("bt.idx").as("idx"), col("bt.tag").as("tag"))
      .distinct()

  /** Span-position label rows for the span-set compare (M5,
    * `metrics.py:194-211`): the position key is (doc, start, len) — the
    * (layer, token) grid cell — and the label set is the kinds at that cell.
    */
  def spanRows(mentions: DataFrame): DataFrame =
    mentions.select(col("doc_id"), col("start_tok"), col("len"), col("kind")).distinct()

  /** Generic set-compare: given pred/gold keyed label rows (all columns are
    * the key), per-kind TP/FP/FN counts. `kinds` pins the category axis so
    * never-predicted classes still appear (macro mean is over ALL classes,
    * `metrics.py:228`).
    */
  def confusion(pred0: DataFrame, gold0: DataFrame, kinds: Seq[String]): DataFrame = {
    val spark = pred0.sparkSession
    import spark.implicits._
    // each side feeds THREE joins — persist so an expensive upstream (the
    // pyramid-inference subtree) materializes once, not per join branch;
    // released afterwards only where this call did the caching
    val owned = Seq(pred0, gold0).filter(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val pred = pred0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gold = gold0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cols = pred.columns.toSeq
    val tp = pred.join(gold, cols).groupBy("kind").agg(count(lit(1)).as("tp"))
    val fp = pred.join(gold, cols, "left_anti").groupBy("kind").agg(count(lit(1)).as("fp"))
    val fn = gold.join(pred, cols, "left_anti").groupBy("kind").agg(count(lit(1)).as("fn"))
    val out = kinds.toDF("kind")
      .join(tp, Seq("kind"), "left").join(fp, Seq("kind"), "left").join(fn, Seq("kind"), "left")
      .select(col("kind"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"), coalesce(col("fn"), lit(0L)).as("fn"))
    materialize(out, owned: _*)
  }

  /** The reference's `calculate_metrics` (`utils/metrics.py:214-258`),
    * verbatim math over the collected per-class counts: per-class P/R/F1
    * (0 when the denominator is 0), macro = mean of per-class P and R with
    * F1 OF THE MEANS, micro over summed counts, weighted by TP share.
    * Driver-side on |kinds| rows by design.
    */
  def metrics(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val rows = counts.select("kind", "tp", "fp", "fn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    def f1(p: Double, r: Double): Double = if (p + r > 0) 2 * p * r / (p + r) else 0.0
    val per = rows.map { case (k, tp, fp, fn) =>
      val p = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
      val r = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
      (k, p, r)
    }
    val n = math.max(per.length, 1)
    val (pMac, rMac) = (per.map(_._2).sum / n, per.map(_._3).sum / n)
    val (tpS, fpS, fnS) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
    val pMic = if (tpS + fpS > 0) tpS.toDouble / (tpS + fpS) else 0.0
    val rMic = if (tpS + fnS > 0) tpS.toDouble / (tpS + fnS) else 0.0
    val (pW, rW) =
      if (tpS > 0) {
        val w = rows.map(_._2.toDouble / tpS)
        (per.zip(w).map { case ((_, p, _), x) => p * x }.sum,
          per.zip(w).map { case ((_, _, r), x) => r * x }.sum)
      } else (0.0, 0.0)
    val out =
      per.toSeq.map { case (k, p, r) => ("class", k, p, r, f1(p, r)) } ++ Seq(
        ("macro", "*", pMac, rMac, f1(pMac, rMac)),
        ("micro", "*", pMic, rMic, f1(pMic, rMic)),
        ("weighted", "*", pW, rW, f1(pW, rW)))
    out.toDF("level", "kind", "precision", "recall", "f1")
  }

  /** S10 — report sink (`run_nne_sigmoid.py:144-160`, `metrics.py:14-80`):
    * the metrics table → a json report + a LaTeX table, the reference's two
    * reporter formats. Driver-side on the |kinds|+3-row metrics frame.
    */
  def report(metricsDf: DataFrame, dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    val rows = metricsDf.select("level", "kind", "precision", "recall", "f1").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val json = rows.map { case (lv, k, p, r, f) =>
      s"""{"level":"$lv","kind":"$k","precision":$p,"recall":$r,"f1":$f}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.write(dir.resolve("report.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val tex = new StringBuilder("\\begin{tabular}{llrrr}\n")
    tex ++= "level & kind & precision & recall & f1 \\\\\n\\hline\n"
    rows.foreach { case (lv, k, p, r, f) =>
      tex ++= s"$lv & ${k.replace("_", "\\_")} & ${Fmt.f4(p)} & ${Fmt.f4(r)} & ${Fmt.f4(f)} \\\\\n"
    }
    tex ++= "\\end{tabular}\n"
    java.nio.file.Files.write(dir.resolve("report.tex"),
      tex.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** M8: mention counts per pyramid layer — lengths ≤ maxDepth are their own
    * layer, longer spans pool into the remedy bucket
    * (`multi_label_trainer.py:38-44`).
    */
  def perLayer(mentions: DataFrame, maxDepth: Int): DataFrame =
    mentions.withColumn("layer",
        when(col("len") <= maxDepth, concat(lit("layer_"), format_string("%02d", col("len"))))
          .otherwise(lit("remedy")))
      .groupBy("layer").agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("kind")).as("n_kinds"))

  /** M13 (GENIA notebook cells 20-21): per-document counts of flat / nested /
    * overlapping mentions. A mention is `nested` if some OTHER mention
    * contains it, `overlapping` if it partially overlaps one; flat otherwise.
    * Self-join co-keyed on doc_id — quadratic only within a document.
    */
  def nesting(mentions: DataFrame): DataFrame = {
    // the self-join reads this twice (and the final left-join a third time) —
    // persist so mention detection runs once
    val m = mentions.select(col("doc_id"), col("mention_id"), col("start_tok"),
      (col("start_tok") + col("len")).as("end_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = m.as("a")
    val b = m.as("b")
    val pair = a.join(b, col("a.doc_id") === col("b.doc_id") &&
      col("a.mention_id") =!= col("b.mention_id"))
    val nested = pair.where(col("b.start_tok") <= col("a.start_tok") &&
        col("a.end_tok") <= col("b.end_tok"))
      .select(col("a.doc_id").as("doc_id"), col("a.mention_id").as("mention_id")).distinct()
      .withColumn("rel", lit("nested"))
    val overlap = pair.where(col("a.start_tok") < col("b.end_tok") &&
        col("b.start_tok") < col("a.end_tok") &&
        !(col("b.start_tok") <= col("a.start_tok") && col("a.end_tok") <= col("b.end_tok")) &&
        !(col("a.start_tok") <= col("b.start_tok") && col("b.end_tok") <= col("a.end_tok")))
      .select(col("a.doc_id").as("doc_id"), col("a.mention_id").as("mention_id")).distinct()
      .withColumn("rel", lit("overlapping"))
    val out = m.select("doc_id", "mention_id")
      .join(nested.unionByName(overlap), Seq("doc_id", "mention_id"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_mentions"),
        sum(when(col("rel") === "nested", 1).otherwise(0)).as("n_nested"),
        sum(when(col("rel") === "overlapping", 1).otherwise(0)).as("n_overlapping"),
        sum(when(col("rel").isNull, 1).otherwise(0)).as("n_flat"))
    materialize(out, m)
  }

  // ---------------------------------------------------------------- E3

  /** Deterministic eval slice: the first `n` documents by doc_id — the
    * "sampled GENIA-style eval slice" of BASELINE.json's metric. Gold comes
    * from GoldRef's sequential re-derivation (an independent code path), so
    * P/R measures the distributed pipeline against the golden semantics.
    */
  val EvalSliceDocs = 200

  /** ONE cached slice Dataset per sfDir, shared by every slice* entry point:
    * the returned DataFrames are lazy, so a per-call `.cache()` could never
    * be unpersisted without breaking the caller's plan — previously each call
    * leaked a pinned copy in a long-lived session. `spark.catalog.clearCache()`
    * UNREGISTERS the plan from the CacheManager (it does not merely evict
    * blocks), so retrieval caches the slice again whenever it is not
    * registered — re-registering after a clearCache keeps cross-query slice
    * reuse alive in sessions (like Bench) that clear the cache between
    * queries, and a registered slice is returned as is.
    */
  private val sliceCache =
    new graft.core.Derived.Memo[org.apache.spark.sql.Dataset[PyramidDoc]](_.unpersist())

  /** Signed with the corpus file signature + Spark application id: an
    * in-place corpus regeneration under the same sfDir must not serve the old
    * 200 docs, and a cached Dataset bound to a stopped SparkContext must not
    * outlive its session. The superseded slice is unpersisted.
    */
  def sliceDocs(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[PyramidDoc] = {
    val ds = sliceCache.get(sfDir, s"${graft.core.FileSig.of(s"$sfDir/documents.parquet")}" +
      s"@${spark.sparkContext.applicationId}")(
      DocGen.docs(spark, sfDir).orderBy("doc_id").limit(EvalSliceDocs))
    if (ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE) ds.cache() else ds
  }

  /** ONE live model broadcast per (sfDir, cfg) slot — every slice entry
    * point broadcasts through the registry, so repeated invocations in a
    * long session (Bench passes, notebooks) reuse a single broadcast instead
    * of leaking one per call (EvalSpec pins the boundedness). Keyed on the
    * corpus file signature like the slice-docs cache.
    */
  private[kg] def modelBc(spark: SparkSession, sfDir: String,
                          cfg: ModelConfig): Broadcast[Mentions.Model] =
    BcRegistry.of(spark, s"eval-slice-model:$sfDir:$cfg",
      graft.core.FileSig.of(s"$sfDir/documents.parquet"))(
      Mentions.buildModel(sliceDocs(spark, sfDir), cfg))

  /** variant weights are deterministic in the seed and the default config
    * (the config of every staged variant gold) — one broadcast per session,
    * shared with SparkEntry's full-corpus variant queries
    */
  private[graft] def vwBc(spark: SparkSession): Broadcast[VariantWeights] = {
    val cfg = ModelConfig()
    BcRegistry.of(spark, s"vw:$cfg", "static")(
      VariantWeights.build(Mentions.ModelSeed, cfg, Mentions.Kinds.length))
  }

  def evalSlice(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, Mentions.Model) = {
    import spark.implicits._
    val docs = sliceDocs(spark, sfDir)
    val bc = modelBc(spark, sfDir, ModelConfig())
    val pred = Mentions.detect(docs, bc).toDF()
    val gold = spark.createDataset(GoldRef.mentions(docs.collect().toSeq, bc.value)).toDF()
    (pred, gold, bc.value)
  }

  /** Distributed detect over the eval slice only (no GoldRef run) — the
    * driver-gate queries (kg_mentions_slice, eval_layers, eval_nesting)
    * compare this against the STAGED GoldRef mentions parquet (KgStage), so
    * the distributed-vs-sequential equality is enforced by the DuckDB hash
    * gate, not just by sbt specs.
    */
  def slicePred(spark: SparkSession, sfDir: String,
                cfg: ModelConfig = ModelConfig()): DataFrame = {
    val docs = sliceDocs(spark, sfDir)
    Mentions.detect(docs, modelBc(spark, sfDir, cfg)).toDF()
  }

  /** N14 over the eval slice: distributed LM-variant detect with the STAGED
    * precomputed lm_embeddings.parquet joined in; the driver gate compares
    * against the sequentially-derived gold_lm_mentions.parquet.
    */
  def sliceLmPred(spark: SparkSession, sfDir: String): DataFrame = {
    val lm = spark.read.parquet(s"${KgStage.stageDir(sfDir)}/lm_embeddings.parquet")
    Mentions.detectLm(sliceDocs(spark, sfDir), lm,
      modelBc(spark, sfDir, ModelConfig()), vwBc(spark)).toDF()
  }

  /** Variant detection (N6 bidirectional / N18 multi-label) over the eval
    * slice — compared by the driver gate against the staged sequential runs.
    */
  def sliceVariantPred(spark: SparkSession, sfDir: String, variant: Mentions.Variant): DataFrame =
    Mentions.detectVariant(sliceDocs(spark, sfDir), modelBc(spark, sfDir, ModelConfig()),
      vwBc(spark), variant).toDF()

  /** N12 contextual decoder over the eval slice: distributed article-window
    * grouping + pooled-context inference, driver-gated against the staged
    * sequential gold (gold_ctx_mentions.parquet).
    */
  def sliceCtxPred(spark: SparkSession, sfDir: String): DataFrame =
    Mentions.detectContextual(sliceDocs(spark, sfDir), modelBc(spark, sfDir, ModelConfig()),
      vwBc(spark)).toDF()

  /** N12 over the ARTICLE-BUCKETED staged layout (ctx_docs_bucketed.parquet):
    * shuffle-free contextual detection — same model, same gold oracle as
    * sliceCtxPred, but reading the clustered-at-rest table instead of paying
    * the groupByKey exchange.
    */
  def sliceCtxBucketedPred(spark: SparkSession, sfDir: String): DataFrame =
    Mentions.detectContextualBucketed(spark,
      s"${KgStage.stageDir(sfDir)}/ctx_docs_bucketed.parquet",
      modelBc(spark, sfDir, ModelConfig()), vwBc(spark)).toDF()

  /** N13 precomputed-ST-context detection over the eval slice, with the
    * staged st_embeddings.parquet joined in; gold is the sequential run with
    * the same staged vectors.
    */
  def sliceStPred(spark: SparkSession, sfDir: String): DataFrame = {
    val st = spark.read.parquet(s"${KgStage.stageDir(sfDir)}/st_embeddings.parquet")
    Mentions.detectSt(sliceDocs(spark, sfDir), st,
      modelBc(spark, sfDir, ModelConfig()), vwBc(spark)).toDF()
  }

  /** Stage-2 linking over the eval slice (mentions ⋈ slice dict). */
  def sliceLinked(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = sliceDocs(spark, sfDir)
    val mentions = Mentions.detect(docs, modelBc(spark, sfDir, ModelConfig())).toDF()
    Link.link(mentions, AliasDict.build(docs))
  }

  /** Full pipeline over the eval slice — the flagship, driver-value-checked
    * against GoldRef.triples.
    */
  def sliceTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = sliceDocs(spark, sfDir)
    Triples.pipelineFrom(docs, Mentions.buildModel(docs, ModelConfig()))
      .select("subj", "pred", "obj")
  }

  /** The staged GoldRef mentions for the slice (KgStage writes them from the
    * same sequential derivation `evalSlice` runs inline, and the
    * kg_mentions_slice oracle hash-gates distributed detect == this table).
    * Gold labels are reference DATA — reading the staged table instead of
    * re-running the single-threaded GoldRef derivation inside every
    * spanPrf/bioesPrf invocation removes a driver-sequential stage from the
    * timed path without changing a single gold row.
    */
  private def stagedGold(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${KgStage.stageDir(sfDir)}/gold_mentions.parquet")

  /** E3 (`trainer.py:150-181`): infer → decode → span-set compare → report. */
  def spanPrf(spark: SparkSession, sfDir: String): DataFrame =
    prf(spanRows(slicePred(spark, sfDir)), spanRows(stagedGold(spark, sfDir)))

  /** M4 path: BIOES per-token confusion → metrics. */
  def bioesPrf(spark: SparkSession, sfDir: String): DataFrame =
    prf(bioesRows(slicePred(spark, sfDir)), bioesRows(stagedGold(spark, sfDir)))

  /** confusion → metrics, releasing the counts once [[metrics]] collected them */
  private def prf(pred: DataFrame, gold: DataFrame): DataFrame = {
    val counts = confusion(pred, gold, Mentions.Kinds)
    try metrics(counts) finally counts.unpersist()
  }
}
