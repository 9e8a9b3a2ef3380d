package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage 4 — triple materialization from canonicalized mentions.
  *
  * Predicates (deterministic extraction rules over the interleaved docs):
  *   instance_of     canonical entity → its dictionary kind
  *   mentioned_in    canonical entity → doc_id
  *   depicted_in     canonical entity → attached media_ref (interleaved media)
  *   co_occurs_with  consecutive linked mentions within a doc (decode order)
  *
  * Skew: co-occurrence and instance_of dedup group by entity keys — hot
  * entities ("the U.S." aliases) would pile into single reducers. Both aggs
  * run TWO-PHASE with an explicit salt (hash(doc_id) % SaltBuckets) before
  * the final combine (SURVEY.md §4 item 1); AQE skew-join is the backstop,
  * not the plan.
  */
object Triples {
  val SaltBuckets = 32

  /** distinct (subj, pred, obj) via salted two-phase aggregation. The input
    * must carry a `salt` column derived from NON-key columns (doc_id/order):
    * a salt that is a function of the key would send every row of a hot key
    * to the same reducer and split nothing. With a non-key salt, phase 1
    * (groupBy key+salt) collapses a hot key's row set to ≤ SaltBuckets rows,
    * so no phase-2 reducer ever owns a hot entity's full duplicate stream.
    * Map-side partial aggregation still combines within tasks — the salt
    * bounds what survives the exchange.
    */
  private def saltedDistinct(df: DataFrame): DataFrame = {
    val cols = df.columns.filter(_ != "salt").map(col)
    df.groupBy((cols :+ col("salt")).toIndexedSeq: _*).agg(count(lit(1)).as("_c"))
      .groupBy(cols.toIndexedSeq: _*).agg(count(lit(1)).as("_c2"))
      .select(cols.toIndexedSeq: _*)
  }

  def fromCanonical(canon: DataFrame): DataFrame = {
    // salt from (doc_id, order): never part of any triple key, uniform
    val base = canon.select(
      col("doc_id"), col("order"), col("canonical_id"),
      col("dict_kind"), col("media_ref"),
      pmod(xxhash64(col("doc_id"), col("order")), lit(SaltBuckets)).as("salt"))

    val instanceOf = saltedDistinct(
      base.select(col("canonical_id").as("subj"), lit("instance_of").as("pred"),
        col("dict_kind").as("obj"), col("salt")))

    val mentionedIn = saltedDistinct(
      base.select(col("canonical_id").as("subj"), lit("mentioned_in").as("pred"),
        col("doc_id").as("obj"), col("salt")))

    val depictedIn = saltedDistinct(
      base.where(col("media_ref") =!= "")
        .select(col("canonical_id").as("subj"), lit("depicted_in").as("pred"),
          col("media_ref").as("obj"), col("salt")))

    // consecutive mentions in reference decode order within a doc; the
    // window shuffle is keyed by doc_id (uniform), not by entity (skewed)
    val w = Window.partitionBy("doc_id").orderBy(col("order"), col("canonical_id"))
    val coOccurs = saltedDistinct(
      base.withColumn("next_id", lead(col("canonical_id"), 1).over(w))
        .where(col("next_id").isNotNull && col("next_id") =!= col("canonical_id"))
        .select(col("canonical_id").as("subj"), lit("co_occurs_with").as("pred"),
          col("next_id").as("obj"), col("salt")))

    instanceOf.unionAll(mentionedIn).unionAll(depictedIn).unionAll(coOccurs)
  }

  /** Pipeline result + the intermediate persists it holds — benchmark loops
    * call `unpersistAll()` between reps so cached copies don't accumulate.
    * Docs the caller had already cached stay cached. */
  final case class PipelineHandle(triples: DataFrame, cached: Seq[DataFrame]) {
    def unpersistAll(): Unit = cached.foreach(_.unpersist())
  }

  /** Pipeline over an existing (ideally cached) docs Dataset + prebuilt
    * model: mentions → link → canonicalize → triples.
    */
  def pipelineHandle(docs: org.apache.spark.sql.Dataset[PyramidDoc],
                     model: Mentions.Model): PipelineHandle =
    pipelineHandleBc(docs, docs.sparkSession.sparkContext.broadcast(model))

  /** Same pipeline over an already-broadcast model — lets repeated query
    * invocations in one session (SparkEntry's kg_triples via the BcRegistry
    * model broadcast) skip both the lexicon rebuild job and a per-call
    * broadcast leak.
    */
  def pipelineHandleBc(docs0: org.apache.spark.sql.Dataset[PyramidDoc],
                       bc: org.apache.spark.broadcast.Broadcast[Mentions.Model]): PipelineHandle = {
    // docs feed BOTH the mention-detection subtree and the dict build — one
    // persisted assembly pass instead of re-tokenizing the corpus per
    // consumer; released by unpersistAll only if this call cached them
    val ownDocs = docs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val docs = docs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mentions = Mentions.detect(docs, bc).toDF()
    // the dict subtree (scan + ngram HOFs + distinct agg) feeds BOTH the
    // broadcast link join and the CC edge derivation — persist or compute 2×
    val dict = AliasDict.build(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size-guarded joins: the dict/canon-map row-count probes (cheap on the
    // persisted frames) pick broadcast vs shuffle automatically, so a
    // KB-scale dictionary flips the plan without a config change
    val linked = Link.linkAuto(mentions, dict)
    val canonMap = Canonical.connectedComponents(Canonical.edgesFromDict(dict))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fromCanonical fans out into four triple families; without a persist the
    // pyramid-inference subtree would be recomputed once PER FAMILY (the
    // exchanges differ, so Catalyst cannot reuse them). At cluster scale this
    // is the stage boundary you'd materialize to a staging table (KgRunner
    // does exactly that per bucket).
    val canon = Canonical.canonicalizeAuto(linked, canonMap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PipelineHandle(fromCanonical(canon),
      Seq(dict, canonMap, canon) ++ (if (ownDocs) Seq(docs.toDF()) else Nil))
  }

  def pipelineFrom(docs: org.apache.spark.sql.Dataset[PyramidDoc],
                   model: Mentions.Model): DataFrame =
    pipelineHandle(docs, model).triples

  /** Full pipeline: docs → mentions → link → canonicalize → triples. */
  def pipeline(spark: SparkSession, sfDir: String,
               cfg: graft.core.ModelConfig = graft.core.ModelConfig()): DataFrame = {
    val docs = DocGen.docs(spark, sfDir)
    pipelineFrom(docs, Mentions.buildModel(docs, cfg))
  }
}
