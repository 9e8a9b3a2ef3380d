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
  * Each family is a plain projection of `canon`, and one distinct over their
  * union de-duplicates all four: `pred` is a different literal per family, so
  * no triple of one family can collapse into another's. The distinct
  * shuffles on the whole triple, not on the entity, and its map-side partial
  * aggregate folds a hot entity's repeats before the exchange.
  */
object Triples {
  def fromCanonical(canon: DataFrame): DataFrame = {
    val instanceOf = canon.select(col("canonical_id").as("subj"),
      lit("instance_of").as("pred"), col("dict_kind").as("obj"))

    val mentionedIn = canon.select(col("canonical_id").as("subj"),
      lit("mentioned_in").as("pred"), col("doc_id").as("obj"))

    val depictedIn = canon.where(col("media_ref") =!= "")
      .select(col("canonical_id").as("subj"), lit("depicted_in").as("pred"),
        col("media_ref").as("obj"))

    // consecutive mentions in reference decode order within a doc; the
    // window shuffle is keyed by doc_id (uniform), not by entity (skewed)
    val w = Window.partitionBy("doc_id").orderBy(col("order"), col("canonical_id"))
    val coOccurs = canon.withColumn("next_id", lead(col("canonical_id"), 1).over(w))
      .where(col("next_id").isNotNull && col("next_id") =!= col("canonical_id"))
      .select(col("canonical_id").as("subj"), lit("co_occurs_with").as("pred"),
        col("next_id").as("obj"))

    instanceOf.unionAll(mentionedIn).unionAll(depictedIn).unionAll(coOccurs).distinct()
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
    *
    * When the dictionary fits the guard, the only action it runs before it
    * returns is the guard's bounded collect (2 jobs with AQE); detection,
    * link, canonicalize and the triples all run in the caller's action. A
    * larger dictionary adds the relational side's probes and CC jobs.
    */
  def pipelineHandleBc(docs0: org.apache.spark.sql.Dataset[PyramidDoc],
                       bc: org.apache.spark.broadcast.Broadcast[Mentions.Model]): PipelineHandle = {
    // docs feed BOTH the mention-detection subtree and the dict build — one
    // persisted assembly pass instead of re-tokenizing the corpus per
    // consumer; cached and released by unpersistAll only if the caller has
    // not cached them already
    val ownDocs = docs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val docs = if (ownDocs) docs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
               else docs0
    val side = DictSide.of(AliasDict.build(docs))
    val canon0 = side.canonicalize(Mentions.detect(docs, bc).toDF())
    // fromCanonical's union reads canon once PER FAMILY (four different
    // projections, so Catalyst cannot reuse one scan); without a persist the
    // pyramid-inference subtree would be recomputed four times. At cluster scale this
    // is the stage boundary you'd materialize to a staging table (KgRunner
    // does exactly that per bucket).
    val canon = canon0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PipelineHandle(fromCanonical(canon),
      side.cached ++ Seq(canon) ++ (if (ownDocs) Seq(docs.toDF()) else Nil))
  }

  def pipelineFrom(docs: org.apache.spark.sql.Dataset[PyramidDoc],
                   model: Mentions.Model): DataFrame =
    pipelineHandle(docs, model).triples

  /** Full pipeline: docs → mentions → link → canonicalize → triples. */
  def pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = DocGen.docs(spark, sfDir)
    pipelineFrom(docs, Mentions.buildModel(docs, graft.core.ModelConfig()))
  }
}
