package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.SparkUtil.{SparkDoubleOrdering, SparkStringOrdering}

/** Stage 2 — entity linking: mentions ⋈ broadcast(alias dictionary).
  *
  * Scale design: candidate selection happens on the DICTIONARY side before
  * the join — the dictionary is pre-aggregated to one row per alias carrying
  * its best candidate (max_by over (prior, entity_id), deterministic ties).
  * The big mention table then takes a single BROADCAST hash join and never
  * shuffles; a window over mention_id (the naive formulation) would shuffle
  * the full mention stream just to rank 1-2 candidates.
  */
object Link {

  /** alias → (best entity, kind, prior) — tiny, evaluated once, broadcast.
    * Its driver twin is [[bestCandidatesLocal]]. */
  def bestCandidates(dict: DataFrame): DataFrame =
    dict.groupBy("alias").agg(
      max_by(
        struct(col("entity_id"), col("kind"), col("prior")),
        struct(col("prior"), col("entity_id"))).as("best"))
      .select(col("alias"), col("best.entity_id"), col("best.kind").as("dict_kind"),
        col("best.prior"))

  /** The driver twin of [[bestCandidates]] over collected dictionary rows, as
    * a local frame with the same columns: per alias the row with the largest
    * (prior, entity_id), in Spark's double order and string order (the order
    * `max_by` compares the struct in). CanonicalSpec pins the two equal.
    */
  def bestCandidatesLocal(spark: SparkSession, rows: Array[AliasRow]): DataFrame = {
    import spark.implicits._
    val byPriorThenId = Ordering.Tuple2(SparkDoubleOrdering, SparkStringOrdering)
    rows.groupBy(_.alias).valuesIterator
      .map(_.maxBy(r => (r.prior, r.entity_id))(byPriorThenId))
      .map(r => (r.alias, r.entity_id, r.kind, r.prior)).toSeq
      .toDF("alias", "entity_id", "dict_kind", "prior")
  }

  /** dict rows above which the pre-aggregated candidate table stops being
    * broadcastable: ~100 B per alias row → ~100 MB at this threshold, the
    * upper edge of comfortable executor broadcast. A corpus-derived dict
    * stays far under it; a KB-scale dict (10^8 aliases) trips the shuffle
    * path automatically.
    */
  val BroadcastMaxAliases = 1000000L

  /** Size-guarded link: probes the dict row count (cheap — callers persist
    * the dict; an upper bound on distinct aliases) and picks broadcast vs
    * shuffle join from it, so the 100 TB configuration needs no hand flag.
    */
  def linkAuto(mentions: DataFrame, dict: DataFrame,
               maxBroadcastRows: Long = BroadcastMaxAliases): DataFrame =
    linkBest(mentions, bestCandidates(dict), useBroadcast = dict.count() <= maxBroadcastRows)

  /** mentions (stage-1 output) ⋈ a best-candidate table → linked mentions.
    * Inner join: unlinkable mentions drop out here (NIL in KB terms).
    * `useBroadcast = false` is the shuffle join for KB-scale dictionaries
    * (10⁸ aliases would OOM the driver broadcast).
    */
  def linkBest(mentions: DataFrame, best0: DataFrame, useBroadcast: Boolean): DataFrame = {
    val best = if (useBroadcast) broadcast(best0) else best0
    mentions
      .withColumn("norm_text", lower(col("text")))
      .join(best, col("norm_text") === col("alias"), "inner")
      .select(
        mentions("doc_id"), mentions("mention_id"), mentions("kind"),
        mentions("text"), mentions("media_ref"), mentions("start_tok"),
        mentions("len"), mentions("order"),
        col("entity_id"), col("dict_kind"), col("prior"))
  }
}

/** Stages 2 and 3's dictionary side (best candidates, canonical map), behind
  * the one size guard [[Canonical.collectIfSmall]]. A dict of at most
  * `DriverCcThreshold` rows gives two local frames, broadcast unprobed (under
  * both broadcast limits) and not persisted. A larger dict is persisted and
  * each table's row count, probed once, picks broadcast vs shuffle; its map
  * (CC) is built on the first [[canonicalize]], so linking alone never runs CC.
  */
final class DictSide private (dict: DataFrame, rows: Option[Array[AliasRow]]) {
  private val spark = dict.sparkSession
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def hold(df: DataFrame) = { held += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
  private val (best, bestBroadcast) = rows match {
    case Some(r) => (Link.bestCandidatesLocal(spark, r), true)
    case None => (Link.bestCandidates(hold(dict)), dict.count() <= Link.BroadcastMaxAliases)
  }
  private lazy val (canonMap, mapBroadcast) = rows match {
    case Some(r) => (Canonical.driverUnionFind(spark, Canonical.edgesFromRows(r)), true)
    case None =>
      val m = hold(Canonical.connectedComponents(Canonical.edgesFromDict(dict)))
      (m, m.count() <= Canonical.BroadcastMaxMapRows)
  }

  def link(mentions: DataFrame): DataFrame = Link.linkBest(mentions, best, bestBroadcast)

  /** (entity_id, canonical_id) for every entity on a candidate edge: a local
    * frame below the guard, else CC's map, persisted until [[release]] */
  def canonicalMap: DataFrame = canonMap

  /** [[link]], then `canonical_id` from the canonical map */
  def canonicalize(mentions: DataFrame): DataFrame =
    Canonical.canonicalize(link(mentions), canonMap, mapBroadcast)

  /** the frames persisted so far: none below the guard */
  private[kg] def cached: Seq[DataFrame] = held.toSeq

  def release(): Unit = held.foreach(_.unpersist())
}

object DictSide {
  def of(dict: DataFrame): DictSide = {
    import dict.sparkSession.implicits._
    new DictSide(dict, Canonical.collectIfSmall(dict.as[AliasRow], Canonical.DriverCcThreshold))
  }
}
