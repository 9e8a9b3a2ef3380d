package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ModelConfig

/** The triple stage's physical plan and rows on a hand-built canon frame:
  * one de-duplication exchange for all four families, and the same triple
  * set as a distinct per family. Also: the pipeline leaves a caller's cache
  * of its docs alone.
  */
class TriplesSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("triples-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (doc_id, order, canonical_id, dict_kind, media_ref): 40 docs; the hot
    * entity `E_hot` is mentioned twice in each even doc (half of all docs),
    * once next to itself; every third doc carries media.
    */
  private lazy val rows: Seq[(String, Int, String, String, String)] =
    (0 until 40).flatMap { d =>
      val doc = f"d$d%09d"
      val media = if (d % 3 == 0) s"m$d.png" else ""
      val cold = Seq((s"E${d % 7}", "person"), (s"E${(d + 3) % 11}", "org"))
      val ents = if (d % 2 == 0) ("E_hot", "loc") +: ("E_hot", "loc") +: cold else cold
      ents.zipWithIndex.map { case ((e, k), i) => (doc, i, e, k, media) }
    }

  private def canon = {
    import spark.implicits._
    rows.toDF("doc_id", "order", "canonical_id", "dict_kind", "media_ref").cache()
  }

  test("fromCanonical plans one (subj, pred, obj) exchange and no salt") {
    val c = canon
    c.count()
    val out = Triples.fromCanonical(c)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val keys = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) }
    assert(keys.count(_ == Seq("subj", "pred", "obj")) == 1, plan.treeString)
    assert(keys.size == 2, plan.treeString)
    assert(keys.contains(Seq("doc_id")), plan.treeString)
    val attrs = plan.collect { case p => p.output.map(_.name) ++ p.references.map(_.name) }.flatten
    assert(!attrs.exists(_.toLowerCase.contains("salt")), plan.treeString)
    c.unpersist()
  }

  test("fromCanonical rows equal the union of per-family distincts under a hot entity") {
    val hotDocs = rows.filter(_._3 == "E_hot").map(_._1).distinct.size
    assert(hotDocs == rows.map(_._1).distinct.size / 2, "precondition: hot in half the docs")
    val instanceOf = rows.map(r => (r._3, "instance_of", r._4)).toSet
    val mentionedIn = rows.map(r => (r._3, "mentioned_in", r._1)).toSet
    val depictedIn = rows.filter(_._5.nonEmpty).map(r => (r._3, "depicted_in", r._5)).toSet
    val coOccurs = rows.groupBy(_._1).values.flatMap { doc =>
      val ids = doc.sortBy(r => (r._2, r._3)).map(_._3)
      ids.zip(ids.drop(1)).collect { case (a, b) if a != b => (a, "co_occurs_with", b) }
    }.toSet
    val want = instanceOf ++ mentionedIn ++ depictedIn ++ coOccurs
    val c = canon
    val got = Triples.fromCanonical(c).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    c.unpersist()
    assert(got.length == got.toSet.size, "triples must be distinct")
    assert(got.toSet == want)
    assert(coOccurs.nonEmpty && depictedIn.nonEmpty)
  }

  test("pipelineHandleBc does not cache again the docs its caller cached") {
    import spark.implicits._
    val words = Seq("Alice", "met", "Bob", "in", "Paris", "and", "Acme", "Corp", "hired", "Carol")
    val docs = Seq.tabulate(24) { d =>
      DocGen.assemble(DocGen.docIdOf(d), Seq.tabulate(12)(i => words((d * 7 + i * 3) % words.size)).mkString(" "))
    }.toDS().cache()
    docs.count()
    val model = Mentions.buildModel(docs, ModelConfig.tiny)
    val log = graft.CacheLog.during {
      val handle = Triples.pipelineHandleBc(docs, spark.sparkContext.broadcast(model))
      handle.triples.count()
      handle.unpersistAll()
    }
    assert(!log.exists(_.contains("Asked to cache already cached data")), log.mkString("\n"))
    assert(docs.storageLevel != StorageLevel.NONE, "the caller's cache of the docs was released")
    docs.unpersist()
  }
}
