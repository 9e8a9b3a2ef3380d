package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{DocGen, Mentions}

/** Variant decoders (N6 bidirectional, N8/N18 multi-label, N12 contextual):
  * determinism, reference-shape invariants, non-degeneracy, and
  * distribution-invariance (partitioning must not change results).
  */
class PyramidVariantsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = ModelConfig.tiny

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("variants-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val docs = DocGen.docs(spark, sfDir)
  private lazy val model = Mentions.buildModel(docs, cfg)
  private lazy val vw = VariantWeights.build(Mentions.ModelSeed, cfg, Mentions.Kinds.length)
  private def newVi() =
    new PyramidVariantInference(new PyramidInference(model.weights, model.vocab), vw)

  private lazy val sampleTokens: Seq[Array[String]] =
    docs.orderBy("doc_id").limit(60).collect().toSeq
      .map(_.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text))
      .filter(_.nonEmpty)

  test("forwardHidden layer shapes follow the pyramid (T_l = S - l)") {
    val inf = new PyramidInference(model.weights, model.vocab)
    val toks = sampleTokens.find(_.length >= cfg.maxDepth + 3).get
    val h = inf.forwardHidden(toks)
    assert(h.length == cfg.maxDepth + 1)
    h.zipWithIndex.foreach { case (hl, l) =>
      assert(hl.length == (toks.length - l) * cfg.encOut, s"layer $l")
    }
    // short sequence stops early: S=2 → layers for l=0,1 only
    val h2 = inf.forwardHidden(Array("alpha", "beta"))
    assert(h2.length == math.min(2, cfg.maxDepth + 1))
  }

  test("bidirectional decode is deterministic and respects span-length semantics") {
    val vi = newVi()
    val vi2 = newVi()
    var total = 0
    sampleTokens.foreach { toks =>
      val a = vi.detectBidirectional(toks, model.codec)
      val b = vi2.detectBidirectional(toks, model.codec)
      assert(a == b, "deterministic across instances")
      a.foreach { s =>
        assert(s.startTok >= 0 && s.startTok + s.lenTok <= toks.length, "span in bounds")
        assert(Mentions.Kinds.contains(s.kind))
        assert(s.lenTok >= 1)
      }
      total += a.length
    }
    assert(total > 0, "bidirectional head must detect something on the corpus")
  }

  test("bidirectional differs from the forward-only decoder (the inverse pass is live)") {
    val inf = new PyramidInference(model.weights, model.vocab)
    val vi = new PyramidVariantInference(inf, vw)
    val differs = sampleTokens.exists { toks =>
      inf.detect(toks, model.codec) != vi.detectBidirectional(toks, model.codec)
    }
    assert(differs)
  }

  test("multi-label decode can emit several kinds on one span position") {
    val vi = newVi()
    var total = 0
    var multi = false
    sampleTokens.foreach { toks =>
      val spans = vi.detectMultiLabel(toks, model.codec)
      total += spans.length
      val byPos = spans.groupBy(s => (s.startTok, s.lenTok))
      multi ||= byPos.exists(_._2.map(_.kind).distinct.length > 1)
      assert(spans == newVi().detectMultiLabel(toks, model.codec))
    }
    assert(total > 0, "multi-label head must detect something")
    assert(multi, "some position should carry >1 kind (multi-hot heads)")
  }

  test("contextual decoder responds to context (N12)") {
    val vi = newVi()
    val pre = Array("alpha", "beta", "gamma")
    val post = Array("delta")
    // empty context == zero vector; must be deterministic
    sampleTokens.take(20).foreach { toks =>
      val a = vi.detectContextual(toks, Array.empty, Array.empty, model.codec)
      val b = newVi().detectContextual(toks, Array.empty, Array.empty, model.codec)
      assert(a == b)
    }
    val sensitive = sampleTokens.exists { toks =>
      vi.detectContextual(toks, pre, post, model.codec) !=
        vi.detectContextual(toks, Array.empty, Array.empty, model.codec)
    }
    assert(sensitive, "context vector must influence the decode")
  }

  test("doc-RNN context encoder (N13): deterministic, context-sensitive, pluggable dim") {
    val vi = newVi()
    val pre = Array("alpha", "beta", "gamma")
    val post = Array("delta")
    // same output dim as the pooled encoder — the ctx heads serve both
    assert(vi.contextVectorRnn(pre, post).length == vi.contextVector(pre, post).length)
    assert(vi.contextVectorRnn(Array.empty, Array.empty).forall(_ == 0f))
    // a recurrence is ORDER-sensitive where pooling is not — use IN-VOCAB
    // tokens (unknown words all share the UNK embedding and hide ordering)
    val known = sampleTokens.flatten.distinct.take(4).toArray
    assert(known.length == 4)
    val fwd = vi.contextVectorRnn(known, Array.empty)
    val rev = vi.contextVectorRnn(known.reverse, Array.empty)
    assert(!fwd.sameElements(rev), "doc-RNN must be order-sensitive")
    // pooling contrast: order-insensitive up to float summation noise in the
    // mean lane (min/max lanes are exactly equal)
    val pa = vi.contextVector(known, Array.empty)
    val pb = vi.contextVector(known.reverse, Array.empty)
    pa.zip(pb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5f) }
    sampleTokens.take(20).foreach { toks =>
      val a = vi.detectContextualRnn(toks, pre, post, model.codec)
      val b = newVi().detectContextualRnn(toks, pre, post, model.codec)
      assert(a == b)
    }
    val sensitive = sampleTokens.exists { toks =>
      vi.detectContextualRnn(toks, pre, post, model.codec) !=
        vi.detectContextualRnn(toks, Array.empty, Array.empty, model.codec)
    }
    assert(sensitive, "doc-RNN context must influence the decode")
  }

  test("LM-embedding variant (N14): deterministic, lm-sensitive, size-checked") {
    val vi = newVi()
    val dim = VariantWeights.LmDim
    def lmOf(toks: Array[String], salt: String): Array[Float] = {
      val flat = new Array[Float](toks.length * dim)
      toks.zipWithIndex.foreach { case (tok, p) =>
        System.arraycopy(Mentions.lmVec(s"d$salt", p, tok), 0, flat, p * dim, dim)
      }
      flat
    }
    sampleTokens.take(20).foreach { toks =>
      val a = vi.detectLm(toks, lmOf(toks, "x"), model.codec)
      val b = newVi().detectLm(toks, lmOf(toks, "x"), model.codec)
      assert(a == b, "LM detect must be deterministic")
    }
    // the lm column must be LIVE: different embeddings change some decode
    val sensitive = sampleTokens.exists { toks =>
      vi.detectLm(toks, lmOf(toks, "x"), model.codec) !=
        vi.detectLm(toks, lmOf(toks, "y"), model.codec)
    }
    assert(sensitive, "LM embeddings must influence the decode")
    intercept[IllegalArgumentException] {
      vi.detectLm(Array("alpha", "beta"), new Array[Float](dim), model.codec)
    }
  }

  test("distributed detectLm (parquet-shaped join) == sequential LM derivation") {
    import spark.implicits._
    val slice = docs.orderBy("doc_id").limit(40).collect().toSeq
    val lmRows = slice.flatMap { d =>
      val toks = d.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text)
      toks.zipWithIndex.map { case (tok, p) => (d.doc_id, p, Mentions.lmVec(d.doc_id, p, tok)) }
    }
    val lmDf = spark.createDataset(lmRows).toDF("doc_id", "pos", "emb")
    val sliceDs = spark.createDataset(slice).repartition(7) // odd split on purpose
    val got = Mentions.detectLm(sliceDs, lmDf,
        spark.sparkContext.broadcast(model), spark.sparkContext.broadcast(vw))
      .collect().toSeq.sortBy(m => (m.doc_id, m.order))
    val inf = new PyramidInference(model.weights, model.vocab)
    val vi = new PyramidVariantInference(inf, vw)
    val dim = VariantWeights.LmDim
    val want = slice.flatMap { d =>
      Mentions.detectDocWith(d, { toks =>
        val flat = new Array[Float](toks.length * dim)
        toks.zipWithIndex.foreach { case (tok, p) =>
          System.arraycopy(Mentions.lmVec(d.doc_id, p, tok), 0, flat, p * dim, dim)
        }
        vi.detectLm(toks, flat, model.codec)
      })
    }.sortBy(m => (m.doc_id, m.order))
    assert(got == want)
  }

  test("context pooling: min/max/mean lanes (document_embeddings.py:169-184)") {
    val vi = newVi()
    val c = vi.contextVector(Array("alpha"), Array.empty)
    val dW = cfg.wordDim
    // single token: min == max == mean == its embedding
    (0 until dW).foreach { j =>
      assert(math.abs(c(j) - c(dW + j)) < 1e-6f)
      assert(math.abs(c(j) - c(2 * dW + j)) < 1e-5f)
    }
    assert(vi.contextVector(Array.empty, Array.empty).forall(_ == 0f))
  }

  test("distributed contextual detection == sequential article-window derivation (N12)") {
    import spark.implicits._
    val slice = docs.orderBy("doc_id").limit(100).collect().toSeq
    val sliceDs = spark.createDataset(slice).repartition(7) // odd split on purpose
    val got = Mentions.detectContextual(sliceDs,
        spark.sparkContext.broadcast(model), spark.sparkContext.broadcast(vw))
      .collect().toSeq.sortBy(m => (m.doc_id, m.order))
    val vi = newVi()
    val want = slice.groupBy(d => Mentions.articleIdOf(d.doc_id)).toSeq.sortBy(_._1)
      .flatMap { case (_, arts) =>
        Mentions.ctxWindows(arts.sortBy(_.doc_id).toIndexedSeq).flatMap {
          case (d, pre, post) =>
            Mentions.detectDocWith(d, toks => vi.detectContextual(toks, pre, post, model.codec))
        }
      }.sortBy(m => (m.doc_id, m.order))
    assert(got == want)
    assert(want.nonEmpty)
    // the context is LIVE: some doc decodes differently than context-free
    val contextFree = slice.flatMap(d =>
      Mentions.detectDocWith(d,
        toks => vi.detectContextual(toks, Array.empty, Array.empty, model.codec)))
      .sortBy(m => (m.doc_id, m.order))
    assert(want != contextFree, "article context must influence some decode")
  }

  test("distributed precomputed-context detection == sequential (N13 staged ST)") {
    import spark.implicits._
    val slice = docs.orderBy("doc_id").limit(60).collect().toSeq
    val dim = vw.ctxDim
    val stAll = slice.take(50).map(d => (d.doc_id, Mentions.stVec(d.doc_id, dim)))
    val stDf = spark.createDataset(stAll).toDF("doc_id", "emb")
    val sliceDs = spark.createDataset(slice).repartition(7)
    val got = Mentions.detectSt(sliceDs, stDf,
        spark.sparkContext.broadcast(model), spark.sparkContext.broadcast(vw))
      .collect().toSeq.sortBy(m => (m.doc_id, m.order))
    val vi = newVi()
    val stMap = stAll.toMap
    val want = slice.flatMap(d =>
      Mentions.detectDocWith(d, toks => vi.detectWithContext(toks,
        stMap.getOrElse(d.doc_id, new Array[Float](dim)), model.codec)))
      .sortBy(m => (m.doc_id, m.order))
    assert(got == want)
    // docs 50..59 had no staged vector → zero-context semantics, still parsed
    assert(want.nonEmpty)
    intercept[IllegalArgumentException] {
      vi.detectWithContext(Array("alpha"), new Array[Float](dim + 1), model.codec)
    }
  }

  test("distributed variant detection == sequential re-derivation (both modes)") {
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(model)
    val bcV = spark.sparkContext.broadcast(vw)
    val someDocs = docs.orderBy("doc_id").limit(120).repartition(7)
    for (mode <- Seq(Mentions.Variant.Bidirectional, Mentions.Variant.MultiLabel)) {
      val got = Mentions.detectVariant(someDocs, bcM, bcV, mode)
        .collect().groupBy(_.doc_id).map { case (k, v) => k -> v.sortBy(_.order).toSeq }
      val vi = newVi()
      val want = someDocs.collect().toSeq.map { d =>
        d.doc_id -> Mentions.detectDocWith(d, toks =>
          if (mode == Mentions.Variant.Bidirectional) vi.detectBidirectional(toks, model.codec)
          else vi.detectMultiLabel(toks, model.codec)).toSeq
      }.filter(_._2.nonEmpty).toMap
      assert(got == want, s"mode $mode")
    }
  }
}
