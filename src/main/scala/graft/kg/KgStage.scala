package graft.kg

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Derived, ModelConfig}
import graft.sources.ReaderStage

/** Staged KG-side fixtures for the driver's DuckDB value-oracles.
  *
  * The neural/derived KG surface (docs table, alias dictionary, mentions) is
  * not SQL-derivable from `documents.parquet` alone (the derivations hash via
  * Rng.streamKey / run pyramid inference), so the SEQUENTIAL re-derivations
  * are staged to parquet and the oracle SQL reads them:
  *
  *   kg/docs_spans.parquet     exploded interleaved spans, derived DRIVER-SIDE
  *                             doc-by-doc — the distributed DocGen/kg_docs query
  *                             must hash-match it (distributed == sequential)
  *   kg/gold_mentions.parquet  GoldRef.mentions over the eval slice — the
  *                             independent loops-only re-derivation; the
  *                             distributed detect over the same slice must
  *                             hash-match it (the P=R=1.0 spec, now enforced
  *                             by the driver gate too)
  *
  * Idempotent per corpus content signature ([[graft.core.Derived]]); staged
  * under `ReaderStage.stageDir(sfDir)/kg` so the oracle SQL shares one root.
  */
object KgStage {

  /** bump when the staged derivation changes — part of the signature so old
    * stage dirs regenerate
    */
  val Version = "kg-v10" // v10: + media_variants/media_dedup (two byte-different lossless encodings per asset + pixel-duplicate classes, pre-encode pixel digests); v9: + media_tiff/media_frames/media_resize (real multi-page TIFF payloads + pre-encode feature/frame/resize expectations); v8: + ctx_docs_bucketed.parquet (article-clustered N12 layout); v7: + media_png.parquet (real ImageIO-encoded payloads + expected decode results)

  /** Full-corpus sequential golds are staged only when the corpus is small
    * enough that the driver-side re-derivation stays cheap (the driver's
    * correctness gate runs at sf0.01 = 500 docs; sf0.1 batteries skip this
    * block and those queries stay rows-only there, which is fine — the
    * oracle SQL always reads the sf0.01 staging).
    */
  val FullGoldMaxDocs = 1000

  def stageDir(sfDir: String): Path = ReaderStage.stageDir(sfDir).resolve("kg")

  def stage(spark: SparkSession, sfDir: String): Path = {
    val dir = stageDir(sfDir)
    lazy val docs = ReaderStage.baseDocs(spark, sfDir)
    Derived.ensure(dir.resolve("_STAGED"), ReaderStage.corpusSig(Version, sfDir)(docs))(
      build(spark, dir, docs))
    dir
  }

  private def build(spark: SparkSession, dir: Path, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._

    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    def writeMentions(name: String, ms: Seq[Mention]): Unit =
      write(name, spark.createDataset(ms).toDF())

    // --- docs_spans: sequential assemble, exploded
    val spanRows = docs.flatMap { case (id, text) =>
      val d = DocGen.assemble(DocGen.docIdOf(id), text)
      d.spans.map(s => (d.doc_id, s.kind, s.text, s.media_ref, s.offset))
    }
    write("docs_spans.parquet", spark.createDataset(spanRows)
      .toDF("doc_id", "kind", "text", "media_ref", "offset"))

    // --- media_png: REAL PNG payloads for the ImageIO decode path — one tiny
    //     deterministic image per distinct media ref, encoded with
    //     ImageIO.write; (width, height, pixel_md5) are recorded from the RAW
    //     pixels BEFORE encoding, so the distributed ImageIO.read decode
    //     (mm_decode_png) is value-checked against a pre-encode ground truth
    val mediaRefs = spanRows.filter(_._2 == "media").map(_._4).distinct.sorted

    // encoding thousands of tiny images is embarrassingly parallel driver
    // work — chunked futures keep the deterministic ref order while using
    // the host's cores (one-time cost, outside every timed region)
    def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val chunks = xs.grouped(math.max(1, xs.size / 64 + 1)).toSeq
      Await.result(Future.sequence(chunks.map(c => Future(c.map(f)))),
        scala.concurrent.duration.Duration.Inf).flatten
    }

    val pngRows = parMap(mediaRefs) { ref =>
      val img = graft.ops.Multimodal.ImageCodec.genImage(ref)
      (ref, graft.ops.Multimodal.ImageCodec.pngBytes(img),
        img.getWidth, img.getHeight, graft.ops.Multimodal.ImageCodec.pixelMd5(img))
    }
    write("media_png.parquet", spark.createDataset(pngRows)
      .toDF("media_ref", "png", "width", "height", "pixel_md5"))

    // --- media_resize: PRE-ENCODE resize expectations — fitBox + the shared
    //     nearest-neighbor resample on the raw pixels, digest recorded BEFORE
    //     any encoding; the distributed mm_resize must reproduce these from
    //     the PNG payload alone (decode + real pixel resample)
    val resizeRows = parMap(mediaRefs) { ref =>
      val codec = graft.ops.Multimodal.ImageCodec
      val img = codec.genImage(ref)
      val (ow, oh, scale) =
        codec.fitBox(img.getWidth, img.getHeight, graft.ops.Multimodal.ResizeMaxSide)
      (ref, img.getWidth, img.getHeight, ow, oh, scale,
        codec.pixelMd5(codec.resampleNearest(img, ow, oh)))
    }
    write("media_resize.parquet", spark.createDataset(resizeRows)
      .toDF("media_ref", "width", "height", "out_width", "out_height", "scale",
        "resized_md5"))

    // --- media_tiff + media_frames: REAL multi-frame payloads (multi-page
    //     TIFF, JDK ImageIO sequence writer, lossless) with per-asset
    //     pre-encode expectations — frame-0 feature for mm_media_features,
    //     per-frame pixel digests for mm_frame_sample
    val tiffGen = parMap(mediaRefs) { ref =>
      val frames = graft.ops.Multimodal.FrameCodec.genFrames(ref)
      val f0 = frames.head
      val tiff = graft.ops.Multimodal.FrameCodec.tiffBytes(frames)
      val frameMd5 = frames.map(graft.ops.Multimodal.ImageCodec.pixelMd5)
      (ref, tiff, f0.getWidth, f0.getHeight, frames.length,
        graft.ops.Multimodal.featureOf(f0).map(_.toDouble), frameMd5)
    }
    write("media_tiff.parquet",
      spark.createDataset(tiffGen.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)))
        .toDF("media_ref", "tiff", "width", "height", "n_frames", "feature"))
    write("media_frames.parquet", spark.createDataset(tiffGen.flatMap { t =>
      t._7.zipWithIndex.map { case (md5, i) => (t._1, t._5, i, md5) }
    }).toDF("media_ref", "n_frames", "frame_idx", "frame_md5"))

    // --- media_variants + media_dedup: pixel-dedup fixtures. Every asset is
    //     encoded TWICE losslessly (PNG and single-frame TIFF — byte-
    //     different containers, identical pixels), and ~1/4 of assets render
    //     a shared canonical image instead of their own (pixel duplicates
    //     across DIFFERENT media_refs — the re-encoded-copy case pixel dedup
    //     exists to catch). media_dedup records the PRE-ENCODE pixel digest
    //     per (asset, variant); mm_dedup_pixels must reproduce it from the
    //     payload bytes alone.
    val variantGen = parMap(mediaRefs) { ref =>
      val codec = graft.ops.Multimodal.ImageCodec
      val k = graft.core.Rng.streamKey(s"pixdup#$ref")
      val pixSrc = if ((k & 3) == 0) s"__pixcanon${(k >>> 2) & 3}" else ref
      val img = codec.genImage(pixSrc)
      val md5 = codec.pixelMd5(img)
      Seq((ref, "png", codec.pngBytes(img), md5),
        (ref, "tiff", graft.ops.Multimodal.FrameCodec.tiffBytes(Seq(img)), md5))
    }.flatten
    write("media_variants.parquet", spark.createDataset(variantGen.map(v => (v._1, v._2, v._3)))
      .toDF("media_ref", "variant", "payload"))
    write("media_dedup.parquet", spark.createDataset(variantGen.map(v => (v._1, v._2, v._4)))
      .toDF("media_ref", "variant", "pixel_md5"))

    // --- gold_mentions: GoldRef over the eval slice (first EvalSliceDocs by
    //     doc_id), model built on the slice exactly like Eval.evalSlice
    val slice = docs.sortBy(_._1).take(Eval.EvalSliceDocs)
      .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }
    val model = Mentions.buildModel(spark.createDataset(slice), ModelConfig())
    val gold = GoldRef.mentions(slice, model)
    writeMentions("gold_mentions.parquet", gold)

    // --- lm_embeddings: the "precomputed LM output" table (N14) — one row
    //     per (doc, token position) of the eval slice, deterministic
    val lmRows = slice.flatMap { d =>
      val toks = d.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text)
      toks.zipWithIndex.map { case (tok, p) => (d.doc_id, p, Mentions.lmVec(d.doc_id, p, tok)) }
    }
    write("lm_embeddings.parquet", spark.createDataset(lmRows).toDF("doc_id", "pos", "emb"))

    // --- gold_lm_mentions: sequential LM-variant detection over the slice
    val vw = graft.core.VariantWeights.build(Mentions.ModelSeed, ModelConfig(),
      Mentions.Kinds.length)
    val inf = new graft.core.PyramidInference(model.weights, model.vocab)
    val vi = new graft.core.PyramidVariantInference(inf, vw)
    val dim = graft.core.VariantWeights.LmDim
    val goldLm = slice.flatMap { d =>
      Mentions.detectDocWith(d, { toks =>
        val flat = new Array[Float](toks.length * dim)
        toks.zipWithIndex.foreach { case (tok, p) =>
          System.arraycopy(Mentions.lmVec(d.doc_id, p, tok), 0, flat, p * dim, dim)
        }
        vi.detectLm(toks, flat, model.codec)
      })
    }
    writeMentions("gold_lm_mentions.parquet", goldLm)

    // --- gold variant mentions (N6 bidirectional, N18 multi-label) over the
    //     slice — sequential runs of the same seeded variant nets
    writeMentions("gold_bidir_mentions.parquet", slice.flatMap(d =>
      Mentions.detectDocWith(d, toks => vi.detectBidirectional(toks, model.codec))))
    writeMentions("gold_ml_mentions.parquet", slice.flatMap(d =>
      Mentions.detectDocWith(d, toks => vi.detectMultiLabel(toks, model.codec))))

    // --- gold_ctx_mentions (N12): sequential contextual decode under the
    //     article-window grouping (Mentions.ctxWindows math, driver loops)
    writeMentions("gold_ctx_mentions.parquet",
      slice.groupBy(d => Mentions.articleIdOf(d.doc_id)).toSeq.sortBy(_._1).flatMap {
        case (_, arts) =>
          Mentions.ctxWindows(arts.sortBy(_.doc_id).toIndexedSeq).flatMap {
            case (d, pre, post) =>
              Mentions.detectDocWith(d, toks => vi.detectContextual(toks, pre, post, model.codec))
          }
      })

    // --- ctx_docs_bucketed: the eval slice materialized CLUSTERED BY ARTICLE
    //     (N12 storage layout — pays the context shuffle once at write time;
    //     kg_mentions_ctx_bucketed then detects shuffle-free from it)
    Mentions.writeArticleBucketed(spark.createDataset(slice),
      dir.resolve("ctx_docs_bucketed.parquet").toString)

    // --- st_embeddings (N13): the precomputed per-document ST-vector table +
    //     the sequential detection using it
    val stDim = vw.ctxDim
    val stRows = slice.map(d => (d.doc_id, Mentions.stVec(d.doc_id, stDim)))
    write("st_embeddings.parquet", spark.createDataset(stRows).toDF("doc_id", "emb"))
    writeMentions("gold_st_mentions.parquet", slice.flatMap(d =>
      Mentions.detectDocWith(d,
        toks => vi.detectWithContext(toks, Mentions.stVec(d.doc_id, stDim), model.codec))))

    // --- gold_genia_mentions: sequential base detection at the GENIA-shaped
    //     config (depth 8, 200-d words, calibrated oBias) — the reference's
    //     real experiment size (run_nne_sigmoid.py:163-191)
    val modelG = Mentions.buildModel(spark.createDataset(slice), ModelConfig.genia)
    writeMentions("gold_genia_mentions.parquet", GoldRef.mentions(slice, modelG))

    // --- gold linked mentions: GoldRef best-candidate link of `ms` over the
    //     dictionary of `over` (the slice here, the full corpus below)
    def writeLinked(name: String, ms: Seq[Mention], over: Seq[PyramidDoc]): Unit = {
      val best = GoldRef.bestCandidates(GoldRef.dict(over))
      write(name, spark.createDataset(ms.flatMap { m =>
        best.get(GoldRef.lower(m.text)).map(b =>
          (m.doc_id, m.mention_id, m.kind, m.text, m.media_ref, m.start_tok, m.len,
            m.order, b.entityId, b.kind, b.prior))
      }).toDF("doc_id", "mention_id", "kind", "text", "media_ref", "start_tok", "len",
        "order", "entity_id", "dict_kind", "prior"))
    }
    writeLinked("gold_linked.parquet", gold, slice)

    // --- gold triples: the full sequential pipeline over the slice — makes
    //     the FLAGSHIP distributed pipeline driver-value-checked end-to-end
    val goldTriples = GoldRef.triples(slice, model).toSeq.sortBy(t => (t.subj, t.pred, t.obj))
    write("gold_triples.parquet", spark.createDataset(goldTriples).toDF())

    // --- FULL-corpus golds (small SF only): the sequential re-derivation of
    //     the five full-corpus queries, with the FULL-corpus model (lexicon
    //     over all docs — matching SparkEntry.model). Takes the driver gate
    //     from slice-only to every-query value-checked.
    if (docs.length <= FullGoldMaxDocs) {
      val all = docs.sortBy(_._1)
        .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }
      val fullModel = Mentions.buildModel(spark.createDataset(all), ModelConfig())
      val fullVw = graft.core.VariantWeights.build(Mentions.ModelSeed, ModelConfig(),
        Mentions.Kinds.length)
      val fullInf = new graft.core.PyramidInference(fullModel.weights, fullModel.vocab)
      val fullVi = new graft.core.PyramidVariantInference(fullInf, fullVw)
      val fullMentions = GoldRef.mentions(all, fullModel)
      writeMentions("gold_full_mentions.parquet", fullMentions)
      writeMentions("gold_full_bidir.parquet", all.flatMap(d =>
        Mentions.detectDocWith(d, toks => fullVi.detectBidirectional(toks, fullModel.codec))))
      writeMentions("gold_full_ml.parquet", all.flatMap(d =>
        Mentions.detectDocWith(d, toks => fullVi.detectMultiLabel(toks, fullModel.codec))))
      writeLinked("gold_full_linked.parquet", fullMentions, all)
      val fullTriples = GoldRef.triples(all, fullModel).toSeq.sortBy(t => (t.subj, t.pred, t.obj))
      write("gold_full_triples.parquet", spark.createDataset(fullTriples).toDF())
    }
  }
}
