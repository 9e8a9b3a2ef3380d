package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Stage 1 — mention detection: `Dataset[PyramidDoc].mapPartitions(pyramid
  * inference)` → `Dataset[Mention]` (SURVEY.md §7 stage 1).
  *
  * One operator serves every entry point, batch and streaming: a per-task
  * [[TaskEngine]] reads the model broadcast (and the variant broadcast, when
  * given) and builds the inference engines once per partition; each entry
  * point supplies only its input shape and its span decoder —
  *   - [[detect]] / [[detectVariant]]: `SparkUtil.widen`, then a per-document
  *     decoder (base, or a sealed [[Variant]]);
  *   - [[detectLm]] / [[detectSt]]: a doc_id join of the context table, then
  *     the same per-document operator;
  *   - [[detectContextual]] / [[detectContextualBucketed]]: the docs of one
  *     article at a time (a `groupByKey` shuffle, or consecutive rows of the
  *     article-bucketed layout), decoded by one shared routine.
  *
  * Scale notes: the only cluster-wide state is one broadcast of (weights,
  * vocab, codec) — a few MB, fanned out once per executor. Past the widening
  * exchange the transform is partition-preserving; per-task cost is pure
  * fp32 compute, so throughput scales linearly with cores until the parquet
  * scan saturates.
  */
object Mentions {
  val Kinds: Seq[String] = Seq("DNA", "RNA", "protein", "cell_line", "cell_type")
  val ModelSeed = 42L
  /** attach a media span to a mention if one lies within this many
    * interleaved-sequence positions of the mention's span
    */
  val MediaWindow = 5

  /** Corpus word lexicon (M2, `data/dataset.py:70-71`): top-50k distinct
    * tokens by frequency, deterministic tie-break on the token itself.
    * Two-phase hash agg (partial map-side combine) + TakeOrderedAndProject —
    * no full sort at scale.
    */
  def buildLexicon(docs: Dataset[PyramidDoc]): Array[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode($"spans").as("s"))
      .where($"s.kind" === "text")
      .groupBy($"s.text".as("token")).agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token".asc)
      .limit(50000)
      .select($"token").as[String]
      .collect()
  }

  /** Bundle broadcast to executors. */
  final case class Model(weights: PyramidWeights, vocab: WordVocab, codec: LabelCodec)
      extends Serializable

  def buildModel(docs: Dataset[PyramidDoc], cfg: ModelConfig): Model = {
    val lexicon = buildLexicon(docs)
    val vocab = new WordVocab(lexicon)
    Model(PyramidWeights.build(ModelSeed, cfg, vocab.size, Kinds.length), vocab, new LabelCodec(Kinds))
  }

  def mentionId(docId: String, s: TokSpan): String =
    "M" + java.lang.Long.toHexString(Rng.streamKey(s"$docId|${s.kind}|${s.startTok}|${s.lenTok}"))

  /** Pure per-document detection (shared with GoldRef's sequential
    * re-derivation): tokens = text spans in offset order; media attachment =
    * nearest media span within MediaWindow of the mention's interleaved span.
    */
  def detectDoc(doc: PyramidDoc, inf: PyramidInference, codec: LabelCodec): Seq[Mention] =
    detectDocWith(doc, toks => inf.detect(toks, codec))

  /** Same mention assembly with a pluggable span source — the variant
    * decoders (bidirectional / multi-label / contextual, SURVEY §2.4
    * N6/N8/N12/N18) slot in here.
    */
  def detectDocWith(doc: PyramidDoc, spansOf: Array[String] => IndexedSeq[TokSpan]): Seq[Mention] = {
    val textSpans = doc.spans.filter(_.kind == "text").sortBy(_.offset)
    val tokens = textSpans.map(_.text)
    if (tokens.isEmpty) return Nil
    val mediaOffsets = doc.spans.filter(_.kind == "media").map(s => (s.offset, s.media_ref))
    val spans = spansOf(tokens)
    spans.zipWithIndex.map { case (s, order) =>
      val (value, _, _) = Tok.charSpan(tokens, s.startTok, s.lenTok)
      // interleaved positions covered by the mention
      val lo = textSpans(s.startTok).offset
      val hi = textSpans(math.min(s.startTok + s.lenTok, textSpans.length) - 1).offset
      val media = mediaOffsets
        .filter { case (o, _) => o >= lo - MediaWindow && o <= hi + MediaWindow }
        .sortBy { case (o, r) => (math.max(lo - o, o - hi) max 0, r) }
        .headOption.map(_._2).getOrElse("")
      Mention(doc.doc_id, mentionId(doc.doc_id, s), s.kind, value, media, s.startTok, s.lenTok, order)
    }
  }

  /** Variant decoders of [[detectVariant]] (N6 bidirectional single-label,
    * N8/N18 sigmoid multi-label).
    */
  sealed trait Variant
  object Variant {
    case object Bidirectional extends Variant
    case object MultiLabel extends Variant
  }

  private def decoder(variant: Variant, vi: PyramidVariantInference,
                      codec: LabelCodec): Array[String] => IndexedSeq[TokSpan] = variant match {
    case Variant.Bidirectional => vi.detectBidirectional(_, codec)
    case Variant.MultiLabel    => vi.detectMultiLabel(_, codec)
  }

  /** The per-task builder behind every distributed entry point. Only the
    * broadcast handles are serialized; each task deserializes its own copy,
    * so the lazy fields read the broadcasts and build the inference engines
    * once per partition, and their scratch buffers are reused across the
    * partition's documents. Lazy rather than built at partition start
    * because `flatMapGroups` has no per-partition hook. `vw` and `vi` need
    * the variant broadcast.
    */
  private final class TaskEngine(bcModel: Broadcast[Model], bcVar: Option[Broadcast[VariantWeights]])
      extends Serializable {
    @transient lazy val model: Model = bcModel.value
    @transient lazy val inf: PyramidInference = new PyramidInference(model.weights, model.vocab)
    @transient lazy val vw: VariantWeights = bcVar.get.value
    @transient lazy val vi: PyramidVariantInference = new PyramidVariantInference(inf, vw)
  }

  /** The detection operator: `mapPartitions` with one [[TaskEngine]] per
    * task; `perTask` runs once per partition and returns the per-row
    * detection.
    */
  private def perDoc[T](rows: Dataset[T], bcModel: Broadcast[Model],
                        bcVar: Option[Broadcast[VariantWeights]])(
      perTask: TaskEngine => T => Seq[Mention]): Dataset[Mention] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val eng = new TaskEngine(bcModel, bcVar)
    rows.mapPartitions(it => it.flatMap(perTask(eng)))
  }

  /** Stage-1 detection with the base decoder. The stage is CPU-bound, so
    * parallelism = partition count; `SparkUtil.widen` spreads a narrow input
    * (one split, or a streaming micro-batch) over the cluster's cores.
    */
  def detect(docs: Dataset[PyramidDoc], bcModel: Broadcast[Model]): Dataset[Mention] =
    perDoc(graft.core.SparkUtil.widen(docs), bcModel, None) { e =>
      doc => detectDoc(doc, e.inf, e.model.codec)
    }

  /** Variant detection: the same transform with the variant's decoder; the
    * variant weight bundle rides the same broadcast pattern.
    */
  def detectVariant(docs: Dataset[PyramidDoc], bcModel: Broadcast[Model],
                    bcVar: Broadcast[VariantWeights], variant: Variant): Dataset[Mention] =
    perDoc(graft.core.SparkUtil.widen(docs), bcModel, Some(bcVar)) { e =>
      val decode = decoder(variant, e.vi, e.model.codec)
      doc => detectDocWith(doc, decode)
    }

  // ------------------------------------------------------------------ N14

  /** Deterministic stand-in for a precomputed LM embedding (contextual: keyed
    * on doc, position AND token) — the value set the stager writes to
    * lm_embeddings.parquet. A real pipeline replaces the STAGING with actual
    * LM output; the join-in below is unchanged.
    */
  def lmVec(docId: String, pos: Int, tok: String): Array[Float] =
    Array.tabulate(VariantWeights.LmDim) { j =>
      val u = java.lang.Long.remainderUnsigned(Rng.streamKey(s"lm#$docId#$pos#$tok#$j"), 2000001L)
      (u / 1000000.0 - 1.0).toFloat
    }

  final case class LmTok(pos: Int, emb: Array[Float])
  final case class LmDocRow(doc_id: String, spans: Array[SpanRec], lms: Array[LmTok])

  /** N14 stage-1 variant: detection with a PRECOMPUTED per-token LM embedding
    * table joined in. `lm` rows are (doc_id, pos int, emb array<float>[LmDim]),
    * `pos` indexing text tokens in offset order. One equi-join on doc_id
    * (the lm table arrives pre-grouped per doc by a map-side-combining
    * collect_list), then the same zero-shuffle mapPartitions transform; a doc
    * with no lm rows gets zero vectors (LM-absent semantics).
    */
  def detectLm(docs: Dataset[PyramidDoc], lm: DataFrame, bcModel: Broadcast[Model],
               bcVar: Broadcast[VariantWeights]): Dataset[Mention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lmPerDoc = lm.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("emb")))).as("lms"))
    perDoc(joinContext[LmDocRow](docs, lmPerDoc, "lms"), bcModel, Some(bcVar)) { e =>
      val dim = VariantWeights.LmDim
      row => {
        val lms = if (row.lms == null) Array.empty[LmTok] else row.lms
        detectDocWith(PyramidDoc(row.doc_id, row.spans), { toks =>
          val flat = new Array[Float](toks.length * dim)
          lms.foreach { t =>
            if (t.pos >= 0 && t.pos < toks.length)
              System.arraycopy(t.emb, 0, flat, t.pos * dim, dim)
          }
          e.vi.detectLm(toks, flat, e.model.codec)
        })
      }
    }
  }

  /** The shared prelude of [[detectLm]] and [[detectSt]]: left-join the
    * per-document context column `ctxCol` of `ctx` onto the docs on doc_id,
    * then widen.
    */
  private def joinContext[R: Encoder](docs: Dataset[PyramidDoc], ctx: DataFrame,
                                      ctxCol: String): Dataset[R] = {
    val spark = docs.sparkSession
    val joined = docs.toDF().join(ctx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("spans"), col(ctxCol))
      .as[R]
    // unconditional widen: probing joined.rdd.getNumPartitions would force an
    // extra RDD planning of the join, and the pre-AQE count is unreliable
    // anyway; the context tables are slice-sized, so the repartition is cheap
    joined.repartition(spark.sparkContext.defaultParallelism)
  }

  // ------------------------------------------------------------ N12 / N13

  /** Document-context grouping for the contextual decoder (N12, ref
    * `modules/decoding/multi_label.py:47-69`): documents are grouped into
    * articles of `CtxArticleDocs` consecutive ids (the same neighborhood the
    * wiki reader S3 models), and each document's context is the tail of its
    * predecessor plus the head of its successor, `CtxTokens` tokens each.
    */
  val CtxArticleDocs = 5
  val CtxTokens = 16

  def articleIdOf(docId: String): Long = docId.stripPrefix("d").toLong / CtxArticleDocs

  def textTokens(doc: PyramidDoc): Array[String] =
    doc.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text)

  /** per-doc (pre, post) context windows within one article; `sorted` must be
    * the article's documents in doc_id order. Pure — shared by the
    * distributed group handler and the sequential gold staging.
    */
  def ctxWindows(sorted: IndexedSeq[PyramidDoc]): IndexedSeq[(PyramidDoc, Array[String], Array[String])] = {
    val toks = sorted.map(textTokens)
    sorted.indices.map { i =>
      val pre = if (i > 0) toks(i - 1).takeRight(CtxTokens) else Array.empty[String]
      val post = if (i + 1 < sorted.length) toks(i + 1).take(CtxTokens) else Array.empty[String]
      (sorted(i), pre, post)
    }
  }

  /** The contextual decoder over one article: `sorted` is the article's
    * documents in doc_id order. Shared by the shuffle and bucketed paths.
    */
  private def articleMentions(e: TaskEngine, sorted: IndexedSeq[PyramidDoc]): Iterator[Mention] =
    ctxWindows(sorted).iterator.flatMap { case (d, pre, post) =>
      detectDocWith(d, toks => e.vi.detectContextual(toks, pre, post, e.model.codec))
    }

  /** N12 contextual detection: ONE shuffle keyed on article_id (uniform id
    * ranges — no skew; a hot key is impossible since an article is exactly
    * `CtxArticleDocs` docs), then per-group windowed inference. At 100 TB the
    * shuffle is the price of cross-document context; storing the corpus
    * bucketed by article range would remove it (the docs materialization in
    * KgRunner is the hook).
    */
  def detectContextual(docs: Dataset[PyramidDoc], bcModel: Broadcast[Model],
                       bcVar: Broadcast[VariantWeights]): Dataset[Mention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val eng = new TaskEngine(bcModel, Some(bcVar))
    docs.groupByKey(d => articleIdOf(d.doc_id))
      .flatMapGroups((_, it) => articleMentions(eng, it.toIndexedSeq.sortBy(_.doc_id)))
  }

  // -------------------------------------------- N12 article-bucketed layout

  /** bucket count for the test-scale staged layout; at corpus scale pick
    * buckets so each bucket file stays a single parquet row group (≤
    * parquet.block.size), which is what keeps an article from straddling two
    * read splits
    */
  val CtxBuckets = 8

  /** `articleIdOf` as a Catalyst expression (doc_id is `d%09d`). */
  private def articleIdCol =
    floor(expr("cast(substring(doc_id, 2) as long)") / CtxArticleDocs)

  /** Materialize the docs table CLUSTERED BY ARTICLE: hash-repartitioned on
    * article_id (one output file per bucket) and sorted (article_id, doc_id)
    * within each file, so every article's documents are contiguous in exactly
    * one file. This is the storage layout that makes the N12 context shuffle
    * disappear: pay the exchange ONCE at materialization, then every
    * contextual-detection pass over the table is shuffle-free
    * ([[detectContextualBucketed]] — KgRunner's docs materialization is the
    * production hook for this write).
    */
  def writeArticleBucketed(docs: Dataset[PyramidDoc], path: String): Unit =
    docs.toDF()
      .withColumn("article_id", articleIdCol)
      .repartition(CtxBuckets, col("article_id"))
      .sortWithinPartitions("article_id", "doc_id")
      .drop("article_id")
      .write.mode("overwrite")
      // one row group per bucket file up to 512 MB: FileScan splits parquet
      // only at row-group boundaries, so this is what ENFORCES the
      // no-mid-article-split precondition of detectContextualBucketed
      // (size buckets so each file stays under this at corpus scale)
      .option("parquet.block.size", (512L * 1024 * 1024).toString)
      .parquet(path)

  /** N12 with ZERO shuffle over the article-bucketed layout: each task scans
    * its bucket file and groups CONSECUTIVE docs of the same article (the
    * write above guarantees contiguity + doc_id order), then runs the same
    * windowed inference as [[detectContextual]]. KgPipelineSpec pins row-set
    * equality with the shuffle path and asserts the plan contains no
    * Exchange.
    *
    * Correctness precondition (documented at the write): a bucket file must
    * not be split mid-article — guaranteed when each file is one parquet row
    * group (FileScan splits only at row-group boundaries).
    */
  def detectContextualBucketed(spark: SparkSession, path: String,
                               bcModel: Broadcast[Model],
                               bcVar: Broadcast[VariantWeights]): Dataset[Mention] = {
    import spark.implicits._
    val eng = new TaskEngine(bcModel, Some(bcVar))
    spark.read.parquet(path).as[PyramidDoc].mapPartitions { it =>
      // runtime guard for the one-row-group precondition, enforced at EVERY
      // row transition, not just the partition head: Spark packs multiple
      // file chunks into one read partition (size-sorted bins), so a bucket
      // file split mid-article can land its second chunk AFTER another file's
      // rows — the partition then starts at a valid article boundary while a
      // split article's context windows silently truncate. Doc numbering is
      // contiguous from 0 and an article is the consecutive range
      // [a*CtxArticleDocs, ...), so inside one file rows either advance by
      // exactly 1 (same article, sortWithinPartitions order) or jump to an
      // article's FIRST doc; the same holds across a clean file boundary.
      // Therefore any non-contiguous jump landing mid-article — in either
      // direction, at any position — is precisely a mid-article file split
      // (or an unsorted layout); fail loudly with the remedy.
      var prevDocnum = Long.MinValue
      val guarded = it.map { d =>
        val docnum = d.doc_id.stripPrefix("d").toLong
        require(docnum == prevDocnum + 1 || docnum % CtxArticleDocs == 0,
          s"article-bucketed layout violated: non-contiguous jump to mid-article " +
            s"doc ${d.doc_id} (previous docnum $prevDocnum) — a bucket file was " +
            s"split across read tasks or written unsorted; rewrite with more " +
            s"buckets or a larger parquet.block.size (writeArticleBucketed)")
        prevDocnum = docnum
        d
      }
      val buf = guarded.buffered
      new Iterator[Iterator[Mention]] {
        def hasNext: Boolean = buf.hasNext
        def next(): Iterator[Mention] = {
          val aid = articleIdOf(buf.head.doc_id)
          val group = scala.collection.mutable.ArrayBuffer.empty[PyramidDoc]
          while (buf.hasNext && articleIdOf(buf.head.doc_id) == aid) group += buf.next()
          articleMentions(eng, group.toIndexedSeq)
        }
      }.flatten
    }
  }

  /** Deterministic stand-in for a precomputed sentence-transformer document
    * embedding (N13 third encoder): keyed on doc_id only (a document-level
    * vector, unlike the per-token lmVec). `dim` = the variant ctxDim.
    */
  def stVec(docId: String, dim: Int): Array[Float] =
    Array.tabulate(dim) { j =>
      val u = java.lang.Long.remainderUnsigned(Rng.streamKey(s"st#$docId#$j"), 2000001L)
      (u / 1000000.0 - 1.0).toFloat
    }

  final case class StDocRow(doc_id: String, spans: Array[SpanRec], st: Array[Float])

  /** N13 with PRECOMPUTED context vectors: one equi-join on doc_id against
    * the staged per-document ST-vector table, then the zero-shuffle
    * mapPartitions transform; docs missing a vector run with the zero
    * context (the encoders' empty-context semantics).
    */
  def detectSt(docs: Dataset[PyramidDoc], st: DataFrame, bcModel: Broadcast[Model],
               bcVar: Broadcast[VariantWeights]): Dataset[Mention] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stPerDoc = st.select(col("doc_id"), col("emb").as("st"))
    perDoc(joinContext[StDocRow](docs, stPerDoc, "st"), bcModel, Some(bcVar)) { e =>
      val dim = e.vw.ctxDim
      row => {
        val ctx = if (row.st == null) new Array[Float](dim) else row.st
        detectDocWith(PyramidDoc(row.doc_id, row.spans),
          toks => e.vi.detectWithContext(toks, ctx, e.model.codec))
      }
    }
  }
}
