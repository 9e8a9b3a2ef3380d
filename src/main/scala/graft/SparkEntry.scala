package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.ModelConfig
import graft.kg._
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory + training-data
  * pipeline ops) to DataFrame builders over the driver test tables in
  * `sfDir`; `oracleSql` mirrors every SQL-expressible one for the DuckDB
  * cross-check (identical column names/aliases on both sides). Neural /
  * non-SQL stages (kg_*, ann, multimodal) get rows-only checks and are
  * verified against the sequential GoldRef re-derivation in `sbt test`.
  *
  * Mains stage, builders read paths: a main that runs `queries` calls
  * [[stage]] once before its first query, and a builder only reads the
  * fixture paths it needs. A main that skips [[stage]] fails on a missing
  * path instead of staging inside a timed query.
  */
object SparkEntry {

  /** Fixture staging (reader-format files, sequential KG goldens, the
    * bucketed checkpointed run behind kg_triples_compacted and the graph
    * analytics, the IVF index with its oracle centroids, and the streaming
    * dedup source), each guarded by its signature ([[graft.core.Derived]]). It
    * is input prep, not operator cost: every main that runs [[queries]] calls
    * it once before any query, so no query absorbs a one-time cold stage.
    */
  def stage(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.ReaderStage.stage(spark, sfDir)
    KgStage.stage(spark, sfDir)
    KgRunner.ensureRun(spark, sfDir, kgRunDir(sfDir))
    Similarity.ensureIvfIndex(spark, sfDir, ivfIndexDir(sfDir))
    Streaming.ensureStreamSrc(spark, sfDir)
  }

  private def kgRunDir(sfDir: String): String =
    graft.sources.ReaderStage.stageDir(sfDir).resolve("kgrun").toString

  private def ivfIndexDir(sfDir: String): String =
    graft.sources.ReaderStage.stageDir(sfDir).resolve("ivf_index.parquet").toString

  /** one model per sfDir so each kg_* query doesn't rebuild the lexicon
    * job; signed with the corpus file signature, so an in-place corpus
    * regeneration within one JVM can't serve a stale lexicon
    */
  private val modelCache = new graft.core.Derived.Memo[Mentions.Model](_ => ())
  private[graft] def model(spark: SparkSession, sfDir: String): Mentions.Model =
    modelCache.get(sfDir, graft.core.FileSig.of(s"$sfDir/documents.parquet"))(
      Mentions.buildModel(DocGen.docs(spark, sfDir), ModelConfig()))

  /** full-corpus model BROADCAST through the registry — repeated query
    * invocations in one session reuse a single broadcast instead of leaking
    * one per call (see [[graft.core.BcRegistry]])
    */
  private def modelBc(s: SparkSession, dir: String) =
    graft.core.BcRegistry.of(s, s"full-model:$dir",
      graft.core.FileSig.of(s"$dir/documents.parquet"))(model(s, dir))

  /** Flagship: full KG-construction pipeline (docs → pyramid mentions → link
    * → canonicalize → triples) on sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Triples.pipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    kgQueries ++ relationalQueries ++ opsQueries ++ sourceQueries ++ evalQueries

  // ------------------------------------------------------------------ KG

  /** KG pipeline stages (pyramid inference inside mapPartitions → not
    * SQL-expressible) — rows-only driver checks; exact-equality coverage in
    * KgPipelineSpec (per-row span equality, triples P=R=1.0 vs GoldRef).
    */
  private def kgQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_docs" -> ((s, dir) =>
      DocGen.docs(s, dir).toDF()
        .select(col("doc_id"), explode(col("spans")).as("s"))
        .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"), col("s.offset"))),
    // distributed detect over the eval slice vs the STAGED GoldRef mentions:
    // the driver's DuckDB hash gate enforces per-row equality of the neural
    // stage (the P=R=1.0 spec assertion, now driver-checked)
    "kg_mentions_slice" -> ((s, dir) => Eval.slicePred(s, dir)),
    // N14: LM-embedding variant — precomputed lm parquet joined into the
    // encoder; gold is the sequential run with the same staged table
    "kg_mentions_lm" -> ((s, dir) => Eval.sliceLmPred(s, dir)),
    // variant decoders, linking, and the FLAGSHIP pipeline over the slice —
    // all hash-checked against staged sequential gold
    "kg_mentions_bidir_slice" -> ((s, dir) =>
      Eval.sliceVariantPred(s, dir, Mentions.Variant.Bidirectional)),
    "kg_mentions_ml_slice" -> ((s, dir) =>
      Eval.sliceVariantPred(s, dir, Mentions.Variant.MultiLabel)),
    // N12 contextual decoder: article-window grouping (one uniform shuffle)
    // + pooled document context, vs the staged sequential gold
    "kg_mentions_ctx_slice" -> ((s, dir) => Eval.sliceCtxPred(s, dir)),
    // N12 over the article-bucketed STORAGE layout: same decoder + gold as
    // kg_mentions_ctx_slice but shuffle-free (the exchange was paid once at
    // materialization — KgPipelineSpec asserts the plan has no Exchange)
    "kg_mentions_ctx_bucketed" -> ((s, dir) => Eval.sliceCtxBucketedPred(s, dir)),
    // N13 third context encoder: PRECOMPUTED sentence-transformer-style
    // document vectors joined in from the staged table
    "kg_mentions_st" -> ((s, dir) => Eval.sliceStPred(s, dir)),
    // GENIA-shaped config (depth 8, 200-d, calibrated oBias): the reference's
    // real experiment size, hash-checked like the default-config slice
    "kg_mentions_genia_slice" -> ((s, dir) => Eval.slicePred(s, dir, ModelConfig.genia)),
    "kg_linked_slice" -> ((s, dir) => Eval.sliceLinked(s, dir)),
    "kg_triples_slice" -> ((s, dir) => Eval.sliceTriples(s, dir)),
    // incremental ingest: streaming detect + stream-static link over the
    // same slice, value-checked against the SAME staged GoldRef linking as
    // the batch slice query — batch, stream, and sequential must all agree
    "kg_stream_linked" -> ((s, dir) => KgStream.linkedStream(s, dir)),
    // full-corpus runs: value-checked against the staged FULL-corpus
    // sequential golds (KgStage stages them at the gate's small SF; at
    // large SFs the oracle still reads the sf0.01 staging)
    "kg_mentions" -> ((s, dir) => Mentions.detect(DocGen.docs(s, dir), modelBc(s, dir)).toDF()),
    "kg_mentions_bidir" -> ((s, dir) =>
      Mentions.detectVariant(DocGen.docs(s, dir), modelBc(s, dir),
        Eval.vwBc(s), Mentions.Variant.Bidirectional).toDF()),
    "kg_mentions_ml" -> ((s, dir) =>
      Mentions.detectVariant(DocGen.docs(s, dir), modelBc(s, dir),
        Eval.vwBc(s), Mentions.Variant.MultiLabel).toDF()),
    "kg_dict" -> ((s, dir) => AliasDict.build(DocGen.docs(s, dir))),
    "kg_linked" -> ((s, dir) => {
      // one persisted docs assembly shared by the detect and dict subtrees
      // (the pipelineHandleBc pattern); the bench clears the SQL cache
      // between queries, so nothing leaks across invocations
      val docs = DocGen.docs(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mentions = Mentions.detect(docs, modelBc(s, dir)).toDF()
      DictSide.of(AliasDict.build(docs)).link(mentions)
    }),
    "kg_canonical_map" -> ((s, dir) => DictSide.of(AliasDict.build(DocGen.docs(s, dir))).canonicalMap),
    "kg_triples" -> ((s, dir) => {
      // shared session model broadcast (same BcRegistry slot as kg_mentions/
      // kg_linked) instead of Triples.pipeline's fresh buildModel: skips a
      // redundant lexicon aggregation job per invocation; the model is a pure
      // function of the corpus, so the output is unchanged
      Triples.pipelineHandleBc(DocGen.docs(s, dir), modelBc(s, dir)).triples
    }),
    // ops-layer output: the bucketed checkpointed run's GLOBAL compaction
    // (cross-bucket distinct). Equal by construction to the monolithic
    // pipeline's distinct triples, so the full-corpus sequential gold is its
    // value oracle; the staged run is corpus-signature-guarded.
    "kg_triples_compacted" -> ((s, dir) => compactedTriples(s, dir)),
    // stage-5 graph analytics over the materialized triple table (read from
    // the compacted staged run — value-equal to the sequential gold, so the
    // gold_full_triples-derived oracles check the whole chain end-to-end)
    "kg_degree" -> ((s, dir) => GraphOps.degrees(compactedTriples(s, dir))),
    "kg_pagerank" -> ((s, dir) => GraphOps.pagerank(compactedTriples(s, dir))),
    "kg_two_hop" -> ((s, dir) => GraphOps.twoHop(compactedTriples(s, dir))),
    "kg_triangles" -> ((s, dir) => GraphOps.triangles(compactedTriples(s, dir))),
    "kg_components" -> ((s, dir) => GraphOps.components(compactedTriples(s, dir))),
    "kg_nbr_jaccard" -> ((s, dir) => GraphOps.neighborsJaccard(compactedTriples(s, dir))),
    "kg_cooc_pmi" -> ((s, dir) => GraphOps.coocPmi(compactedTriples(s, dir))),
    "kg_hits" -> ((s, dir) => GraphOps.hits(compactedTriples(s, dir))),
    "kg_communities" -> ((s, dir) => GraphOps.labelProp(compactedTriples(s, dir))),
    "kg_bfs" -> ((s, dir) => GraphOps.bfsDistances(compactedTriples(s, dir))),
    "kg_kcore" -> ((s, dir) => GraphOps.kcore(compactedTriples(s, dir))),
  )

  /** the checkpointed bucketed run's global compaction output, staged by
    * [[stage]] */
  private def compactedTriples(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${kgRunDir(dir)}/triples_compacted")

  // ---------------------------------------------------------- relational

  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped scan + hash agg (M1/M6 analogue)
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice")).cast("double").as("sum_base_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // fact ⋈ broadcast dim + agg (alias-link join pattern)
    "q2_join_agg" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
    }),

    // small-dim chain: supplier ⋈ nation ⋈ region (S3 dimension walk)
    "q3_dim_join" -> ((s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
      sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(avg(col("s_acctbal")), 6).as("avg_bal"))
    }),

    // window functions: lag + running sum per user (S5/S6 sliding context)
    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 6)
            .as("running_value"),
          row_number().over(w).as("rn"))
    }),

    // interval containment join (S3 bisect: entity.start within sentence span)
    "q5_range_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") <= date_add(col("o_orderdate"), 60))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))
    }),

    // top-k by aggregate (B3 length-sort / TakeOrdered)
    "q6_topk" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("l_partkey").asc)
        .limit(20)),

    // set ops: nations having customers but no suppliers etc. (lexicon unions)
    "q7_setops" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").select(col("c_nationkey").as("nk"))
      val sup = s.read.parquet(s"$dir/supplier.parquet").select(col("s_nationkey").as("nk"))
      c.distinct().except(sup.distinct())
        .unionAll(sup.distinct().intersect(c.distinct())
          .withColumn("nk", col("nk") + 1000)) // tag intersection rows
    }),

    // M2 token-lexicon build: explode + distinct + freq top-k
    "q8_lexicon" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(100)),

    // P7 entity-type drop filter over the events stream table
    "q9_drop_filter" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .where(!col("event_type").isInCollection(Seq("error", "signup")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))),

    // M5 span-set confusion: deterministic pred/gold token sets → full-outer
    // join → per-kind tp/fp/fn counts
    "q10_metrics_join" -> ((s, dir) => {
      val tok = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token")).distinct()
      val pred = tok.where(conv(substring(md5(concat(col("token"), lit("#pred"))), 1, 6), 16, 10)
        .cast("long") < 8388608L)
      val gold = tok.where(conv(substring(md5(concat(col("token"), lit("#gold"))), 1, 6), 16, 10)
        .cast("long") < 8388608L)
      pred.withColumn("p", lit(1)).join(
          gold.withColumn("g", lit(1)), Seq("doc_id", "token"), "full_outer")
        .agg(
          sum(when(col("p") === 1 && col("g") === 1, 1).otherwise(0)).cast("long").as("tp"),
          sum(when(col("p") === 1 && col("g").isNull, 1).otherwise(0)).cast("long").as("fp"),
          sum(when(col("p").isNull && col("g") === 1, 1).otherwise(0)).cast("long").as("fn"))
    }),

    // islice-style deterministic limit (S2)
    "q11_limit" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_orderkey")).limit(50)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))),

    // dropDuplicates (entity set-equality / dedup analogue)
    "q12_dropdup" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event"))),

    // json + date scalar functions over the events props payload
    "q13_json_date" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"),
          date_trunc("hour", col("ts")).as("hour"))
        .groupBy(col("hour"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))),

    // grouping sets (rollup) — aggregation-surface completeness
    "q14_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).cast("double").as("sum_price"))),

    // streaming-equivalent batch windowed aggregation (tumbling window)
    "q15_stream_window" -> ((s, dir) => Streaming.batch(s, dir)),

    // stateful sessionization (gap 30 min) — streaming state analogue
    "q16_sessions" -> ((s, dir) => Streaming.sessions(s, dir)),

    // TRUE stateful streaming (flatMapGroupsWithState + event-time timeout):
    // emits sessions closed by a later event or by the final watermark.
    // Timestamps projected as wall-clock strings (stream side is LTZ, the
    // oracle NTZ — the instant-vs-naive repr would hash-differ).
    "q17_sessions_stream" -> ((s, dir) =>
      Streaming.sessionsStream(s, dir, name = "sessions_out_q17")
        .select(col("user_id"), col("session_idx"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("sum_value"))),
  )

  // ---------------------------------------------------- training-data ops

  // --------------------------------------------------------- sources/eval

  /** Reference-format readers (SURVEY.md §2.1 S1-S7, S9) over deterministic
    * staged fixtures derived from documents.parquet (ReaderStage). The
    * json-format ones are DuckDB-verifiable straight off the staged files;
    * the wrg text format is not SQL-parseable → rows-only + ReadersSpec.
    */
  private def stagePath(dir: String): String =
    graft.sources.ReaderStage.stageDir(dir).toString

  private def sourceQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.sources.Readers
    Map(
      "src_rasa" -> ((s, dir) =>
        Readers.rasa(s, s"${stagePath(dir)}/rasa.json")
          .select(col("text"), explode(col("entities")).as("e"))
          .select(col("text"), col("e.kind").as("kind"), col("e.value").as("value"),
            col("e.start_c").as("start_c"), col("e.end_c").as("end_c"))),
      "src_jsonl" -> ((s, dir) =>
        Readers.jsonl(s, s"${stagePath(dir)}/docs.jsonl", dropEntities = Seq("DNA"))
          .select(col("doc_id"), explode(col("entities")).as("e"))
          .select(col("doc_id"), col("e.kind").as("kind"), col("e.value").as("value"),
            col("e.start_c").as("start_c"), col("e.end_c").as("end_c"))),
      "src_wiki" -> ((s, dir) =>
        Readers.wikipedia(s, s"${stagePath(dir)}/wiki.jsonl")),
      "src_wrg" -> ((s, dir) =>
        Readers.wrg(s, s"${stagePath(dir)}/wrg").toDF()
          .select(col("file"), col("idx"), col("text"), explode_outer(col("entities")).as("e"))
          .select(col("file"), col("idx"), col("text"), col("e.kind").as("kind"),
            col("e.value").as("value"), col("e.start_c").as("start_c"),
            col("e.end_c").as("end_c"))),
      "src_wrg_swin" -> ((s, dir) =>
        Readers.wrgSentenceWindow(s, s"${stagePath(dir)}/wrg", windowSize = 3)
          .select(col("file"), col("idx"), col("text"),
            size(col("pre_texts")).as("n_pre"), size(col("post_texts")).as("n_post"),
            coalesce(try_element_at(col("pre_texts"), lit(-1)), lit("")).as("prev_text"),
            coalesce(try_element_at(col("post_texts"), lit(1)), lit("")).as("next_text"))),
      "src_wrg_twin" -> ((s, dir) =>
        Readers.wrgTokenWindow(s, s"${stagePath(dir)}/wrg", windowSize = 16)
          .select(col("file"), col("idx"), col("text"), col("pre_ctx"), col("post_ctx"))),
      "src_iob2" -> ((s, dir) =>
        Readers.iob2(s, s"${stagePath(dir)}/iob2").toDF()
          .select(col("file"), col("idx"), col("text"), explode_outer(col("entities")).as("e"))
          .select(col("file"), col("idx"), col("text"), col("e.kind").as("kind"),
            col("e.value").as("value"), col("e.start_c").as("start_c"),
            col("e.end_c").as("end_c"))),
      "src_wordvec" -> ((s, dir) => {
        val wv = Readers.loadWordVectors(s, s"${stagePath(dir)}/glove.csv")
        import s.implicits._
        wv.lexicon.toSeq.zipWithIndex.map { case (w, i) =>
          val v = wv.matrix(i + 1).map(x => math.rint(x.toDouble * 1e6) / 1e6)
          (w, (i + 1).toLong, v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
        }.toDF("word", "id", "v0", "v1", "v2", "v3", "v4", "v5", "v6", "v7")
      }),
      // wvlib normalize (ref wvlib.py:404): distributed unit-normalization
      "src_wordvec_norm" -> ((s, dir) =>
        Readers.wordVectorNorm(s, s"${stagePath(dir)}/glove.csv")),
      // wvlib nearest (ref wvlib.py:304): top-10 cosine neighbors per probe
      "src_wordvec_nearest" -> ((s, dir) =>
        Readers.wordVectorNearest(s, s"${stagePath(dir)}/glove.csv")),
      // wvlib approximate_nearest (ref wvlib.py:331): hyperplane-LSH
      // signatures, Hamming-ball candidates, exact cosine re-rank
      "src_wordvec_ann" -> ((s, dir) => {
        val sp = stagePath(dir)
        Readers.wordVectorAnnLsh(s, s"$sp/glove.csv", s"$sp/lsh_planes.csv")
      }),
    )
  }

  /** Evaluation surface (SURVEY.md §2.6 M4-M8/M13, §2.7 E3): distributed
    * pipeline vs GoldRef on the deterministic eval slice. Neural upstream →
    * rows-only here; the P=R=1.0 assertion lives in EvalSpec.
    */
  private def evalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_span_prf" -> ((s, dir) => Eval.spanPrf(s, dir)),
    "eval_bioes_prf" -> ((s, dir) => Eval.bioesPrf(s, dir)),
    // per-layer/nesting aggregations over the eval slice so the DuckDB oracle
    // can re-derive them relationally from the staged GoldRef mentions
    "eval_layers" -> ((s, dir) =>
      Eval.perLayer(Eval.slicePred(s, dir), ModelConfig().maxDepth)),
    "eval_nesting" -> ((s, dir) => Eval.nesting(Eval.slicePred(s, dir))),
  )

  private def opsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    "dedup_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "dedup_minhash_sig" -> ((s, dir) => Dedup.minhashSignatures(s, dir)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(s, dir)),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "dedup_embcos" -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),
    "sim_cosine_topk" -> ((s, dir) => Similarity.cosineTopK(s, dir)),
    "emb_quantize" -> ((s, dir) => Similarity.quantize(s, dir)),
    "sim_ann_lsh" -> ((s, dir) => Similarity.annLsh(s, dir)),
    "sim_ann_ivf" -> ((s, dir) => Similarity.annIvf(s, dir)),
    // the on-disk inverted-list layout: index partitioned by cluster,
    // probes read via partition pruning; row-identical to sim_ann_ivf so
    // the staged-centroid oracle covers both paths
    "sim_ann_ivf_indexed" -> ((s, dir) => Similarity.annIvfIndexed(s, dir, ivfIndexDir(dir))),
    "text_langid" -> ((s, dir) => TextOps.langId(s, dir)),
    "text_quality" -> ((s, dir) => TextOps.quality(s, dir)),
    "text_tokens" -> ((s, dir) => TextOps.tokenCounts(s, dir)),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprint(s, dir)),
    "text_repetition" -> ((s, dir) => TextOps.repetition(s, dir)),
    "text_pii_scrub" -> ((s, dir) => TextOps.piiScrubQuery(s, dir)),
    "text_tfidf" -> ((s, dir) => TextOps.tfidf(s, dir)),
    "doc_sample" -> ((s, dir) => TextOps.sampleStratified(s, dir)),
    "dedup_windows" -> ((s, dir) => TextOps.windowDedup(s, dir)),
    "text_decontam" -> ((s, dir) => TextOps.decontam(s, dir)),
    "text_lang_temp" -> ((s, dir) => TextOps.langTemp(s, dir)),
    "doc_pack" -> ((s, dir) => TextOps.pack(s, dir)),
    "dedup_clusters" -> ((s, dir) => Dedup.clusters(s, dir)),
    "dedup_exact_stream" -> ((s, dir) => Streaming.dedupExactStream(s, dir)),
    // REAL decode paths throughout (r5): features + frame sampling run
    // ImageIO sequence decoding over staged multi-page TIFF payloads; resize
    // decodes staged PNGs and resamples actual pixels. Every oracle reads
    // stage-time PRE-ENCODE expectations, so a hash pass witnesses real
    // codec work, not stub math. Driver projections flatten the feature
    // array to scalar columns (the driver's pandas hasher can't hash array
    // cells); the API functions keep the array columns.
    "mm_media_features" -> ((s, dir) =>
      Multimodal.tiffFeatures(s, dir, s"${KgStage.stageDir(dir)}/media_tiff.parquet").select(
        Seq(col("doc_id"), col("media_ref"), col("width"), col("height"), col("n_frames")) ++
          (0 until 8).map(i => col("feature")(i).cast("double").as(s"f$i")): _*)),
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizePng(s, dir, s"${KgStage.stageDir(dir)}/media_png.parquet")),
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleTiffFrames(s, dir, s"${KgStage.stageDir(dir)}/media_tiff.parquet")),
    // REAL decode: distributed ImageIO.read over staged PNG payloads; the
    // oracle reads the stage-time PRE-ENCODE (width, height, pixel_md5), so
    // the hash passes only if actual pixel decoding is correct
    "mm_decode_png" -> ((s, dir) =>
      Multimodal.decodePng(s, s"${KgStage.stageDir(dir)}/media_png.parquet")),
    // pixel-level dedup across byte-different lossless encodings: the hash
    // passes only if distributed decoding maps BOTH containers of every
    // asset (and the cross-asset pixel copies) onto the stage-time
    // pre-encode digests
    "mm_dedup_pixels" -> ((s, dir) =>
      Multimodal.dedupPixels(s, s"${KgStage.stageDir(dir)}/media_variants.parquet")),
    // interleaved-sequence token budgets (media expands to ImgTokens patch
    // tokens); the oracle re-derives them from the staged span table
    "mm_interleave" -> ((s, dir) => Multimodal.interleaveBudget(s, dir)),
  )

  // -------------------------------------------------------------- oracle

  private val jaccardSql: String =
    s"""WITH sh0 AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(toks[i+1:i+${Dedup.ShingleLen}], ' ') AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       |       LATERAL (SELECT unnest(generate_series(0, len(toks) - ${Dedup.ShingleLen})) AS i)
       |  WHERE len(toks) >= ${Dedup.ShingleLen}
       |), hot AS (
       |  SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > ${Dedup.MaxShingleDf}
       |), sh AS (
       |  SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
       |)""".stripMargin

  /** [[graft.ops.Dedup.minhashLsh]]'s signature→band→bucket-join chain as a
    * reusable CTE prefix ending in `lshpairs(doc_a, doc_b)` — consumed by
    * both the `dedup_minhash_lsh` oracle and [[dedupClustersSql]]. */
  private lazy val lshPairsCtes: String = jaccardSql +
    """, sig AS (
      |  SELECT doc_id,
      |    min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
      |    min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
      |    min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
      |    min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
      |  FROM sh GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig UNION ALL
      |  SELECT doc_id, 1, md5(mh2 || mh3) FROM sig UNION ALL
      |  SELECT doc_id, 2, md5(mh4 || mh5) FROM sig UNION ALL
      |  SELECT doc_id, 3, md5(mh6 || mh7) FROM sig),
      |lshpairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b USING (band, bucket)
      |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** [[graft.ops.Dedup.clusters]]: connected components over the LSH pair
    * graph by exhaustive min-label reachability (the independent algorithm
    * to the star-contraction loop the Spark side runs), keeper = min doc_id.
    * The WITH head needs RECURSIVE enabled for the reachability CTE. */
  private lazy val dedupClustersSql: String =
    lshPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sym AS (SELECT doc_a AS src, doc_b AS dst FROM lshpairs
        |  UNION SELECT doc_b, doc_a FROM lshpairs),
        |nodes AS (SELECT DISTINCT doc_a AS id FROM lshpairs
        |  UNION SELECT DISTINCT doc_b FROM lshpairs),
        |r(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.dst, r.lab FROM r JOIN sym s ON s.src = r.id),
        |comp AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY 1),
        |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT doc_id, cluster_id, cluster_size,
        |  doc_id = cluster_id AS is_keeper
        |FROM comp JOIN csz USING (cluster_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
        |avg(l_discount) AS avg_disc, count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(sum(o_totalprice) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,
    "q3_dim_join" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
        |round(avg(s_acctbal), 6) AS avg_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2""".stripMargin,
    "q4_window" ->
      """SELECT event_id, user_id, ts, value,
        |lag(event_type, 1) OVER w AS prev_type,
        |round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |  AS running_value,
        |row_number() OVER w AS rn
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q5_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "q6_topk" ->
      """SELECT l_partkey,
        |round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY revenue DESC, l_partkey ASC LIMIT 20""".stripMargin,
    "q7_setops" ->
      """SELECT nk FROM (
        |  (SELECT DISTINCT c_nationkey AS nk FROM customer
        |   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT nk + 1000 FROM
        |   (SELECT DISTINCT s_nationkey AS nk FROM supplier
        |    INTERSECT SELECT DISTINCT c_nationkey FROM customer))""".stripMargin,
    "q8_lexicon" ->
      """SELECT token, count(*) AS freq FROM (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,
    "q9_drop_filter" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
        |FROM events WHERE event_type NOT IN ('error', 'signup') GROUP BY 1""".stripMargin,
    "q10_metrics_join" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        |  FROM documents),
        |pred AS (SELECT doc_id, token, 1 AS p FROM tok
        |  WHERE CAST(('0x' || substr(md5(token || '#pred'), 1, 6)) AS BIGINT) < 8388608),
        |gold AS (SELECT doc_id, token, 1 AS g FROM tok
        |  WHERE CAST(('0x' || substr(md5(token || '#gold'), 1, 6)) AS BIGINT) < 8388608)
        |SELECT CAST(sum(CASE WHEN p = 1 AND g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |       CAST(sum(CASE WHEN p = 1 AND g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |       CAST(sum(CASE WHEN p IS NULL AND g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |FROM pred FULL OUTER JOIN gold USING (doc_id, token)""".stripMargin,
    "q11_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 50""".stripMargin,
    "q12_dropdup" ->
      """SELECT user_id, event_type, min(event_id) AS first_event
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q13_json_date" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q14_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |CAST(sum(o_totalprice) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q15_stream_window" ->
      """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type,
        |count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_sessions" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM gapped)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  round(sum(value), 6) AS sum_value
        |FROM sess GROUP BY 1, 2""".stripMargin,
    // same session derivation, restricted to CLOSED sessions (closed by a
    // later session of the same user, or end + gap strictly before the final
    // watermark = max event time − 10 min) — the contract the stateful
    // stream emits under AvailableNow + a final timeout trigger
    "q17_sessions_stream" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM gapped),
        |agg AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |    min(ts) AS session_start, max(ts) AS session_end,
        |    round(sum(value), 6) AS sum_value
        |  FROM sess GROUP BY 1, 2),
        |wm AS (SELECT max(epoch(ts)) - 600 AS wsec FROM events),
        |last AS (SELECT user_id, max(session_idx) AS max_idx FROM agg GROUP BY 1)
        |SELECT CAST(a.user_id AS BIGINT) AS user_id,
        |  CAST(a.session_idx AS INT) AS session_idx,
        |  strftime(a.session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(a.session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  a.n_events, a.sum_value
        |FROM agg a JOIN last l ON a.user_id = l.user_id, wm
        |WHERE a.session_idx < l.max_idx
        |   OR epoch(a.session_end) + 1800 < wm.wsec""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_jaccard" -> (jaccardSql +
      """, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
        |WHERE round(i / (na.n + nb.n - i), 6) >= """.stripMargin + Dedup.JaccardThreshold),
    "dedup_minhash_sig" -> (jaccardSql +
      """SELECT doc_id,
        |  min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
        |  min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
        |  min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
        |  min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
        |FROM sh GROUP BY 1""".stripMargin),
    "dedup_minhash_lsh" ->
      (lshPairsCtes + "\nSELECT doc_a, doc_b FROM lshpairs"),
    "dedup_clusters" -> dedupClustersSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> (s"WITH sig AS (${simhashSql})" +
      s""", bands AS (
         |  SELECT doc_id, simhash, b AS band, (simhash >> (8*b)) & 255 AS byte
         |  FROM sig, LATERAL (SELECT unnest([0,1,2,3]) AS b)),
         |hot AS (SELECT band, byte FROM bands GROUP BY 1, 2
         |  HAVING count(*) > ${Dedup.MaxSimhashBucket}),
         |capped AS (SELECT * FROM bands ANTI JOIN hot USING (band, byte))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM capped a JOIN capped b USING (band, byte)
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimhashMaxHamming}""".stripMargin),
    "sim_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
         |  WHERE vec_id % ${Similarity.QueryMod} = 0),
         |scored AS (
         |  SELECT query_id, vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qe::DOUBLE[], embedding::DOUBLE[]), 6) AS cosine
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= ${Similarity.TopK}""".stripMargin,
    "text_langid" -> langIdSql,
    "text_quality" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |  round(list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> len(t)))
        |    / greatest(len(regexp_split_to_array(text, '\s+')), 1), 6) AS avg_tok_len,
        |  round((len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
        |    / greatest(len(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(regexp_split_to_array(text, '\s+'),
        |      t -> list_contains(['the','of','and','to','in','is','a','for','on','with'], t)))
        |    / greatest(len(regexp_split_to_array(text, '\s+')), 1), 6) AS stopword_ratio,
        |  round(least(len(regexp_split_to_array(text, '\s+')) / 100.0, 1.0) * 0.4
        |    + (len(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> list_contains(['the','of','and','to','in','is','a','for','on','with'], t)))
        |       / greatest(len(regexp_split_to_array(text, '\s+')), 1)) * 0.3
        |    + (1.0 - (len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
        |       / greatest(len(text), 1)) * 0.3, 6) AS quality_score
        |FROM documents""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id, len(regexp_split_to_array(text, '\\s+')) AS ws_tokens,
         |len(regexp_extract_all(text, '${TextOps.BpeRegex}')) AS bpe_tokens
         |FROM documents""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fingerprint,
        |CAST(('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT)
        |  AS fp60
        |FROM documents""".stripMargin,
    "text_repetition" -> repetitionSql,
    // positional expectation: the oracle reconstructs the redacted text by
    // string assembly at the known doc_id-derived injection sites (NO regex),
    // so the hash passes only if the Spark-side regex detection recovers the
    // injection exactly
    "text_pii_scrub" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_emails,
        |  CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS n_phones,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS n_ips,
        |  md5(
        |    CASE WHEN doc_id % 3 = 0 THEN '<EMAIL> ' ELSE '' END ||
        |    substr(text, 1, len(text) // 2) ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' <PHONE> ' ELSE '' END ||
        |    substr(text, len(text) // 2 + 1) ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' <IP>' ELSE '' END) AS redacted_md5
        |FROM documents""".stripMargin,
    "dedup_windows" -> windowDedupSql,
    "text_decontam" -> decontamSql,
    "text_lang_temp" -> langTempSql,
    "doc_pack" -> docPackSql,
    "text_tfidf" -> tfidfSql,
    // deterministic stratified sample: same md5-hex-digit keep rule
    "doc_sample" ->
      s"""SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
         |FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < ${sampleBoundCase}""".stripMargin,
    // the streaming dedup is arrival-order-independent BY CONSTRUCTION
    // (aggregation, not dropDuplicates), so the batch dedup SQL is its oracle
    "dedup_exact_stream" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    // Source readers: DuckDB parses the SAME staged files the Spark readers
    // consume (the driver's gate always runs at sf0.01; StagePath matches).
    "src_rasa" ->
      s"""WITH exs AS (SELECT unnest(rasa_nlu_data.common_examples) AS ex
         |  FROM read_json('$StagePath/rasa.json')),
         |ents AS (SELECT ex.text AS text, unnest(ex.entities) AS e FROM exs)
         |SELECT text, e.entity AS kind, e.value AS value,
         |  CAST(e.start AS INT) AS start_c, CAST(e."end" AS INT) AS end_c
         |FROM ents""".stripMargin,
    "src_jsonl" ->
      s"""WITH docs AS (SELECT doc_id,
         |    regexp_replace(text, '[^\\x20-\\x7e\\t\\n\\r\\x0b\\x0c]', '¤', 'g') AS text,
         |    entities
         |  FROM read_json('$StagePath/docs.jsonl')),
         |ents AS (SELECT doc_id, text, unnest(entities) AS e FROM docs)
         |SELECT doc_id, e.category AS kind,
         |  substring(text, CAST(e.start AS INT) + 1, CAST(e."end" - e.start AS INT)) AS value,
         |  CAST(e.start AS INT) AS start_c, CAST(e."end" AS INT) AS end_c
         |FROM ents WHERE e.category <> 'DNA'""".stripMargin,
    "src_wiki" ->
      s"""WITH art AS (SELECT id, text, entities, sentences
         |  FROM read_json('$StagePath/wiki.jsonl') WHERE id IS NOT NULL),
         |sent AS (
         |  SELECT id, text, len(entities) AS n_entities,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY s.start) - 1 AS INT) AS sidx,
         |    s.start AS s_start, s."end" AS s_end,
         |    LEAD(s.start, 1, 9223372036854775807)
         |      OVER (PARTITION BY id ORDER BY s.start) AS next_start
         |  FROM (SELECT id, text, entities, unnest(sentences) AS s FROM art)),
         |ent AS (SELECT id AS eid, unnest(entities) AS e FROM art)
         |SELECT sent.id AS article_id, sidx,
         |  substring(text, CAST(s_start AS INT) + 1, CAST(s_end - s_start AS INT)) AS sentence_text,
         |  CAST(s_start AS INT) AS sentence_start, CAST(s_end AS INT) AS sentence_end,
         |  CAST(COUNT(*) AS INT) AS n_assigned, CAST(n_entities AS INT) AS n_entities
         |FROM sent JOIN ent ON sent.id = ent.eid
         |  AND e.start >= s_start AND e.start < next_start
         |GROUP BY ALL""".stripMargin,
    // the oracle parses the CONVERTER's own output (iob2_rasa.json, the
    // reference iob2_to_rasa.py semantics run sequentially at stage time) —
    // the distributed iob2 parse must agree with the sequential converter
    "src_iob2" ->
      s"""WITH files AS (SELECT file, rasa FROM read_json('$StagePath/iob2_rasa.json')),
         |exi AS (SELECT file, rasa.rasa_nlu_data.common_examples AS exs FROM files),
         |exs AS (
         |  SELECT file, CAST(i - 1 AS INT) AS idx, exs[i].text AS text,
         |         exs[i].entities AS ents
         |  FROM exi, LATERAL (SELECT unnest(generate_series(1, len(exs))) AS i)),
         |ent AS (SELECT file, idx, unnest(ents) AS e FROM exs)
         |SELECT exs.file, exs.idx, exs.text, e.entity AS kind, e.value AS value,
         |  CAST(e.start AS INT) AS start_c, CAST(e."end" AS INT) AS end_c
         |FROM exs LEFT JOIN ent USING (file, idx)""".stripMargin,
    "src_wordvec" ->
      s"""SELECT column0 AS word,
         |  ROW_NUMBER() OVER (ORDER BY column0) AS id,
         |  column1 AS v0, column2 AS v1, column3 AS v2, column4 AS v3,
         |  column5 AS v4, column6 AS v5, column7 AS v6, column8 AS v7
         |FROM read_csv('$StagePath/glove.csv', header = false)""".stripMargin,
    "src_wordvec_norm" ->
      s"""WITH v AS (
         |  SELECT column0 AS word,
         |    sqrt(column1*column1 + column2*column2 + column3*column3
         |       + column4*column4 + column5*column5 + column6*column6
         |       + column7*column7 + column8*column8) AS nrm,
         |    column1, column2, column3, column4, column5, column6, column7, column8
         |  FROM read_csv('$StagePath/glove.csv', header = false))
         |SELECT word, round(nrm, 6) AS norm,
         |  round(column1/nrm, 6) AS u0, round(column2/nrm, 6) AS u1,
         |  round(column3/nrm, 6) AS u2, round(column4/nrm, 6) AS u3,
         |  round(column5/nrm, 6) AS u4, round(column6/nrm, 6) AS u5,
         |  round(column7/nrm, 6) AS u6, round(column8/nrm, 6) AS u7
         |FROM v""".stripMargin,
    "src_wordvec_nearest" ->
      s"""WITH v AS (
         |  SELECT column0 AS word,
         |    sqrt(column1*column1 + column2*column2 + column3*column3
         |       + column4*column4 + column5*column5 + column6*column6
         |       + column7*column7 + column8*column8) AS nrm,
         |    column1, column2, column3, column4, column5, column6, column7, column8
         |  FROM read_csv('$StagePath/glove.csv', header = false)),
         |u AS (
         |  SELECT word, column1/nrm AS u0, column2/nrm AS u1, column3/nrm AS u2,
         |    column4/nrm AS u3, column5/nrm AS u4, column6/nrm AS u5,
         |    column7/nrm AS u6, column8/nrm AS u7
         |  FROM v),
         |p AS (
         |  SELECT word AS probe, u0 AS p0, u1 AS p1, u2 AS p2, u3 AS p3,
         |    u4 AS p4, u5 AS p5, u6 AS p6, u7 AS p7
         |  FROM u ORDER BY word LIMIT 5),
         |sims AS (
         |  SELECT probe, word,
         |    round(p0*u0 + p1*u1 + p2*u2 + p3*u3 + p4*u4 + p5*u5 + p6*u6 + p7*u7,
         |          6) AS sim
         |  FROM p, u WHERE word != probe),
         |ranked AS (
         |  SELECT probe, word, sim,
         |    CAST(row_number() OVER (PARTITION BY probe ORDER BY sim DESC, word)
         |         AS INT) AS rank
         |  FROM sims)
         |SELECT probe, rank, word, sim FROM ranked WHERE rank <= 10""".stripMargin,
    // wvlib approximate_nearest: signatures re-derived from the staged
    // hyperplanes, Hamming-ball candidates, exact cosine re-rank
    "src_wordvec_ann" ->
      s"""WITH pl AS (
         |  SELECT CAST(column0 AS INT) AS bit,
         |    column1 AS q0, column2 AS q1, column3 AS q2, column4 AS q3,
         |    column5 AS q4, column6 AS q5, column7 AS q6, column8 AS q7
         |  FROM read_csv('$StagePath/lsh_planes.csv', header = false)),
         |v AS (
         |  SELECT column0 AS word,
         |    sqrt(column1*column1 + column2*column2 + column3*column3
         |       + column4*column4 + column5*column5 + column6*column6
         |       + column7*column7 + column8*column8) AS nrm,
         |    column1 AS v0, column2 AS v1, column3 AS v2, column4 AS v3,
         |    column5 AS v4, column6 AS v5, column7 AS v6, column8 AS v7
         |  FROM read_csv('$StagePath/glove.csv', header = false)),
         |sg AS (
         |  SELECT word, CAST(SUM(CASE
         |    WHEN q0*v0 + q1*v1 + q2*v2 + q3*v3 + q4*v4 + q5*v5 + q6*v6 + q7*v7 > 0
         |    THEN CAST(1 AS BIGINT) << (${graft.sources.ReaderStage.LshBits - 1} - bit)
         |    ELSE 0 END) AS BIGINT) AS sig
         |  FROM v, pl GROUP BY word),
         |u AS (
         |  SELECT v.word, sig, v0/nrm AS u0, v1/nrm AS u1, v2/nrm AS u2,
         |    v3/nrm AS u3, v4/nrm AS u4, v5/nrm AS u5, v6/nrm AS u6, v7/nrm AS u7
         |  FROM v JOIN sg ON v.word = sg.word),
         |p AS (
         |  SELECT word AS probe, sig AS psig, u0 AS p0, u1 AS p1, u2 AS p2,
         |    u3 AS p3, u4 AS p4, u5 AS p5, u6 AS p6, u7 AS p7
         |  FROM u ORDER BY word LIMIT 5),
         |cand AS (
         |  SELECT probe, word, CAST(bit_count(xor(sig, psig)) AS INT) AS hd,
         |    round(p0*u0 + p1*u1 + p2*u2 + p3*u3 + p4*u4 + p5*u5 + p6*u6 + p7*u7,
         |          6) AS sim
         |  FROM p, u WHERE word != probe),
         |scored AS (
         |  SELECT probe, word, hd,
         |    round(cos(pi() * hd / ${graft.sources.ReaderStage.LshBits}), 6) AS approx_sim, sim,
         |    CAST(row_number() OVER (PARTITION BY probe ORDER BY sim DESC, word)
         |         AS INT) AS rank
         |  FROM cand WHERE hd <= 2)
         |SELECT probe, rank, word, hd, approx_sim, sim
         |FROM scored WHERE rank <= 10""".stripMargin,
    // wrg parses: the stager writes JSONL mirrors of exactly the rows the
    // distributed wrg parser must produce (the 4-line wrg text itself is not
    // SQL-parseable; the parsed relation is)
    "src_wrg" ->
      s"""SELECT file, CAST(idx AS INT) AS idx, text, kind, value,
         |  CAST(start_c AS INT) AS start_c, CAST(end_c AS INT) AS end_c
         |FROM read_json('$StagePath/wrg_expect.jsonl')""".stripMargin,
    "src_wrg_swin" ->
      s"""SELECT file, CAST(idx AS INT) AS idx, text,
         |  CAST(n_pre AS INT) AS n_pre, CAST(n_post AS INT) AS n_post,
         |  prev_text, next_text
         |FROM read_json('$StagePath/wrg_swin_expect.jsonl')""".stripMargin,
    "src_wrg_twin" ->
      s"""SELECT file, CAST(idx AS INT) AS idx, text, pre_ctx, post_ctx
         |FROM read_json('$StagePath/wrg_twin_expect.jsonl')""".stripMargin,
    // KG surface: oracles over the sequentially-staged parquet (KgStage) —
    // the driver hash now enforces distributed == sequential
    "kg_docs" ->
      s"""SELECT doc_id, kind, text, media_ref, "offset"
         |FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet')""".stripMargin,
    "kg_mentions_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_lm" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_lm_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_bidir_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_bidir_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_ml_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_ml_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_ctx_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_ctx_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_ctx_bucketed" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_ctx_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_st" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_st_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_genia_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_genia_mentions.parquet/*.parquet')""".stripMargin,
    "kg_linked_slice" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order",
         |  entity_id, dict_kind, prior
         |FROM read_parquet('$KgPath/gold_linked.parquet/*.parquet')""".stripMargin,
    "kg_stream_linked" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order",
         |  entity_id, dict_kind, prior
         |FROM read_parquet('$KgPath/gold_linked.parquet/*.parquet')""".stripMargin,
    "kg_triples_slice" ->
      s"""SELECT subj, pred, obj
         |FROM read_parquet('$KgPath/gold_triples.parquet/*.parquet')""".stripMargin,
    "kg_mentions" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_full_mentions.parquet/*.parquet')""".stripMargin,
    "kg_mentions_bidir" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_full_bidir.parquet/*.parquet')""".stripMargin,
    "kg_mentions_ml" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order"
         |FROM read_parquet('$KgPath/gold_full_ml.parquet/*.parquet')""".stripMargin,
    "kg_linked" ->
      s"""SELECT doc_id, mention_id, kind, text, media_ref, start_tok, len, "order",
         |  entity_id, dict_kind, prior
         |FROM read_parquet('$KgPath/gold_full_linked.parquet/*.parquet')""".stripMargin,
    "kg_triples" ->
      s"""SELECT subj, pred, obj
         |FROM read_parquet('$KgPath/gold_full_triples.parquet/*.parquet')""".stripMargin,
    "kg_triples_compacted" ->
      s"""SELECT subj, pred, obj
         |FROM read_parquet('$KgPath/gold_full_triples.parquet/*.parquet')""".stripMargin,
    "kg_degree" -> degreeSql,
    "kg_pagerank" -> pagerankSql,
    "kg_two_hop" -> twoHopSql,
    "kg_triangles" -> trianglesSql,
    "kg_components" -> componentsSql,
    "kg_nbr_jaccard" -> nbrJaccardSql,
    "kg_cooc_pmi" -> coocPmiSql,
    "kg_hits" -> hitsSql,
    "kg_communities" -> lpaSql,
    "kg_bfs" -> bfsSql,
    "kg_kcore" -> kcoreSql,
    "emb_quantize" -> embQuantizeSql,
    "kg_dict" -> s"WITH $dictCtes\nSELECT alias, entity_id, kind, prior FROM dict",
    "kg_canonical_map" -> canonicalSql,
    "eval_layers" ->
      s"""SELECT CASE WHEN len <= ${ModelConfig().maxDepth}
         |  THEN 'layer_' || lpad(CAST(len AS VARCHAR), 2, '0') ELSE 'remedy' END AS layer,
         |  count(*) AS n_mentions, count(DISTINCT kind) AS n_kinds
         |FROM read_parquet('$KgPath/gold_mentions.parquet/*.parquet') GROUP BY 1""".stripMargin,
    "eval_nesting" ->
      s"""WITH m AS (
         |  SELECT doc_id, mention_id, start_tok, start_tok + len AS end_tok
         |  FROM read_parquet('$KgPath/gold_mentions.parquet/*.parquet')),
         |nested AS (
         |  SELECT DISTINCT a.doc_id, a.mention_id FROM m a JOIN m b
         |  ON a.doc_id = b.doc_id AND a.mention_id <> b.mention_id
         |  AND b.start_tok <= a.start_tok AND a.end_tok <= b.end_tok),
         |overlap AS (
         |  SELECT DISTINCT a.doc_id, a.mention_id FROM m a JOIN m b
         |  ON a.doc_id = b.doc_id AND a.mention_id <> b.mention_id
         |  AND a.start_tok < b.end_tok AND b.start_tok < a.end_tok
         |  AND NOT (b.start_tok <= a.start_tok AND a.end_tok <= b.end_tok)
         |  AND NOT (a.start_tok <= b.start_tok AND b.end_tok <= a.end_tok)),
         |rels AS (
         |  SELECT doc_id, mention_id, 'nested' AS rel FROM nested
         |  UNION ALL
         |  SELECT doc_id, mention_id, 'overlapping' FROM overlap)
         |SELECT m.doc_id, count(*) AS n_mentions,
         |  CAST(sum(CASE WHEN rel = 'nested' THEN 1 ELSE 0 END) AS BIGINT) AS n_nested,
         |  CAST(sum(CASE WHEN rel = 'overlapping' THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapping,
         |  CAST(sum(CASE WHEN rel IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flat
         |FROM m LEFT JOIN rels USING (doc_id, mention_id)
         |GROUP BY 1""".stripMargin,
    // multimodal: oracles read the stage-time PRE-ENCODE expectation tables
    // (feature/frame digests recorded from raw pixels BEFORE encoding), so
    // the distributed side must reproduce them by actually decoding the
    // PNG/TIFF payloads — any codec error breaks the hash. Join multiplicity
    // mirrors the Spark side: one row per media-span OCCURRENCE.
    "mm_media_features" ->
      s"""SELECT ds.doc_id, t.media_ref, t.width, t.height, t.n_frames,
         |  ${(0 until 8).map(i => s"t.feature[${i + 1}] AS f$i").mkString(", ")}
         |FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet') ds
         |JOIN read_parquet('$KgPath/media_tiff.parquet/*.parquet') t USING (media_ref)
         |WHERE ds.kind = 'media'""".stripMargin,
    "mm_resize" ->
      s"""SELECT ds.doc_id, r.media_ref, r.width, r.height,
         |  r.out_width, r.out_height, r.scale, r.resized_md5
         |FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet') ds
         |JOIN read_parquet('$KgPath/media_resize.parquet/*.parquet') r USING (media_ref)
         |WHERE ds.kind = 'media'""".stripMargin,
    "mm_frame_sample" ->
      s"""SELECT ds.doc_id, f.media_ref, f.n_frames, f.frame_idx,
         |  f.media_ref || '#f' || f.frame_idx AS frame_ref, f.frame_md5
         |FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet') ds
         |JOIN read_parquet('$KgPath/media_frames.parquet/*.parquet') f USING (media_ref)
         |WHERE ds.kind = 'media' AND f.frame_idx % 4 = 0""".stripMargin,
    "mm_decode_png" ->
      s"""SELECT media_ref, width, height, pixel_md5
         |FROM read_parquet('$KgPath/media_png.parquet/*.parquet')""".stripMargin,
    "mm_dedup_pixels" ->
      s"""WITH v AS (SELECT media_ref, variant, pixel_md5
         |  FROM read_parquet('$KgPath/media_dedup.parquet/*.parquet')),
         |g AS (SELECT pixel_md5, count(*) AS n_copies,
         |  count(DISTINCT media_ref) AS n_assets,
         |  min(media_ref || '#' || variant) AS keeper
         |  FROM v GROUP BY 1)
         |SELECT media_ref, variant, pixel_md5, n_copies, n_assets,
         |  CASE WHEN media_ref || '#' || variant = keeper THEN 1 ELSE 0 END
         |    AS is_keeper
         |FROM v JOIN g USING (pixel_md5)""".stripMargin,
    // the doc universe comes from `documents` (not from the exploded span
    // table): a doc whose text tokenizes to ZERO spans has no docs_spans
    // rows, but the Spark op (size(filter(...)) over each doc's own span
    // array) still emits it with zero counts — the left join + COALESCE
    // keeps both engines row-equal on such corpora
    "mm_interleave" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS INT)
         |      AS n_text_tokens,
         |    CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS INT)
         |      AS n_media
         |  FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet') GROUP BY 1),
         |b AS (
         |  SELECT printf('d%09d', d.doc_id) AS doc_id,
         |    COALESCE(s.n_text_tokens, 0) AS n_text_tokens,
         |    COALESCE(s.n_media, 0) AS n_media
         |  FROM documents d LEFT JOIN s ON s.doc_id = printf('d%09d', d.doc_id))
         |SELECT doc_id, n_text_tokens, n_media,
         |  n_text_tokens + ${Multimodal.ImgTokens} * n_media AS seq_tokens,
         |  CAST(ceil((n_text_tokens + ${Multimodal.ImgTokens} * n_media)
         |    / ${Multimodal.InterleaveWindow}.0) AS INT) AS n_windows
         |FROM b""".stripMargin,
    "sim_ann_lsh" -> annLshSql,
    "sim_ann_ivf" -> annIvfSql,
    "sim_ann_ivf_indexed" -> annIvfSql,
    "dedup_embcos" -> embCosSql,
    // E3/M4 metrics tables: distributed pred is hash-equal to staged gold
    // (kg_mentions_slice), so the exact metrics table is derivable from gold
    // ALONE — per-class P=R=F1=1 where the kind occurs, 0 where it doesn't,
    // macro = mean, micro/weighted = 1 when any tp. If the distributed eval
    // diverged (fp/fn > 0 anywhere), its P/R drop below 1 and the hash breaks.
    "eval_span_prf" -> prfFromGoldSql,
    "eval_bioes_prf" -> prfFromGoldSql
  )

  /** metrics table (level, kind, precision, recall, f1) implied by pred ==
    * gold, with per-kind presence read from the staged gold mentions. The
    * span and BIOES variants agree: a kind has span rows iff it has tag rows.
    */
  private lazy val prfFromGoldSql: String = {
    val kinds = Mentions.Kinds.map(k => s"'$k'").mkString(", ")
    s"""WITH present AS (
       |  SELECT kind, count(*) AS tp FROM (
       |    SELECT DISTINCT doc_id, start_tok, len, kind
       |    FROM read_parquet('$KgPath/gold_mentions.parquet/*.parquet')) GROUP BY 1),
       |cls AS (
       |  SELECT k.kind, CASE WHEN coalesce(p.tp, 0) > 0 THEN 1.0 ELSE 0.0 END AS v
       |  FROM (SELECT unnest([$kinds]) AS kind) k
       |  LEFT JOIN present p USING (kind)),
       |summary AS (
       |  SELECT 'macro' AS level, '*' AS kind, avg(v) AS v FROM cls
       |  UNION ALL
       |  SELECT 'micro', '*', CASE WHEN max(v) > 0 THEN 1.0 ELSE 0.0 END FROM cls
       |  UNION ALL
       |  SELECT 'weighted', '*', CASE WHEN max(v) > 0 THEN 1.0 ELSE 0.0 END FROM cls)
       |SELECT level, kind, v AS precision, v AS recall,
       |  CASE WHEN v > 0 THEN 2 * v * v / (v + v) ELSE 0.0 END AS f1
       |FROM (SELECT 'class' AS level, kind, v FROM cls UNION ALL SELECT * FROM summary)""".stripMargin
  }

  /** The driver's correctness gate runs at sf0.01 — the staged-reader oracle
    * SQL embeds that stage dir (oracle strings cannot see sfDir).
    */
  private val StagePath = s"${graft.sources.ReaderStage.StageRoot}/sf0.01"
  private val KgPath = s"$StagePath/kg"

  // ---------------------------------------------- KG oracle SQL generators

  /** DuckDB mirror of AliasDict.mdFrac: first 6 md5 hex chars / 16^6. */
  private def duckFrac(e: String): String =
    s"(CAST(('0x' || substr(md5($e), 1, 6)) AS BIGINT) / 16777216.0)"

  /** DuckDB mirror of AliasDict.kindOf: md5 hex chars 7-10 mod |Kinds|. */
  private def duckKind(e: String): String = {
    val kinds = Mentions.Kinds.map(k => s"'$k'").mkString(", ")
    s"([$kinds][(CAST(('0x' || substr(md5($e), 7, 4)) AS BIGINT) % ${Mentions.Kinds.length}) + 1])"
  }

  /** Relational rebuild of AliasDict.build from the staged docs spans:
    * per-doc token lists → distinct lowercased 1..3-gram windows → md5
    * selectivity filter → primary (+ ambiguous head-token secondary) rows.
    */
  private lazy val dictCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list(text ORDER BY "offset") AS t
       |  FROM read_parquet('$KgPath/docs_spans.parquet/*.parquet')
       |  WHERE kind = 'text' GROUP BY 1),
       |tl AS (
       |  -- two-step: a LATERAL referencing a SIBLING lateral's alias trips a
       |  -- DuckDB binder INTERNAL error that invalidates the whole connection
       |  SELECT t, l FROM toks, LATERAL (SELECT unnest([1, 2, 3]) AS l)
       |  WHERE len(t) >= l),
       |ng AS (
       |  SELECT DISTINCT lower(array_to_string(t[i+1:i+l], ' ')) AS alias
       |  FROM tl, LATERAL (SELECT unnest(generate_series(0, len(t) - l)) AS i)),
       |filt AS (SELECT alias FROM ng
       |  WHERE alias <> '' AND ${duckFrac("alias")} < ${AliasDict.Selectivity}),
       |dict AS (
       |  SELECT alias, 'E' || substr(md5(alias), 1, 12) AS entity_id,
       |         ${duckKind("alias")} AS kind,
       |         ${duckFrac("alias || '#p'")} * 0.5 + 0.5 AS prior
       |  FROM filt
       |  UNION ALL
       |  SELECT alias, 'E' || substr(md5(split_part(alias, ' ', 1)), 1, 12),
       |         ${duckKind("split_part(alias, ' ', 1)")},
       |         ${duckFrac("alias || '#q'")} * 0.5
       |  FROM filt
       |  WHERE ${duckFrac("alias || '#a'")} < ${AliasDict.Ambiguity}
       |    AND contains(alias, ' '))""".stripMargin

  /** Connected components over the dict's all-pairs alias edges via a
    * recursive transitive closure (tiny component sizes at oracle scale;
    * the Spark side runs the large/small-star loop).
    */
  private lazy val canonicalSql: String =
    s"""WITH RECURSIVE $dictCtes,
       |cand AS (
       |  SELECT alias, list_sort(list_distinct(list(entity_id))) AS es
       |  FROM dict GROUP BY 1 HAVING count(DISTINCT entity_id) > 1),
       |edges AS (
       |  SELECT DISTINCT e1 AS src, e2 AS dst
       |  FROM cand,
       |       LATERAL (SELECT unnest(es[1:${graft.kg.Canonical.MaxCandidatesPerAlias}]) AS e1),
       |       LATERAL (SELECT unnest(es[1:${graft.kg.Canonical.MaxCandidatesPerAlias}]) AS e2)
       |  WHERE e1 < e2),
       |sym AS (SELECT src AS u, dst AS v FROM edges UNION SELECT dst, src FROM edges),
       |reach AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u)
       |SELECT u AS entity_id, least(u, min(v)) AS canonical_id FROM reach GROUP BY 1""".stripMargin

  /** Full random-hyperplane LSH ANN in DuckDB: the ±1 hyperplanes are
    * md5-derived constants shared with Similarity.hyperplane; bit decisions
    * are made on the 6dp-ROUNDED cosine on BOTH sides so float-noise at the
    * sign boundary cannot diverge.
    */
  /** sig + bands CTEs shared by the ANN and embedding-near-dup oracles. */
  private lazy val lshBandsCte: String = {
    def hp(h: Int): String =
      Similarity.hyperplane(h).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val sigExpr = (0 until Similarity.LshBits).map { h =>
      s"CASE WHEN round(list_cosine_similarity(embedding::DOUBLE[], ${hp(h)}), 6) > 0 " +
        s"THEN CAST(1 AS BIGINT) << $h ELSE 0 END"
    }.mkString(" + ")
    s"""sig AS (
       |  SELECT vec_id, embedding, $sigExpr AS sg FROM embeddings),
       |bands AS (
       |  SELECT vec_id, embedding, b AS band, (sg >> (4*b)) & 15 AS bucket
       |  FROM sig, LATERAL (SELECT unnest([0,1,2,3]) AS b))""".stripMargin
  }

  /** mirror of Dedup.embeddingNearDup: shared-band candidates, exact rounded
    * cosine ≥ threshold.
    */
  private lazy val embCosSql: String =
    s"""WITH $lshBandsCte
       |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
       |FROM bands a JOIN bands b USING (band, bucket)
       |WHERE a.vec_id < b.vec_id
       |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
       |      >= ${Dedup.EmbDupThreshold}""".stripMargin

  /** IVF ANN oracle: the float-iterative k-means itself is not
    * SQL-expressible, but given the STAGED converged centroids
    * (ivf_centroids.parquet, written by Similarity.ensureIvfIndex) the
    * assignment → probe → exact-cosine re-rank is — this re-derives the full
    * candidate set and ranking in DuckDB. Selection uses the 6dp-rounded
    * cosine on both sides; ties break (score DESC, cluster DESC), matching
    * Spark's reverse(array_sort(struct(s, k))).
    */
  private lazy val annIvfSql: String =
    s"""WITH cents AS (
       |  SELECT cluster, centroid
       |  FROM read_parquet('$StagePath/ivf_centroids.parquet/*.parquet')),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cluster,
       |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]), 6) AS s
       |  FROM embeddings e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster DESC) AS r
       |  FROM scored),
       |assigned AS (
       |  SELECT vec_id, embedding, cluster FROM ranked WHERE r <= ${Similarity.IvfAssignRep}),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q, cluster
       |  FROM ranked WHERE r <= ${Similarity.IvfProbes} AND vec_id % ${Similarity.QueryMod} = 0),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(p.q::DOUBLE[], a.embedding::DOUBLE[]), 6) AS cosine
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id),
       |rr AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM cand)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
       |FROM rr WHERE rank <= ${Similarity.TopK}""".stripMargin

  private lazy val annLshSql: String = {
    s"""WITH $lshBandsCte,
       |qb AS (SELECT vec_id AS query_id, embedding AS q, band, bucket
       |       FROM bands WHERE vec_id % ${Similarity.QueryMod} = 0),
       |cand AS (
       |  SELECT DISTINCT query_id, b.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
       |  FROM bands b JOIN qb USING (band, bucket)
       |  WHERE b.vec_id <> query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM cand)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= ${Similarity.TopK}""".stripMargin
  }

  /** 32-bit simhash in DuckDB: same md5-hex-digit construction as
    * Dedup.simhash, generated programmatically to stay in lockstep.
    */
  private lazy val simhashSql: String = {
    val bits = (0 until Dedup.SimhashBits).map { i =>
      s"CASE WHEN sum(CASE WHEN substr(h, ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0 " +
        s"THEN CAST(1 AS BIGINT) << $i ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, $bits AS simhash FROM (
       |  SELECT doc_id, md5(unnest(regexp_split_to_array(text, '\\s+'))) AS h
       |  FROM documents) GROUP BY doc_id""".stripMargin
  }

  private lazy val langIdSql: String = {
    def ratio(lang: String): String = {
      val list = TextOps.Stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"round(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> list_contains([$list], t)))" +
        s" / greatest(len(regexp_split_to_array(text, '\\s+')), 1), 6)"
    }
    s"""SELECT doc_id, lang AS tagged_lang,
       |  ${ratio("en")} AS score_en, ${ratio("de")} AS score_de,
       |  ${ratio("fr")} AS score_fr, ${ratio("es")} AS score_es,
       |  CASE WHEN ${ratio("en")} >= ${ratio("de")} AND ${ratio("en")} >= ${ratio("fr")}
       |         AND ${ratio("en")} >= ${ratio("es")} THEN 'en'
       |       WHEN ${ratio("de")} >= ${ratio("fr")} AND ${ratio("de")} >= ${ratio("es")} THEN 'de'
       |       WHEN ${ratio("fr")} >= ${ratio("es")} THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |FROM documents""".stripMargin
  }

  // ------------------------------------------- graph-analytics oracles

  private lazy val goldTriplesSrc =
    s"read_parquet('$KgPath/gold_full_triples.parquet/*.parquet')"
  private lazy val coEdgesCte =
    s"SELECT subj AS src, obj AS dst FROM $goldTriplesSrc WHERE pred = 'co_occurs_with'"

  /** symmetric self-loop-free view of `e` — [[graft.kg.GraphOps]]'
    * `symEdges` mirrored once, consumed by the components / neighborhood /
    * community oracles. */
  private lazy val symCte =
    """sym AS (SELECT src, dst FROM e WHERE src <> dst
      |  UNION SELECT dst, src FROM e WHERE src <> dst)""".stripMargin

  private lazy val degreeSql =
    s"""WITH e AS ($coEdgesCte),
       |o AS (SELECT src AS entity_id, count(*) AS out_degree FROM e GROUP BY 1),
       |i AS (SELECT dst AS entity_id, count(*) AS in_degree FROM e GROUP BY 1),
       |d AS (SELECT subj AS entity_id, count(*) AS n_docs FROM $goldTriplesSrc
       |  WHERE pred = 'mentioned_in' GROUP BY 1)
       |SELECT entity_id, coalesce(out_degree, 0) AS out_degree,
       |  coalesce(in_degree, 0) AS in_degree, coalesce(n_docs, 0) AS n_docs
       |FROM d FULL JOIN o USING (entity_id) FULL JOIN i USING (entity_id)""".stripMargin

  /** [[graft.kg.GraphOps.pagerank]]'s fixed-iteration recurrence unrolled as
    * chained CTEs (r0 → r5), same dangling-mass-dropped formula. */
  private lazy val pagerankSql: String = {
    val d = GraphOps.Damping
    val steps = (1 to GraphOps.PrIters).map { t =>
      s"""r$t AS (
         |  SELECT nd.id, (1 - $d) / (SELECT n FROM nn) + $d * coalesce(s.m, 0) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank / dg.outdeg) AS m
         |    FROM e JOIN r${t - 1} r ON e.src = r.id JOIN deg dg ON dg.src = e.src
         |    GROUP BY 1) s USING (id))""".stripMargin
    }
    s"""WITH e AS ($coEdgesCte),
       |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT id AS entity_id, round(rank * (SELECT n FROM nn), 4) AS rank_norm
       |FROM r${GraphOps.PrIters}""".stripMargin
  }

  private lazy val twoHopSql =
    s"""WITH e AS ($coEdgesCte),
       |hubs AS (SELECT src AS entity_id, count(*) AS out_degree FROM e GROUP BY 1
       |  ORDER BY out_degree DESC, entity_id LIMIT ${GraphOps.TopHubs}),
       |pairs AS (SELECT DISTINCT h.entity_id, h.out_degree, e2.dst AS nbr2
       |  FROM hubs h JOIN e e1 ON e1.src = h.entity_id
       |  LEFT JOIN e e2 ON e2.src = e1.dst)
       |SELECT entity_id, out_degree, count(nbr2) AS n_two_hop
       |FROM pairs GROUP BY 1, 2""".stripMargin

  /** naive lexicographic a<b<c three-way self-join — deliberately a
    * DIFFERENT algorithm from [[graft.kg.GraphOps.triangles]]'s
    * degree-ordered orientation; per-entity counts are
    * orientation-independent so the two must agree exactly. */
  private lazy val trianglesSql =
    s"""WITH e AS ($coEdgesCte),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1 JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |v AS (SELECT x AS entity_id FROM tri
       |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
       |SELECT entity_id, count(*) AS n_triangles FROM v GROUP BY 1""".stripMargin

  /** min-label reachability via a recursive CTE: every (node, reachable
    * node) pair within a component, min per node = the component's minimum
    * entity id — [[graft.kg.GraphOps.components]]'s exact contract, computed
    * by exhaustive reachability instead of star contraction / union-find. */
  private lazy val componentsSql =
    s"""WITH RECURSIVE e AS ($coEdgesCte),
       |$symCte,
       |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |r(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.dst, r.lab FROM r JOIN sym s ON s.src = r.id),
       |comp AS (SELECT id AS entity_id, min(lab) AS component_id FROM r GROUP BY 1),
       |sz AS (SELECT component_id, count(*) AS comp_size FROM comp GROUP BY 1)
       |SELECT entity_id, component_id, comp_size FROM comp JOIN sz USING (component_id)""".stripMargin

  /** [[graft.kg.GraphOps.neighborsJaccard]]'s hot-hub-capped neighborhood
    * Jaccard, same cap and rounded-threshold semantics. */
  private lazy val nbrJaccardSql =
    s"""WITH e AS ($coEdgesCte),
       |$symCte,
       |deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY 1),
       |nb AS (SELECT s.src AS id, s.dst AS nbr FROM sym s
       |  JOIN deg ON deg.id = s.dst WHERE deg.d <= ${GraphOps.MaxWedgeDeg}),
       |sz AS (SELECT id, count(*) AS n FROM nb GROUP BY 1),
       |inter AS (SELECT a.id AS entity_a, b.id AS entity_b, count(*) AS n_common
       |  FROM nb a JOIN nb b ON a.nbr = b.nbr AND a.id < b.id GROUP BY 1, 2)
       |SELECT entity_a, entity_b, n_common,
       |  round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
       |FROM inter JOIN sz sa ON entity_a = sa.id JOIN sz sb ON entity_b = sb.id
       |WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= ${GraphOps.JaccardMinSim}""".stripMargin

  /** [[graft.kg.GraphOps.hits]]'s unnormalized integer recurrence unrolled
    * as chained join CTEs — every score an exact Int64, no float anywhere. */
  private lazy val hitsSql: String = {
    val t = GraphOps.HitsIters
    val iters = (1 to t).map { i =>
      s"""a$i AS (SELECT e.dst AS id, sum(h${i - 1}.h) AS a FROM e
         |  JOIN h${i - 1} ON e.src = h${i - 1}.id GROUP BY 1),
         |h$i AS (SELECT e.src AS id, sum(a$i.a) AS h FROM e
         |  JOIN a$i ON e.dst = a$i.id GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($coEdgesCte),
       |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM nodes),
       |$iters
       |SELECT n.id AS entity_id, coalesce(a$t.a, 0) AS auth, coalesce(h$t.h, 0) AS hub
       |FROM nodes n LEFT JOIN a$t ON n.id = a$t.id LEFT JOIN h$t ON n.id = h$t.id""".stripMargin
  }

  /** [[graft.kg.GraphOps.labelProp]]'s synchronous rounds unrolled — the
    * same (count desc, label asc) argmax via row_number per round. */
  private lazy val lpaSql: String = {
    val t = GraphOps.LpaIters
    val rounds = (1 to t).map { i =>
      s"""m$i AS (SELECT s.src AS id, l${i - 1}.label, count(*) AS c FROM sym s
         |  JOIN l${i - 1} ON s.dst = l${i - 1}.id GROUP BY 1, 2),
         |l$i AS (SELECT id, label FROM (
         |  SELECT id, label, row_number() OVER (PARTITION BY id
         |    ORDER BY c DESC, label) AS rn FROM m$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($coEdgesCte),
       |$symCte,
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym),
       |$rounds,
       |sz AS (SELECT label, count(*) AS community_size FROM l$t GROUP BY 1)
       |SELECT l$t.id AS entity_id, l$t.label AS community, sz.community_size
       |FROM l$t JOIN sz ON l$t.label = sz.label""".stripMargin
  }

  /** [[graft.kg.GraphOps.bfsDistances]]: the same frontier levels unrolled,
    * same hub tie-break, min-dist collapse at the end. */
  private lazy val bfsSql: String = {
    val t = GraphOps.BfsDepth
    val levels = (1 to t).map { i =>
      s"""r$i AS (SELECT DISTINCT r${i - 1}.root, e.dst AS node, $i AS dist
         |  FROM r${i - 1} JOIN e ON e.src = r${i - 1}.node)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to t).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""WITH e AS ($coEdgesCte),
       |hubs AS (SELECT src AS root FROM e GROUP BY src
       |  ORDER BY count(*) DESC, src LIMIT ${GraphOps.BfsHubs}),
       |r0 AS (SELECT root, root AS node, 0 AS dist FROM hubs),
       |$levels,
       |lvls AS ($unions)
       |SELECT root, node AS entity_id, CAST(min(dist) AS INT) AS dist
       |FROM lvls GROUP BY 1, 2""".stripMargin
  }

  /** [[graft.kg.GraphOps.kcore]]: the same synchronous peel unrolled —
    * round i's degree count runs over edges whose BOTH endpoints survived
    * round i-1, peel/survivor split on the identical coalesce(d,0)
    * threshold. */
  private lazy val kcoreSql: String = {
    val k = GraphOps.KcoreK
    val t = GraphOps.KcoreIters
    val rounds = (1 to t).map { i =>
      s"""d$i AS (SELECT s.src AS id, count(*) AS d FROM sym s
         |  JOIN a${i - 1} x ON s.src = x.id JOIN a${i - 1} y ON s.dst = y.id
         |  GROUP BY 1),
         |p$i AS (SELECT a${i - 1}.id FROM a${i - 1} LEFT JOIN d$i USING (id)
         |  WHERE coalesce(d, 0) < $k),
         |a$i AS (SELECT a${i - 1}.id FROM a${i - 1} LEFT JOIN d$i USING (id)
         |  WHERE coalesce(d, 0) >= $k)""".stripMargin
    }.mkString(",\n")
    val peeledUnion = (1 to t).map(i => s"SELECT id, $i AS r FROM p$i")
      .mkString(" UNION ALL ")
    s"""WITH e AS ($coEdgesCte),
       |$symCte,
       |deg0 AS (SELECT src AS id, count(*) AS sym_degree FROM sym GROUP BY 1),
       |a0 AS (SELECT id FROM deg0),
       |$rounds,
       |peeled AS ($peeledUnion)
       |SELECT deg0.id AS entity_id, sym_degree,
       |  CAST(coalesce(peeled.r, 0) AS INT) AS peel_round,
       |  CASE WHEN peeled.id IS NULL THEN 1 ELSE 0 END AS in_kcore
       |FROM deg0 LEFT JOIN peeled ON deg0.id = peeled.id""".stripMargin
  }

  /** [[graft.kg.GraphOps.coocPmi]]: identical integer-exact numerator /
    * denominator, one double division, natural log, 4 dp. */
  private lazy val coocPmiSql =
    s"""WITH mi AS (SELECT subj AS ent, obj AS doc FROM $goldTriplesSrc
       |  WHERE pred = 'mentioned_in'),
       |nd AS (SELECT count(DISTINCT doc) AS n FROM mi),
       |cnt AS (SELECT ent, count(*) AS c FROM mi GROUP BY 1),
       |pairs AS (SELECT a.ent AS entity_a, b.ent AS entity_b, count(*) AS n_joint
       |  FROM mi a JOIN mi b ON a.doc = b.doc AND a.ent < b.ent GROUP BY 1, 2
       |  HAVING count(*) >= ${GraphOps.PmiMinJoint})
       |SELECT entity_a, entity_b, n_joint,
       |  round(ln(n_joint * nd.n / (ca.c * cb.c)), 4) AS pmi
       |FROM pairs CROSS JOIN nd
       |JOIN cnt ca ON entity_a = ca.ent JOIN cnt cb ON entity_b = cb.ent""".stripMargin

  /** [[graft.ops.Similarity.quantize]]: same single-IEEE-op chain per
    * element (widen, divide, round-half-away, multiply, subtract, max), so
    * only the two 8 dp stats are defensively rounded; q_sum/q_min/q_max are
    * integer-exact. */
  private lazy val embQuantizeSql =
    """WITH b AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS s
      |  FROM embeddings)
      |SELECT vec_id,
      |  round(s, 8) AS scale,
      |  CASE WHEN s = 0 THEN 0
      |    ELSE CAST(list_sum(list_transform(e, x -> round(x / s))) AS BIGINT)
      |  END AS q_sum,
      |  CASE WHEN s = 0 THEN 0
      |    ELSE CAST(list_min(list_transform(e, x -> round(x / s))) AS INT)
      |  END AS q_min,
      |  CASE WHEN s = 0 THEN 0
      |    ELSE CAST(list_max(list_transform(e, x -> round(x / s))) AS INT)
      |  END AS q_max,
      |  CASE WHEN s = 0 THEN 0.0
      |    ELSE round(list_max(list_transform(e, x -> abs(x - round(x / s) * s))), 8)
      |  END AS max_err
      |FROM b""".stripMargin

  // --------------------------------------------- text-pipeline oracles

  /** per-language keep bound for the `doc_sample` oracle, generated from the
    * SAME constant map the Spark op folds over. */
  private lazy val sampleBoundCase: String =
    graft.ops.TextOps.SampleBound.toSeq.sortBy(_._1)
      .map { case (l, b) => s"WHEN '$l' THEN '$b'" }
      .mkString("CASE lang ", " ", s" ELSE '${graft.ops.TextOps.SampleBoundDefault}' END")

  private lazy val repetitionSql: String = {
    def gramCte(name: String, k: Int) =
      s"""$name AS (
         |  SELECT doc_id, array_to_string(toks[i+1:i+$k], ' ') AS gram, count(*) AS c
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
         |       LATERAL (SELECT unnest(generate_series(0, len(toks) - $k)) AS i)
         |  WHERE len(toks) >= $k GROUP BY 1, 2)""".stripMargin
    s"""WITH ${gramCte("g2", 2)},
       |t2 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max2, CAST(sum(c) AS BIGINT) AS n2
       |  FROM g2 GROUP BY 1),
       |${gramCte("g3", 3)},
       |d3 AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3,
       |  CAST(sum(c) AS BIGINT) AS n3 FROM g3 GROUP BY 1)
       |SELECT b.doc_id, coalesce(n2, 0) AS n_2grams,
       |  round(coalesce(CAST(max2 AS DOUBLE) / n2, 0), 6) AS top_2gram_frac,
       |  coalesce(n3, 0) AS n_3grams,
       |  round(coalesce(CAST(dup3 AS DOUBLE) / n3, 0), 6) AS dup_3gram_frac
       |FROM documents b LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)""".stripMargin
  }

  private lazy val windowDedupSql =
    s"""WITH wins AS (
       |  SELECT doc_id, array_to_string(toks[i+1:i+${TextOps.WinLen}], ' ') AS win
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       |       LATERAL (SELECT unnest(generate_series(0, len(toks) - ${TextOps.WinLen},
       |         ${TextOps.WinStride})) AS i)
       |  WHERE len(toks) >= ${TextOps.WinLen}),
       |df AS (SELECT win, count(*) AS docfreq
       |  FROM (SELECT DISTINCT doc_id, win FROM wins) GROUP BY 1),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |  FROM wins JOIN df USING (win) GROUP BY 1)
       |SELECT b.doc_id, coalesce(n_windows, 0) AS n_windows,
       |  coalesce(n_dup_windows, 0) AS n_dup_windows,
       |  round(coalesce(CAST(n_dup_windows AS DOUBLE) / n_windows, 0), 6) AS dup_win_frac
       |FROM documents b LEFT JOIN pd USING (doc_id)""".stripMargin

  /** [[graft.ops.TextOps.decontam]]: same gram construction (distinct
    * 8-token grams, stride 1), same deterministic benchmark split
    * (doc_id % DecontamEvery == 0), set-intersect counted on distinct
    * grams on both engines. The eval-gram set is COALESCEd to an empty
    * list: on a corpus with NO benchmark-split docs, DuckDB's list() over
    * zero rows is NULL, which would NULL-poison every intersect, while the
    * Spark side's left-join + count correctly yields 0 everywhere. */
  private lazy val decontamSql = {
    val k = TextOps.DecontamGram
    val m = TextOps.DecontamEvery
    s"""WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(0, len(toks) - $k),
       |    i -> array_to_string(toks[i+1:i+$k], ' '))) AS grams
       |  FROM d WHERE len(toks) >= $k
       |  UNION ALL
       |  SELECT doc_id, CAST([] AS VARCHAR[]) FROM d WHERE len(toks) < $k),
       |e AS (SELECT COALESCE(list_distinct(flatten(list(grams))),
       |    CAST([] AS VARCHAR[])) AS eval_grams
       |  FROM g WHERE doc_id % $m = 0)
       |SELECT doc_id, len(grams) AS n_grams,
       |  len(list_intersect(grams, eval_grams)) AS n_contam_grams,
       |  CASE WHEN len(list_intersect(grams, eval_grams)) > 0 THEN 1 ELSE 0 END
       |    AS contaminated
       |FROM g CROSS JOIN e WHERE doc_id % $m <> 0""".stripMargin
  }

  /** [[graft.ops.TextOps.langTemp]]: up_weight / expected_docs derive from
    * the 6-dp-ROUNDED p and q on both engines, so float parity rests only
    * on the two base roundings. */
  private lazy val langTempSql =
    s"""WITH bl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_docs) AS n_total FROM bl),
       |w AS (SELECT lang, n_docs, n_docs / n_total AS p,
       |  pow(n_docs / n_total, ${TextOps.TempAlpha}) AS pa, n_total
       |  FROM bl CROSS JOIN t),
       |z AS (SELECT sum(pa) AS z FROM w),
       |r AS (SELECT lang, n_docs, round(p, 6) AS p6, round(pa / z, 6) AS q6, n_total
       |  FROM w CROSS JOIN z)
       |SELECT lang, n_docs, p6 AS p, q6 AS q,
       |  round(q6 / p6, 6) AS up_weight,
       |  round(q6 * n_total, 2) AS expected_docs
       |FROM r""".stripMargin

  /** [[graft.ops.TextOps.pack]]: the same next-fit recurrence, expressed as
    * a recursive CTE stepping through each group's doc_id order (the
    * fixpoint is per-group sequential, so row `pos` depends only on row
    * `pos - 1` — depth = PackGroup). */
  private lazy val docPackSql = {
    val cap = TextOps.PackCap
    val grpW = TextOps.PackGroup
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, doc_id // $grpW AS grp,
       |    len(regexp_split_to_array(text, '\\s+')) AS ntok,
       |    row_number() OVER (PARTITION BY doc_id // $grpW ORDER BY doc_id) AS pos
       |  FROM documents),
       |r AS (
       |  SELECT grp, pos, doc_id, ntok, 0 AS bin, ntok AS fill
       |  FROM d WHERE pos = 1
       |  UNION ALL
       |  SELECT d.grp, d.pos, d.doc_id, d.ntok,
       |    CASE WHEN r.fill + d.ntok > $cap THEN r.bin + 1 ELSE r.bin END,
       |    CASE WHEN r.fill + d.ntok > $cap THEN d.ntok ELSE r.fill + d.ntok END
       |  FROM r JOIN d ON d.grp = r.grp AND d.pos = r.pos + 1)
       |SELECT doc_id, grp, ntok AS n_tokens, CAST(bin AS INT) AS bin FROM r""".stripMargin
  }

  /** [[graft.ops.TextOps.tfidf]]: identical tokenization, identical 6-dp
    * pre-rounding of the ranking key (raw-double ordering could differ in
    * the last ulp between engines), same (score desc, term asc) tie-break. */
  private lazy val tfidfSql =
    s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, round(tf * ln(nd.n / df.df), 6) AS s6
       |  FROM tf JOIN df USING (term) CROSS JOIN nd),
       |ranked AS (
       |  SELECT doc_id, term, tf, s6,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY s6 DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, round(s6, 4) AS tfidf
       |FROM ranked WHERE rank <= ${graft.ops.TextOps.TfidfTopK}""".stripMargin
}
