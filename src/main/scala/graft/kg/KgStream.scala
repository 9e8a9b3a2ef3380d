package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.ModelConfig

/** Incremental (streaming) KG ingest — the continuous-arrival counterpart of
  * the batch pipeline, the shape a 100 TB corpus actually lands in.
  *
  * Split follows the classic ingest/compact design:
  *   - STREAMING (this file, stateless, append-mode): per-doc span assembly,
  *     Pyramid mention detection (`Mentions.detect`, broadcast model), entity
  *     linking (stream-static broadcast join, [[DictSide.link]]).
  *     Every stage is per-row/per-partition, so the stream needs no state
  *     store and scales like the batch mention stage.
  *   - BATCH COMPACTION (KgRunner): alias-dict refresh and CC
  *     canonicalization are corpus-level aggregations; they run as periodic
  *     batch jobs over the accumulated linked-mention table. CC over an
  *     unbounded stream would need an incremental union-find — out of scope
  *     and unnecessary when compaction is cheap (it reads the small linked
  *     table, not the corpus).
  *
  * Validated two ways: KgStreamSpec asserts stream == batch (exact row set vs
  * `Eval.sliceLinked`), and the `kg_stream_linked` driver query is
  * value-checked against the staged sequential GoldRef linking
  * (`gold_linked.parquet`) — the same oracle as the batch slice query, so
  * batch path, stream path, and sequential re-derivation must all agree.
  */
object KgStream {

  // memory-sink query names must be unique within a JVM (`Perf query` and
  // Bench's passes repeat queries in one session; a finished query's name
  // stays registered)
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Streaming mention detection + linking over the eval slice of
    * `documents.parquet`, drained synchronously via AvailableNow into a
    * memory sink (mirrors `ops.Streaming` patterns). The model and alias
    * dictionary are built in batch over the same slice — the realistic
    * deployment: a fixed model + periodically-refreshed dict serve a
    * continuous document stream.
    */
  def linkedStream(spark: SparkSession, sfDir: String,
                   queryName: String = "kg_stream_linked"): DataFrame = {
    import spark.implicits._
    val name = s"${queryName}_${runSeq.incrementAndGet()}"

    // static side (batch over the same slice as Eval.sliceLinked): the slice
    // Dataset and model broadcast are the SAME session-cached slots the batch
    // slice queries use (Eval.sliceDocs / Eval.modelBc) — one lexicon job per
    // session instead of one per stream invocation, same model either way
    val sliceDocs = Eval.sliceDocs(spark, sfDir)
    val bc = Eval.modelBc(spark, sfDir, ModelConfig())
    // built once: a stream-static join re-evaluates its static side per batch
    val side = DictSide.of(AliasDict.build(sliceDocs))
    val sliceIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as[Long]).orderBy("doc_id")
      .limit(Eval.EvalSliceDocs).collect()

    val src = graft.ops.Streaming.sourceDir("graft_kg_stream_src", s"$sfDir/documents.parquet")
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docsStream = spark.readStream.schema(schema).parquet(src)
      // slice filter pushed to the scan; InSet over 200 ids
      .where(col("doc_id").cast("long").isin(sliceIds.map(Long.box).toIndexedSeq: _*))
      .select($"doc_id".cast("long").as[Long], $"text".as[String])
      .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }

    val mentions = Mentions.detect(docsStream, bc).toDF()

    val q = side.link(mentions)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    side.release()
    // sliceDocs / bc are the session-shared Eval slots — NOT destroyed here
    // (BcRegistry bounds them to one live instance per corpus signature)
    spark.table(name)
  }

  /** Durable variant — the checkpoint/resume story of the streaming ingest:
    * detected + linked mentions APPEND to a parquet FILE sink under a real
    * `checkpointLocation`. Exactly-once across a kill/resume comes from the
    * two standard Structured Streaming logs: the source offset log (which
    * files each batch id covers) and the file-sink `_spark_metadata` commit
    * log (which output files are committed — readers of the sink directory
    * see only those, so a batch killed mid-write leaves no visible rows and
    * is re-run identically on restart). KgStreamSpec stops the query after
    * the first commit and resumes; the union of the two runs must equal the
    * batch linking exactly.
    *
    * `srcDir`: a directory of parquet files with (doc_id long, text string) —
    * at `maxFilesPerTrigger = 1` each file is its own micro-batch, giving the
    * kill a batch boundary to land on. Returns the running query plus a
    * cleanup thunk (static-side release) for the caller.
    */
  def linkedCheckpointed(spark: SparkSession, sfDir: String, srcDir: String,
                         sinkDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Int = 1,
                         availableNow: Boolean = false)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    import spark.implicits._

    // static side: fixed model + dict over the same slice as linkedStream
    val sliceDocs = DocGen.docs(spark, sfDir)
      .orderBy("doc_id").limit(Eval.EvalSliceDocs).cache()
    val model = Mentions.buildModel(sliceDocs, ModelConfig())
    val bc = spark.sparkContext.broadcast(model)
    val side = DictSide.of(AliasDict.build(sliceDocs))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val docsStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .select($"doc_id".as[Long], $"text".as[String])
      .map { case (id, text) => DocGen.assemble(DocGen.docIdOf(id), text) }

    val mentions = Mentions.detect(docsStream, bc).toDF()

    val writer = side.link(mentions)
      .writeStream.outputMode("append")
      .format("parquet").option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
    val q = (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
    // bc.destroy (not just unpersist) releases the broadcast blocks on driver
    // AND executors — repeated checkpointed runs in one session would
    // otherwise accumulate them; the thunk contract is "call after stop()"
    (q, () => { side.release(); sliceDocs.unpersist(); bc.destroy() })
  }
}
