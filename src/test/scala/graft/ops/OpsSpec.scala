package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns

/** Training-data operator tests: custom expression semantics (interpreted ==
  * codegen), streaming == batch, LSH recall sanity, dedup invariants.
  */
class OpsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("CosineSimilarity: interpreted and codegen paths agree with plain Scala") {
    import spark.implicits._
    val rows = Seq(
      (Array(1f, 2f, 3f), Array(3f, 2f, 1f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f)), // zero norm -> 0.0
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(-1f, 2f, -3f, 4f), Array(4f, -3f, 2f, -1f)))
    val df = rows.toDF("a", "b")
    def expected(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    // codegen path (wholestage on by default)
    val got = df.select(Fns.cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    // interpreted path
    val gotInterp = spark.conf.let("spark.sql.codegen.wholeStage", "false") {
      df.select(Fns.cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    }
    rows.zip(got).zip(gotInterp).foreach { case (((a, b), g), gi) =>
      assert(math.abs(g - expected(a, b)) < 1e-12)
      assert(g == gi, "codegen vs interpreted mismatch")
    }
  }

  implicit private class ConfLet(conf: org.apache.spark.sql.RuntimeConfig) {
    def let[T](key: String, value: String)(body: => T): T = {
      val old = conf.getOption(key)
      conf.set(key, value)
      try body finally old match {
        case Some(v) => conf.set(key, v)
        case None    => conf.unset(key)
      }
    }
  }

  test("streaming windowed aggregation equals the batch equivalent") {
    // batch keeps NTZ, stream casts to LTZ (UTC session) — normalize via
    // date_format so both compare as wall-clock strings
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = norm(Streaming.batch(spark, sfDir))
    val streamed = norm(Streaming.streamed(spark, sfDir))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("adaptive state partitions leave the caller's session conf unchanged") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val sized = spark.range(3).toDF()
    val parts = graft.core.SparkUtil.adaptiveParts(sized).toString
    assert(parts != before, "precondition: the adaptive count differs from the session's")
    val (callerInside, stateInside) = Streaming.withAdaptiveStateParts(spark, sized) { state =>
      (spark.conf.get(key), state.conf.get(key))
    }
    assert(callerInside == before)
    assert(stateInside == parts)
    assert(spark.conf.get(key) == before)
  }

  test("flatMapGroupsWithState sessionization == batch sessions") {
    // a session is emitted either when a later event closes it in-batch, or
    // when the event-time timeout fires once the final watermark
    // (max event time − 10 min) passes session_end + gap. Sessions still
    // inside that horizon stay open in state — exclude exactly those.
    def key(userId: Long, start: String, end: String, n: Long, sum: Double) =
      (userId, start, end, n, math.rint(sum * 1e6) / 1e6)
    val batchDf = Streaming.sessions(spark, sfDir)
    val batchRows = batchDf
      .withColumn("s", date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("e", date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("end_sec", unix_timestamp(col("session_end")))
      .selectExpr("user_id", "session_idx", "s", "e", "n_events", "sum_value", "end_sec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))
    val lastIdx = batchRows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    val maxTsSec = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("max(unix_timestamp(cast(ts as timestamp)))").head().getLong(0)
    val watermarkSec = maxTsSec - 600
    val expected = batchRows.filter { case (u, i, _, _, _, _, endSec) =>
      lastIdx(u) != i || endSec + Streaming.SessionGapSec < watermarkSec
    }.map { case (u, _, s, e, n, v, _) => key(u, s, e, n, v) }.toSet
    val streamRows = Streaming.sessionsStream(spark, sfDir)
      .withColumn("s", date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("e", date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss"))
      .selectExpr("user_id", "s", "e", "n_events", "sum_value")
      .collect()
      .map(r => key(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamRows == expected)
    assert(streamRows.nonEmpty, "corpus must contain emitted sessions")
  }

  test("session handler clamps event-time timeouts behind the watermark (late groups)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val wmMs = 10000000L // watermark at 10,000 s
    val state = TestGroupState.create[Streaming.SessionState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout(), 0L,
      Optional.of(wmMs), hasTimedOut = false)
    // a LATE event: desired timeout (1000 + 1800) s < watermark — unclamped,
    // setTimeoutTimestamp throws and fails the whole streaming query
    val ev = Streaming.SessionEvent(1L, new java.sql.Timestamp(1000 * 1000L), 1.0)
    val out = Streaming.SessionHandler(1L, Iterator(ev), state)
    assert(out.isEmpty, "late session stays open in state")
    assert(state.getTimeoutTimestampMs.get() == wmMs + 1, "timeout clamped past watermark")
    // and an on-time group keeps its natural gap timeout
    val state2 = TestGroupState.create[Streaming.SessionState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout(), 0L,
      Optional.of(1000L), hasTimedOut = false)
    val ev2 = Streaming.SessionEvent(2L, new java.sql.Timestamp(50000 * 1000L), 1.0)
    Streaming.SessionHandler(2L, Iterator(ev2), state2)
    assert(state2.getTimeoutTimestampMs.get() == (50000 + Streaming.SessionGapSec) * 1000)
  }

  test("ANN-LSH results are a subset of brute-force scores with decent recall@10") {
    val exact = Similarity.cosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    val recall = (ann intersect exact).size.toDouble / exact.size
    // LSH is approximate; on 500 random-ish vectors expect modest recall
    assert(recall > 0.05, s"recall@10 = $recall suspiciously low")
  }

  test("IVF ANN: cluster partition covers the corpus; probes recover exact neighbors") {
    val exact = Similarity.cosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = ivf.intersect(exact).size.toDouble / exact.size
    info(f"IVF recall@10 = $hit%.3f")
    assert(hit > 0.2, s"IVF recall vs exact top-10 = $hit")
    // the real recall gate runs on the 500-vector corpus (sf0.01), where the
    // measured k-means ceiling is ~0.85 for probes=10 × rep=2
    val sf01 = "/root/testdata/sf0.01"
    val exact01 = Similarity.cosineTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf01 = Similarity.annIvf(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec01 = ivf01.intersect(exact01).size.toDouble / exact01.size
    info(f"IVF recall@10 (sf0.01) = $rec01%.3f")
    assert(rec01 >= 0.8, s"IVF recall@10 at sf0.01 = $rec01 (need >= 0.8)")
    // every vector lands in exactly one cluster (the inverted-list partition)
    val e = Similarity.embDf(spark, sfDir)
    assert(Similarity.annIvf(spark, sfDir).select("query_id").distinct().count() ==
      e.where(col("vec_id") % Similarity.QueryMod === 0).count())
  }

  test("IVF on-disk index: partition-pruned probes reproduce annIvf exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_index").toString
    Similarity.buildIvfIndex(spark, sfDir, dir)
    // layout: one directory per cluster id (the inverted-list partition)
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("cluster="))
    assert(parts.nonEmpty && parts.length <= Similarity.IvfClusters)
    val indexed = Similarity.annIvfIndexed(spark, sfDir, dir)
    // the probe filter reaches the scan as a PARTITION filter, not a data filter
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"cluster probe filter not pushed to partition pruning:\n${plan.take(800)}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(indexed) == rows(Similarity.annIvf(spark, sfDir)),
      "indexed query path must be row-identical to the in-memory join path")
  }

  test("IVF index staleness guard: no rebuild when unchanged, rebuild on corpus change") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // private corpus copy so the "in-place regeneration" can be simulated
    // without touching the shared testdata
    val tmpSf = Files.createTempDirectory("graft_ivf_sf")
    val src = Paths.get(s"$sfDir/embeddings.parquet")
    val dst = tmpSf.resolve("embeddings.parquet")
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).forEach(p =>
        Files.copy(p, dst.resolve(p.getFileName.toString), StandardCopyOption.COPY_ATTRIBUTES))
    } else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    val idx = Files.createTempDirectory("graft_ivf_guard").toString
    try {
      Similarity.ensureIvfIndex(spark, tmpSf.toString, idx)
      val marker = Paths.get(idx, "_CORPUS_SIG")
      assert(Files.exists(marker))
      val sig1 = Files.readString(marker)
      val t1 = Files.getLastModifiedTime(marker)
      Similarity.ensureIvfIndex(spark, tmpSf.toString, idx)
      assert(Files.getLastModifiedTime(marker) == t1, "unchanged corpus must not rebuild")
      // in-place regeneration = same path, new file mtime
      val dataFile =
        if (Files.isDirectory(dst))
          Files.list(dst).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        else dst
      Files.setLastModifiedTime(dataFile, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(dataFile).toMillis + 5000))
      Similarity.ensureIvfIndex(spark, tmpSf.toString, idx)
      assert(Files.readString(marker) != sig1, "regenerated corpus must rebuild the index")
    } finally {
      // the centroids land in the stage dir named after the temp corpus
      Seq(graft.sources.ReaderStage.stageDir(tmpSf.toString), tmpSf, Paths.get(idx))
        .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }
  }

  test("loop centroid scoring (scan path) == literal-expression scoring, ordered") {
    import spark.implicits._
    val cents = Similarity.kmeansCentroids(spark, sfDir)
    val viaExpr = Similarity.embDf(spark, sfDir)
      .withColumn("scores", Similarity.centroidScores(col("embedding"), cents))
      .select(col("vec_id"),
        expr(s"transform(slice(reverse(array_sort(scores)), 1, ${Similarity.IvfAssignRep}), a -> a.k)")
          .as("ks"))
      .as[(Long, Seq[Int])].collect().toMap
    val centsArr = cents.toArray
    val viaLoop = Similarity.embDf(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, emb) =>
        id -> Similarity.topClustersLoop(emb, centsArr, Similarity.IvfAssignRep).toSeq
      }.toMap
    assert(viaLoop.nonEmpty && viaLoop.keySet == viaExpr.keySet)
    viaLoop.foreach { case (id, ks) =>
      assert(ks == viaExpr(id), s"vec $id: loop $ks vs expr ${viaExpr(id)}")
    }
  }

  test("exact dedup groups cover all docs; jaccard pairs are symmetric-free and thresholded") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val groups = Dedup.exact(spark, sfDir)
    assert(groups.agg(sum(col("n_docs"))).head().getLong(0) == docs)
    val j = Dedup.ngramJaccard(spark, sfDir).collect()
    j.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered doc_a < doc_b")
      assert(r.getDouble(2) >= Dedup.JaccardThreshold)
    }
  }

  test("simhash pairs respect the hamming bound; minhash LSH finds jaccard-similar docs") {
    val sp = Dedup.simhashPairs(spark, sfDir).collect()
    sp.foreach(r => assert(r.getAs[Number](2).longValue <= Dedup.SimhashMaxHamming))
    val mh = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-jaccard pairs should mostly surface as LSH candidates
    if (jac.nonEmpty) {
      val hit = (jac intersect mh).size.toDouble / jac.size
      assert(hit > 0.3, s"minhash-LSH recall vs jaccard pairs = $hit")
    }
  }

  test("media feature extraction is deterministic with the documented stub shape") {
    val a = Multimodal.mediaFeatures(spark, sfDir, Multimodal.StubDecoder).collect()
    val b = Multimodal.mediaFeatures(spark, sfDir, Multimodal.StubDecoder).collect()
    assert(a.length == b.length && a.nonEmpty)
    val fa = a.map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    val fb = b.map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    assert(fa == fb)
    a.take(20).foreach { r =>
      assert(r.getInt(2) >= 64 && r.getInt(2) < 64 + 1024) // width
      assert(r.getSeq[Float](5).length == 8)
    }
  }

  test("MinHashAgg: one-pass typed signature is deterministic and partition-invariant") {
    val a = Dedup.minhash64(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(a.nonEmpty && a.values.forall(_.length == 2 * Dedup.MinhashBands))
    // merge path: different partitioning must produce identical signatures
    import spark.implicits._
    val sh = Dedup.shingles(spark, sfDir)
      .select(col("doc_id").cast("long"), xxhash64(col("shingle")))
      .as[(Long, Long)].repartition(13)
    val b = sh.groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.MinHashAgg(2 * Dedup.MinhashBands).toColumn.name("sig"))
      .collect().map { case (id, sig) => id -> sig.toVector }.toMap
    assert(a == b)
    // identical shingle sets (equal texts) → identical signatures
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("cast(doc_id as long) doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byText = docs.groupBy(_._2).values.filter(_.length > 1)
    byText.take(5).foreach { group =>
      val sigs = group.flatMap(d => a.get(d._1)).distinct
      assert(sigs.length <= 1, "equal texts must share a signature")
    }
  }

  test("ImageIO PNG codec round-trips: decode reproduces pre-encode pixels") {
    val img = Multimodal.ImageCodec.genImage("m://spec-test")
    val expected = (img.getWidth, img.getHeight, Multimodal.ImageCodec.pixelMd5(img))
    val d = Multimodal.ImageCodec.decodePng(Multimodal.ImageCodec.pngBytes(img))
    assert((d.width, d.height, d.pixel_md5) == expected)
    // a truncated payload must fail loudly, not hash-mismatch silently
    val bad = Multimodal.ImageCodec.pngBytes(img).take(20)
    intercept[Exception](Multimodal.ImageCodec.decodePng(bad))
  }

  test("distributed PNG decode matches the staged pre-encode expectations") {
    val stage = graft.kg.KgStage.stage(spark, sfDir)
    val table = s"$stage/media_png.parquet"
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val got = keyed(Multimodal.decodePng(spark, table))
    val want = keyed(spark.read.parquet(table)
      .select(col("media_ref"), col("width"), col("height"), col("pixel_md5")))
    assert(got.nonEmpty && got == want)
    // the decode scan must read only (media_ref, png) — expectation columns
    // pruned, so the equality above cannot be a pass-through
    val plan = Multimodal.decodePng(spark, table)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<media_ref:string,png:binary>"),
      s"decode path must scan only (media_ref, png):\n${plan.take(1200)}")
    // ImageIoDecoder swaps into the MediaDecoder seam over real payloads
    import spark.implicits._
    val rows = spark.read.parquet(table).limit(5)
      .select(col("media_ref"), col("png"), col("width"), col("height")).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3)))
    rows.foreach { case (_, png, w, h) =>
      val (dw, dh, nf, feat) = Multimodal.ImageIoDecoder.decode(png)
      assert((dw, dh, nf) == ((w, h, 1)) && feat.length == 8)
    }
  }

  test("media decoder boundary is a type: a custom decoder swaps in") {
    object FixedDecoder extends Multimodal.MediaDecoder {
      def decode(p: Array[Byte]): (Int, Int, Int, Array[Float]) =
        (2, 3, 4, Array.fill(8)(0.5f))
    }
    val rows = Multimodal.mediaFeatures(spark, sfDir, FixedDecoder)
      .select("width", "height", "n_frames").distinct().collect()
    assert(rows.length == 1)
    assert((rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2)) == ((2, 3, 4)))
  }

  test("fitBox fits the max-side box preserving aspect ratio; resample is exact on floors") {
    for (w <- 1 to 40; h <- 1 to 40) {
      val (ow, oh, scale) = Multimodal.ImageCodec.fitBox(w, h, 8)
      assert(ow <= 8 && oh <= 8 && ow >= 1 && oh >= 1, s"fits box: $w x $h -> $ow x $oh")
      if (w <= 8 && h <= 8) assert((ow, oh, scale) == ((w, h, 1.0)), "no upscale")
      else assert(math.max(ow, oh) == 8, s"long side fills the box: $w x $h -> $ow x $oh")
      // aspect preserved within rounding — unless a side CLAMPED to 1 (an
      // extreme ratio like 1x17 rounds its short side to 0; the max(1, _)
      // floor then distorts aspect by design)
      val s = math.min(1.0, 8.0 / math.max(w, h))
      val clamped = math.round(w * s) < 1 || math.round(h * s) < 1
      if (!clamped) {
        val aspect = w.toDouble / h
        assert(math.abs(ow.toDouble / oh - aspect) <= aspect / math.min(ow, oh) + 1e-9,
          s"$w x $h -> $ow x $oh")
      }
    }
    // nearest-neighbor floor semantics: 2x downscale of a 4x4 picks pixels
    // at even coordinates
    val img = Multimodal.ImageCodec.render(42L, 4, 4)
    val out = Multimodal.ImageCodec.resampleNearest(img, 2, 2)
    for (y <- 0 until 2; x <- 0 until 2)
      assert(out.getRGB(x, y) == img.getRGB(2 * x, 2 * y))
  }

  test("TIFF sequence codec round-trips frame count and per-frame pixels") {
    val ref = "m://spec-video"
    val frames = Multimodal.FrameCodec.genFrames(ref)
    assert(frames.length == Multimodal.FrameCodec.frameCount(ref) && frames.length >= 2)
    val back = Multimodal.FrameCodec.readFrames(Multimodal.FrameCodec.tiffBytes(frames))
    assert(back.length == frames.length, "frame count survives the container")
    frames.zip(back).foreach { case (a, b) =>
      assert(Multimodal.ImageCodec.pixelMd5(a) == Multimodal.ImageCodec.pixelMd5(b),
        "lossless per-frame round-trip")
    }
    // a truncated payload must fail loudly, not hash-mismatch silently
    intercept[Exception](
      Multimodal.FrameCodec.readFrames(Multimodal.FrameCodec.tiffBytes(frames).take(16)))
  }

  test("real resize over staged PNGs matches pre-encode expectations") {
    val stage = graft.kg.KgStage.stage(spark, sfDir)
    val got = Multimodal.resizePng(spark, sfDir, s"$stage/media_png.parquet").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getDouble(6), r.getString(7))).toSet
    assert(got.nonEmpty)
    val spans = spark.read.parquet(s"$stage/docs_spans.parquet")
      .where(col("kind") === "media").select("doc_id", "media_ref").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = spark.read.parquet(s"$stage/media_resize.parquet").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getDouble(5), r.getString(6))).toMap
    val expected = spans.map { case (doc, ref) =>
      val e = want(ref)
      (doc, ref, e._1, e._2, e._3, e._4, e._5, e._6)
    }.toSet
    assert(got == expected, "distributed decode+resample must equal staged pre-encode")
  }

  test("real frame sampling emits every stride-th frame with real pixel digests") {
    val stage = graft.kg.KgStage.stage(spark, sfDir)
    val stride = 4
    val rows = Multimodal
      .sampleTiffFrames(spark, sfDir, s"$stage/media_tiff.parquet", stride).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
    assert(rows.nonEmpty)
    val wantMd5 = spark.read.parquet(s"$stage/media_frames.parquet").collect()
      .map(r => (r.getString(0), r.getInt(2)) -> r.getString(3)).toMap
    rows.groupBy(_._1).foreach { case (ref, rs) =>
      val n = rs.head._2
      val want = (0 until n by stride).toList
      assert(rs.map(_._3).distinct.sorted.toList == want, s"frames of $ref")
      rs.foreach { case (_, _, idx, fref, md5) =>
        assert(fref == s"$ref#f$idx")
        assert(md5 == wantMd5((ref, idx)), s"decoded frame digest of $ref#$idx")
      }
    }
    // features ride the same real container: frame count + frame-0 pixels
    val feats = Multimodal.tiffFeatures(spark, sfDir, s"$stage/media_tiff.parquet")
      .select("media_ref", "n_frames").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val stagedN = spark.read.parquet(s"$stage/media_tiff.parquet")
      .select("media_ref", "n_frames").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(feats == stagedN, "decoded frame counts must equal staged pre-encode counts")
  }

  test("repetition signals match a plain-Scala n-gram recount on real docs") {
    val spark0 = spark
    val docs = spark0.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def recount(text: String): (Long, Double, Long, Double) = {
      val toks = text.split("\\s+")
      def grams(k: Int) = toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      val g2 = grams(2).groupBy(identity).view.mapValues(_.size).toMap
      val g3 = grams(3).groupBy(identity).view.mapValues(_.size).toMap
      val n2 = g2.values.sum.toLong
      val n3 = g3.values.sum.toLong
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (n2, if (n2 == 0) 0.0 else r6(g2.values.max.toDouble / n2),
        n3, if (n3 == 0) 0.0 else r6(g3.values.filter(_ >= 2).sum.toDouble / n3))
    }
    val got = TextOps.repetition(spark0, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, row) =>
      val (n2, top2, n3, dup3) = recount(docs(id))
      assert(row == ((n2, top2, n3, dup3)), s"doc $id")
    }
  }

  test("window dedup: global doc-frequency recount agrees; windows tile at the stride") {
    val spark0 = spark
    val docs = spark0.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def windows(text: String): Seq[String] = {
      val toks = text.split("\\s+")
      (0 to toks.length - TextOps.WinLen by TextOps.WinStride)
        .map(i => toks.slice(i, i + TextOps.WinLen).mkString(" "))
    }
    val docFreq = docs.toSeq.flatMap { case (id, t) => windows(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val got = TextOps.windowDedup(spark0, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, (nw, nd, frac)) =>
      val ws = windows(docs(id))
      val dup = ws.count(w => docFreq(w) >= 2).toLong
      val expFrac = if (ws.isEmpty) 0.0
        else BigDecimal(dup.toDouble / ws.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((nw, nd, frac) == ((ws.size.toLong, dup, expFrac)), s"doc $id")
    }
  }

  test("PII scrub: regex redaction reproduces the positional expectation exactly") {
    import spark.implicits._
    // doc ids chosen to hit every injection combination: 60 = all three,
    // 3 = email only, 4 = phone only, 5 = ip only, 12 = email+phone,
    // 15 = email+ip, 20 = phone+ip, 1 = clean
    val ids = Seq(60L, 3L, 4L, 5L, 12L, 15L, 20L, 1L)
    val base = ids.map(id => (id, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    def expected(id: Long): (Int, Int, Int, String) = {
      val text = "alpha beta gamma delta epsilon"
      val mid = text.length / 2
      val e = if (id % 3 == 0) 1 else 0
      val p = if (id % 4 == 0) 1 else 0
      val i = if (id % 5 == 0) 1 else 0
      val red = (if (e == 1) "<EMAIL> " else "") + text.substring(0, mid) +
        (if (p == 1) " <PHONE> " else "") + text.substring(mid) +
        (if (i == 1) " <IP>" else "")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(red.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (e, p, i, md5)
    }
    val got = TextOps.piiScrub(TextOps.injectPii(base)).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    ids.foreach { id =>
      val (e, p, i, md5) = expected(id)
      assert(got(id) == ((e, p, i, md5)), s"doc $id")
    }
    // the scrubber is idempotent: placeholders contain nothing re-matchable
    val twice = TextOps.piiScrub(
      TextOps.injectPii(base).select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          TextOps.EmailRe, "<EMAIL>"), TextOps.IpRe, "<IP>"),
          TextOps.PhoneRe, "<PHONE>").as("text"))).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(twice.forall(_ == ((0, 0, 0))), "no PII survives a scrub")
  }

  test("dedup clusters: labels == driver union-find over the LSH pairs; keeper is cluster min") {
    val pairs = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "no LSH pairs at this sf")
    // dependency-free union-find on longs (numeric min labels — the op's
    // zero-padded-string CC must agree with plain numeric semantics)
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); parent(x) = r; r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val lab = nodes.map(n => n -> find(n)).toMap
    // plain min-reduce: find() may stop at a stale root mid-sequence, so
    // normalize by one more pass
    val norm = lab.map { case (n, l) => n -> find(l) }
    val sz = norm.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = Dedup.clusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == norm.keySet)
    norm.foreach { case (n, l) =>
      assert(got(n) == ((l, sz(l), n == l)), s"doc $n")
    }
  }

  test("emb quantize: int8 codes and reconstruction stats match exact double recount") {
    def rhu(x: Double, dp: Int) = // round-half-away-from-zero, Spark's round()
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assume(rows.nonEmpty)
    val expect = rows.map { case (id, v) =>
      val s = v.map(x => math.abs(x.toDouble)).max / 127
      val q = v.map(x => rhu(x.toDouble / s, 0))
      val err = v.zip(q).map { case (x, qq) => math.abs(x.toDouble - qq * s) }.max
      id -> ((rhu(s, 8), q.map(_.toLong).sum, q.min.toInt, q.max.toInt, rhu(err, 8)))
    }.toMap
    val got = Similarity.quantize(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(got == expect)
    // codes actually span the int8 range on real data (scale chosen for it)
    assert(got.values.exists(t => t._4 == 127 || t._3 == -127))
  }

  test("stratified sample: keep rule is a pure function of (doc_id, lang); rates land near target") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    def hex1(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1)
      .map("%02x".format(_)).mkString.take(1)
    val expect = docs.filter { case (id, lang) =>
      hex1(id) < TextOps.SampleBound.getOrElse(lang, TextOps.SampleBoundDefault)
    }.map { case (id, lang) => id -> ((lang, hex1(id))) }.toMap
    val got = TextOps.sampleStratified(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got == expect)
    // per-stratum realized rate within a loose binomial band of the target
    val byLang = docs.groupBy(_._2)
    TextOps.SampleBound.foreach { case (lang, b) =>
      val n = byLang.get(lang).map(_.length).getOrElse(0)
      if (n >= 50) {
        val kept = got.count(_._2._1 == lang).toDouble / n
        val target = Integer.parseInt(b, 16) / 16.0
        assert(math.abs(kept - target) < 0.15, s"$lang: $kept vs $target")
      }
    }
    // determinism across repartitioning
    val again = TextOps.sampleStratified(spark, sfDir).repartition(7).collect()
      .map(r => r.getLong(0)).toSet
    assert(again == got.keySet)
  }

  test("streaming exact dedup == batch dedup (arrival-order-independent aggregation)") {
    Streaming.ensureStreamSrc(spark, sfDir)
    val stream = Streaming.dedupExactStream(spark, sfDir, name = "dedup_stream_spec").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = Dedup.exact(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("tfidf: top-k per doc matches a plain-Scala recount with the rounded-key ordering") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap
    val n = docs.size.toDouble
    val df = docs.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = docs.flatMap { case (id, toks) =>
      val tf = toks.groupBy(identity).view.mapValues(_.size).toMap
      tf.toSeq.map { case (t, c) => (t, c, r6(c * math.log(n / df(t)))) }
        .sortBy { case (t, _, s) => (-s, t) }
        .take(TextOps.TfidfTopK).zipWithIndex
        .map { case ((t, c, s), i) => (id, i + 1) -> ((t, c.toLong, r4(s))) }
    }
    val got = TextOps.tfidf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == expect)
  }

  test("decontam: gram-overlap counts match a plain-Scala set intersection; eval docs excluded") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap
    def grams(toks: Seq[String]): Set[String] =
      if (toks.length < TextOps.DecontamGram) Set.empty
      else toks.sliding(TextOps.DecontamGram).map(_.mkString(" ")).toSet
    val evalGrams = docs.collect {
      case (id, t) if id % TextOps.DecontamEvery == 0 => grams(t)
    }.foldLeft(Set.empty[String])(_ ++ _)
    val got = TextOps.decontam(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val trainIds = docs.keySet.filter(_ % TextOps.DecontamEvery != 0)
    assert(got.keySet == trainIds, "exactly the training split is emitted")
    got.foreach { case (id, (nGrams, nHits, flag)) =>
      val g = grams(docs(id))
      assert(nGrams == g.size, s"doc $id n_grams")
      assert(nHits == (g & evalGrams).size, s"doc $id n_contam_grams")
      assert(flag == (if (nHits > 0) 1 else 0), s"doc $id flag")
    }
  }

  test("langTemp: temperature weights match a plain-Scala recount; low-resource langs upweighted") {
    val langs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang").collect().map(_.getString(0))
    val n = langs.length.toDouble
    val counts = langs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z = counts.values.map(c => math.pow(c / n, TextOps.TempAlpha)).sum
    val got = TextOps.langTemp(spark, sfDir).collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4), row.getDouble(5))))
      .toMap
    assert(got.keySet == counts.keySet)
    counts.foreach { case (lang, c) =>
      val p6 = r(c / n, 6)
      val q6 = r(math.pow(c / n, TextOps.TempAlpha) / z, 6)
      assert(got(lang) == ((c, p6, q6, r(q6 / p6, 6), r(q6 * n, 2))), s"lang $lang")
    }
    // α<1 flattens: the most-frequent language must be downweighted, the
    // least-frequent upweighted
    val maxLang = counts.maxBy(_._2)._1
    val minLang = counts.minBy(_._2)._1
    assert(got(maxLang)._4 < 1.0 && got(minLang)._4 > 1.0)
  }

  test("pixel dedup: byte-different encodings collapse; cross-asset copies group; recount agrees") {
    val stage = graft.kg.KgStage.stage(spark, sfDir)
    val payloads = spark.read.parquet(s"$stage/media_variants.parquet").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]]("payload")).toMap
    val refs = payloads.keySet.map(_._1)
    refs.foreach { ref =>
      assert(!java.util.Arrays.equals(payloads((ref, "png")), payloads((ref, "tiff"))),
        s"$ref: the two lossless containers must be byte-different")
    }
    val got = Multimodal.dedupPixels(spark, s"$stage/media_variants.parquet").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(got.keySet == payloads.keySet)
    // the decoded digests must equal the stage-time PRE-ENCODE digests, and
    // the group stats must match a plain-Scala recount over them
    val want = spark.read.parquet(s"$stage/media_dedup.parquet").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val byMd5 = want.toSeq.groupBy(_._2)
    got.foreach { case (key, (md5, nCopies, nAssets, isKeeper)) =>
      assert(md5 == want(key), s"$key decoded digest")
      val members = byMd5(md5).map(_._1)
      assert(nCopies == members.size.toLong, s"$key n_copies")
      assert(nAssets == members.map(_._1).distinct.size.toLong, s"$key n_assets")
      val keeper = members.map(m => s"${m._1}#${m._2}").min
      assert(isKeeper == (if (s"${key._1}#${key._2}" == keeper) 1 else 0), s"$key keeper")
    }
    // both variants of one asset always share a group (lossless round-trip)
    refs.foreach { ref =>
      assert(got((ref, "png"))._1 == got((ref, "tiff"))._1, s"$ref variants must collapse")
    }
    // the canonical-image classes create TRUE cross-asset duplicates
    assert(got.values.exists(_._3 >= 2), "expected at least one cross-asset duplicate group")
  }

  test("interleave budget: media expand to patch tokens; recount via the shared assembler agrees") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = docs.map { case (id, text) =>
      val spans = graft.kg.DocGen.assemble(graft.kg.DocGen.docIdOf(id), text).spans
      val nText = spans.count(_.kind == "text")
      val nMedia = spans.count(_.kind == "media")
      val seq = nText + Multimodal.ImgTokens * nMedia
      graft.kg.DocGen.docIdOf(id) ->
        ((nText, nMedia, seq, math.ceil(seq.toDouble / Multimodal.InterleaveWindow).toInt))
    }.toMap
    val got = Multimodal.interleaveBudget(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got == expect)
    // the corpus actually exercises the expansion: some doc holds media
    assert(got.values.exists(_._2 > 0))
  }

  test("doc_pack: bins match a plain-Scala next-fit fold; no window overflows") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").length).toMap
    val expect = docs.toSeq.sortBy(_._1).groupBy(_._1 / TextOps.PackGroup).flatMap {
      case (_, group) =>
        var bin = -1
        var fill = TextOps.PackCap
        group.sortBy(_._1).map { case (id, ntok) =>
          if (fill + ntok > TextOps.PackCap) { bin += 1; fill = ntok }
          else fill += ntok
          id -> bin
        }
    }
    val rows = TextOps.pack(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val got = rows.map(t => t._1 -> t._4).toMap
    assert(got == expect)
    // every emitted window's total tokens fits the capacity (unless a
    // single doc alone exceeds it, which this corpus never does)
    rows.groupBy(t => (t._2, t._4)).foreach { case ((grp, bin), members) =>
      assert(members.map(_._3).sum <= TextOps.PackCap, s"grp $grp bin $bin overflows")
    }
  }
}
