package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tok
import graft.kg.{Mentions, ModelStore}

/** Readers (S1-S7, S9) vs sequential ports of the reference's generator
  * loops (`utils/data.py`) over the SAME staged fixtures — plus ModelStore
  * (S11) round-trip.
  */
class ReadersSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("readers-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val stageDir = ReaderStage.stage(spark, sfDir).toString
  private lazy val baseDocs = ReaderStage.baseDocs(spark, sfDir)

  test("sanitize keeps exactly Python string.printable (incl. vertical tab \\x0b)") {
    // `string.printable` = digits+letters+punct+' \t\n\r\x0b\x0c' (utils/data.py:29);
    // \x0b is easy to lose because it renders invisibly - probe it explicitly
    val kept = " \t\n\r\u000b\f"
    kept.foreach(c => assert(ReaderStage.sanitize(c.toString) == c.toString,
      s"printable whitespace 0x${c.toInt.toHexString} must survive sanitize"))
    Seq('\u0000', '\u0001', '\u001f', '\u007f', '\u00e9', '\u2028').foreach(c =>
      assert(ReaderStage.sanitize(c.toString) == "\u00a4",
        s"non-printable 0x${c.toInt.toHexString} must map to the UNK char"))
    assert(ReaderStage.sanitize("a\u000bb") == "a\u000bb")
    // the NonPrintable regex and sanitize agree on the kept set
    assert("a\u0001b\u000bc".replaceAll(ReaderStage.NonPrintable, "\u00a4") ==
      ReaderStage.sanitize("a\u0001b\u000bc"))
  }

  test("staging is deterministic and idempotent") {
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(stageDir, "rasa.json"))
    ReaderStage.stage(spark, sfDir)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(stageDir, "rasa.json"))
    assert(java.util.Arrays.equals(a, b))
  }

  test("a fresh stage check starts no Spark job") {
    graft.kg.KgStage.stage(spark, sfDir)
    ReaderStage.stage(spark, sfDir)
    val (_, jobs) = graft.JobCount.during(spark.sparkContext) {
      graft.kg.KgStage.stage(spark, sfDir)
      ReaderStage.stage(spark, sfDir)
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
  }

  test("a corpus rewritten in place restages") {
    import java.nio.file.{Files, StandardCopyOption}
    val tmpSf = Files.createTempDirectory("graft_restage_sf")
    val corpus = tmpSf.resolve("documents.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/documents.parquet"), corpus)
    val marker = ReaderStage.stage(spark, tmpSf.toString).resolve("_STAGED")
    try {
      val before = Files.readString(marker)
      // the same path, now holding the first 5 docs
      val small = Files.createTempDirectory("graft_restage_small").resolve("docs")
      spark.read.parquet(s"$sfDir/documents.parquet").orderBy("doc_id").limit(5)
        .coalesce(1).write.parquet(small.toString)
      val part = Files.list(small).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, corpus, StandardCopyOption.REPLACE_EXISTING)
      ReaderStage.stage(spark, tmpSf.toString)
      val want = graft.core.Derived.contentSig(ReaderStage.StageVersion,
        ReaderStage.baseDocs(spark, tmpSf.toString))
      assert(want != before)
      assert(Files.readString(marker) == want)
    } finally {
      val s = Files.walk(marker.getParent)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  // ------------------------------------------------------------------- S1

  test("rasa reader recovers exactly the staged examples (S1)") {
    val got = Readers.rasa(spark, s"$stageDir/rasa.json")
      .collect()
      .map(r => (r.getString(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getString(1), e.getInt(2), e.getInt(3))).toList))
      .toMap
    val want = baseDocs.map { case (_, raw) =>
      val text = ReaderStage.sanitize(raw)
      text -> ReaderStage.entities(text).map(e => (e.kind, e.value, e.start, e.end)).toList
    }.toMap
    assert(got.size == want.size)
    want.foreach { case (text, ents) =>
      assert(got(text) == ents, s"entities of <$text>")
      // reference invariant: value == text[start:end] (utils/data.py:34)
      ents.foreach { case (_, v, s, e) => assert(text.substring(s, e) == v) }
    }
  }

  // ------------------------------------------------------------------- S2

  test("jsonl reader sanitizes non-printables and re-slices values (S2)") {
    val got = Readers.jsonl(spark, s"$stageDir/docs.jsonl")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(e => (e.getString(0), e.getString(1), e.getInt(2), e.getInt(3))).toList)
      .toMap
    var sawUnk = false
    baseDocs.foreach { case (id, raw) =>
      val clean = ReaderStage.sanitize(ReaderStage.injectUnprintable(id, raw))
      sawUnk ||= clean.contains('¤')
      val want = ReaderStage.entities(clean).map(e => (e.kind, clean.substring(e.start, e.end), e.start, e.end)).toList
      assert(got(id) == want, s"doc $id")
    }
    assert(sawUnk, "fixture must actually exercise the sanitize path")
  }

  test("jsonl drop filter and limit (S2/P7)") {
    val all = Readers.jsonl(spark, s"$stageDir/docs.jsonl").collect()
    val dropped = Readers.jsonl(spark, s"$stageDir/docs.jsonl", dropEntities = Seq("DNA", "RNA"))
      .collect()
      .flatMap(_.getSeq[org.apache.spark.sql.Row](2)).map(_.getString(0))
    assert(!dropped.contains("DNA") && !dropped.contains("RNA"))
    assert(all.flatMap(_.getSeq[org.apache.spark.sql.Row](2)).map(_.getString(0)).contains("DNA"))
    assert(Readers.jsonl(spark, s"$stageDir/docs.jsonl", limit = 7).count() == 7)
  }

  // ------------------------------------------------------------------- S3

  /** Sequential port of `wikipedia_article_data_reader` (utils/data.py:45-95),
    * including its yield-all-entities behavior.
    */
  private def goldWiki(): Seq[(Long, Int, String, Int)] = {
    val json = ReaderStage.wikiJsonl(baseDocs)
    json.split('\n').filter(_.nonEmpty).flatMap { line =>
      // staged lines are flat json we produced ourselves — parse positionally
      val id = line.split("\"id\":")(1).takeWhile(_ != ',').toLong
      val group = baseDocs.slice((id * ReaderStage.ArticleDocs).toInt,
        (id * ReaderStage.ArticleDocs).toInt + ReaderStage.ArticleDocs)
      val parts = group.map { case (_, raw) => ReaderStage.sanitize(raw) }
      val text = parts.mkString(" . ")
      var off = 0
      val sents = parts.map { p => val s = (off, off + p.length); off += p.length + 3; s }
      val ents = parts.zip(sents).flatMap { case (p, (s0, _)) =>
        ReaderStage.entities(p).map(e => (e.start + s0, e.end + s0))
      }
      val starts = sents.map(_._1)
      // bisect_right(starts, e.start) - 1
      val assign = ents.groupBy(e => starts.lastIndexWhere(_ <= e._1))
      sents.zipWithIndex.collect {
        case ((s0, s1), i) if assign.getOrElse(i, Nil).nonEmpty =>
          (id, i, text.substring(s0, s1), ents.length)
      }
    }.toSeq
  }

  test("wikipedia reader: bisect sentence assignment + all-entities yield (S3)") {
    val got = Readers.wikipedia(spark, s"$stageDir/wiki.jsonl")
      .selectExpr("article_id", "sidx", "sentence_text", "n_entities")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    val want = goldWiki().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  // ------------------------------------------------------------------- S4

  test("parseWrg ports the 4-line record format exactly (S4)") {
    val content = "alpha beta gamma\nX X X\n0,1 PER|2,2 LOC\n\nsolo\nX\n\n\n"
    val recs = Readers.parseWrg(content)
    assert(recs.length == 2)
    val (t1, e1) = recs(0)
    assert(t1 == "alpha beta gamma")
    assert(e1.toList == List(
      Readers.WrgEntity("PER", "alpha beta", 0, 10),
      Readers.WrgEntity("LOC", "gamma", 11, 16)))
    assert(recs(1)._1 == "solo" && recs(1)._2.isEmpty)
  }

  test("wrg directory reader matches the staged records (S4)") {
    val recs = Readers.wrg(spark, s"$stageDir/wrg").collect()
    val want = ReaderStage.wrgRecords(baseDocs)
    assert(recs.length == want.length)
    // per-file order preserved; record text and entity values line up
    recs.groupBy(_.file).foreach { case (f, rs) =>
      val shard = f.stripPrefix("part-").stripSuffix(".wrg").toInt
      val wantTexts = want.filter(_._1 == shard).map(_._2.split('\n')(0))
      assert(rs.sortBy(_.idx).map(_.text).toSeq == wantTexts.toSeq, s"file $f")
    }
    recs.foreach { r =>
      r.entities.foreach(e => assert(r.text.substring(e.start_c, e.end_c) == e.value))
    }
  }

  // -------------------------------------------------------------- S5 / S6

  test("sentence-window reader matches the reference's ring buffers (S5)") {
    val w = 3
    val got = Readers.wrgSentenceWindow(spark, s"$stageDir/wrg", w)
      .selectExpr("file", "idx", "pre_texts", "post_texts").collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getSeq[String](2).toList, r.getSeq[String](3).toList))).toMap
    // sequential port: pre = last w records, post = next w records, per file
    Readers.wrg(spark, s"$stageDir/wrg").collect().groupBy(_.file).foreach { case (f, rs) =>
      val texts = rs.sortBy(_.idx).map(_.text).toList
      texts.zipWithIndex.foreach { case (_, i) =>
        val (pre, post) = got((f, i))
        assert(pre == texts.slice(math.max(0, i - w), i), s"$f#$i pre")
        assert(post == texts.slice(i + 1, i + 1 + w), s"$f#$i post")
      }
    }
  }

  test("token-window reader: last/next N tokens joined (S6)") {
    val w = 16
    val got = Readers.wrgTokenWindow(spark, s"$stageDir/wrg", w)
      .selectExpr("file", "idx", "pre_ctx", "post_ctx").collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getString(3)))).toMap
    Readers.wrg(spark, s"$stageDir/wrg").collect().groupBy(_.file).foreach { case (f, rs) =>
      val toks = rs.sortBy(_.idx).map(_.text.split(' ').toList).toList
      toks.indices.foreach { i =>
        val pre = toks.take(i).flatten.takeRight(w).mkString(" ")
        val post = toks.drop(i + 1).flatten.take(w).mkString(" ")
        assert(got((f, i)) == ((pre, post)), s"$f#$i")
      }
    }
  }

  // ------------------------------------------------------------------- S9

  test("word-vector loader: PAD zeros, deterministic UNK, OOV lookup (S9)") {
    val wv = Readers.loadWordVectors(spark, s"$stageDir/glove.csv")
    assert(wv.lexicon.nonEmpty && wv.matrix.length == wv.lexicon.length + 2)
    assert(wv.matrix(0).forall(_ == 0f), "PAD row must be zeros")
    assert(wv.matrix.forall(_.length == ReaderStage.WvDims))
    val wv2 = Readers.loadWordVectors(spark, s"$stageDir/glove.csv")
    assert(wv.matrix.last.toSeq == wv2.matrix.last.toSeq, "UNK row deterministic")
    assert(wv.idOf("definitely-not-a-word") == wv.unkId)
    assert(wv.idOf(wv.lexicon(0)) == 1)
  }

  test("word2vec .bin loader == csv loader on the shared staging (S9 second branch)") {
    val csv = Readers.loadWordVectors(spark, s"$stageDir/glove.csv")
    val bin = Readers.loadWordVectorsBin(s"$stageDir/vectors.bin")
    assert(bin.lexicon.toSeq == csv.lexicon.toSeq)
    assert(bin.matrix.length == csv.matrix.length)
    bin.matrix.zip(csv.matrix).zipWithIndex.foreach { case ((b, c), i) =>
      assert(b.toSeq == c.toSeq, s"matrix row $i") // float-exact: both quantize to 6dp
    }
    assert(bin.idOf("definitely-not-a-word") == bin.unkId)
    // header malformation is rejected, not misparsed
    val badPath = java.nio.file.Files.createTempFile("wv_bad", ".bin")
    java.nio.file.Files.write(badPath, "garbage\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] { Readers.loadWordVectorsBin(badPath.toString) }
  }

  test("approximate_nearest: LSH signatures + Hamming-ball candidates == sequential re-derivation") {
    // independent driver-side port of wvlib.py:331 approximate_nearest over
    // the same staged csvs: sign-bit signatures (first plane = MSB,
    // wvlib.py:1330), hd <= 2 candidate ball, exact cosine re-rank
    def rows(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      .split('\n').filter(_.nonEmpty).map(_.split(','))
    val planes = rows(s"$stageDir/lsh_planes.csv").map(_.drop(1).map(_.toDouble))
    val bits = planes.length
    val words = rows(s"$stageDir/glove.csv").map(r => (r(0), r.drop(1).map(_.toDouble)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sigs = words.map { case (w, v) =>
      w -> planes.zipWithIndex.map { case (q, b) =>
        val dot = (0 until v.length).map(i => q(i) * v(i)).reduce(_ + _)
        if (dot > 0) 1L << (bits - 1 - b) else 0L
      }.sum
    }.toMap
    val units = words.map { case (w, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      w -> v.map(_ / nrm)
    }.toMap
    val expected = words.map(_._1).sorted.take(5).flatMap { probe =>
      val pu = units(probe)
      val cands = words.map(_._1).filter(_ != probe)
        .map { w =>
          val hd = java.lang.Long.bitCount(sigs(w) ^ sigs(probe))
          val dot = (0 until pu.length).map(i => pu(i) * units(w)(i)).reduce(_ + _)
          (w, hd, r6(math.cos(math.Pi * hd / bits)), r6(dot))
        }
        .filter(_._2 <= 2)
        .sortBy { case (w, _, _, sim) => (-sim, w) }
      cands.take(10).zipWithIndex.map { case ((w, hd, as, sim), i) =>
        (probe, i + 1, w, hd, as, sim)
      }
    }.toSet
    val got = Readers.wordVectorAnnLsh(
        spark, s"$stageDir/glove.csv", s"$stageDir/lsh_planes.csv")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(got == expected)
    assert(got.map(_._1).size == 5, "all 5 probes produce candidates")
    assert(got.exists(_._4 > 0), "ball is non-trivial (some hd > 0)")
    assert(got.forall(_._4 <= 2), "every candidate inside the Hamming ball")
    // the ball actually prunes: some probe sees fewer candidates than the
    // full vocabulary would offer (otherwise the test exercises nothing)
    val full = words.length - 1
    assert(got.groupBy(_._1).exists { case (p, rs) =>
      rs.size < math.min(10, full) || rs.size < full })
  }

  test("iob2 parser: nested columns, cross-kind I continuation quirk, offsets") {
    // two tag columns (nesting layers); the reference's scan extends a B run
    // over ANY following I- tag, even of a different kind — reproduce it
    val iob = "alpha\tB-PER\tB-LOC\nbeta\tI-ORG\tO\ngamma\tO\tI-LOC\n\nsolo\tO\n"
    val recs = Readers.parseIob2(iob)
    assert(recs.length == 2)
    val (t1, e1) = recs(0)
    assert(t1 == "alpha beta gamma")
    assert(e1.toList == List(
      Readers.WrgEntity("PER", "alpha beta", 0, 10), // B-PER extended by I-ORG
      Readers.WrgEntity("LOC", "alpha", 0, 5)))      // col 2: B-LOC, I-LOC not adjacent
    assert(recs(1) == (("solo", Seq())))
  }

  test("iob2 parser: ragged rows truncate to the shortest tag count (zip(*spans))") {
    // the reference transposes with zip(*spans) (iob2_to_rasa.py:13), which
    // TRUNCATES every column to the shortest row's tag count — a longer
    // row's extra columns are silently dropped. Pin that here: row 2 has a
    // second column carrying B-LOC, but row 1 has only one tag column, so
    // column 2 never exists and the LOC entity must NOT be emitted.
    val ragged = "alpha\tB-PER\nbeta\tI-PER\tB-LOC\ngamma\tO\tI-LOC\n"
    val recs = Readers.parseIob2(ragged)
    assert(recs.length == 1)
    val (text, ents) = recs(0)
    assert(text == "alpha beta gamma")
    assert(ents.toList == List(Readers.WrgEntity("PER", "alpha beta", 0, 10)))
    // a row with zero tag columns truncates EVERYTHING away
    val zeroCol = "alpha\tB-PER\nbare\n"
    assert(Readers.parseIob2(zeroCol) == Seq(("alpha bare", Seq())))
  }

  test("iob2 reader == reference converter output (round-trip through the rasa reader)") {
    // distributed parse of a staged shard vs the sequential iob2→rasa
    // converter parsed back through the S1 rasa reader
    val shard = java.nio.file.Paths.get(stageDir, "iob2", "part-0.iob2")
    val content = new String(java.nio.file.Files.readAllBytes(shard), "UTF-8")
    val tmp = java.nio.file.Files.createTempFile("iob2_rasa", ".json")
    java.nio.file.Files.write(tmp, Readers.iob2ToRasaJson(content).getBytes("UTF-8"))
    val viaRasa = Readers.rasa(spark, tmp.toString).collect()
      .map(r => (r.getString(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getString(1), e.getInt(2), e.getInt(3))).toList))
    val direct = Readers.iob2(spark, s"$stageDir/iob2").collect()
      .filter(_.file == "part-0.iob2").sortBy(_.idx)
      .map(r => (r.text, r.entities.map(e => (e.kind, e.value, e.start_c, e.end_c)).toList))
    assert(direct.nonEmpty && direct.exists(_._2.nonEmpty))
    assert(viaRasa.toSeq == direct.toSeq)
  }

  // ------------------------------------------------------------------- S7

  test("simple wrg reader: token-span projection matches the staged tags (S7)") {
    val got = Readers.simpleWrg(spark, s"$stageDir/wrg")
      .selectExpr("file", "idx", "tokens", "entities").collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getSeq[String](2).toList,
          r.getSeq[org.apache.spark.sql.Row](3)
            .map(e => (e.getString(0), e.getSeq[Int](1).toList)).toList))).toMap
    // the staged tag line carries the ground-truth token spans: "s,t KIND"
    // inclusive → reference span [s, t+1) (utils/data.py:196-200)
    val want = ReaderStage.wrgRecords(baseDocs).groupBy(_._1).flatMap { case (shard, recs) =>
      recs.zipWithIndex.map { case ((_, rec), i) =>
        val lines = rec.split('\n')
        val toks = lines(0).split(' ').toList
        val ents =
          if (lines(2).isEmpty) Nil
          else lines(2).split('|').toList.map { tag =>
            val Array(span, kind) = tag.split(' ')
            val Array(s, t) = span.split(',').map(_.toInt)
            (kind, List(s, t + 1))
          }
        ((s"part-$shard.wrg", i), (toks, ents))
      }
    }
    assert(got == want)
    assert(want.values.exists(_._2.nonEmpty))
  }

  // ------------------------------------------------------------------- S8

  test("vocab loader strips and drops blank lines (S8)") {
    val p = java.nio.file.Files.createTempFile("graft_vocab", ".txt")
    java.nio.file.Files.write(p, "alpha\n beta \n\ngamma\n".getBytes("UTF-8"))
    val v = Readers.loadVocab(spark, p.toString)
    assert(v.toSeq == Seq("alpha", "beta", "gamma"))
  }

  // ------------------------------------------------------------------ S11

  test("ModelStore round-trips the model bundle (S11)") {
    import spark.implicits._
    val docs = graft.kg.DocGen.docs(spark, sfDir)
    val model = Mentions.buildModel(docs, graft.core.ModelConfig.tiny)
    val dir = java.nio.file.Files.createTempDirectory("graft_model")
    ModelStore.save(dir, model)
    val back = ModelStore.load(dir)
    assert(back.vocab.lexicon.toSeq == model.vocab.lexicon.toSeq)
    assert(back.codec.entities.toSeq == model.codec.entities.toSeq)
    // same detections on a sample
    val sample = docs.orderBy("doc_id").limit(10).collect().toSeq
    val a = graft.kg.GoldRef.mentions(sample, model)
    val b = graft.kg.GoldRef.mentions(sample, back)
    assert(a == b)
  }
}
