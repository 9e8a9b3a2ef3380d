package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{Derived, FileSig, Fmt, Rng, Tok}
import graft.kg.GoldRef

/** Deterministic staging of the reference's on-disk input formats, derived
  * from the driver's `documents.parquet` — the readers in [[Readers]] need
  * real files in the reference's formats (RASA json, entity JSONL, Wikipedia
  * article JSONL, 4-line `.wrg`, GloVe-style csv: `utils/data.py`,
  * `genia/utils/load_wv.py`), and the brief forbids external data. Staging is
  * a pure function of the (doc_id, text) rows, so the DuckDB oracle and the
  * sequential spec port both reconstruct identical inputs.
  *
  * Files land under `target/reader_stage/<basename(sfDir)>/`; writes are
  * idempotent (same bytes every time) so concurrent query runs are safe.
  */
object ReaderStage {

  /** Python `string.printable` minus what stays: chars outside ASCII
    * 0x20-0x7e and \t\n\r\x0b\f are replaced by the reference's UNK char '¤'
    * (`utils/data.py:29`). The kept set in `sanitize` includes \x0b
    * (vertical tab) like `string.printable` — it was embedded as a literal
    * 0x0b byte, invisible in most renderings, so it is now written as the
    * unicode escape; ReadersSpec probes the behavior explicitly.
    */
  val NonPrintable = "[^\\x20-\\x7e\\t\\n\\r\\x0b\\f]"

  def sanitize(s: String): String =
    s.map(c => if ((c >= 0x20 && c <= 0x7e) || "\t\n\r\u000b\f".contains(c)) c else '¤')

  /** Deterministic "annotator": selects 1-2-token ngrams as entities by md5
    * fraction, giving nested/overlapping gold spans like the reference's
    * GENIA data. Offsets are char offsets into the (sanitized) text under
    * Python `str.split()` alignment.
    */
  final case class Ent(kind: String, value: String, start: Int, end: Int)

  def entities(text: String): Seq[Ent] = {
    val toks = Tok.tokenizeWithOffsets(text)
    val out = Seq.newBuilder[Ent]
    for (len <- 1 to 2; i <- 0 to toks.length - len) {
      val slice = toks.slice(i, i + len)
      val key = "ent#" + slice.map(t => GoldRef.lower(t.text)).mkString(" ")
      if (GoldRef.mdFrac(key) < 0.12) {
        val start = slice.head.start
        val end = slice.last.end
        out += Ent(GoldRef.kindOf(key), text.substring(start, end), start, end)
      }
    }
    out.result()
  }

  // --------------------------------------------------------- JSON plumbing

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ------------------------------------------------------------- documents

  /** (doc_id, text) rows of documents.parquet, driver-side, id-sorted. The
    * staged corpora are small (reader-format fixtures, not the benchmark
    * path) — the 100 TB story for these formats is the readers themselves,
    * which scan whatever files exist in parallel.
    */
  def baseDocs(spark: SparkSession, sfDir: String): Seq[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("cast(doc_id as long) doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  /** Deterministically injects one non-ASCII char so the JSONL sanitize path
    * (S2) is actually exercised.
    */
  def injectUnprintable(id: Long, text: String): String =
    if (text.isEmpty) text
    else {
      val pos = java.lang.Long.remainderUnsigned(Rng.streamKey(s"inj#$id"), text.length).toInt
      text.updated(pos, 'é')
    }

  // ------------------------------------------------------------ per format

  def rasaJson(docs: Seq[(Long, String)]): String = {
    val exs = docs.map { case (id, raw) =>
      val text = sanitize(raw)
      val ents = entities(text).map(e =>
        s"""{"start":${e.start},"end":${e.end},"value":${jstr(e.value)},"entity":${jstr(e.kind)}}""")
      s"""{"text":${jstr(text)},"intent":${jstr("doc")},"entities":[${ents.mkString(",")}]}"""
    }
    s"""{"rasa_nlu_data":{"common_examples":[${exs.mkString(",\n")}]}}"""
  }

  def docsJsonl(docs: Seq[(Long, String)]): String =
    docs.map { case (id, raw) =>
      val dirty = injectUnprintable(id, raw)
      val clean = sanitize(dirty)
      val ents = entities(clean).map(e =>
        s"""{"category":${jstr(e.kind)},"start":${e.start},"end":${e.end}}""")
      s"""{"doc_id":$id,"text":${jstr(dirty)},"entities":[${ents.mkString(",")}]}"""
    }.mkString("", "\n", "\n")

  /** Articles of `ArticleDocs` consecutive documents; sentences are the char
    * ranges of each document's segment (joined by " . ").
    */
  val ArticleDocs = 5

  def wikiJsonl(docs: Seq[(Long, String)]): String = {
    docs.grouped(ArticleDocs).zipWithIndex.map { case (group, aid) =>
      val parts = group.map { case (_, raw) => sanitize(raw) }
      val text = parts.mkString(" . ")
      var off = 0
      val sents = parts.map { p =>
        val s = (off, off + p.length)
        off += p.length + 3
        s
      }
      val ents = parts.zip(sents).flatMap { case (p, (s0, _)) =>
        entities(p).map(e => e.copy(start = e.start + s0, end = e.end + s0))
      }
      val sentJson = sents.map { case (s, e) => s"""{"start":$s,"end":$e}""" }
      val entJson = ents.map(e =>
        s"""{"title":${jstr(e.value)},"category":${jstr(e.kind)},"start":${e.start},"end":${e.end}}""")
      s"""{"id":$aid,"text":${jstr(text)},"entities":[${entJson.mkString(",")}],"sentences":[${sentJson.mkString(",")}]}"""
    }.mkString("", "\n", "\n")
  }

  /** wrg (`utils/data.py:98-134`): 4 lines per record — single-space token
    * line, POS line, tag line `start,end KIND|…` (token-inclusive), blank.
    * Sharded into `WrgFiles` files (the directory is the unit the window
    * readers S5/S6 iterate).
    */
  val WrgFiles = 4

  /** Structured wrg record as the stager intends the readers to parse it:
    * shard, single-space text, token count, surviving tags as INCLUSIVE
    * token spans.
    */
  final case class WrgStageRec(shard: Int, text: String, nToks: Int, tags: Seq[(Int, Int, String)])

  def wrgStructured(docs: Seq[(Long, String)]): Seq[WrgStageRec] =
    docs.map { case (id, raw) =>
      val toks = Tok.tokenize(sanitize(raw))
      val text = toks.mkString(" ")
      val offs = Tok.tokenizeWithOffsets(text)
      val tags = entities(text).flatMap { e =>
        val s = offs.indexWhere(_.start == e.start)
        val t = offs.indexWhere(_.end == e.end)
        if (s >= 0 && t >= s) Some((s, t, e.kind)) else None
      }
      WrgStageRec((id % WrgFiles).toInt, text, toks.length, tags)
    }

  def wrgRecords(docs: Seq[(Long, String)]): Seq[(Int, String)] =
    wrgStructured(docs).map { r =>
      val pos = Seq.fill(r.nToks)("X").mkString(" ")
      val tags = r.tags.map { case (s, t, kind) => s"$s,$t $kind" }
      (r.shard, s"${r.text}\n$pos\n${tags.mkString("|")}\n")
    }

  // ------------------------------------------------------------------ iob2

  /** IOB2 staging (input format of ref `genia/utils/iob2_to_rasa.py`):
    * `token TAB tag-columns` lines, sentences separated by blank lines,
    * nested tags spread over extra columns by first-fit assignment of the
    * wrg tag spans (the reference's multi-column nesting layout). Shards
    * mirror the wrg sharding.
    */
  def iob2Records(docs: Seq[(Long, String)]): Seq[(Int, String)] =
    wrgStructured(docs).filter(_.text.nonEmpty).map { r =>
      val toks = r.text.split(" ")
      val cols = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[(Int, Int, String)]]
      r.tags.sortBy(t => (t._1, -t._2)).foreach { tag =>
        cols.find(c => c.forall(e => tag._1 > e._2 || tag._2 < e._1)) match {
          case Some(c) => c += tag
          case None    => cols += scala.collection.mutable.ArrayBuffer(tag)
        }
      }
      val nCols = math.max(cols.length, 1)
      val lines = toks.indices.map { i =>
        val tags = (0 until nCols).map { c =>
          cols.lift(c).flatMap(_.find(e => e._1 <= i && i <= e._2)) match {
            case Some((s, _, kind)) => if (i == s) s"B-$kind" else s"I-$kind"
            case None               => "O"
          }
        }
        (toks(i) +: tags).mkString("\t")
      }
      (r.shard, lines.mkString("\n"))
    }

  // ------------------------------------------------------ wrg mirror JSONLs
  //
  // The wrg TEXT format is not SQL-parseable, but the PARSED relations are —
  // the stager emits, next to the wrg files, JSONL mirrors of exactly the
  // rows the src_wrg* queries must produce; the DuckDB oracle reads the
  // mirror and the driver hash-compares it with the distributed parse.
  // `idx` counts PARSED records (blank-text records hold their 4-line slot in
  // the file but yield no row — parser contract, data.py:110).

  /** per-shard parsed records in file order */
  private def parsedByShard(docs: Seq[(Long, String)]): Seq[(String, Seq[WrgStageRec])] =
    wrgStructured(docs).groupBy(_.shard).toSeq.sortBy(_._1)
      .map { case (shard, recs) => (s"part-$shard.wrg", recs.filter(_.text.nonEmpty)) }

  def wrgExpectJsonl(docs: Seq[(Long, String)]): String =
    parsedByShard(docs).flatMap { case (file, recs) =>
      recs.zipWithIndex.flatMap { case (r, idx) =>
        val offs = Tok.tokenizeWithOffsets(r.text)
        val head = s"""{"file":${jstr(file)},"idx":$idx,"text":${jstr(r.text)}"""
        if (r.tags.isEmpty)
          Seq(s"""$head,"kind":null,"value":null,"start_c":null,"end_c":null}""")
        else r.tags.map { case (s, t, kind) =>
          val sc = offs(s).start
          val ec = offs(t).end
          s"""$head,"kind":${jstr(kind)},"value":${jstr(r.text.substring(sc, ec))},"start_c":$sc,"end_c":$ec}"""
        }
      }
    }.mkString("", "\n", "\n")

  def wrgSwinExpectJsonl(docs: Seq[(Long, String)], windowSize: Int = 3): String =
    parsedByShard(docs).flatMap { case (file, recs) =>
      recs.zipWithIndex.map { case (r, i) =>
        val pre = recs.slice(math.max(0, i - windowSize), i).map(_.text)
        val post = recs.slice(i + 1, i + 1 + windowSize).map(_.text)
        s"""{"file":${jstr(file)},"idx":$i,"text":${jstr(r.text)}""" +
          s""","n_pre":${pre.length},"n_post":${post.length}""" +
          s""","prev_text":${jstr(pre.lastOption.getOrElse(""))}""" +
          s""","next_text":${jstr(post.headOption.getOrElse(""))}}"""
      }
    }.mkString("", "\n", "\n")

  def wrgTwinExpectJsonl(docs: Seq[(Long, String)], windowSize: Int = 16): String =
    parsedByShard(docs).flatMap { case (file, recs) =>
      val toks = recs.map(_.text.split(" ").toSeq)
      recs.zipWithIndex.map { case (r, i) =>
        val preCtx = toks.slice(math.max(0, i - windowSize), i).flatten
          .takeRight(windowSize).mkString(" ")
        val postCtx = toks.slice(i + 1, i + 1 + windowSize).flatten
          .take(windowSize).mkString(" ")
        s"""{"file":${jstr(file)},"idx":$i,"text":${jstr(r.text)}""" +
          s""","pre_ctx":${jstr(preCtx)},"post_ctx":${jstr(postCtx)}}"""
      }
    }.mkString("", "\n", "\n")

  // --------------------------------------------------------------- vectors

  val WvDims = 8
  val WvWords = 64

  /** word-vector lexicon + deterministic values, shared by the csv and .bin
    * stagings so the two S9 branches are cross-checkable.
    */
  def wvWords(docs: Seq[(Long, String)]): Seq[String] =
    docs.iterator.flatMap(d => Tok.tokenize(sanitize(d._2)))
      .map(GoldRef.lower).filter(_.forall(c => c.isLetterOrDigit))
      .toSeq.distinct.sorted.take(WvWords)

  def wvValue(word: String, dim: Int): Float = {
    val u = java.lang.Long.remainderUnsigned(Rng.streamKey(s"wv#$word#$dim"), 2000001L)
    Fmt.f6(u / 1000000.0 - 1.0).toFloat
  }

  /** GloVe-style csv (S9, `genia/utils/load_wv.py:5-24`): one `word,v0..v7`
    * line per lexicon word; values are pure functions of (word, dim).
    */
  def gloveCsv(docs: Seq[(Long, String)]): String =
    wvWords(docs).map { w =>
      (w +: (0 until WvDims).map(j => Fmt.f6(wvValue(w, j)))).mkString(",")
    }.mkString("", "\n", "\n")

  /** word2vec C binary (the `.bin` branch of S9, ref `genia/utils/load_wv.py`
    * via wvlib): ASCII header `"<n> <dim>\n"`, then per record the UTF-8 word,
    * one 0x20, `dim` little-endian float32s, and a trailing `'\n'`. Same
    * lexicon and (6dp-quantized) values as glove.csv, so the two branches
    * must load byte-identical matrices.
    */
  def word2vecBin(docs: Seq[(Long, String)]): Array[Byte] = {
    val words = wvWords(docs)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"${words.length} $WvDims\n".getBytes(StandardCharsets.US_ASCII))
    words.foreach { w =>
      bos.write(w.getBytes(StandardCharsets.UTF_8))
      bos.write(' ')
      val bb = java.nio.ByteBuffer.allocate(4 * WvDims)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until WvDims).foreach(j => bb.putFloat(wvValue(w, j)))
      bos.write(bb.array())
      bos.write('\n')
    }
    bos.toByteArray
  }

  /** Random-hyperplane LSH planes (ref `wvlib.py:1311` RandomHyperplaneLSH /
    * `:390` `_initialize_lsh`): `LshBits` rows of `WvDims` components each,
    * deterministic per (bit, dim) like [[wvValue]] so the DuckDB oracle can
    * re-derive every signature from the same staged csv. Bit count follows
    * the reference's `_lsh_bits` formula `max(4, ceil(log2(w)))` at the
    * staged vocab cap (`WvWords` = 64 → 6). The reference notes
    * normalization of the planes is "not strictly required"
    * (`wvlib.py:1322`) — sign of the dot product is scale-invariant — so the
    * staged planes are raw uniform values in [-1, 1].
    */
  val LshBits = 6

  def lshPlaneValue(bit: Int, dim: Int): Float = {
    val u = java.lang.Long.remainderUnsigned(Rng.streamKey(s"lshp#$bit#$dim"), 2000001L)
    Fmt.f6(u / 1000000.0 - 1.0).toFloat
  }

  def lshPlanesCsv: String =
    (0 until LshBits).map { b =>
      (b.toString +: (0 until WvDims).map(j => Fmt.f6(lshPlaneValue(b, j)))).mkString(",")
    }.mkString("", "\n", "\n")

  // ---------------------------------------------------------------- layout

  /** Absolute root so the oracle SQL (which embeds the path) is independent
    * of the runner's CWD; override with GRAFT_STAGE_ROOT.
    */
  val StageRoot: String =
    sys.env.getOrElse("GRAFT_STAGE_ROOT", "/root/repo/target/reader_stage")

  def stageDir(sfDir: String): Path =
    Paths.get(StageRoot, Paths.get(sfDir).getFileName.toString)

  /** delete files in `dir` whose names are not in `keep` */
  private def dropStaleShards(dir: Path, keep: Set[String]): Unit = {
    if (!Files.isDirectory(dir)) return
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (!keep.contains(p.getFileName.toString)) Files.deleteIfExists(p)
      }
    } finally s.close()
  }

  private def writeIfChanged(p: Path, content: String): Unit =
    writeBytesIfChanged(p, content.getBytes(StandardCharsets.UTF_8))

  private def writeBytesIfChanged(p: Path, bytes: Array[Byte]): Unit = {
    if (!Files.exists(p) || !java.util.Arrays.equals(Files.readAllBytes(p), bytes)) {
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** bump when the staged derivation or the staged file set changes — the
    * signature otherwise hashes only the INPUT corpus, and an old stage dir
    * would silently short-circuit the new outputs
    */
  val StageVersion = "stage-v5" // v5: + lsh_planes.csv (random-hyperplane LSH planes for approximate_nearest)

  private val contentSigs = new Derived.Memo[String](_ => ())

  /** [[Derived.contentSig]] of `version` over `sfDir`'s corpus, kept in one
    * slot per (version, sfDir) and signed with the [[FileSig]] of
    * documents.parquet: while the corpus file is unchanged, a staleness check
    * costs a file stat instead of a collect. `docs` is evaluated only when
    * the slot is empty or the corpus file changed.
    */
  def corpusSig(version: String, sfDir: String)(docs: => Seq[(Long, String)]): String =
    contentSigs.get(s"$version@$sfDir", FileSig.of(s"$sfDir/documents.parquet"))(
      Derived.contentSig(version, docs))

  /** Stage every format; returns the stage dir. Idempotent, and a no-op when
    * the _STAGED content signature ([[corpusSig]]) matches the current corpus.
    */
  def stage(spark: SparkSession, sfDir: String): Path = {
    val dir = stageDir(sfDir)
    lazy val docs = baseDocs(spark, sfDir)
    Derived.ensure(dir.resolve("_STAGED"), corpusSig(StageVersion, sfDir)(docs))(
      build(dir, docs))
    dir
  }

  private def build(dir: Path, docs: Seq[(Long, String)]): Unit = {
    Files.createDirectories(dir.resolve("wrg"))
    writeIfChanged(dir.resolve("rasa.json"), rasaJson(docs))
    writeIfChanged(dir.resolve("docs.jsonl"), docsJsonl(docs))
    writeIfChanged(dir.resolve("wiki.jsonl"), wikiJsonl(docs))
    writeIfChanged(dir.resolve("glove.csv"), gloveCsv(docs))
    writeBytesIfChanged(dir.resolve("vectors.bin"), word2vecBin(docs))
    writeIfChanged(dir.resolve("lsh_planes.csv"), lshPlanesCsv)
    val wrgByShard = wrgRecords(docs).groupBy(_._1)
    wrgByShard.foreach { case (shard, recs) =>
      writeIfChanged(dir.resolve(s"wrg/part-$shard.wrg"),
        recs.map(_._2).mkString("\n") + "\n")
    }
    Files.createDirectories(dir.resolve("iob2"))
    val iobByShard = iob2Records(docs).groupBy(_._1)
    iobByShard.foreach { case (shard, recs) =>
      writeIfChanged(dir.resolve(s"iob2/part-$shard.iob2"),
        recs.map(_._2).mkString("\n\n") + "\n")
    }
    // stale shards from a previous staging (a shrunk corpus maps to fewer
    // shards) would be consumed by the DIRECTORY readers while the
    // regenerated oracle mirrors exclude them — delete anything not in the
    // freshly generated shard sets
    dropStaleShards(dir.resolve("wrg"), wrgByShard.keySet.map(s => s"part-$s.wrg"))
    dropStaleShards(dir.resolve("iob2"), iobByShard.keySet.map(s => s"part-$s.iob2"))
    // the reference converter's own output over the staged iob2 — the
    // DuckDB oracle for the distributed iob2 parse reads this json
    writeIfChanged(dir.resolve("iob2_rasa.json"),
      iobByShard.toSeq.sortBy(_._1)
        .map { case (shard, recs) =>
          (s"part-$shard.iob2", Readers.iob2ToRasaJson(recs.map(_._2).mkString("\n\n")))
        }
        .map { case (f, json) => s"""{"file":${jstr(f)},"rasa":$json}""" }
        .mkString("[", ",\n", "]"))
    writeIfChanged(dir.resolve("wrg_expect.jsonl"), wrgExpectJsonl(docs))
    writeIfChanged(dir.resolve("wrg_swin_expect.jsonl"), wrgSwinExpectJsonl(docs))
    writeIfChanged(dir.resolve("wrg_twin_expect.jsonl"), wrgTwinExpectJsonl(docs))
  }
}
