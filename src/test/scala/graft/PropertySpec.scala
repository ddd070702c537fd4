package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{dates, money}
import graft.lake.Lake

/** Property tests (SURVEY §5 engine test plan): randomized inputs with a
  * fixed seed, evaluated in ONE Spark pass per property (not one job per
  * case). */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[List[A]]): List[A] =
    g.pureApply(Gen.Parameters.default, Seed(42L))

  test("property: brlToDouble(toBrl(x)) == round(x, 2)") {
    val xs = sample(Gen.listOfN(300,
      Gen.chooseNum(-9999999.99, 9999999.99)))
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("x", DoubleType))), xs.map(Row(_)))
    // the pt-BR rendering "R$ 1.234,56" the reference's reports write
    // (compare_budget.py:108-111)
    val toBrl = concat(lit("R$ "), translate(format_number(col("x"), 2), ",.", ".,"))
    val bad = df
      .withColumn("rt", money.brlToDouble(toBrl))
      .withColumn("expected", round(col("x"), 2))
      .filter(abs(col("rt") - col("expected")) > 1e-9 || col("rt").isNull)
      .collect()
    assert(bad.isEmpty, s"round-trip failed for: ${bad.take(5).mkString(",")}")
  }

  test("property: toDateMulti parses every supported rendering of any date") {
    val days = sample(Gen.listOfN(200, Gen.chooseNum(0, 40000)))
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("d", IntegerType))), days.map(Row(_)))
      .withColumn("date", date_add(lit(java.sql.Date.valueOf("1950-01-01")), col("d")))
    val rendered = Seq("dd/MM/yyyy", "yyyy-MM-dd", "dd-MM-yyyy", "yyyyMMdd")
    val bad = rendered.map { fmt =>
      df.withColumn("parsed", dates.toDateMulti(date_format(col("date"), fmt)))
        .filter(col("parsed") =!= col("date") || col("parsed").isNull)
        .count()
    }
    assert(bad.forall(_ === 0L), s"per-format failures: ${rendered.zip(bad)}")
  }

  test("property: dedupByKeys keeps exactly one max-ordered row per key") {
    val rows = sample(Gen.listOfN(500, for {
      k <- Gen.chooseNum(0L, 40L)
      v <- Gen.chooseNum(0L, 1000000L)
    } yield (k, v)))
    val df = LocalTable.of(spark,
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))),
      rows.map { case (k, v) => Row(k, v) })
    val got = Lake.dedupByKeys(df, Seq("k"), Some("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got === expected)
  }

  test("property: PDF write → extract round-trips arbitrary latin-1 lines") {
    // hostile content: parens, backslashes, accents, digits, punctuation
    val lineGen = Gen.listOfN(8, Gen.frequency(
      10 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('(', ')', '\\', 'ã', 'ç', 'É', ' ', ',', '/', '$', '-'),
      1 -> Gen.oneOf('*', '%', '<', '>', '[', ']'))).map(_.mkString)
    val docs = sample(Gen.listOfN(30, Gen.listOfN(4, lineGen)))
    docs.foreach { lines =>
      // PDF text layout cannot represent blank/whitespace-only lines
      val ls = lines.map(_.trim).filter(_.nonEmpty)
      val viaPdf = graft.parse.PdfText.extractText(PdfFixture.pdf(Seq(ls)))
      assert(viaPdf === ls.mkString("\n"), s"lines=$ls")
      val raw = graft.parse.PdfText.extractText(
        PdfFixture.pdf(Seq(ls), compress = false))
      assert(raw === ls.mkString("\n"), s"uncompressed lines=$ls")
    }
  }

  test("property: extractText never throws on arbitrary or corrupted bytes") {
    // executor-side robustness: a damaged landing PDF must degrade to ""
    // (or partial text), never kill the task
    val rnd = new scala.util.Random(4242)
    val garbage = Seq.fill(20)(Array.fill(rnd.nextInt(4000))(rnd.nextInt().toByte))
    garbage.foreach(b => graft.parse.PdfText.extractText(b)) // must not throw
    // structured prefixes with torn-off tails (truncated real PDFs)
    val real = PdfFixture.pdf(Seq(Seq("alpha", "beta", "gamma")))
    (1 until real.length by 97).foreach { cut =>
      graft.parse.PdfText.extractText(real.take(cut)) // must not throw
    }
    // bit-flipped stream bytes (corrupt Flate payloads)
    val flipped = real.clone()
    (0 until flipped.length by 31).foreach(i => flipped(i) = (flipped(i) ^ 0x5a).toByte)
    graft.parse.PdfText.extractText(flipped) // must not throw
  }

  test("exotic stream filters: text survives, skip is diagnosed, never a throw") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    // splice an undecodable image object (random JPEG-ish bytes behind
    // /DCTDecode, then a /CCITTFaxDecode scan) into a real generated PDF
    // just before the xref — PdfText ignores xref offsets, so the object
    // is seen like any incrementally-appended one
    def withImage(base: Array[Byte], objNum: Int, filter: String, seed: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val payload = Array.fill(64)(rnd.nextInt().toByte)
      val head = s"$objNum 0 obj << /Subtype /Image /Width 8 /Height 8 " +
        s"/Filter $filter /Length ${payload.length} >> stream\n"
      val doc = new String(base, ISO_8859_1)
      val at = doc.lastIndexOf("xref")
      val out = new java.io.ByteArrayOutputStream()
      out.write(base, 0, at)
      out.write(head.getBytes(ISO_8859_1)); out.write(payload)
      out.write("\nendstream endobj\n".getBytes(ISO_8859_1))
      out.write(base, at, base.length - at)
      out.toByteArray
    }
    val clean = PdfFixture.pdf(Seq(Seq("saldo", "fatura", "total")))
    assert(graft.parse.PdfText.extract(clean) ===
      graft.parse.PdfText.PdfExtraction("saldo\nfatura\ntotal", Seq.empty))
    val withDct = withImage(clean, 90, "/DCTDecode", seed = 7)
    val e1 = graft.parse.PdfText.extract(withDct)
    assert(e1.text === "saldo\nfatura\ntotal") // image skip never corrupts text
    assert(e1.skippedFilters === Seq("/DCTDecode"))
    val withBoth = withImage(withDct, 91, "/CCITTFaxDecode", seed = 8)
    val e2 = graft.parse.PdfText.extract(withBoth)
    assert(e2.text === "saldo\nfatura\ntotal")
    assert(e2.skippedFilters === Seq("/DCTDecode", "/CCITTFaxDecode"))
    // filter-chain form: [/ASCII85Decode /DCTDecode] reports both names
    val chained = withImage(clean, 92, "[/ASCII85Decode /DCTDecode]", seed = 9)
    assert(graft.parse.PdfText.extract(chained).skippedFilters ===
      Seq("/ASCII85Decode", "/DCTDecode"))
    // real bank PDFs: any skipped filter must be a known image codec
    // (some faturas embed DCT-compressed logos — the text goldens in
    // RealPdfSpec prove extraction is unaffected by skipping them);
    // an unknown name here would mean a text-bearing stream was dropped
    val imageFilters = Set("/DCTDecode", "/CCITTFaxDecode", "/JPXDecode", "/JBIG2Decode")
    val landing = new java.io.File("src/test/resources/landing_real")
    if (landing.isDirectory) {
      def pdfs(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty).toIndexedSeq
        kids.filter(f => f.isFile && f.getName.endsWith(".pdf")) ++
          kids.filter(_.isDirectory).flatMap(pdfs)
      }
      pdfs(landing).foreach { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val skipped = graft.parse.PdfText.unsupportedStreamFilters(bytes)
        assert(skipped.forall(imageFilters), s"${f.getName}: $skipped")
      }
    }
  }

  test("filter diagnostics: #xx name escapes decode, indirect /Filter refs are surfaced") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def scan(s: String): Seq[String] =
      graft.parse.PdfText.unsupportedStreamFilters(s.getBytes(ISO_8859_1))
    // an escaped FlateDecode is STILL FlateDecode — must not be reported
    assert(scan("<< /Filter /Fl#61teDecode /Length 4 >>") === Seq.empty)
    // an escaped exotic codec reports its DECODED canonical name
    assert(scan("<< /Filter /DCTDec#6Fde /Length 4 >>") === Seq("/DCTDecode"))
    assert(scan("<< /Filter [/ASCII85Decode /DCT#44ecode] >>") ===
      Seq("/ASCII85Decode", "/DCTDecode"))
    // an indirect filter value cannot be resolved by the raw scan — it is
    // surfaced as a marker instead of silently passing as "complete"
    assert(scan("<< /Filter 12 0 R /Length 9 >>") === Seq("/IndirectFilterRef"))
    // and extract() carries the marker into skippedFilters: a document whose
    // stream routes its filter through an object reference is PARTIAL
    val clean = PdfFixture.pdf(Seq(Seq("saldo", "total")))
    val withIndirect = clean ++
      ("\n90 0 obj << /Subtype /Image /Filter 12 0 R /Length 4 >> " +
        "stream\nabcd\nendstream endobj\n").getBytes(ISO_8859_1)
    val e = graft.parse.PdfText.extract(withIndirect)
    assert(e.text === "saldo\ntotal")
    assert(e.skippedFilters === Seq("/IndirectFilterRef"))
  }

  test("property: conformToSchema always matches the destination schema") {
    val dest = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("c", DoubleType), StructField("d", DateType)))
    val subsets = sample(Gen.listOfN(10,
      Gen.someOf("a", "b", "c", "d").map(_.toList))).filter(_.nonEmpty)
    subsets.foreach { cols =>
      val src = LocalTable.of(spark,
        StructType(dest.fields.filter(f => cols.contains(f.name))), Seq.empty)
      val out = Lake.conformToSchema(src, dest)
      assert(out.schema === dest, s"subset $cols")
    }
  }

  test("property: funnel matches a reference greedy matcher on random streams") {
    val steps = Seq("a", "b", "c")
    val rows = sample(Gen.listOfN(600, for {
      u <- Gen.chooseNum(0L, 25L)
      t <- Gen.chooseNum(0L, 500L)
      e <- Gen.oneOf("a", "b", "c", "x")
    } yield (u, t, e)))
    // engine
    val df = LocalTable.of(spark, StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("event_type", StringType))),
      rows.map { case (u, t, e) => Row(u, t, e) })
    val got = graft.operators.Temporal.funnel(df, steps)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    // reference matcher: per user, scan ts-ascending, advance the next
    // incomplete stage only on a strictly-later matching event
    val expect = rows.groupBy(_._1).map { case (u, es) =>
      var done = Vector.empty[Long]
      es.sortBy(e => (e._2, e._3)).foreach { case (_, t, e) =>
        if (done.length < steps.length && e == steps(done.length) &&
            (done.isEmpty || t > done.last)) done = done :+ t
      }
      u -> done.length
    }
    assert(got === expect)
  }

  test("property: streamed release delta over ANY batch partitioning equals the batch card") {
    import graft.streaming.ReleaseDeltaStreaming
    import graft.ext.DataQuality
    val sources = IndexedSeq("web", "apis", "books", null)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val trials = sample(Gen.listOfN(3, for {
      n <- Gen.chooseNum(20, 50)
      acts <- Gen.listOfN(50, Gen.chooseNum(0, 4))
      srcIdx <- Gen.listOfN(65, Gen.chooseNum(0, 3))
      nAdd <- Gen.chooseNum(0, 15)
      nBatches <- Gen.chooseNum(1, 5)
      assign <- Gen.listOfN(65, Gen.chooseNum(0, 100))
    } yield (n, acts, srcIdx, nAdd, nBatches, assign)))
    trials.foreach { case (n, acts, srcIdx, nAdd, nBatches, assign) =>
      def text(i: Int) = (0 to i % 4).map(j => s"w${(i + j) % 9}").mkString(" ")
      val v1Rows = (0 until n).map(i => Row(i.toLong, sources(srcIdx(i)), text(i)))
      // per-doc action: 0 unchanged, 1 removed, 2 text change,
      // 3 source move, 4 both — plus nAdd brand-new docs
      val v2Kept = (0 until n).flatMap { i =>
        acts(i) match {
          case 0 => Some(Row(i.toLong, sources(srcIdx(i)), text(i)))
          case 1 => None
          case 2 => Some(Row(i.toLong, sources(srcIdx(i)), text(i) + " rev"))
          case 3 => Some(Row(i.toLong, sources((srcIdx(i) + 1) % 4), text(i)))
          case _ => Some(Row(i.toLong, sources((srcIdx(i) + 1) % 4), text(i) + " rev"))
        }
      }
      val v2Rows = v2Kept ++ (0 until nAdd).map(j =>
        Row((n + j).toLong, sources(srcIdx(n + j)), s"fresh f$j ${text(j)}"))
      val v1 = LocalTable.of(spark, docSchema, v1Rows)
      val v2 = LocalTable.of(spark, docSchema, v2Rows)
      val statePath = java.nio.file.Files
        .createTempDirectory("graft-reldelta-prop-").toString + "/state"
      (0 until nBatches).foreach { b =>
        val batch = v2Rows.zipWithIndex
          .filter { case (_, i) => assign(i) % nBatches == b }.map(_._1)
        ReleaseDeltaStreaming.admitBatch(
          LocalTable.of(spark, docSchema, batch), b.toLong, v1, statePath)
      }
      def card(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (Option(r.getAs[String]("source")), r.getAs[Long]("n_added"),
          r.getAs[Long]("n_removed"), r.getAs[Long]("n_changed"),
          r.getAs[Long]("n_unchanged"), r.getAs[Long]("tok_added"),
          r.getAs[Long]("tok_removed"), r.getAs[Long]("tok_delta_changed"),
          r.getAs[Long]("net_token_delta"))).toSet
      val streamed = card(ReleaseDeltaStreaming.releaseDeltaFromState(
        ReleaseDeltaStreaming.currentState(spark, statePath), v1))
      val batch = card(DataQuality.releaseDelta(v1, v2))
      assert(streamed === batch,
        s"n=$n nAdd=$nAdd nBatches=$nBatches:\n$streamed\nvs\n$batch")
    }
  }

  test("property: postings under ANY admit/compact interleaving equal a from-scratch build") {
    import graft.streaming.DocIndexStreaming
    import graft.ext.Retrieval
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val trials = sample(Gen.listOfN(3, for {
      nDocs <- Gen.chooseNum(6, 18)
      words <- Gen.listOfN(18, Gen.chooseNum(0, 7))
      nBatches <- Gen.chooseNum(2, 5)
      assign <- Gen.listOfN(18, Gen.chooseNum(0, 100))
      compactAfter <- Gen.listOfN(5, Gen.oneOf(true, false))
    } yield (nDocs, words, nBatches, assign, compactAfter)))
    trials.foreach { case (nDocs, words, nBatches, assign, compactAfter) =>
      val docRows = (0 until nDocs).map(i =>
        Row(i.toLong, s"w${words(i)} w${words((i + 3) % 18)} common"))
      val indexPath = java.nio.file.Files
        .createTempDirectory("graft-postings-prop-").toString + "/postings"
      (0 until nBatches).foreach { b =>
        val batch = docRows.zipWithIndex
          .filter { case (_, i) => assign(i) % nBatches == b }.map(_._1)
        DocIndexStreaming.admitPostingsBatch(
          LocalTable.of(spark, docSchema, batch), b.toLong, indexPath)
        if (compactAfter(b)) DocIndexStreaming.compactPostings(spark, indexPath)
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
          r.getAs[Long]("tf"))).toSet
      val expected = rows(Retrieval.postings(
        LocalTable.of(spark, docSchema, docRows)))
      assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
        === expected, s"nDocs=$nDocs nBatches=$nBatches $compactAfter")
      // the state-keyed trigger folds to one leg and changes nothing
      DocIndexStreaming.maybeCompactPostings(spark, indexPath, maxUnionLegs = 1)
      assert(rows(DocIndexStreaming.currentPostings(spark, indexPath))
        === expected)
      val files = DocIndexStreaming.currentPostings(spark, indexPath).inputFiles
      assert(files.map(_.replaceAll("/[^/]*$", "")).distinct.length <= 1)
    }
  }

  test("property: mergeable-index algebras — append over ANY partitioning equals rebuild, retract inverts append") {
    import graft.ext.{Dedup, TextStats}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val trials = sample(Gen.listOfN(2, for {
      nDocs <- Gen.chooseNum(8, 20)
      words <- Gen.listOfN(20, Gen.chooseNum(0, 6))
      nBatches <- Gen.chooseNum(2, 4)
      assign <- Gen.listOfN(20, Gen.chooseNum(0, 100))
      retract <- Gen.listOfN(20, Gen.oneOf(true, false))
      win <- Gen.chooseNum(2, 4)
    } yield (nDocs, words, nBatches, assign, retract, win)))
    trials.foreach { case (nDocs, words, nBatches, assign, retract, win) =>
      def doc(i: Int) = Row(i.toLong,
        (0 to 4).map(j => s"w${words((i + j) % 20)}").mkString(" "))
      val all = (0 until nDocs).map(doc)
      def df(rs: Seq[Row]) = LocalTable.of(spark, docSchema, rs)
      val batches = (0 until nBatches).map(b =>
        all.zipWithIndex.filter { case (_, i) => assign(i) % nBatches == b }
          .map(_._1))
      val retracted = all.zipWithIndex.filter { case (_, i) => retract(i) }
        .map(_._1)
      val survivors = all.zipWithIndex.filterNot { case (_, i) => retract(i) }
        .map(_._1)
      // LM bigram counts: fold appends over the batches
      def lmRows(cDf: org.apache.spark.sql.DataFrame) = cDf.collect()
        .map(r => (r.getAs[String]("bg"), r.getAs[Long]("c12"))).toSet
      val lmGrown = batches.foldLeft(
        LocalTable.of(spark, StructType(Seq(
          StructField("bg", StringType), StructField("c12", LongType))),
          Seq.empty[Row]): org.apache.spark.sql.DataFrame) {
        (c, b) => TextStats.appendToLmCounts(c, df(b))
      }.localCheckpoint()
      assert(lmRows(lmGrown) === lmRows(TextStats.lmBigramCounts(df(all))))
      // span fingerprint index: the same fold, then retract
      def fpRows(cDf: org.apache.spark.sql.DataFrame) = cDf.collect()
        .map(r => (r.getAs[Long]("fp"), r.getAs[Long]("cnt"))).toSet
      val fpGrown = batches.foldLeft(Dedup.fingerprintIndex(df(Seq.empty), win)) {
        (c, b) => Dedup.appendToFingerprintIndex(c, df(b), win)
      }.localCheckpoint()
      assert(fpRows(fpGrown) === fpRows(Dedup.fingerprintIndex(df(all), win)))
      assert(fpRows(Dedup.retractFromFingerprintIndex(fpGrown, df(retracted), win))
        === fpRows(Dedup.fingerprintIndex(df(survivors), win)))
    }
  }

  test("property: ANN index compaction over ANY admission split equals a from-scratch build") {
    import graft.streaming.AnnIndexStreaming
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val trials = sample(Gen.listOfN(2, for {
      nVecs <- Gen.chooseNum(30, 60)
      seeds <- Gen.listOfN(60, Gen.chooseNum(-100, 100))
      nBatches <- Gen.chooseNum(1, 3)
      assign <- Gen.listOfN(60, Gen.chooseNum(0, 100))
      archCut <- Gen.chooseNum(10, 25)
    } yield (nVecs, seeds, nBatches, assign, archCut)))
    trials.foreach { case (nVecs, seeds, nBatches, assign, archCut) =>
      def vec(i: Int) = (0 until 8).map(d =>
        (seeds((i + d) % 60).toFloat / 100f) + (if (d == i % 8) 1f else 0f))
      val rows = (0 until nVecs).map(i => Row(i.toLong, vec(i), i % 3))
      def df(rs: Seq[Row]) = LocalTable.of(spark, schema, rs)
      val archive = rows.take(archCut)
      val rest = rows.drop(archCut)
      val base = java.nio.file.Files
        .createTempDirectory("graft-annprop-").toString
      // iters=0: the seeded-init quantizer is a pure function of the
      // vector SET (md5-ranked seeds), so compact-after-any-admission-
      // split must equal init-on-everything exactly
      AnnIndexStreaming.init(df(archive), "embedding", k = 6, iters = 0,
        s"$base/streamed")
      (0 until nBatches).foreach { b =>
        val batch = rest.zipWithIndex
          .filter { case (_, i) => assign(i) % nBatches == b }.map(_._1)
        AnnIndexStreaming.admitBatch(df(batch), b.toLong, "embedding",
          s"$base/streamed")
      }
      AnnIndexStreaming.compact(spark, s"$base/streamed", "embedding",
        k = 6, iters = 0)
      AnnIndexStreaming.init(df(rows), "embedding", k = 6, iters = 0,
        s"$base/scratch")
      def layout(p: String) = AnnIndexStreaming.currentLists(spark, p)
        .select(col("vec_id"), col("centroid_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(layout(s"$base/streamed") === layout(s"$base/scratch"),
        s"nVecs=$nVecs archCut=$archCut nBatches=$nBatches")
    }
  }

  test("property: benchmark n-gram index over ANY (overlapping) admission split scores identically to the end-to-end operator") {
    import graft.streaming.ContaminationStreaming
    import graft.ext.TextStats
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val textSchema = StructType(Seq(StructField("text", StringType)))
    val trials = sample(Gen.listOfN(3, for {
      nEval <- Gen.chooseNum(3, 8)
      nTrain <- Gen.chooseNum(5, 15)
      words <- Gen.listOfN(30, Gen.chooseNum(0, 6))
      nBatches <- Gen.chooseNum(1, 3)
      assign <- Gen.listOfN(8, Gen.chooseNum(0, 100))
      dup <- Gen.listOfN(8, Gen.oneOf(true, false))
    } yield (nEval, nTrain, words, nBatches, assign, dup)))
    trials.foreach { case (nEval, nTrain, words, nBatches, assign, dup) =>
      def phrase(i: Int) =
        (0 to 3).map(j => s"e${words((i + j) % 30)}").mkString(" ")
      val evalTexts = (0 until nEval).map(phrase)
      // train docs: some quote an eval phrase, some are clean
      val trainRows = (0 until nTrain).map { i =>
        val t = if (i % 3 == 0) s"prefix ${evalTexts(i % nEval)} suffix"
                else s"clean c${words(i % 30)} c${words((i + 7) % 30)} c${words((i + 13) % 30)} body"
        Row(i.toLong, t)
      }
      val idx = java.nio.file.Files
        .createTempDirectory("graft-contam-prop-").toString + "/benchmark"
      // overlapping admissions: batches may re-admit CONTENT (dup flag
      // duplicates an eval text into a second batch) — set semantics
      // must absorb it
      (0 until nBatches).foreach { b =>
        val ts = evalTexts.zipWithIndex.collect {
          case (t, i) if assign(i) % nBatches == b ||
            (dup(i) && (assign(i) + 1) % nBatches == b) => Row(t)
        }
        ContaminationStreaming.admitBenchmarkBatch(
          LocalTable.of(spark, textSchema, ts), b.toLong, idx, n = 3)
      }
      def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("total_ngrams"),
          r.getAs[Long]("hit_ngrams"), r.getAs[Boolean]("contaminated"))).toSet
      val viaIndex = verdicts(ContaminationStreaming.scoreBatch(
        LocalTable.of(spark, docSchema, trainRows), idx, n = 3,
        threshold = 0.2))
      val endToEnd = verdicts(TextStats.ngramContamination(
        LocalTable.of(spark, docSchema, trainRows),
        LocalTable.of(spark, textSchema, evalTexts.map(Row(_))),
        n = 3, threshold = 0.2))
      assert(viaIndex === endToEnd,
        s"nEval=$nEval nTrain=$nTrain nBatches=$nBatches")
    }
  }

  test("property: replay storms — a batch re-admitted k times, interleaved with new batches and earlier-batch echoes, leaves release-delta state and the ANN index identical to once-each") {
    import graft.streaming.{AnnIndexStreaming, ReleaseDeltaStreaming}
    import graft.ext.DataQuality
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val sources = IndexedSeq("web", "apis", null)
    val trials = sample(Gen.listOfN(2, for {
      nDocs <- Gen.chooseNum(15, 30)
      srcIdx <- Gen.listOfN(40, Gen.chooseNum(0, 2))
      nBatches <- Gen.chooseNum(2, 4)
      assign <- Gen.listOfN(40, Gen.chooseNum(0, 100))
      // admissions per batch (1 = clean once); echo re-admits the PRIOR
      // batch again after this one commits — the out-of-order replay an
      // engine restart can produce
      replays <- Gen.listOfN(4, Gen.chooseNum(1, 3))
      echoEarlier <- Gen.listOfN(4, Gen.oneOf(true, false))
      seeds <- Gen.listOfN(40, Gen.chooseNum(-100, 100))
    } yield (nDocs, srcIdx, nBatches, assign, replays, echoEarlier, seeds)))
    trials.foreach {
      case (nDocs, srcIdx, nBatches, assign, replays, echoEarlier, seeds) =>
        def text(i: Int) = (0 to i % 4).map(j => s"w${(i + j) % 9}").mkString(" ")
        val v1Rows = (0 until nDocs).map(i =>
          Row(i.toLong, sources(srcIdx(i)), text(i)))
        val v2Rows = (0 until nDocs).flatMap { i =>
          i % 5 match {
            case 1 => None // removed
            case 2 => Some(Row(i.toLong, sources(srcIdx(i)), text(i) + " rev"))
            case 3 => Some(Row(i.toLong, sources((srcIdx(i) + 1) % 3), text(i)))
            case _ => Some(Row(i.toLong, sources(srcIdx(i)), text(i)))
          }
        } ++ (0 until 5).map(j =>
          Row((nDocs + j).toLong, sources(srcIdx(nDocs + j)), s"fresh f$j"))
        def df(rs: Seq[Row]) = LocalTable.of(spark, docSchema, rs)
        val v1 = df(v1Rows)
        val batches = (0 until nBatches).map(b => v2Rows.zipWithIndex
          .filter { case (_, i) => assign(i) % nBatches == b }.map(_._1))
        val statePath = java.nio.file.Files
          .createTempDirectory("graft-replaystorm-").toString + "/state"
        // the storm: each batch admitted replays(b) times back-to-back,
        // then (maybe) the previous batch echoed again out of order
        (0 until nBatches).foreach { b =>
          (0 until replays(b)).foreach { _ =>
            ReleaseDeltaStreaming.admitBatch(df(batches(b)), b.toLong, v1,
              statePath)
          }
          if (echoEarlier(b) && b > 0)
            ReleaseDeltaStreaming.admitBatch(df(batches(b - 1)),
              (b - 1).toLong, v1, statePath)
        }
        def card(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
          (Option(r.getAs[String]("source")), r.getAs[Long]("n_added"),
            r.getAs[Long]("n_removed"), r.getAs[Long]("n_changed"),
            r.getAs[Long]("n_unchanged"), r.getAs[Long]("tok_added"),
            r.getAs[Long]("tok_removed"), r.getAs[Long]("tok_delta_changed"),
            r.getAs[Long]("net_token_delta"))).toSet
        // the stormed state reports exactly the once-each (batch) card —
        // and the negative-removal tripwire stays silent, proving the
        // replay guard absorbed every duplicate admission
        assert(card(ReleaseDeltaStreaming.releaseDeltaFromState(
          ReleaseDeltaStreaming.currentState(spark, statePath), v1))
          === card(DataQuality.releaseDelta(v1, df(v2Rows))),
          s"nDocs=$nDocs nBatches=$nBatches replays=$replays echo=$echoEarlier")

        // same storm against the ANN index: stormed admissions must leave
        // the committed layout identical to a once-each run
        def vec(i: Int) = (0 until 8).map(d =>
          (seeds((i + d) % 40).toFloat / 100f) + (if (d == i % 8) 1f else 0f))
        val vecRows = (0 until nDocs).map(i => Row(i.toLong, vec(i), i % 3))
        def vdf(rs: Seq[Row]) = LocalTable.of(spark, vecSchema, rs)
        val archive = vecRows.take(8)
        val rest = vecRows.drop(8)
        val vBatches = (0 until nBatches).map(b => rest.zipWithIndex
          .filter { case (_, i) => assign(i) % nBatches == b }.map(_._1))
        val annBase = java.nio.file.Files
          .createTempDirectory("graft-replaystorm-ann-").toString
        Seq("storm", "clean").foreach(d => AnnIndexStreaming.init(
          vdf(archive), "embedding", k = 4, iters = 0, s"$annBase/$d"))
        (0 until nBatches).foreach { b =>
          (0 until replays(b)).foreach { _ =>
            AnnIndexStreaming.admitBatch(vdf(vBatches(b)), b.toLong,
              "embedding", s"$annBase/storm")
          }
          if (echoEarlier(b) && b > 0)
            AnnIndexStreaming.admitBatch(vdf(vBatches(b - 1)), (b - 1).toLong,
              "embedding", s"$annBase/storm")
          AnnIndexStreaming.admitBatch(vdf(vBatches(b)), b.toLong,
            "embedding", s"$annBase/clean")
        }
        def layout(p: String) = AnnIndexStreaming.currentLists(spark, p)
          .select(col("vec_id"), col("centroid_id")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(layout(s"$annBase/storm") === layout(s"$annBase/clean"),
          s"nDocs=$nDocs nBatches=$nBatches replays=$replays echo=$echoEarlier")
        // vec_ids must be UNIQUE in the stormed index — a replay that
        // slipped through would double-list its batch's vectors
        val ids = AnnIndexStreaming.currentLists(spark, s"$annBase/storm")
          .select(col("vec_id")).collect().map(_.getLong(0))
        assert(ids.length === ids.distinct.length)
    }
  }

  test("property: StagedCommit under randomized fault/racer schedules — a marker never points at a partial or mixed dir, every failure is loud (false-with-racer-marker or thrown, never a silent drop), and a clean retry always converges") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    val conf = spark.sparkContext.hadoopConfiguration

    // a FileSystem wrapper that can fail marker creation on demand —
    // the one commit step with no injection seam of its own. The claim
    // goes through FileContext on the REAL fs, so only fs.create is
    // intercepted.
    class MarkerFailFs(underlying: org.apache.hadoop.fs.FileSystem)
        extends org.apache.hadoop.fs.FilterFileSystem(underlying) {
      @volatile var failMarkerCreate = false
      override def create(f: Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        if (failMarkerCreate && f.getName.startsWith("_COMMIT"))
          throw new java.io.IOException("injected marker-create failure")
        super.create(f, overwrite)
      }
    }

    // injection vocabulary — one step of the commit path each:
    //   0 clean | 1 stage-write fails (sometimes mid-write) | 2 caller
    //   tripwire fires | 3 racer full-commits in the stage→claim window
    //   | 4 racer leaves a claimed-but-unmarked dir there | 5 racer
    //   clears our dir in the claim→marker window (the wave-4 residual)
    //   | 6 racer clears AND re-claims with its own complete build there
    //   | 7 marker creation itself fails
    val rnd = new scala.util.Random(20260816L)
    (0 until 25).foreach { trial =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-scprop-$trial-").toString
      val fs = new MarkerFailFs(new Path(base).getFileSystem(conf))
      def writeDir(path: String, tag: String): Unit =
        Seq("ivf", "ivf.centroids").foreach { inner =>
          val d = new java.io.File(path, inner); d.mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d.getPath, "data"), tag)
        }
      def target(v: Int) = s"$base/base_v$v"
      def marker(v: Int) = new Path(base, s"_COMMIT_v$v")
      // the two protocol invariants, checked after EVERY attempt over
      // EVERY version touched so far:
      //   I1 a committed reader never sees a partial/mixed dir — marker
      //      present ⇒ both nested parts present with ONE writer's tag
      //   I2 no leaked stage dirs (every abort/failure path cleans up)
      def checkInvariants(maxV: Int): Unit = {
        (0 to maxV).foreach { v =>
          if (fs.exists(marker(v))) {
            val a = java.nio.file.Paths.get(target(v), "ivf", "data")
            val b = java.nio.file.Paths.get(target(v), "ivf.centroids", "data")
            assert(java.nio.file.Files.exists(a) &&
              java.nio.file.Files.exists(b),
              s"trial $trial v$v: marker points at a partial dir")
            assert(java.nio.file.Files.readString(a) ===
              java.nio.file.Files.readString(b),
              s"trial $trial v$v: marker points at a MIXED dir")
          }
        }
        assert(!new java.io.File(base).listFiles()
          .exists(_.getName.contains("_stage_")),
          s"trial $trial: leaked staging dir")
      }
      var v = 0
      val attempts = 4 + rnd.nextInt(4)
      (0 until attempts).foreach { _ =>
        val inj = rnd.nextInt(8)
        val ourTag = s"v${v}_ours"
        val racerTag = s"v${v}_racer"
        fs.failMarkerCreate = inj == 7
        def attempt(injection: Int): Option[Boolean] =
          try Some(StagedCommit.commit(
            write = p => injection match {
              case 1 =>
                if (rnd.nextBoolean()) { // sometimes fail MID-write
                  val d = new java.io.File(p, "ivf"); d.mkdirs()
                  java.nio.file.Files.writeString(
                    java.nio.file.Paths.get(d.getPath, "data"), "partial")
                }
                sys.error("injected stage-write failure")
              case _ => writeDir(p, ourTag)
            },
            fs, conf, target(v), marker(v),
            beforeClaim = () => injection match {
              case 3 => writeDir(target(v), racerTag)
                fs.create(marker(v), true).close()
              case 4 => writeDir(target(v), racerTag)
              case _ => ()
            },
            abortIf = () => injection == 2,
            afterClaim = () => injection match {
              case 5 => fs.delete(new Path(target(v)), true); ()
              case 6 => fs.delete(new Path(target(v)), true)
                writeDir(target(v), racerTag)
              case _ => ()
            }))
          catch { case _: Exception => None }
        val ret = attempt(inj)
        fs.failMarkerCreate = false
        checkInvariants(v)
        // outcome accounting per injection — no silent drops:
        inj match {
          case 0 => assert(ret === Some(true)); assert(fs.exists(marker(v)))
          case 1 => assert(ret === None, "a failed write must PROPAGATE")
            assert(!fs.exists(marker(v)))
          case 2 => assert(ret === Some(false), "tripwire ⇒ clean abort")
            assert(!fs.exists(marker(v)))
          case 3 => assert(ret === Some(false),
            "racer's marker ⇒ lost race, not silence")
            assert(fs.exists(marker(v)), "the racer's commit stands")
          case 4 => assert(ret === Some(true),
            "a crashed writer's unmarked orphan must be cleared and claimed")
          case 5 => assert(ret === None,
            "a vanished claim must THROW so the engine retries")
            assert(!fs.exists(marker(v)),
              "no marker may point at the vanished dir")
          case 6 => assert(ret === Some(true),
            "a racer's complete re-claim is semantically equivalent")
          case 7 => assert(ret === None,
            "a failed marker create must PROPAGATE")
            assert(!fs.exists(marker(v)))
        }
        // convergence: whenever the version is not yet committed (a
        // thrown failure, a tripwire abort), the engine's/caller's retry
        // — a clean re-run of the same version — must commit; after a
        // lost race the version is already committed (retry would no-op)
        if (!fs.exists(marker(v))) {
          val retry = attempt(0)
          assert(retry === Some(true),
            s"trial $trial v$v inj$inj: clean retry failed to commit")
          checkInvariants(v)
        }
        assert(fs.exists(marker(v)),
          s"trial $trial v$v inj$inj: version not committed after " +
            "attempt+retry — a batch was silently dropped")
        v += 1
      }
    }
  }

  test("property: StagedCommit conditional-put claim on a SIMULATED object store (non-atomic copy rename, atomic create-if-absent) — same no-silent-drop battery plus the claim-file schedules (stale break, steal, lost put)") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    import graft.streaming.StagedCommit.{ClaimStrategy, Outcome}
    val conf = spark.sparkContext.hadoopConfiguration

    // The s3a shape, simulated over local disk: rename is a file-by-file
    // COPY then source delete — non-atomic, no dst-exists check, two
    // movers interleave freely — while create(f, overwrite=false) stays
    // atomic create-if-absent (the conditional put the protocol rides).
    // Marker creation is failable like the rename battery's MarkerFailFs.
    class SimObjectStoreFs(u: org.apache.hadoop.fs.FileSystem)
        extends org.apache.hadoop.fs.FilterFileSystem(u) {
      @volatile var failMarkerCreate = false
      @volatile var failNextClaimPut = false
      override def rename(src: Path, dst: Path): Boolean = {
        val s = java.nio.file.Paths.get(src.toUri.getPath)
        val d = java.nio.file.Paths.get(dst.toUri.getPath)
        if (!java.nio.file.Files.exists(s)) return false
        val walk = java.nio.file.Files.walk(s)
        try walk.forEach { p =>
          val tgt = d.resolve(s.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(tgt)
          else {
            java.nio.file.Files.createDirectories(tgt.getParent)
            java.nio.file.Files.copy(p, tgt,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } finally walk.close()
        super.delete(src, true)
        true
      }
      override def create(f: Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        if (failMarkerCreate && f.getName.startsWith("_COMMIT"))
          throw new java.io.IOException("injected marker-create failure")
        if (failNextClaimPut && f.getName.endsWith("_claim") && !overwrite) {
          failNextClaimPut = false
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            "injected lost conditional put")
        }
        super.create(f, overwrite)
      }
    }

    // injection vocabulary — the rename battery's 8 plus the three
    // claim-file-specific schedules:
    //   0 clean | 1 stage-write fails (sometimes mid-write) | 2 caller
    //   tripwire fires | 3 racer full-commits in the stage→claim window
    //   | 4 crashed holder: stale claim file + claimed-but-unmarked
    //   partial dir | 5 racer clears our dir in the claim→marker window
    //   | 6 racer clears AND re-claims with its own complete build there
    //   | 7 marker creation itself fails | 8 stale claim file alone
    //   (crashed before any move) | 9 racer STEALS our claim in the
    //   claim→marker window | 10 the conditional put itself loses
    val rnd = new scala.util.Random(20260815L)
    (0 until 25).foreach { trial =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-osprop-$trial-").toString
      val realFs = new Path(base).getFileSystem(conf)
      val fs = new SimObjectStoreFs(realFs)
      def writeDir(path: String, tag: String): Unit =
        Seq("ivf", "ivf.centroids").foreach { inner =>
          val d = new java.io.File(path, inner); d.mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d.getPath, "data"), tag)
        }
      def target(v: Int) = s"$base/base_v$v"
      def claim(v: Int) = new Path(base, s".base_v${v}_claim")
      def marker(v: Int) = new Path(base, s"_COMMIT_v$v")
      def plantClaim(v: Int, tag: String): Unit = {
        val out = realFs.create(claim(v), true)
        try out.write(tag.getBytes("UTF-8")) finally out.close()
      }
      // invariants after EVERY attempt over EVERY version so far:
      //   I1 marker present ⇒ both nested parts present, ONE writer's tag
      //   I2 no leaked stage dirs
      def checkInvariants(maxV: Int): Unit = {
        (0 to maxV).foreach { v =>
          if (fs.exists(marker(v))) {
            val a = java.nio.file.Paths.get(target(v), "ivf", "data")
            val b = java.nio.file.Paths.get(target(v), "ivf.centroids", "data")
            assert(java.nio.file.Files.exists(a) &&
              java.nio.file.Files.exists(b),
              s"trial $trial v$v: marker points at a partial dir")
            assert(java.nio.file.Files.readString(a) ===
              java.nio.file.Files.readString(b),
              s"trial $trial v$v: marker points at a MIXED dir")
          }
        }
        assert(!new java.io.File(base).listFiles()
          .exists(_.getName.contains("_stage_")),
          s"trial $trial: leaked staging dir")
      }
      var v = 0
      val attempts = 4 + rnd.nextInt(4)
      (0 until attempts).foreach { _ =>
        val inj = rnd.nextInt(11)
        val ourTag = s"v${v}_ours"
        val racerTag = s"v${v}_racer"
        fs.failMarkerCreate = inj == 7
        fs.failNextClaimPut = inj == 10
        def attempt(injection: Int): Option[Outcome] =
          try Some(StagedCommit.commitOutcomeWith(
            ClaimStrategy.ConditionalPut,
            write = p => injection match {
              case 1 =>
                if (rnd.nextBoolean()) {
                  val d = new java.io.File(p, "ivf"); d.mkdirs()
                  java.nio.file.Files.writeString(
                    java.nio.file.Paths.get(d.getPath, "data"), "partial")
                }
                sys.error("injected stage-write failure")
              case _ => writeDir(p, ourTag)
            },
            fs, conf, target(v), marker(v),
            beforeClaim = () => injection match {
              case 3 => writeDir(target(v), racerTag)
                realFs.create(marker(v), true).close()
              case 4 => plantClaim(v, "crashed-holder")
                val d = new java.io.File(target(v), "ivf"); d.mkdirs()
                java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(d.getPath, "data"), "partial")
              case 8 => plantClaim(v, "crashed-holder")
              case _ => ()
            },
            abortIf = () => injection == 2,
            afterClaim = () => injection match {
              case 5 => realFs.delete(new Path(target(v)), true); ()
              case 6 => realFs.delete(new Path(target(v)), true)
                writeDir(target(v), racerTag)
              case 9 => realFs.delete(claim(v), false)
                plantClaim(v, "thief")
              case _ => ()
            }))
          catch { case _: Exception => None }
        val ret = attempt(inj)
        fs.failMarkerCreate = false
        fs.failNextClaimPut = false
        checkInvariants(v)
        inj match {
          case 0 => assert(ret === Some(Outcome.Committed))
            assert(fs.exists(marker(v)))
            assert(!realFs.exists(claim(v)),
              "a committed put must release its claim file")
          case 1 => assert(ret === None, "a failed write must PROPAGATE")
            assert(!fs.exists(marker(v)))
            assert(!realFs.exists(claim(v)),
              "no claim is taken before the stage write survives")
          case 2 => assert(ret === Some(Outcome.Tripped))
            assert(!fs.exists(marker(v)))
          case 3 => assert(ret === Some(Outcome.RacerCommitted),
            "racer's marker ⇒ lost race, not silence")
            assert(fs.exists(marker(v)), "the racer's commit stands")
          case 4 => assert(ret === Some(Outcome.Committed),
            "a crashed holder's stale claim + partial dir must be " +
              "broken, cleared and re-claimed")
            assert(java.nio.file.Files.readString(java.nio.file.Paths
              .get(target(v), "ivf", "data")) === ourTag)
          case 5 => assert(ret === None,
            "a vanished claim must THROW so the engine retries")
            assert(!fs.exists(marker(v)),
              "no marker may point at the vanished dir")
            assert(!realFs.exists(claim(v)),
              "the thrown attempt must release its claim")
          case 6 => assert(ret === Some(Outcome.Committed),
            "a racer's complete re-claim is semantically equivalent")
          case 7 => assert(ret === None,
            "a failed marker create must PROPAGATE")
            assert(!fs.exists(marker(v)))
            assert(!realFs.exists(claim(v)),
              "the thrown attempt must release its claim")
          case 8 => assert(ret === Some(Outcome.Committed),
            "a stale claim with no holder must be broken at lease 0")
          case 9 => assert(ret === None,
            "a stolen claim must THROW (ownership lost), never a marker")
            assert(!fs.exists(marker(v)),
              "no marker may land over a stolen claim's move")
          case 10 => assert(ret === Some(Outcome.LostClaim),
            "a lost conditional put is a typed lost race, not silence")
            assert(!fs.exists(marker(v)))
        }
        // convergence: whenever the version is not yet committed, a
        // clean retry of the same version must commit (breaking any
        // stale claim at lease 0); after a lost race the version is
        // already committed or the racer's pending — retry both ways
        if (!fs.exists(marker(v))) {
          val retry = attempt(0)
          assert(retry === Some(Outcome.Committed),
            s"trial $trial v$v inj$inj: clean retry failed to commit")
          checkInvariants(v)
          assert(!realFs.exists(claim(v)),
            s"trial $trial v$v inj$inj: converged version left a claim")
        }
        assert(fs.exists(marker(v)),
          s"trial $trial v$v inj$inj: version not committed after " +
            "attempt+retry — a batch was silently dropped")
        v += 1
      }
    }
  }

  test("StagedCommit conditional-put lease: a within-lease claim is NOT broken — the commit throws retryably instead of stealing from a possibly-live holder") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StagedCommit
    import graft.streaming.StagedCommit.ClaimStrategy
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files
      .createTempDirectory("graft-oslease-").toString
    val fs = new Path(base).getFileSystem(conf)
    val claim = new Path(base, ".t_claim")
    val out = fs.create(claim, true)
    try out.write("live-holder".getBytes("UTF-8")) finally out.close()
    def writeDir(path: String): Unit = {
      val d = new java.io.File(path, "part"); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d.getPath, "data"), "x")
    }
    val e = intercept[java.io.IOException] {
      StagedCommit.commitOutcomeWith(ClaimStrategy.ConditionalPut,
        writeDir, fs, conf, s"$base/t", new Path(base, "_COMMIT_t"),
        claimLeaseMs = 3600L * 1000L)
    }
    assert(e.getMessage.contains("lease"),
      s"the refusal must name the lease, got: ${e.getMessage}")
    assert(fs.exists(claim), "the held claim must survive untouched")
    assert(!fs.exists(new Path(base, "_COMMIT_t")))
    assert(!new java.io.File(base).listFiles()
      .exists(_.getName.contains("_stage_")),
      "the lease refusal must clean its stage")
    // once the lease is waived (0), the stale claim breaks and commits
    assert(StagedCommit.commitOutcomeWith(ClaimStrategy.ConditionalPut,
      writeDir, fs, conf, s"$base/t", new Path(base, "_COMMIT_t"))
      === StagedCommit.Outcome.Committed)
    assert(!fs.exists(claim), "the committed put releases the claim")
  }
}
