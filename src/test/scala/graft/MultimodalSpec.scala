package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Binary-column plumbing: schema, batch-shaped decode, determinism. */
class MultimodalSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("mediaTable schema: binary payload + typed metadata struct") {
    val m = Multimodal.mediaTable(Tables(spark, sfDir, "documents"))
    assert(m.schema("media").dataType.typeName === "binary")
    assert(m.schema("meta").dataType.typeName === "struct")
    val r = m.filter(col("doc_id") === 3).collect()(0)
    assert(r.getAs[String]("kind") === "image") // 3 % 3 == 0
  }

  test("decodeFeatures: stub decode is deterministic and content-dependent") {
    val m = Multimodal.mediaTable(Tables(spark, sfDir, "documents")).limit(20)
    val f1 = Multimodal.decodeFeatures(m, () => Multimodal.MediaDecoder.DeterministicStub)
      .orderBy("doc_id").collect()
    val f2 = Multimodal.decodeFeatures(m, () => Multimodal.MediaDecoder.DeterministicStub)
      .orderBy("doc_id").collect()
    assert(f1.toSeq === f2.toSeq)
    val r = f1(0)
    assert(r.getAs[Long]("n_bytes") > 0)
    // ASCII word-soup bytes → mean intensity strictly inside (32, 127)
    val mean = r.getAs[Double]("mean_intensity")
    assert(mean > 32.0 && mean < 127.0)
  }

  test("RealCodec decodes an actual PNG via the JDK ImageIO stack") {
    // 4x2 image, half black half white -> mean intensity 127.5
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach { x =>
      img.setRGB(x, 0, 0x000000)
      img.setRGB(x, 1, 0xFFFFFF)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.MediaDecoder.RealCodec.decode(1L, "image", bos.toByteArray)
    assert(f.width === 4 && f.height === 2)
    assert(math.abs(f.mean_intensity - 127.5) < 1e-9)
    assert(f.n_bytes === bos.toByteArray.length.toLong)
  }

  test("RealCodec decodes an actual WAV via javax.sound.sampled") {
    // 16-bit mono PCM, constant amplitude 16384 -> mean |sample| = 16384
    val samples = Array.fill[Short](64)(16384.toShort)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val f = Multimodal.MediaDecoder.RealCodec.decode(2L, "audio", bos.toByteArray)
    assert(f.width === 64 && f.height === 1) // frames x channels
    assert(math.abs(f.mean_intensity - 16384.0 / 32768.0 * 255.0) < 1e-6)
  }

  test("RealCodec survives undecodable payloads with the no-signal shape") {
    val f = Multimodal.MediaDecoder.RealCodec.decode(3L, "image",
      "not an image".getBytes("UTF-8"))
    assert(f.width === 0 && f.height === 0 && f.mean_intensity === 0.0)
    val v = Multimodal.MediaDecoder.RealCodec.decode(4L, "video", Array[Byte](1, 2))
    assert(v.width === 0 && v.n_bytes === 2L)
  }

  test("decodeFeatures runs the RealCodec through the same batch shape") {
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = LocalTable.of(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("media",
          org.apache.spark.sql.types.BinaryType))),
      Seq(org.apache.spark.sql.Row(1L, "image", bos.toByteArray)))
    val out = Multimodal.decodeFeatures(media, () => Multimodal.MediaDecoder.RealCodec)
      .collect()(0)
    assert(out.getAs[Int]("width") === 2 && out.getAs[Int]("height") === 2)
    assert(out.getAs[Double]("mean_intensity") === 0.0) // all-black default
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("resizeImage scales a real PNG") {
    val resized = Multimodal.MediaTransforms.resizeImage(pngBytes(4, 2, 0xFF0000), 2, 1)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.get))
    assert(back.getWidth === 2 && back.getHeight === 1)
    assert((back.getRGB(0, 0) & 0xFFFFFF) === 0xFF0000) // color survives
    assert(Multimodal.MediaTransforms.resizeImage("junk".getBytes, 2, 2).isEmpty)
  }

  test("sampleFrames strides through a real animated GIF") {
    // 4-frame animated GIF via the JDK GIF writer's sequence API
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 2).foreach(x => (0 until 2).foreach(y => img.setRGB(x, y, c)))
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close()
    val gif = bos.toByteArray

    val all = Multimodal.MediaTransforms.sampleFrames(gif, 1)
    assert(all.length === 4)
    val sampled = Multimodal.MediaTransforms.sampleFrames(gif, 2)
    assert(sampled.length === 2) // frames 0 and 2
    // sampled frames are valid PNGs with the right colors
    val f0 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sampled(0)))
    assert((f0.getRGB(0, 0) & 0xFFFFFF) === 0xFF0000)
    // a single-frame PNG yields its one frame; junk yields none
    assert(Multimodal.MediaTransforms.sampleFrames(pngBytes(2, 2, 0), 2).length === 1)
    assert(Multimodal.MediaTransforms.sampleFrames("junk".getBytes, 1).isEmpty)
  }

  test("mediaIncrementalDedup: archive hit, in-batch keep-first, fresh admit") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType)))
    def media(rs: (Long, String)*) = LocalTable.of(spark, schema,
      rs.map { case (i, t) => Row(i, t.getBytes("UTF-8")) })
    val archive = media((1L, "payload-a"), (2L, "payload-b"))
    val batch = media(
      (10L, "payload-a"),   // archive hit → not admitted
      (11L, "payload-c"), (12L, "payload-c"), // in-batch dups → 11 admitted
      (13L, "payload-d"))   // fresh → admitted
    val idx = Multimodal.mediaHashIndex(archive)
    val out = Multimodal.mediaIncrementalDedup(batch, idx)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3)))
      .toMap
    assert(out === Map(10L -> ((true, false)), 11L -> ((false, true)),
      12L -> ((false, false)), 13L -> ((false, true))))
  }

  test("n_bytes matches the text byte length end-to-end") {
    val docs = Tables(spark, sfDir, "documents").limit(10)
    val feats = Multimodal.decodeFeatures(Multimodal.mediaTable(docs),
      () => Multimodal.MediaDecoder.DeterministicStub)
    val joined = feats.join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).cast("long").as("tl"))
      .collect()
    assert(joined.forall(r => r.getLong(0) === r.getLong(1)))
  }

  test("mediaExactDedup: byte-identical payloads collapse to the min-id representative") {
    val docs = LocalTable.of(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media",
          org.apache.spark.sql.types.BinaryType))),
      Seq(org.apache.spark.sql.Row(5L, "payload-a".getBytes),
        org.apache.spark.sql.Row(2L, "payload-a".getBytes),
        org.apache.spark.sql.Row(3L, "payload-b".getBytes)))
    val out = Multimodal.mediaExactDedup(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out === Map(5L -> ((2L, true)), 2L -> ((2L, false)), 3L -> ((3L, false))))
  }

  test("frameSample: ceil framing, stride decimation, exact byte windows, empty payloads drop out") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media", BinaryType)))
    // 10 bytes at frameBytes=4 → 3 frames (ceil), stride 2 → frames 0, 2
    val payload = "0123456789".getBytes("UTF-8")
    val docs = LocalTable.of(spark, schema, Seq(
      Row(1L, payload),
      Row(2L, Array.empty[Byte]),      // no frames → no rows
      Row(3L, "abcd".getBytes("UTF-8")))) // exactly one frame
    val got = Multimodal.frameSample(docs, frameBytes = 4, stride = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("n_frames"), r.getAs[String]("frame_hex")))).toMap
    def hx(s: String) = s.getBytes("UTF-8").map("%02X".format(_)).mkString
    assert(got.keySet === Set((1L, 0L), (1L, 2L), (3L, 0L)))
    assert(got((1L, 0L)) === ((3L, hx("0123"))))
    assert(got((1L, 2L)) === ((3L, hx("89"))), "tail frame is the short remainder")
    assert(got((3L, 0L)) === ((1L, hx("abcd"))))
    intercept[IllegalArgumentException] {
      Multimodal.frameSample(docs, frameBytes = 0, stride = 1)
    }
  }

  test("frameEmbeddings/frameCosineTopK: deterministic stub vectors, self-similarity tops, query frame excluded") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("frame_idx", LongType),
      StructField("frame_hex", StringType)))
    // doc 5's frame 1 is BYTE-IDENTICAL to the query frame (doc 1,
    // frame 0) — the stub embeds content, so it must score cos = 1.0
    // and rank first
    val frames = LocalTable.of(spark, schema, Seq(
      Row(1L, 0L, "AABB"), Row(1L, 1L, "CCDD"),
      Row(5L, 0L, "EEFF"), Row(5L, 1L, "AABB")))
    val emb = Multimodal.frameEmbeddings(frames)
    val vecs = emb.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    assert(vecs.values.forall(v => v.length === 8 &&
      v.forall(x => x >= 0.0 && x <= 1.0)))
    // content-determined: identical hex -> identical vector
    assert(vecs((1L, 0L)) === vecs((5L, 1L)))
    assert(vecs((1L, 0L)) !== vecs((1L, 1L)))
    // repartitioning changes nothing (pure projection)
    assert(Multimodal.frameEmbeddings(frames.repartition(5)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      === vecs)
    val top = Multimodal.frameCosineTopK(emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // query frame (1,0) excluded; its byte-identical twin tops at 1.0
    assert(!top.exists(t => t._1 == 1L && t._2 == 0L))
    assert(top.head._1 === 5L && top.head._2 === 1L && top.head._3 === 1.0)
    assert(top.length === 3)
  }

  test("frameCosineTopK: dims parameter follows the embedding width; a mismatch errors instead of silently scoring a prefix") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("frame_idx", LongType),
      StructField("frame_hex", StringType)))
    val frames = LocalTable.of(spark, schema, Seq(
      Row(1L, 0L, "AABB"), Row(1L, 1L, "CCDD"), Row(5L, 0L, "AABB")))
    val emb4 = Multimodal.frameEmbeddings(frames, dims = 4)
    val top = Multimodal.frameCosineTopK(emb4, k = 5, dims = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 4-dim works end-to-end: the byte-identical twin tops at cos 1.0
    assert(top.head === ((5L, 0L, 1.0)))
    assert(top.length === 2)
    // dims ≠ embedding width (including the default 8) is a per-row
    // error, never a first-dims prefix score
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + chain(t.getCause)
    val e = intercept[Throwable] {
      Multimodal.frameCosineTopK(emb4, k = 5).collect()
    }
    assert(chain(e).contains("expected 8-dim frame_emb"), chain(e).take(500))
  }
}
