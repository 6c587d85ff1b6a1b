package graft.multimodal

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Multimodal plumbing: opaque-binary schema, mapPartitions decode
  * shape, bounded frame sampling, and the media→embedding→ANN path.
  * The decode kernel is the documented deterministic stub; these tests
  * pin the CONTRACT a real codec implementation must satisfy. */
class MultimodalSpec extends SparkSpec {
  import testImplicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def media = Multimodal.syntheticMedia(spark, sfDir)

  test("synthetic media table: opaque binary content with kind routing") {
    val m = media
    assert(m.schema("content").dataType.typeName == "binary")
    val kinds = m.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
    assert(kinds.values.sum == 500)
  }

  test("decode: one row per media, deterministic metadata, binary dropped") {
    val d1 = Multimodal.decode(media, "media_id", "content")
    val d2 = Multimodal.decode(media, "media_id", "content")
    assert(d1.count() == 500)
    assert(d1.schema.fieldNames.sameElements(
      Array("media_id", "width", "height", "format", "pixel_hash")))
    // deterministic: same bytes → same decode on every run
    assert(d1.orderBy("media_id").collect().sameElements(
      d2.orderBy("media_id").collect()))
    val row = d1.filter(col("media_id") === 0).head()
    assert(row.width >= 16 && row.height >= 16)
    assert(Set("png", "jpeg").contains(row.format))
  }

  test("decode: custom decoder plugs in without plan changes") {
    val fixed = new Multimodal.MediaDecoder {
      override def decode(bytes: Array[Byte]): (Int, Int, String, Long) =
        (640, 480, "tiff", bytes.length.toLong)
    }
    val out = Multimodal.decode(media, "media_id", "content", fixed)
      .filter(col("media_id") === 3).head()
    assert(out.width == 640 && out.format == "tiff")
  }

  test("frameSample: at most maxFrames per media, offsets strided, deterministic") {
    val frames = Multimodal.frameSample(media, "media_id", "content",
      frameBytes = 100, maxFrames = 4)
    val perMedia = frames.groupBy("media_id").count().collect().map(_.getLong(1))
    assert(perMedia.forall(n => n >= 1 && n <= 4))
    val f = frames.filter(col("media_id") === 0).orderBy("frame_idx").collect()
    f.zipWithIndex.foreach { case (r, i) =>
      assert(r.frame_idx == i)
      assert(r.frame_offset == i * 100L)
    }
  }

  test("embed: fixed-dim vectors feed the ANN top-k path end-to-end") {
    val embs = Multimodal.embed(media, "media_id", "content", dims = 64).toDF()
    assert(embs.head().getAs[scala.collection.Seq[Float]]("embedding").length == 64)
    // media embeddings flow into the similarity operators unchanged
    val top = Similarity.topK(embs, "media_id", "embedding", queryId = 0L, k = 5)
      .collect()
    assert(top.length == 5)
    assert(top.forall(r => r.getDouble(1) <= 1.0 && r.getDouble(1) >= -1.0))
  }

  test("resize: aspect preserved, box respected, payload scales, no-op under box") {
    val out = Multimodal.resize(media, "media_id", "content",
      maxWidth = 128, maxHeight = 128).collect()
    assert(out.length == media.count())
    out.foreach { r =>
      assert(r.width <= 128 && r.height <= 128, s"box violated: $r")
      assert(r.width >= 1 && r.height >= 1)
      // aspect preserved within integer truncation
      val srcAspect = r.src_width.toDouble / r.src_height
      val dstAspect = r.width.toDouble / r.height
      assert(math.abs(srcAspect - dstAspect) / srcAspect < 0.1,
        s"aspect drift: $r")
      // already-fitting media pass through untouched
      if (r.src_width <= 128 && r.src_height <= 128) {
        assert(r.width == r.src_width && r.height == r.src_height)
      } else {
        // payload length tracks the pixel reduction
        assert(r.content.length < r.src_width * r.src_height)
      }
    }
    // deterministic across runs
    val again = Multimodal.resize(media, "media_id", "content",
      maxWidth = 128, maxHeight = 128).collect()
    assert(out.map(r => (r.media_id, r.width, r.height, r.content.toSeq)).toSet ==
      again.map(r => (r.media_id, r.width, r.height, r.content.toSeq)).toSet)
  }

  test("decode runs partition-parallel (no driver-side loop)") {
    val parts = media.repartition(7)
    val decoded = Multimodal.decode(parts, "media_id", "content")
    assert(decoded.rdd.getNumPartitions == 7)
    assert(decoded.count() == 500)
  }

  private def mediaQuery(name: String, rows: Seq[(Long, String)]) = {
    val dir = tempDir("graft_media").toString
    rows.map { case (id, text) => (id, text, "en", "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.queries.MultimodalQueries.all.find(_.name == name).get.fn(spark, dir)
  }

  test("u09: byte-identical payloads collapse to the lowest id; distinct ones survive") {
    val payload = "x" * 600
    val out = mediaQuery("u09_media_dedup", Seq(
        (1L, payload), (2L, payload), (3L, "y" * 600)))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(out(1L) === ((1L, 2L, 0)))
    assert(out(2L) === ((1L, 2L, 1)))
    assert(out(3L) === ((3L, 1L, 0)))
  }

  // ---- real codec (javax.imageio) through the same trait ----

  /** A real PNG: w×h gradient raster, encoded by the JDK writer. */
  private def realPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, 0xff000000 | (x * 255 / w << 16) | (y * 255 / h << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoDecoder: decodes a real PNG through the Spark decode operator") {
    val df = Seq((1L, realPng(48, 32)), (2L, realPng(16, 64)))
      .toDF("media_id", "content")
    val out = Multimodal.decode(df, "media_id", "content",
        Multimodal.ImageIoDecoder)
      .collect().map(d => d.media_id -> d).toMap
    assert(out(1L).width === 48 && out(1L).height === 32)
    assert(out(2L).width === 16 && out(2L).height === 64)
    assert(out.values.forall(_.format == "png"))
    // deterministic raster identity: a fresh encode of the same raster
    // decodes to the identical (geometry, format, pixel_hash) tuple
    val again = Multimodal.ImageIoDecoder.decode(realPng(48, 32))
    assert(again === ((48, 32, "png", out(1L).pixel_hash)))
  }

  test("ImageIoDecoder: undecodable bytes throw (corrupt routing is caller policy)") {
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoDecoder.decode("not an image".getBytes)
    }
  }

  test("ImageIoResizer: real resize through the Spark resize operator") {
    val df = Seq((1L, realPng(64, 32)), (2L, realPng(8, 8))).toDF("media_id", "content")
    val out = Multimodal.resize(df, "media_id", "content", 16, 16,
        Multimodal.ImageIoDecoder, Multimodal.ImageIoResizer)
      .collect().map(r => r.media_id -> r).toMap
    // 64x32 into a 16x16 box, aspect preserved → 16x8; payload is a
    // REAL decodable PNG of exactly that geometry
    assert(out(1L).width === 16 && out(1L).height === 8)
    val back = Multimodal.ImageIoDecoder.decode(out(1L).content)
    assert(back._1 === 16 && back._2 === 8 && back._3 === "png")
    // already inside the box → payload passes through untouched
    assert(out(2L).width === 8 && out(2L).height === 8)
    assert(out(2L).content.sameElements(realPng(8, 8)))
  }

  test("u10: shared-prefix payloads pair with containment; disjoint ones don't pair") {
    // varied 1024-byte prefix → 8 DISTINCT shared 128-byte frame fps
    // (128 % 26 ≠ 0 shifts the cycle per frame); constant tails collapse
    // to one fp each
    val common = Iterator.continually('a' to 'z').flatten.take(1024).mkString
    val out = mediaQuery("u10_media_frame_neardup", Seq(
        (1L, common + "1" * 1024),
        (2L, common + "2" * 1024),
        (3L, "z" * 2048)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // exactly one pair: (1, 2) sharing the 8 prefix frames; each doc has
    // 8 + 1 distinct fps → containment 8/9
    assert(out.toSeq === Seq((1L, 2L, 8L, 0.8889)))
  }
}
