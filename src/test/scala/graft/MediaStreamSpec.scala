package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.multimodal.{Jpeg, Multimodal, Png, Wav}

/** Streaming twins of the REAL decode family: the m7/m10/m11 batch
  * plans are stateless mapPartitions transforms, so ONE definition
  * serves both engines — each is driven through MemoryStream here
  * and parity-checked against its batch result on the same rows
  * (ingest-time decode for an arriving media firehose).
  */
class MediaStreamSpec extends SparkSpec {
  import spark.implicits._

  private def png(id: Long): Multimodal.MediaRow = {
    val w = 5 + (id % 3).toInt; val h = 4 + (id % 4).toInt
    val rgb = Array.tabulate(w * h * 3)(i => (id * 13 + i * 7).toByte)
    val p = Png.encode(w, h, rgb, y => (y + id.toInt) % 5)
    Multimodal.MediaRow(id, "image/png", p.length.toLong, p)
  }

  private def wav(id: Long): Multimodal.MediaRow = {
    val ch = 1 + (id % 2).toInt
    val samples = Array.tabulate(24 * ch)(i => (id * 977 + i * 313 - 9000).toShort)
    val p = Wav.encode(8000, ch, samples)
    Multimodal.MediaRow(id, "audio/wav", p.length.toLong, p)
  }

  test("parity: streaming PNG decode equals the batch m7 stats plan") {
    val rows = (1L to 6L).map(png)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodePngStats(stream.toDF())
      .writeStream.format("memory").queryName("png_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("png_t").as[Multimodal.PixelStats]
        .collect().toSet
      val want = Multimodal.decodePngStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }

  test("parity: streaming dHash equals the batch hash on decoded pixels") {
    val rows = Seq(png(1), png(2), png(1).copy(doc_id = 9)) // 9 dups 1
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.pngDHash(stream.toDF())
      .writeStream.format("memory").queryName("dhash_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("dhash_t").as[Multimodal.DHashRow]
        .collect().toSet
      val want = Multimodal.pngDHash(rows.toDF()).collect().toSet
      assert(got == want)
      // identical pixels → identical hash across distinct doc_ids
      val byId = got.map(r => r.doc_id -> r.dhash_hex).toMap
      assert(byId(1L) == byId(9L) && byId(1L) != byId(2L))
    } finally q.stop()
  }

  test("parity: streaming audio features equal the batch m11 fold") {
    val rows = (1L to 5L).map(wav)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.audioFeatures(stream.toDF())
      .writeStream.format("memory").queryName("audio_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("audio_t").as[Multimodal.AudioFeatures]
        .collect().toSet
      val want = Multimodal.audioFeatures(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 5)
    } finally q.stop()
  }

  test("parity: streaming COLOR JPEG decode equals the batch m14 plan") {
    // one definition serves batch and stream: decodeJpegRgbStats is
    // the m14 operator verbatim, here fed by a MemoryStream
    val rows = (0L to 5L).map { id =>
      val w = 16 * (1 + (id % 2)).toInt; val h = 16
      def plane(a: Int, b: Int) = Array.tabulate(w * h) { i =>
        (128 + 17 * (((id * a + (i / w / 16) * b) % 15) - 7)).toByte
      }
      val yP = Array.tabulate(w * h)(i => (2 * ((id * 29 + i / w / 16) % 128)).toByte)
      val p = Jpeg.encodeColor(w, h, yP, plane(11, 5), plane(19, 7),
        subsample = Array(Jpeg.Sub420, Jpeg.Sub444,
          Jpeg.Sub422)((id % 3).toInt),
        restartInterval = if (id % 3 == 0) 2 else 0)
      Multimodal.MediaRow(id, "image/jpeg", p.length.toLong, p)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeJpegRgbStats(stream.toDF())
      .writeStream.format("memory").queryName("jpegc_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("jpegc_t").as[Multimodal.PixelStats]
        .collect().toSet
      val want = Multimodal.decodeJpegRgbStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }

  test("parity: streaming palette/interlaced PNG decode equals batch") {
    val rows = (0L to 5L).map { id =>
      val w = 6; val h = 5
      val psize = 16
      val palette = Array.tabulate(psize * 3)(i => (id * 41 + i * 7).toByte)
      val indices = Array.tabulate(w * h)(i => ((id * 13 + i * 3) % psize).toInt)
      val p = Png.encodePalette(w, h, 4, palette, indices,
        interlaced = id % 2 == 1, _ % 5)
      Multimodal.MediaRow(id, "image/png", p.length.toLong, p)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodePngStats(stream.toDF())
      .writeStream.format("memory").queryName("pngpal_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("pngpal_t").as[Multimodal.PixelStats]
        .collect().toSet
      val want = Multimodal.decodePngStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }

  test("parity: streaming animated-GIF frame walk equals the batch m19 plan") {
    // one-row-to-many (frames per payload) through the same
    // stateless mapPartitions — compositing/disposal state lives
    // WITHIN a payload, so the stream stays stateless.
    import graft.multimodal.Gif
    def anim(id: Long): Multimodal.MediaRow = {
      val w = 8; val h = 8
      val pal = Array.tabulate(48)(i => (id * 31 + i * 7).toByte)
      val frames = Seq(
        Gif.FrameSpec(0, 0, w, h,
          Array.tabulate(64)(i => ((id + i) % 16).toByte)),
        Gif.FrameSpec(2, 3, 3, 3,
          Array.tabulate(9)(i => ((id * 5 + i) % 16).toByte),
          disposal = 2, transparent = (id % 16).toInt))
      val p = Gif.encodeAnimated(w, h, 4, pal, frames)
      Multimodal.MediaRow(id, "image/gif", p.length.toLong, p)
    }
    val rows = (1L to 5L).map(anim)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeGifFrameStats(stream.toDF())
      .writeStream.format("memory").queryName("gif_frames_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("gif_frames_t")
        .as[Multimodal.GifFrameStats].collect().toSet
      val want = Multimodal.decodeGifFrameStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 10) // 5 payloads × 2 frames
    } finally q.stop()
  }

  test("parity: streaming audio resample equals the batch m21 plan") {
    val rows = (1L to 6L).map(wav)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.resampleWav(stream.toDF())
      .writeStream.format("memory").queryName("resample_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("resample_t")
        .as[Multimodal.ResampleStats].collect().toSet
      val want = Multimodal.resampleWav(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }

  test("parity: streaming VAD segmentation equals the batch m23 plan") {
    // one-row-to-many (segments per clip) through the same stateless
    // mapPartitions — run-length state lives inside the row's own
    // scan, so append-mode streaming needs no state store.
    val rows = (1L to 6L).map(wav)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.vadSegments(stream.toDF())
      .writeStream.format("memory").queryName("vad_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("vad_t")
        .as[Multimodal.VadSegment].collect().toSet
      val want = Multimodal.vadSegments(rows.toDF())
        .collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("parity: streaming shot cuts equal the batch frame-pair deltas") {
    import graft.multimodal.Gif
    // Three-frame animations with a big and a small repaint — the
    // m26 plan is a stateless mapPartitions pass, so the one
    // definition serves append-mode streams unchanged.
    def gif(id: Long): Multimodal.MediaRow = {
      val palette = Array.tabulate(3 * 16)(i =>
        ((i / 3) * 15 + (i % 3) * 5 + id).toByte)
      val base = Gif.FrameSpec(0, 0, 8, 8,
        Array.tabulate(64)(i => ((i + id) % 8).toByte), disposal = 1)
      val f1 = Gif.FrameSpec(2, 2, 4, 4,
        Array.tabulate(16)(i => ((i + id) % 8 + 8).toByte), disposal = 1)
      val f2 = Gif.FrameSpec(0, 0, 1, 1,
        Array[Byte](15), disposal = 1)
      val p = Gif.encodeAnimated(8, 8, 4, palette, Seq(base, f1, f2))
      Multimodal.MediaRow(id, "image/gif", p.length.toLong, p)
    }
    val rows = (1L to 4L).map(gif)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.shotCuts(stream.toDF())
      .writeStream.format("memory").queryName("cuts_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("cuts_t")
        .as[Multimodal.ShotCutRow].collect().toSet
      val want = Multimodal.shotCuts(rows.toDF()).collect().toSet
      assert(got == want && got.size == 8)
      // the 4×4 repaint crosses the 20% threshold, the 1-px one never
      assert(got.filter(_.frame_idx == 1L).forall(_.is_cut))
      assert(!got.filter(_.frame_idx == 2L).exists(_.is_cut))
    } finally q.stop()
  }

  test("parity: streaming netpbm decode equals the batch m27 stats plan") {
    import graft.multimodal.Netpbm
    def pbm(id: Long): Multimodal.MediaRow = {
      val magic = if (id % 2 == 0) 6 else 5
      val mv = if (magic == 5 && id % 4 == 1) 1000 else 255
      val ch = if (magic == 6) 3 else 1
      val w = 4 + (id % 3).toInt; val h = 3 + (id % 4).toInt
      val samples = Array.tabulate(w * h * ch)(i =>
        ((id * 41 + i * 19) % (mv + 1)).toInt)
      val p = Netpbm.encode(magic, w, h, mv, samples,
        comment = if (id % 3 == 0) "stream" else "")
      Multimodal.MediaRow(id, "image/x-portable-anymap",
        p.length.toLong, p)
    }
    val rows = (1L to 8L).map(pbm)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeNetpbmStats(stream.toDF())
      .writeStream.format("memory").queryName("pbm_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("pbm_t")
        .as[Multimodal.NetpbmStats].collect().toSet
      val want = Multimodal.decodeNetpbmStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 8)
      // the 16-bit path is represented in the streamed batch
      assert(got.exists(_.maxval == 1000L))
    } finally q.stop()
  }

  test("parity: streaming tile signature equals the batch m28 plan") {
    val rows = (1L to 6L).map(png)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.tileSignature(stream.toDF(), grid = 2)
      .writeStream.format("memory").queryName("tiles_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("tiles_t")
        .as[Multimodal.TileStats].collect().toSet
      val want = Multimodal.tileSignature(rows.toDF(), grid = 2)
        .collect().toSet
      assert(got == want && got.size == 24)
    } finally q.stop()
  }

  test("undecodable payloads drop in both engines identically") {
    val bad = Multimodal.MediaRow(7L, "image/png",
      3L, Array[Byte](1, 2, 3))
    val rows = Seq(png(1), bad)
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodePngStats(stream.toDF())
      .writeStream.format("memory").queryName("bad_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.table("bad_t").count() == 1)
      assert(Multimodal.decodePngStats(rows.toDF()).count() == 1)
    } finally q.stop()
  }

  test("parity: streaming MP3/ID3 metadata walk equals the batch m31 plan") {
    import graft.multimodal.Mp3
    val rows = (1L to 6L).map { id =>
      val p = Mp3.encode(Mp3.Meta("t" + id, "a" + (id % 3),
        1000L * (10 + id), Array(128, 192, 256, 320)((id % 4).toInt),
        Array(44100, 48000, 32000)((id % 3).toInt),
        nFrames = (2 + id % 3).toInt))
      Multimodal.MediaRow(id, "audio/mpeg", p.length.toLong, p)
    } :+ Multimodal.MediaRow(99L, "audio/mpeg", 4L,
      Array[Byte](0, 1, 2, 3)) // corrupt: drops row-local, both engines
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.parseMp3Meta(stream.toDF())
      .writeStream.format("memory").queryName("mp3_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("mp3_t").as[Multimodal.Mp3Row]
        .collect().toSet
      val want = Multimodal.parseMp3Meta(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }

  test("parity: streaming TIFF decode equals the batch m32 stats plan") {
    import graft.multimodal.Tiff
    val rows = (1L to 6L).map { id =>
      val w = 4 + (id % 3).toInt; val h = 3 + (id % 4).toInt
      val spp = if (id % 2 == 0) 3 else 1
      val photometric = if (spp == 3) 2 else 1
      val px = Array.tabulate(w * h * spp)(i => (id * 19 + i * 5).toByte)
      val p = Tiff.encode(w, h, spp, photometric, px,
        little = id % 2 == 0, rowsPerStrip = (1 + id % 2).toInt)
      Multimodal.MediaRow(id, "image/tiff", p.length.toLong, p)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeTiffStats(stream.toDF())
      .writeStream.format("memory").queryName("tiff_t")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("tiff_t").as[Multimodal.TiffStats]
        .collect().toSet
      val want = Multimodal.decodeTiffStats(rows.toDF())
        .collect().toSet
      assert(got == want && got.size == 6)
    } finally q.stop()
  }
}
