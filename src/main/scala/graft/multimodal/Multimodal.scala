package graft.multimodal

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as `binary` payloads with typed
  * metadata (`MediaRow`), decoded per partition by the real codecs
  * beside this file (PNG, GIF, JPEG, BMP, ICO, TIFF, netpbm, WAV,
  * MP3, EXIF).
  *
  * Every function goes through one of two seams, both of which take
  * their encoders from the input frame's own session, so one
  * definition serves batch and streaming frames alike:
  *   - `plant` turns `doc_id`s into a deterministic `MediaRow`
  *     table (the planted corpora whose pixels or samples the
  *     oracles recompute from formulas, without a decoder);
  *   - `perPayload` runs one closure per payload over an iterator
  *     (never materializing a partition) and flattens what it
  *     returns — zero rows for an undecodable payload, which is
  *     dropped row-local, one or more rows for a decoded one.
  * Both are map-side only: at 100 TB the payload column dominates
  * I/O, partition sizing comes from `spark.sql.files.maxPartitionBytes`,
  * and nothing here shuffles. The byte-window `sampleFrames`, stride
  * `resize` and histogram `extractFeatures` are stand-ins for
  * payloads without a codec.
  */
object Multimodal {

  val HistogramBins = 16

  private def md5Ascii(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII"))
      .map(b => f"${b & 0xFF}%02x").mkString

  /** (md5 of the lowercase hex of the bytes, unsigned-byte sum) —
    * the digest contract the m7/m9 oracles mirror; defined ONCE so
    * the oracle-facing encoding can't drift between decoders.
    */
  private def pixelDigest(bytes: Array[Byte]): (String, Long) = {
    var sum = 0L
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      sum += b
      sb.append(Character.forDigit(b >> 4, 16))
        .append(Character.forDigit(b & 15, 16))
      i += 1
    }
    (md5Ascii(sb.toString), sum)
  }

  case class MediaRow(doc_id: Long, format: String, n_bytes: Long,
      payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, format: String, n_bytes: Long,
      feature: Array[Double])

  /** One `MediaRow` per `doc_id` of `docs`, its payload planted from
    * the id.
    */
  private def plant(docs: DataFrame, format: Long => String)(
      payload: Long => Array[Byte]): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val p = payload(id)
        MediaRow(id, format(id), p.length.toLong, p)
      }
    }.toDF()
  }

  private def plant(docs: DataFrame, format: String)(
      payload: Long => Array[Byte]): DataFrame =
    plant(docs, (_: Long) => format)(payload)

  /** `f` over every payload of `media`, flattened. */
  private def perPayload[T <: Product : TypeTag](media: DataFrame)(
      f: MediaRow => IterableOnce[T]): Dataset[T] = {
    val session = media.sparkSession
    import session.implicits._
    media.as[MediaRow].mapPartitions(_.flatMap(f))
  }

  /** Fabricate a deterministic media table from `documents`: the
    * UTF-8 bytes of `text` stand in for an encoded media payload,
    * with typed metadata columns.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("fake/raw").as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      encode(col("text"), "UTF-8").as("payload"))

  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling stand-in: split the payload into `nFrames` evenly
    * spaced byte windows (a real video decoder would emit decoded
    * frames here; the iterator-in/iterator-out partition shape and
    * the one-row-to-many explode are the actual plumbing a frame
    * sampler needs). Frames of empty payloads are empty.
    */
  def sampleFrames(media: DataFrame, nFrames: Int): Dataset[Frame] =
    perPayload(media) { r =>
      val len = r.payload.length
      val w = math.max(1, len / nFrames)
      (0 until nFrames).iterator.map { i =>
        val from = math.min(i * w, len)
        val until = if (i == nFrames - 1) len else math.min(from + w, len)
        Frame(r.doc_id, i, java.util.Arrays.copyOfRange(r.payload, from, until))
      }
    }

  case class Thumb(doc_id: Long, idx: Int, byte_val: Int)

  /** Resize stand-in: nearest-neighbor downsample of the payload to a
    * fixed `width` bytes (out[i] = payload[⌊i·n/width⌋] — the stride
    * arithmetic an image thumbnailer runs per axis, in 1-D). Empty
    * payloads emit nothing. Same iterator-per-partition shape as the
    * other decode steps; output is fixed-size regardless of input
    * size, which is what makes a downstream feature store's row
    * width predictable.
    */
  def resize(media: DataFrame, width: Int): Dataset[Thumb] =
    perPayload(media) { r =>
      val n = r.payload.length
      if (n == 0) Iterator.empty
      else (0 until width).iterator.map { i =>
        Thumb(r.doc_id, i, r.payload((i.toLong * n / width).toInt) & 0xFF)
      }
    }

  /** Plant REAL PNGs (encoded by [[Png.encode]] with the real zlib
    * Deflater, rotating through all five scanline filter types, IDAT
    * split across two chunks): dimensions and every pixel byte are
    * deterministic in doc_id — width 4 + id%5, height 4 + (id*3)%5,
    * byte(y, x, c) = (id*31 + y*7 + x*3 + c) % 256 — so the oracle
    * can recompute the expected pixels WITHOUT a decoder and pin the
    * decoded bytes exactly.
    */
  def pngTable(docs: DataFrame, seedOf: Long => Long = identity): DataFrame =
    plant(docs, "image/png") { docId =>
      val id = seedOf(docId)
      val w = (4 + id % 5).toInt
      val h = (4 + (id * 3) % 5).toInt
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < 3) {
            rgb((y * w + x) * 3 + c) =
              ((id * 31 + y * 7 + x * 3 + c) % 256).toByte
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Png.encode(w, h, rgb, y => y % 5)
    }

  /** Plant REAL PALETTE PNGs ([[Png.encodePalette]]): bit depth
    * rotates 8/4/2/1 by doc_id, odd ids Adam7-INTERLACED, scanline
    * filters rotating all five types per pass — the decoder walks
    * PLTE lookup, sub-byte unpacking, and the seven-pass scatter.
    * Interlacing reorders the stream but NOT the final pixels, so
    * the oracle recomputes them from the planting formulas without a
    * decoder: width 4 + id%5, height 4 + (id·3)%5, palette size
    * min(16, 2^depth), palette[j][c] = (id·41 + j·37 + c·11) % 256,
    * index(y, x) = (id·13 + y·5 + x·3) % size.
    */
  def pngPalTable(docs: DataFrame): DataFrame =
    plant(docs, "image/png") { id =>
      // floorMod: % preserves sign, which would index Array(8,4,2,1)
      // negatively if an id source ever goes negative (xxhash64 seeds).
      val w = (4 + Math.floorMod(id, 5)).toInt
      val h = (4 + Math.floorMod(id * 3, 5)).toInt
      val depth = Array(8, 4, 2, 1)(Math.floorMod(id, 4).toInt)
      val psize = math.min(16, 1 << depth)
      val palette = new Array[Byte](psize * 3)
      for (j <- 0 until psize; c <- 0 until 3)
        palette(j * 3 + c) =
          Math.floorMod(id * 41 + j * 37 + c * 11, 256).toByte
      val indices = Array.tabulate(w * h) { i =>
        val y = i / w; val x = i % w
        Math.floorMod(id * 13 + y * 5 + x * 3, psize).toInt
      }
      Png.encodePalette(w, h, depth, palette, indices,
        interlaced = Math.floorMod(id, 2) == 1, y => y % 5)
    }

  /** Plant REAL 16-BIT truecolor PNGs ([[Png.encodeRaw16]]): each
    * sample is a big-endian 16-bit value whose HIGH byte is the
    * oracle-recomputable formula and whose LOW byte is deterministic
    * noise the 8-bit downsample must discard — decode is only
    * correct if the scanline filtering ran at the 6-byte-per-pixel
    * stride AND the downsample took exactly the high byte:
    * hi(y, x, c) = (id·23 + y·9 + x·5 + c·3) % 256,
    * lo(y, x, c) = (id·7 + y·11 + x·13 + c) % 256.
    */
  def png16Table(docs: DataFrame): DataFrame =
    plant(docs, "image/png") { id =>
      val w = (4 + id % 5).toInt
      val h = (4 + (id * 3) % 5).toInt
      val data = Array.tabulate(w * h * 3) { i =>
        val c = i % 3; val x = (i / 3) % w; val y = i / 3 / w
        val hi = ((id * 23 + y * 9 + x * 5 + c * 3) % 256).toInt
        val lo = ((id * 7 + y * 11 + x * 13 + c) % 256).toInt
        (hi << 8) | lo
      }
      Png.encodeRaw16(w, h, 2, data, y => y % 5)
    }

  /** Plant REAL BMPs ([[Bmp]]): even doc_ids 24-bit BI_RGB (ids
    * divisible by 4 stored TOP-DOWN via negative biHeight, the rest
    * bottom-up — the decoder must normalize), odd doc_ids BI_RLE8
    * palette images whose 3-pixel index runs exercise encoded-run
    * and absolute RLE modes on alternating rows. Oracle formulas
    * (top-down pixel space, independent of storage order):
    * 24-bit rgb(y,x,c) = (id·37 + y·5 + x·11 + c·7) % 256;
    * RLE8 palette[j][c] = (id·29 + j·23 + c·13) % 256 with
    * index(y,x) = (id·17 + y·13 + (x div 3)·9) % 16.
    */
  def bmpTable(docs: DataFrame): DataFrame =
    plant(docs, "image/bmp") { id =>
      val w = (4 + id % 5).toInt
      val h = (4 + (id * 3) % 5).toInt
      if (id % 2 == 0) {
        val rgb = Array.tabulate(w * h * 3) { i =>
          val c = i % 3; val x = (i / 3) % w; val y = i / 3 / w
          ((id * 37 + y * 5 + x * 11 + c * 7) % 256).toByte
        }
        Bmp.encode24(w, h, rgb, topDown = id % 4 == 0)
      } else {
        val palette = Array.tabulate(16 * 3) { i =>
          val j = i / 3; val c = i % 3
          ((id * 29 + j * 23 + c * 13) % 256).toByte
        }
        val indices = Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          ((id * 17 + y * 13 + (x / 3) * 9) % 16).toInt
        }
        Bmp.encodeRle8(w, h, palette, indices)
      }
    }

  case class BmpStats(doc_id: Long, width: Long, height: Long,
      compression: Long, sum_rgb: Long, pixels_md5: String)

  /** REAL BMP decode ([[Bmp.decode]]: header walk, row-order
    * normalization, padding stride, RLE escape-code machine) reduced
    * to oracle-checkable per-image stats; `pixels_md5` binds every
    * decoded byte. Undecodable payloads are dropped. Map-side only.
    */
  def decodeBmpStats(media: DataFrame): Dataset[BmpStats] =
    perPayload(media) { r =>
      Bmp.decode(r.payload).map { d =>
        val (hex, sum) = pixelDigest(d.rgb)
        BmpStats(r.doc_id, d.width.toLong, d.height.toLong,
          d.compression.toLong, sum, hex)
      }
    }

  /** Plant REAL ICO containers ([[Ico.encode]]): 1 + id%3 icons per
    * doc; icon j is a PNG entry when (id + j) even (REAL [[Png]]
    * encode, filters rotating) else a 24-bit DIB icon with an AND
    * mask. Every byte derives from formulas so the oracle pins the
    * decode without a decoder:
    *   w = 4 + (id + j) % 5, h = 4 + (id·3 + j) % 5
    *   PNG rgb(y,x,c)  = (id·31 + j·17 + y·7 + x·3 + c) % 256
    *   DIB rgb(y,x,c)  = (id·37 + j·19 + y·5 + x·11 + c·7) % 256
    *   DIB mask(y,x)   = (id + j·5 + y·7 + x·3) % 3 == 0
    */
  def icoTable(docs: DataFrame): DataFrame =
    plant(docs, "image/x-icon") { id =>
      val n = (1 + id % 3).toInt
      val entries: Seq[Ico.Entry] = (0 until n).map { j =>
        val w = (4 + (id + j) % 5).toInt
        val h = (4 + (id * 3 + j) % 5).toInt
        if ((id + j) % 2 == 0) {
          val rgb = Array.tabulate(w * h * 3) { i =>
            val c = i % 3; val x = (i / 3) % w; val y = i / 3 / w
            ((id * 31 + j * 17 + y * 7 + x * 3 + c) % 256).toByte
          }
          Ico.PngEntry(Png.encode(w, h, rgb, y => y % 5))
        } else {
          val rgb = Array.tabulate(w * h * 3) { i =>
            val c = i % 3; val x = (i / 3) % w; val y = i / 3 / w
            ((id * 37 + j * 19 + y * 5 + x * 11 + c * 7) % 256).toByte
          }
          val mask = Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            (id + j * 5 + y * 7 + x * 3) % 3 == 0
          }
          Ico.DibEntry(w, h, rgb, mask)
        }
      }
      Ico.encode(entries)
    }

  case class IcoStats(doc_id: Long, icon_idx: Long, width: Long,
      height: Long, is_png: Long, bit_count: Long, sum_rgb: Long,
      mask_bits: Long)

  /** REAL ICO container walk ([[Ico.parse]]: directory bounds checks,
    * PNG-vs-DIB detection, the doubled-biHeight XOR+AND block, both
    * row strides, MSB-first mask bits; PNG entries re-enter the real
    * [[Png]] decoder) reduced to per-icon oracle-checkable stats.
    * Undecodable containers/entries drop. Map-side only.
    */
  def decodeIcoStats(media: DataFrame): Dataset[IcoStats] =
    perPayload(media) { r =>
      Ico.parse(r.payload).toSeq.flatten.map { m =>
        IcoStats(r.doc_id, m.idx.toLong, m.width.toLong,
          m.height.toLong, if (m.isPng) 1L else 0L, m.bitCount.toLong,
          m.sumRgb, m.maskBits)
      }
    }

  case class TileStats(doc_id: Long, tile_y: Long, tile_x: Long,
      n_samples: Long, sum_rgb: Long)

  /** Coarse g×g tile-grid signature over REAL PNG decode: per tile
    * the RGB sample count and sum — the LAYOUT-aware counterpart to
    * the global dHash (m10): two images with equal global stats but
    * swapped quadrants get different tile rows. Tile assignment is
    * the integer bucket (y·g)/h so any width/height splits without
    * floats. Map-side: decode and fold per image, emit g² rows.
    */
  def tileSignature(media: DataFrame, grid: Int): Dataset[TileStats] = {
    require(grid >= 1 && grid <= 16, "grid out of range")
    perPayload(media) { r =>
      Png.decode(r.payload).toSeq.flatMap { d =>
        val n = new Array[Long](grid * grid)
        val s = new Array[Long](grid * grid)
        var y = 0
        while (y < d.height) {
          val ty = y * grid / d.height
          var x = 0
          while (x < d.width) {
            val t = ty * grid + x * grid / d.width
            val p = (y * d.width + x) * 3
            n(t) += 3
            s(t) += (d.rgb(p) & 0xFF) + (d.rgb(p + 1) & 0xFF) +
              (d.rgb(p + 2) & 0xFF)
            x += 1
          }
          y += 1
        }
        (0 until grid * grid).filter(n(_) > 0).map { t =>
          TileStats(r.doc_id, (t / grid).toLong, (t % grid).toLong,
            n(t), s(t))
        }
      }
    }
  }

  /** Planted netpbm corpus: P6 RGB for even doc_ids, P5 gray for odd
    * (16-bit maxval=1000 when id % 4 == 1 — the big-endian two-byte
    * path), comments planted in the header for id % 3 == 0 so the
    * tokenizer's comment handling is exercised on real rows. Formula
    * samples so the decode oracle can restate the generator.
    */
  def netpbmTable(docs: DataFrame): DataFrame =
    plant(docs, (id: Long) =>
      if (id % 2 == 0) "image/x-portable-pixmap"
      else "image/x-portable-graymap") { id =>
      val w = (4 + id % 5).toInt
      val h = (4 + (id * 7) % 5).toInt
      val magic = if (id % 2 == 0) 6 else 5
      val maxval = if (magic == 5 && id % 4 == 1) 1000 else 255
      val ch = if (magic == 6) 3 else 1
      val samples = Array.tabulate(w * h * ch) { i =>
        val c = i % ch; val x = (i / ch) % w; val y = i / ch / w
        ((id * 41 + y * 19 + x * 7 + c * 5) % (maxval + 1)).toInt
      }
      val comment = if (id % 3 == 0) "planted netpbm" else ""
      Netpbm.encode(magic, w, h, maxval, samples, comment)
    }

  case class NetpbmStats(doc_id: Long, fmt: Long, width: Long,
      height: Long, maxval: Long, channels: Long, sum_px: Long,
      pixels_md5: String)

  /** REAL netpbm decode ([[Netpbm.decode]]: comment-tolerant header
    * tokenizer, single-whitespace raster boundary, 1- vs 2-byte
    * big-endian samples) reduced to oracle-checkable per-image
    * stats; `pixels_md5` (4-hex per sample, interleaved order) binds
    * every decoded value. Undecodable payloads drop. Map-side only.
    */
  def decodeNetpbmStats(media: DataFrame): Dataset[NetpbmStats] =
    perPayload(media) { r =>
      Netpbm.decode(r.payload).map { d =>
        var sum = 0L
        val sb = new java.lang.StringBuilder(d.samples.length * 4)
        var i = 0
        while (i < d.samples.length) {
          val v = d.samples(i)
          sum += v
          sb.append(Character.forDigit((v >> 12) & 15, 16))
            .append(Character.forDigit((v >> 8) & 15, 16))
            .append(Character.forDigit((v >> 4) & 15, 16))
            .append(Character.forDigit(v & 15, 16))
          i += 1
        }
        NetpbmStats(r.doc_id, d.magic.toLong, d.width.toLong,
          d.height.toLong, d.maxval.toLong, d.channels.toLong, sum,
          md5Ascii(sb.toString))
      }
    }

  case class PixelStats(doc_id: Long, width: Long, height: Long,
      sum_rgb: Long, pixels_md5: String)

  /** A REAL RGB decode, as (width, height, rgb), reduced to
    * oracle-checkable per-image stats; `pixels_md5` (over the
    * lowercase hex of the decoded RGB bytes) binds every byte of the
    * reconstruction. Undecodable payloads are dropped.
    */
  private def pixelStats(media: DataFrame)(
      decode: Array[Byte] => Option[(Int, Int, Array[Byte])])
      : Dataset[PixelStats] =
    perPayload(media) { r =>
      decode(r.payload).map { case (w, h, rgb) =>
        val (hex, sum) = pixelDigest(rgb)
        PixelStats(r.doc_id, w.toLong, h.toLong, sum, hex)
      }
    }

  /** `pixelStats` over [[Png.decode]]: chunk walk + CRC32 verify +
    * zlib inflate + all five unfilters.
    */
  def decodePngStats(media: DataFrame): Dataset[PixelStats] =
    pixelStats(media)(Png.decode(_).map(d => (d.width, d.height, d.rgb)))

  /** Plant REAL GIF89a images ([[Gif.encode]]): global color table
    * depth rotates 8/4/2/1 by doc_id, odd ids INTERLACED — the
    * decoder walks sub-block reassembly, variable-width LZW (with
    * the encoder/decoder width-change offset), palette lookup, and
    * the 4-pass scatter. Interlacing permutes the CODED stream, not
    * the pixels, so the oracle recomputes them from the planting
    * formulas without a decoder: width 4 + id%5, height 4 + (id·3)%5,
    * palette size min(16, 2^depth),
    * palette[j][c] = (id·43 + j·31 + c·17) % 256,
    * index(y, x) = (id·19 + y·11 + x·7) % size.
    */
  def gifTable(docs: DataFrame, seedOf: Long => Long = identity): DataFrame =
    plant(docs, "image/gif") { docId =>
      val id = seedOf(docId)
      // floorMod throughout: seedOf may map through a 64-bit hash,
      // and Scala % preserves sign — a negative seed would index the
      // depth array out of bounds and feed Gif.encode bad indices.
      val w = (4 + Math.floorMod(id, 5)).toInt
      val h = (4 + Math.floorMod(id * 3, 5)).toInt
      val depth = Array(8, 4, 2, 1)(Math.floorMod(id, 4).toInt)
      val psize = math.min(16, 1 << depth)
      val palette = Array.tabulate(3 << depth) { i =>
        val j = i / 3; val c = i % 3
        Math.floorMod(id * 43 + j * 31 + c * 17, 256).toByte
      }
      val indices = Array.tabulate(w * h) { i =>
        val y = i / w; val x = i % w
        Math.floorMod(id * 19 + y * 11 + x * 7, psize).toByte
      }
      Gif.encode(w, h, depth, palette, indices,
        interlaced = Math.floorMod(id, 2) == 1)
    }

  /** `pixelStats` over [[Gif.decode]]: sub-block reassembly, LZW,
    * palette expansion, de-interlace.
    */
  def decodeGifStats(media: DataFrame): Dataset[PixelStats] =
    pixelStats(media)(Gif.decode(_).map(d => (d.width, d.height, d.rgb)))

  /** Plant REAL ANIMATED GIF89a images ([[Gif.encodeAnimated]]):
    * per doc a 2-4 frame animation whose decode exercises the full
    * frame walk — canvas-offset sub-rect frames, a transparent
    * index showing the prior canvas through, and rotating GCE
    * disposal (leave / restore-to-background). Everything is
    * deterministic in doc_id so the oracle can recompute the
    * COMPOSITED canvas after each frame without a decoder:
    *   canvas w = 8 + id%5, h = 8 + (id·3)%5, depth 4 (16 colors),
    *   palette[j][c] = (id·47 + j·29 + c·13) % 256, background 0,
    *   nf = 2 + id%3 frames;
    *   frame 0: full canvas, disposal 1, no transparency,
    *     idx0(y, x) = (id·19 + y·11 + x·7) % 16, interlaced for odd
    *     ids (permutes the coded stream, not the pixels);
    *   frame k ≥ 1: 4×4 rect at left = (id + 3k) % (w-3),
    *     top = (id·5 + 7k) % (h-3),
    *     idx_k(v, u) = (id·3 + k·23 + v·5 + u·9) % 16,
    *     transparent T_k = (id + 5k) % 16,
    *     disposal 2 (restore bg) for odd k, 1 (leave) for even k.
    */
  def gifAnimTable(docs: DataFrame,
      seedOf: Long => Long = identity): DataFrame =
    plant(docs, "image/gif") { docId =>
      val id = seedOf(docId)
      val w = (8 + Math.floorMod(id, 5)).toInt
      val h = (8 + Math.floorMod(id * 3, 5)).toInt
      val depth = 4
      val psize = 1 << depth
      val palette = Array.tabulate(3 * psize) { i =>
        val j = i / 3; val c = i % 3
        Math.floorMod(id * 47 + j * 29 + c * 13, 256).toByte
      }
      val nf = (2 + Math.floorMod(id, 3)).toInt
      // per-frame GCE delay (centiseconds): 2 + (id + 3k) % 7 — the
      // m20 metadata oracle reads these without decoding pixels
      val base = Gif.FrameSpec(0, 0, w, h,
        Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          Math.floorMod(id * 19 + y * 11 + x * 7, psize).toByte
        },
        disposal = 1, transparent = -1,
        delayCs = (2 + Math.floorMod(id, 7)).toInt,
        interlaced = Math.floorMod(id, 2) == 1)
      val rest = (1 until nf).map { k =>
        val left = Math.floorMod(id + 3 * k, w - 3).toInt
        val top = Math.floorMod(id * 5 + 7 * k, h - 3).toInt
        Gif.FrameSpec(left, top, 4, 4,
          Array.tabulate(16) { i =>
            val v = i / 4; val u = i % 4
            Math.floorMod(id * 3 + k * 23 + v * 5 + u * 9, psize).toByte
          },
          disposal = if (k % 2 == 1) 2 else 1,
          transparent = Math.floorMod(id + 5 * k, psize).toInt,
          delayCs = (2 + Math.floorMod(id + 3 * k, 7)).toInt)
      }
      Gif.encodeAnimated(w, h, depth, palette,
        base +: rest)
    }

  case class GifFrameStats(doc_id: Long, frame_idx: Long, width: Long,
      height: Long, sum_rgb: Long, pixels_md5: String)

  /** REAL animated decode ([[Gif.decodeFrames]]: the composited
    * frame walk — offsets, transparency, disposal) reduced to
    * oracle-checkable per-frame stats; `pixels_md5` binds every
    * canvas byte after each frame. Undecodable payloads are dropped.
    */
  def decodeGifFrameStats(media: DataFrame): Dataset[GifFrameStats] =
    perPayload(media) { r =>
      Gif.decodeFrames(r.payload).iterator.flatMap { fs =>
        fs.iterator.zipWithIndex.map { case (d, i) =>
          val (hex, sum) = pixelDigest(d.rgb)
          GifFrameStats(r.doc_id, i.toLong, d.width.toLong,
            d.height.toLong, sum, hex)
        }
      }
    }

  case class AnimMetaRow(doc_id: Long, width: Long, height: Long,
      n_frames: Long, total_delay_cs: Long, looped: Boolean)

  /** Animation metadata WITHOUT pixel decode ([[Gif.animMeta]]'s
    * ffprobe-style header walk — LZW sub-blocks skipped, never
    * inflated): the 100 TB cataloguing pass that must not pay the
    * decode. Unparseable payloads are dropped.
    */
  def gifAnimMeta(media: DataFrame): Dataset[AnimMetaRow] =
    perPayload(media) { r =>
      Gif.animMeta(r.payload).map { m =>
        AnimMetaRow(r.doc_id, m.width.toLong, m.height.toLong,
          m.nFrames.toLong, m.totalDelayCs.toLong, m.looped)
      }
    }

  case class FrameSampleStats(doc_id: Long, sample_idx: Long,
      frame_idx: Long, sum_rgb: Long, pixels_md5: String)

  /** REAL frame sampling: decode the animation's composited frames
    * and take `nSamples` evenly spaced ones (sample i → frame
    * ⌊i·nf/nSamples⌋ — the video sampler's time grid; short
    * animations repeat frames, as a wall-clock-spaced sampler
    * would). Replaces the byte-window stand-in ([[sampleFrames]])
    * for payloads with a real decoder. Same scale shape as every
    * decode step: map-side only, one row per (payload, sample).
    */
  def sampleGifFrames(media: DataFrame,
      nSamples: Int): Dataset[FrameSampleStats] =
    perPayload(media) { r =>
      Gif.decodeFrames(r.payload).iterator.flatMap { fs =>
        val nf = fs.length
        (0 until nSamples).iterator.map { i =>
          val f = i * nf / nSamples
          val (hex, sum) = pixelDigest(fs(f).rgb)
          FrameSampleStats(r.doc_id, i.toLong, f.toLong, sum, hex)
        }
      }
    }

  case class AnimSigRow(doc_id: Long, n_frames: Long, anim_sig: String)

  /** Perceptual ANIMATION dedup signature — the video twin of the
    * m10/m18 image dHash: decode the composited frame walk
    * ([[Gif.decodeFrames]]), dHash every frame, and md5 the
    * concatenated per-frame hashes in frame order. Two animations
    * collide iff every frame is perceptually identical in sequence —
    * near-identical re-encodes collapse, reordered or re-timed cuts
    * do not. Map-side only; undecodable payloads drop.
    */
  def animDHash(media: DataFrame): Dataset[AnimSigRow] =
    perPayload(media) { r =>
      Gif.decodeFrames(r.payload).map { fs =>
        val joined = fs.iterator
          .map(f => dhashHex(f.width, f.height, f.rgb)).mkString
        AnimSigRow(r.doc_id, fs.length.toLong, md5Ascii(joined))
      }
    }

  case class ShotCutRow(doc_id: Long, frame_idx: Long, diff_total: Long,
      changed_px: Long, is_cut: Boolean)

  /** SHOT-BOUNDARY (scene-cut) detection over the composited frame
    * walk — the video-curation primitive between frame decode (m19)
    * and per-shot sampling/dedup (a sampler that ignores cuts
    * over-samples long static shots and misses short ones): each
    * consecutive composited-frame pair reports the exact integer
    * pixel delta (Σ|Δbyte| and changed-pixel count) and `is_cut` when
    * ≥ `threshMilli`/1000 of canvas pixels changed — the classic
    * pixel-difference detector, integer-exact so the oracle states
    * the rule directly (cross-multiplied: changed·1000 ≥ thresh·n —
    * no division, no float). Map-side only: decode + one linear
    * canvas pass per frame pair, state = two frames; undecodable
    * payloads drop row-local.
    */
  def shotCuts(media: DataFrame,
      threshMilli: Long = 200L): Dataset[ShotCutRow] =
    perPayload(media) { r =>
      Gif.decodeFrames(r.payload).iterator.flatMap { fs =>
        fs.iterator.zipWithIndex.drop(1).map { case (f, i) =>
          val prev = fs(i - 1)
          val n = f.width * f.height
          var diff = 0L
          var changed = 0L
          var px = 0
          while (px < n) {
            var c = 0
            var any = false
            while (c < 3) {
              val d = (f.rgb(px * 3 + c) & 0xff) -
                (prev.rgb(px * 3 + c) & 0xff)
              diff += math.abs(d)
              if (d != 0) any = true
              c += 1
            }
            if (any) changed += 1
            px += 1
          }
          ShotCutRow(r.doc_id, i.toLong, diff, changed,
            changed * 1000L >= threshMilli * n)
        }
      }
    }

  case class ResampleStats(doc_id: Long, sr_in: Long, n_in: Long,
      n_out: Long, sum_scaled: Long, vals_md5: String)

  /** Audio RESAMPLING to a uniform target rate — the normalization
    * step every speech pipeline runs between decode and features
    * (mixed-rate crawl audio → one model rate): REAL decode
    * ([[Wav.decode]]), channel mix-down to mono (truncating integer
    * mean — SQL division semantics, mirrored by the oracle),
    * then linear interpolation on the exact rational time grid
    * out[j] ← position j·srIn/target. Values stay INTEGER-EXACT by
    * carrying the ×target scale: y = mono[p]·(target−rem) +
    * mono[p+1]·rem where p = (j·srIn) div target, rem the remainder
    * — no float rounding for the oracle to chase. `vals_md5` (comma-
    * joined signed decimals in order) binds every output sample.
    * Map-side only; undecodable payloads drop.
    */
  def resampleWav(media: DataFrame,
      targetRate: Int = 16000): Dataset[ResampleStats] =
    perPayload(media) { r =>
      Wav.decode(r.payload).map { d =>
        val ch = d.channels
        val nf = d.samples.length / ch
        val mono = Array.tabulate(nf) { i =>
          var s = 0L
          var c = 0
          while (c < ch) { s += d.samples(i * ch + c); c += 1 }
          s / ch // truncating mean (SQL integer-division semantics)
        }
        val nOut = (nf.toLong * targetRate / d.sampleRate).toInt
        val sb = new java.lang.StringBuilder
        var sum = 0L
        var j = 0
        while (j < nOut) {
          val pn = j.toLong * d.sampleRate
          val p = (pn / targetRate).toInt
          val rem = pn % targetRate
          val p1 = math.min(p + 1, nf - 1)
          val y = mono(p) * (targetRate - rem) + mono(p1) * rem
          sum += y
          if (j > 0) sb.append(',')
          sb.append(y)
          j += 1
        }
        ResampleStats(r.doc_id, d.sampleRate.toLong, nf.toLong,
          nOut.toLong, sum, md5Ascii(sb.toString))
      }
    }

  case class VadSegment(doc_id: Long, seg: Long, start_j: Long,
      end_j: Long, n_samples: Long, sum_abs: Long)

  /** VAD-style silence segmentation (m23) — the speech-curation gate
    * between decode and transcription: over [[resampleWav]]'s
    * resampled mono stream (values on the ×targetRate integer grid),
    * an output sample is ACTIVE when |y| ≥ threshold·targetRate
    * (threshold is a raw 16-bit amplitude), consecutive active
    * samples form a run, and runs shorter than `minRun` are dropped
    * as clicks. Per kept run: 0-based sample span [start_j, end_j],
    * length and the exact integer |y| mass. All-integer arithmetic —
    * the oracle states the run-length rule directly on the planting
    * formulas (gaps-and-islands) without a decoder. Map-side decode +
    * scan per doc (state = one open run), no shuffle but the
    * deterministic sort; docs that never cross the threshold simply
    * have no rows, exactly like the oracle.
    */
  def vadSegments(media: DataFrame,
      targetRate: Int = 16000, threshold: Long = 8192,
      minRun: Int = 4): Dataset[VadSegment] = {
    val thr = threshold * targetRate
    perPayload(media) { r =>
      Wav.decode(r.payload).toSeq.flatMap { d =>
        val ch = d.channels
        val nf = d.samples.length / ch
        val mono = Array.tabulate(nf) { i =>
          var s = 0L
          var c = 0
          while (c < ch) { s += d.samples(i * ch + c); c += 1 }
          s / ch // truncating mean (SQL integer-division semantics)
        }
        val nOut = (nf.toLong * targetRate / d.sampleRate).toInt
        val segs = scala.collection.mutable.ArrayBuffer[VadSegment]()
        var seg = 0L
        var runStart = -1
        var runSum = 0L
        var j = 0
        def close(endExclusive: Int): Unit = {
          if (runStart >= 0 && endExclusive - runStart >= minRun) {
            seg += 1
            segs += VadSegment(r.doc_id, seg, runStart.toLong,
              (endExclusive - 1).toLong,
              (endExclusive - runStart).toLong, runSum)
          }
          runStart = -1
          runSum = 0L
        }
        while (j < nOut) {
          val pn = j.toLong * d.sampleRate
          val p = (pn / targetRate).toInt
          val rem = pn % targetRate
          val p1 = math.min(p + 1, nf - 1)
          val y = mono(p) * (targetRate - rem) + mono(p1) * rem
          val a = math.abs(y)
          if (a >= thr) {
            if (runStart < 0) runStart = j
            runSum += a
          } else close(j)
          j += 1
        }
        close(nOut)
        segs
      }
    }
  }

  /** Plant REAL baseline JPEGs (encoded by [[Jpeg.encode]]: full
    * forward DCT + Annex K quantization + canonical Huffman entropy
    * coding): constant-per-8×8-block grayscale images whose block
    * values are even and deterministic in doc_id — width 8·(2+id%3),
    * height 8·(2+(id·5)%3), pixel(y, x) =
    * 2·((id·29 + ⌊y/8⌋·13 + ⌊x/8⌋·7) % 128) — constant blocks have a
    * DC-only DCT and q(0,0)=16 divides 8·(v−128) exactly for even v,
    * so the lossy codec is EXACT on this corpus and the oracle can
    * recompute every pixel WITHOUT a decoder.
    */
  def jpegTable(docs: DataFrame): DataFrame =
    plant(docs, "image/jpeg") { id =>
      val w = (8 * (2 + id % 3)).toInt
      val h = (8 * (2 + (id * 5) % 3)).toInt
      val gray = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          gray(y * w + x) =
            (2 * ((id * 29 + (y / 8) * 13 + (x / 8) * 7) % 128)).toByte
          x += 1
        }
        y += 1
      }
      Jpeg.encode(w, h, gray)
    }

  case class JpegStats(doc_id: Long, width: Long, height: Long,
      sum_gray: Long, pixels_md5: String)

  /** REAL decode ([[Jpeg.decode]]: marker walk, Huffman table
    * reconstruction, stuffed-bit entropy decode, dequant, IDCT)
    * reduced to oracle-checkable per-image stats; `pixels_md5` (over
    * the lowercase hex of the decoded gray bytes) binds every pixel
    * of the reconstruction. Undecodable payloads are dropped.
    */
  def decodeJpegStats(media: DataFrame): Dataset[JpegStats] =
    perPayload(media) { r =>
      Jpeg.decode(r.payload).map { d =>
        val (hex, sum) = pixelDigest(d.gray)
        JpegStats(r.doc_id, d.width.toLong, d.height.toLong, sum, hex)
      }
    }

  /** Plant REAL WAV clips (encoded by [[Wav.encode]]: RIFF container,
    * odd-length LIST chunk exercising skip-and-pad, interleaved
    * 16-bit PCM): rate/channels/frames and every sample are
    * deterministic in doc_id — rate 8000 + (id%4)·4000, channels
    * 1 + id%2, frames 32 + (id·7)%33, sample(i, c) =
    * ((id·131 + i·37 + c·17 + 13) % 65536) − 32768 — so the oracle
    * recomputes the expected samples WITHOUT a decoder.
    */
  def wavTable(docs: DataFrame): DataFrame =
    plant(docs, "audio/wav") { id =>
      val sr = (8000 + (id % 4) * 4000).toInt
      val ch = (1 + id % 2).toInt
      val nf = (32 + (id * 7) % 33).toInt
      val samples = new Array[Short](nf * ch)
      var i = 0
      while (i < nf) {
        var c = 0
        while (c < ch) {
          samples(i * ch + c) =
            (((id * 131 + i * 37 + c * 17 + 13) % 65536) - 32768).toShort
          c += 1
        }
        i += 1
      }
      Wav.encode(sr, ch, samples)
    }

  case class WavStats(doc_id: Long, sample_rate: Long, channels: Long,
      n_samples: Long, sum_val: Long, peak: Long, samples_md5: String)

  /** REAL decode ([[Wav.decode]]: RIFF chunk walk + fmt validation +
    * PCM extraction) reduced to oracle-checkable per-clip stats;
    * `samples_md5` (over the comma-joined signed decimal samples in
    * interleaved order) binds every decoded sample exactly.
    * Undecodable payloads are dropped.
    */
  def decodeWavStats(media: DataFrame): Dataset[WavStats] =
    perPayload(media) { r =>
      Wav.decode(r.payload).map { d =>
        var sum = 0L
        var peak = 0L
        val sb = new java.lang.StringBuilder(d.samples.length * 7)
        var i = 0
        while (i < d.samples.length) {
          val v = d.samples(i).toLong
          sum += v
          val a = math.abs(v)
          if (a > peak) peak = a
          if (i > 0) sb.append(',')
          sb.append(v)
          i += 1
        }
        WavStats(r.doc_id, d.sampleRate.toLong, d.channels.toLong,
          d.samples.length.toLong, sum, peak, md5Ascii(sb.toString))
      }
    }

  case class DHashRow(doc_id: Long, dhash_hex: String)

  /** 8x8 horizontal-gradient dHash over a decoded RGB buffer —
    * shared by the PNG (m10) and GIF (m18) perceptual-dedup paths:
    * 9 nearest-neighbor column samples per row band, one bit per
    * adjacent-sample gradient, 16 hex chars out.
    */
  private def dhashHex(w: Int, h: Int, rgb: Array[Byte]): String = {
    def gray(y: Int, x: Int): Int = {
      val base = (y * w + x) * 3
      ((rgb(base) & 0xFF) + (rgb(base + 1) & 0xFF) +
        (rgb(base + 2) & 0xFF)) / 3
    }
    val sb = new java.lang.StringBuilder(16)
    var y8 = 0
    while (y8 < 8) {
      val sy = y8 * h / 8
      var rowByte = 0
      var x9 = 0
      while (x9 < 8) {
        val sxL = x9 * w / 9
        val sxR = (x9 + 1) * w / 9
        if (gray(sy, sxR) > gray(sy, sxL)) rowByte |= (1 << x9)
        x9 += 1
      }
      sb.append(Character.forDigit(rowByte >> 4, 16))
        .append(Character.forDigit(rowByte & 15, 16))
      y8 += 1
    }
    sb.toString
  }

  /** Difference hash over REAL decoded pixels ([[Png.decode]]): the
    * perceptual-hash pass of an image dedup pipeline, on actual
    * reconstructed RGB — not payload bytes. Grayscale by integer
    * (r+g+b)/3, nearest-neighbor sample to a 9×8 grid (the dHash
    * resize, exact integer stride arithmetic so the oracle can
    * mirror it), then 64 bits of left-vs-right comparisons packed as
    * 16 hex chars (8 row bytes — a string, so no sign-bit overflow
    * games with BIGINT). Undecodable payloads are dropped.
    */
  def pngDHash(media: DataFrame): Dataset[DHashRow] =
    perPayload(media) { r =>
      Png.decode(r.payload).map(d =>
        DHashRow(r.doc_id, dhashHex(d.width, d.height, d.rgb)))
    }

  /** dHash over REAL GIF decode — the m10 perceptual dedup with the
    * m17 codec in front (palette expansion + de-interlace feed the
    * same gradient hash). Undecodable payloads drop.
    */
  def gifDHash(media: DataFrame): Dataset[DHashRow] =
    perPayload(media) { r =>
      Gif.decode(r.payload).map(d =>
        DHashRow(r.doc_id, dhashHex(d.width, d.height, d.rgb)))
    }

  case class ThumbPixel(doc_id: Long, idx: Long, r: Long, g: Long,
      b: Long)

  /** REAL 2-D thumbnail (upgrades the 1-D stride stand-in of m3 to
    * actual image geometry): decode, then nearest-neighbor resample
    * to a fixed side×side RGB thumbnail — source(ty, tx) =
    * (⌊ty·h/side⌋, ⌊tx·w/side⌋), exact integer strides the oracle
    * mirrors. One row per thumbnail pixel; fixed output width
    * regardless of input size (what makes a feature store's row
    * width predictable). Undecodable payloads are dropped.
    */
  def pngThumbnail(media: DataFrame, side: Int): Dataset[ThumbPixel] =
    perPayload(media) { r =>
      Png.decode(r.payload).iterator.flatMap { d =>
        val w = d.width; val h = d.height
        (0 until side * side).iterator.map { idx =>
          val ty = idx / side; val tx = idx % side
          val base = ((ty * h / side) * w + (tx * w / side)) * 3
          ThumbPixel(r.doc_id, idx.toLong,
            (d.rgb(base) & 0xFF).toLong,
            (d.rgb(base + 1) & 0xFF).toLong,
            (d.rgb(base + 2) & 0xFF).toLong)
        }
      }
    }

  case class AudioFeatures(doc_id: Long, n_samples: Long, sum_sq: Long,
      zero_cross: Long, dc_sum: Long)

  /** DSP features over REAL decoded PCM ([[Wav.decode]]): energy
    * (exact integer sum of squares), zero crossings counted PER
    * CHANNEL through the interleaving (a crossing is a sign change
    * between consecutive frames of the SAME channel — counting
    * across the interleaved stream would mix channels), and the DC
    * offset sum. All exact integers, so cross-engine parity is
    * arithmetic, not floating-point luck.
    */
  def audioFeatures(media: DataFrame): Dataset[AudioFeatures] =
    perPayload(media) { r =>
      Wav.decode(r.payload).map { d =>
        val ch = d.channels
        val n = d.samples.length
        var sumSq = 0L
        var dc = 0L
        var zc = 0L
        var i = 0
        while (i < n) {
          val v = d.samples(i).toLong
          sumSq += v * v
          dc += v
          if (i >= ch) {
            val prev = d.samples(i - ch).toLong // same channel, prior frame
            if ((v >= 0) != (prev >= 0)) zc += 1
          }
          i += 1
        }
        AudioFeatures(r.doc_id, n.toLong, sumSq, zc, dc)
      }
    }

  case class AudioAutocorr(doc_id: Long, channel: Long, lag: Long,
      ac: Long, sum_sq: Long)

  /** Per-channel autocorrelation at fixed lags over REAL decoded PCM
    * — the pitch/periodicity feature family computed WITHOUT
    * floating-point: ac(c, L) = Σ v_i·v_{i+L} over frames of channel
    * c, alongside the channel energy Σ v_i² (normalize downstream if
    * a ratio is wanted). All exact int64 (|v| ≤ 32768, so each term
    * ≤ 2³⁰ and clip sums stay far from overflow) — bit-exact parity
    * with a formula oracle needs no epsilon, unlike DFT features
    * whose trig terms round differently per libm. Same map-side
    * decode-and-fold shape as [[audioFeatures]]; undecodable
    * payloads drop.
    */
  def audioAutocorr(media: DataFrame, lags: Seq[Int]): Dataset[AudioAutocorr] =
    perPayload(media) { r =>
      Wav.decode(r.payload).toSeq.flatMap { d =>
        val ch = d.channels
        val nf = d.samples.length / ch
        (0 until ch).flatMap { c =>
          val v = Array.tabulate(nf)(i => d.samples(i * ch + c).toLong)
          var ss = 0L
          var i = 0
          while (i < nf) { ss += v(i) * v(i); i += 1 }
          lags.map { l =>
            var a = 0L
            var j = 0
            while (j + l < nf) { a += v(j) * v(j + l); j += 1 }
            AudioAutocorr(r.doc_id, c.toLong, l.toLong, a, ss)
          }
        }
      }
    }

  case class AudioBands(doc_id: Long, channel: Long, dc: Long,
      p_fs4: Long, p_fs2: Long, energy: Long)

  /** Coarse SPECTRAL band energies per channel, WITHOUT floating
    * point: the DFT bins at DC, fs/4 and fs/2 have twiddle factors
    * in {0, ±1} (cos/sin of 0, π/2, π), so their powers are exact
    * int64 arithmetic — re(fs/4) = Σ v[4k] − Σ v[4k+2],
    * im(fs/4) = Σ v[4k+1] − Σ v[4k+3], X(fs/2) = Σ (−1)ⁿ v[n] — and
    * a formula oracle matches bit-for-bit (m13's rationale: the trig
    * of a general DFT bin rounds differently per libm; these three
    * bins don't have any). Together with m11's energy/zero-cross and
    * m13's autocorrelation this gives the low/mid/high coarse
    * spectrum a curation featurizer thresholds on. Map-side decode
    * only; one deterministic sort.
    */
  def audioBands(media: DataFrame): Dataset[AudioBands] =
    perPayload(media) { r =>
      Wav.decode(r.payload).toSeq.flatMap { d =>
        val ch = d.channels
        val nf = d.samples.length / ch
        (0 until ch).map { c =>
          var dc = 0L; var re4 = 0L; var im4 = 0L
          var alt = 0L; var energy = 0L
          var i = 0
          while (i < nf) {
            val v = d.samples(i * ch + c).toLong
            dc += v
            energy += v * v
            (i % 4: @annotation.switch) match {
              case 0 => re4 += v
              case 1 => im4 += v
              case 2 => re4 -= v
              case 3 => im4 -= v
            }
            alt += (if (i % 2 == 0) v else -v)
            i += 1
          }
          AudioBands(r.doc_id, c.toLong, dc,
            re4 * re4 + im4 * im4, alt * alt, energy)
        }
      }
    }

  case class OnsetRow(doc_id: Long, channel: Long, frame_idx: Long,
      energy: Long, is_onset: Boolean)

  /** Onset detection over REAL WAV decode: per-channel energies of
    * non-overlapping `frame`-sample windows, with a rising-edge flag
    * where a frame's energy exceeds 1.5× the previous frame's —
    * compared as the integer cross-product energy·2 > prev·3, so
    * the flag is exact and the formula oracle can restate it. The
    * music/speech segmentation gate next to m23's silence runs (VAD
    * finds QUIET stretches; onsets find where new energy ARRIVES).
    * Map-side decode-and-fold; lag state lives inside the row's own
    * scan, so the one definition serves append-mode streams too.
    */
  def audioOnsets(media: DataFrame, frame: Int = 16): Dataset[OnsetRow] = {
    require(frame >= 1, "frame must be positive")
    perPayload(media) { r =>
      Wav.decode(r.payload).toSeq.flatMap { d =>
        val ch = d.channels
        val nf = d.samples.length / ch
        val nFrames = (nf + frame - 1) / frame
        (0 until ch).flatMap { c =>
          var prev = 0L
          (0 until nFrames).map { f =>
            var energy = 0L
            var i = f * frame
            val end = math.min((f + 1) * frame, nf)
            while (i < end) {
              val v = d.samples(i * ch + c).toLong
              energy += v * v
              i += 1
            }
            val onset = f > 0 && energy * 2 > prev * 3
            prev = energy
            OnsetRow(r.doc_id, c.toLong, f.toLong, energy, onset)
          }
        }
      }
    }
  }

  case class ExifRow(doc_id: Long, byte_order: String,
      orientation: Long, width: Long, height: Long, datetime: String,
      make: String)

  /** Planted EXIF corpus: real [[Jpeg.encode]] streams with an APP1
    * spliced in after SOI ([[Exif.encodeInto]]) — byte order
    * alternates II/MM by id parity, the Make string flips between
    * the inline (≤4 bytes incl. NUL, id % 5 == 0) and the
    * offset-indirected ASCII storage paths, and all field values
    * are id formulas so the parse oracle restates them.
    */
  def exifTable(docs: DataFrame): DataFrame =
    plant(docs, "image/jpeg") { id =>
      val jpeg = Jpeg.encode(16, 8,
        Array.tabulate(128)(i => ((id * 7 + i * 3) % 256).toByte))
      val dt = f"${2000 + id % 20}%04d:${1 + id % 12}%02d:" +
        f"${1 + id % 28}%02d ${id % 24}%02d:${id % 60}%02d:" +
        f"${id * 7 % 60}%02d"
      val make =
        if (id % 5 == 0) "c" + (id % 10) else "cam" + (id % 100)
      val meta = Exif.Meta(
        byteOrder = if (id % 2 == 0) "II" else "MM",
        orientation = (1 + id % 8).toInt,
        width = 100 + id % 50, height = 50 + id % 30,
        dateTime = dt, make = make)
      Exif.encodeInto(jpeg, meta)
    }

  /** REAL EXIF parse ([[Exif.parse]]: JPEG marker walk → APP1 →
    * endian-aware TIFF IFD machine with inline vs offset values)
    * per media row; unparseable payloads drop. Map-side only.
    */
  def parseExifMeta(media: DataFrame): Dataset[ExifRow] =
    perPayload(media) { r =>
      Exif.parse(r.payload).map { m =>
        ExifRow(r.doc_id, m.byteOrder, m.orientation.toLong,
          m.width, m.height, m.dateTime, m.make)
      }
    }

  case class TiffStats(doc_id: Long, width: Long, height: Long,
      samples_per_pixel: Long, photometric: Long, n_strips: Long,
      sum_px: Long, pixels_md5: String)

  /** Planted TIFF corpus: real [[Tiff.encode]] streams sweeping both
    * byte orders, gray-8 vs RGB-8, multiple strips (rowsPerStrip
    * 1-3, so the count-nStrips offset/bytecount arrays exercise BOTH
    * the inline and the offset-indirected storage paths), and a
    * short final strip. Pixels are id formulas so the decode oracle
    * restates them.
    */
  def tiffTable(docs: DataFrame): DataFrame =
    plant(docs, "image/tiff") { id =>
      val w = (4 + id % 5).toInt
      val h = (4 + (id * 3) % 5).toInt
      val spp = if (id % 2 == 0) 3 else 1
      val photometric = if (spp == 3) 2 else if (id % 4 == 1) 0 else 1
      val px = Array.tabulate(w * h * spp) { i =>
        val c = i % spp; val x = (i / spp) % w; val y = i / spp / w
        ((id * 41 + y * 7 + x * 3 + c * 11) % 256).toByte
      }
      Tiff.encode(w, h, spp, photometric, px,
        little = id % 3 == 0, rowsPerStrip = (1 + id % 3).toInt)
    }

  /** REAL TIFF decode ([[Tiff.parse]]: endian-aware IFD walk with
    * array-valued entries, strip reassembly) reduced to per-image
    * stats; `pixels_md5` binds every decoded sample. Undecodable
    * payloads drop row-local. Map-side only.
    */
  def decodeTiffStats(media: DataFrame): Dataset[TiffStats] =
    perPayload(media) { r =>
      Tiff.parse(r.payload).map { d =>
        val (hex, sum) = pixelDigest(d.pixels)
        TiffStats(r.doc_id, d.width.toLong, d.height.toLong,
          d.samplesPerPixel.toLong, d.photometric.toLong,
          d.nStrips.toLong, sum, hex)
      }
    }

  case class Mp3Row(doc_id: Long, title: String, artist: String,
      tlen_ms: Long, bitrate_kbps: Long, sample_rate: Long,
      n_frames: Long)

  /** Planted MP3 corpus: real [[Mp3.encode]] streams — an ID3v2.3
    * tag (synchsafe tag size, plain-int v2.3 frame sizes, TIT2/TPE1/
    * TLEN text frames) followed by an MPEG-1 Layer III frame chain
    * whose lengths come from the real bitrate/samplerate tables
    * (alternating padding bit). Every field is an id formula so the
    * parse oracle restates them; bitrate and samplerate sweep their
    * table entries across ids.
    */
  def mp3Table(docs: DataFrame): DataFrame =
    plant(docs, "audio/mpeg") { id =>
      val meta = Mp3.Meta(
        title = "t" + (id % 100),
        artist = if (id % 3 == 0) "va" else "a" + (id % 50),
        tlenMs = 1000L * (30 + id % 300),
        bitrateKbps = Array(128, 192, 256, 320)((id % 4).toInt),
        sampleRate = Array(44100, 48000, 32000)((id % 3).toInt),
        nFrames = (3 + id % 5).toInt)
      Mp3.encode(meta)
    }

  /** REAL ID3v2.3 + MPEG frame-header parse ([[Mp3.parse]]) per
    * media row; unparseable payloads drop row-local. Map-side only —
    * the catalogue pass rides the scan that reads the payload.
    */
  def parseMp3Meta(media: DataFrame): Dataset[Mp3Row] =
    perPayload(media) { r =>
      Mp3.parse(r.payload).map { m =>
        Mp3Row(r.doc_id, m.title, m.artist, m.tlenMs,
          m.bitrateKbps.toLong, m.sampleRate.toLong, m.nFrames.toLong)
      }
    }

  case class ImageHeader(doc_id: Long, format: String, width: Long,
      height: Long, bit_depth: Long, n_components: Long)

  /** Fabricate a media table whose payloads carry VALID PNG / JPEG
    * headers (deterministic per doc_id — even ids get a PNG
    * signature + IHDR, odd ids a JFIF APP0 [+ an optional
    * variable-length COM segment] + SOF0), followed by the document
    * text as body bytes. Unlike [[mediaTable]]'s opaque stand-in,
    * these bytes have real image STRUCTURE for
    * [[parseImageHeaders]] to parse; the construction is pure
    * hex-string concat so the DuckDB oracle plants bit-identical
    * payloads.
    */
  def imageTable(docs: DataFrame): DataFrame = {
    def be(c: Column, nBytes: Int): Column =
      unhex(lpad(hex(c), nBytes * 2, "0"))
    val w = lit(16L) + col("doc_id") % 1024
    val h = lit(16L) + (col("doc_id") * 7) % 1024
    val half = expr("doc_id div 2")
    val depth = lit(8L) + lit(8L) * (half % 2)
    val colorType = when(half % 3 === 0, 0L)
      .when(half % 3 === 1, 2L).otherwise(6L)
    val com = concat(lit("doc"), col("doc_id").cast("string"))
    // signature + IHDR(len 13) + w4 h4 depth1 color1 +
    // compression/filter/interlace + CRC placeholder
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be(w, 4), be(h, 4), be(depth, 1), be(colorType, 1),
      unhex(lit("00000000000000")),
      encode(col("text"), "UTF-8"))
    // SOI + JFIF APP0(len 16) + optional COM (length field counts
    // itself: 2 + |comment|) + SOF0(len 17, precision 8, 3 comps)
    val jpeg = concat(
      unhex(lit("FFD8FFE000104A46494600010100000100010000")),
      when(col("doc_id") % 3 === 0,
        concat(unhex(lit("FFFE")), be(octet_length(com) + 2, 2),
          encode(com, "UTF-8")))
        .otherwise(lit(Array.empty[Byte])),
      unhex(lit("FFC0001108")), be(h, 2), be(w, 2),
      unhex(lit("03012200021101031101")),
      encode(col("text"), "UTF-8"))
    val payload = when(col("doc_id") % 2 === 0, png).otherwise(jpeg)
    docs.select(col("doc_id"), lit("image/planted").as("format"),
      octet_length(payload).cast("long").as("n_bytes"),
      payload.as("payload"))
  }

  /** Header parse over media payloads: the format/dimension sniff a
    * real ingest pipeline runs BEFORE deciding to decode — pure JVM
    * byte arithmetic, no codec. PNG reads the fixed-offset IHDR
    * (signature, chunk length and type verified); JPEG runs a real
    * marker-segment walk — skipping APPn/COM/anything by its
    * big-endian length field, standalone markers by 2 — until a
    * SOF0/1/2 frame header. Unparseable payloads are dropped.
    */
  def parseImageHeaders(media: DataFrame): Dataset[ImageHeader] =
    perPayload(media) { r =>
      parseImageHeader(r.payload).map { case (fmt, w, h, d, n) =>
        ImageHeader(r.doc_id, fmt, w, h, d, n)
      }
    }

  /** (format, width, height, bit_depth, n_components), or None. */
  def parseImageHeader(p: Array[Byte])
      : Option[(String, Long, Long, Long, Long)] = {
    def u(i: Int): Int = p(i) & 0xFF
    def be(off: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | u(off + i); i += 1 }
      v
    }
    if (p.length >= 26 && be(0, 8) == 0x89504E470D0A1A0AL &&
        be(8, 4) == 13L && be(12, 4) == 0x49484452L) {
      val nComp = u(25) match {
        case 0 => 1L; case 2 => 3L; case 3 => 1L; case 4 => 2L; case 6 => 4L
        case _ => return None
      }
      Some(("png", be(16, 4), be(20, 4), u(24).toLong, nComp))
    } else if (p.length >= 4 && u(0) == 0xFF && u(1) == 0xD8) {
      var off = 2
      while (off + 10 <= p.length && u(off) == 0xFF) {
        val m = u(off + 1)
        if (m == 0xC0 || m == 0xC1 || m == 0xC2)
          return Some(("jpeg", be(off + 7, 2), be(off + 5, 2),
            u(off + 4).toLong, u(off + 9).toLong))
        // TEM / RSTn are standalone (no length field)
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) off += 2
        else off += 2 + be(off + 2, 2).toInt
      }
      None
    } else None
  }

  /** Deterministic stand-in for media decode + feature extraction:
    * normalized 16-bin histogram over payload bytes. Runs
    * per-partition over an iterator — the batch shape (not
    * one-object-at-a-time glue) a vectorized decoder needs.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] =
    perPayload(media) { r =>
      val hist = new Array[Double](HistogramBins)
      var i = 0
      while (i < r.payload.length) {
        hist((r.payload(i) & 0xFF) / (256 / HistogramBins)) += 1.0
        i += 1
      }
      val n = math.max(1, r.payload.length).toDouble
      var b = 0
      while (b < HistogramBins) { hist(b) /= n; b += 1 }
      Iterator.single(MediaFeatures(r.doc_id, r.format, r.n_bytes, hist))
    }

  /** Plant REAL baseline COLOR JPEGs ([[Jpeg.encodeColor]]): YCbCr
    * planes constant per 16×16 MCU region, the chroma layout rotating
    * 4:2:0 / 4:4:4 / 4:2:2 by doc_id, every third image with restart
    * markers (DRI interval 2). Dimensions are multiples of 16 so every MCU
    * (either layout) sits inside one constant region and the 2×2
    * chroma box average is exact. The luma constants are EVEN
    * (q_luma(0,0)=16 divides 8·(v−128)) and the chroma constants are
    * 128 + 17k (q_chroma(0,0)=17 divides 8·17k), so the lossy codec
    * is bit-exact on this corpus and the oracle recomputes every
    * decoded YCbCr sample — and from them, the JFIF RGB conversion —
    * WITHOUT a decoder: width 16·(1+id%3), height 16·(1+(id·5)%3),
    * per MCU (my, mx):
    *   Y  = 2·((id·29 + my·13 + mx·7) % 128)
    *   Cb = 128 + 17·(((id·11 + my·5 + mx·3) % 15) − 7)
    *   Cr = 128 + 17·(((id·19 + my·7 + mx·5) % 15) − 7)
    */
  def jpegColorTable(docs: DataFrame): DataFrame =
    plant(docs, "image/jpeg") { id =>
      val w = (16 * (1 + id % 3)).toInt
      val h = (16 * (1 + (id * 5) % 3)).toInt
      val yP = new Array[Byte](w * h)
      val cbP = new Array[Byte](w * h)
      val crP = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        val my = y / 16
        var x = 0
        while (x < w) {
          val mx = x / 16
          yP(y * w + x) = (2 * ((id * 29 + my * 13 + mx * 7) % 128)).toByte
          cbP(y * w + x) =
            (128 + 17 * (((id * 11 + my * 5 + mx * 3) % 15) - 7)).toByte
          crP(y * w + x) =
            (128 + 17 * (((id * 19 + my * 7 + mx * 5) % 15) - 7)).toByte
          x += 1
        }
        y += 1
      }
      Jpeg.encodeColor(w, h, yP, cbP, crP,
        subsample = Array(Jpeg.Sub420, Jpeg.Sub444,
          Jpeg.Sub422)((id % 3).toInt),
        restartInterval = if (id % 3 == 0) 2 else 0)
    }

  /** `pixelStats` over [[Jpeg.decodeRgb]]: multi-component marker
    * walk, interleaved MCU entropy decode with RSTn resync, per-
    * component dequant + IDCT, nearest-neighbor chroma upsampling,
    * JFIF YCbCr→RGB.
    */
  def decodeJpegRgbStats(media: DataFrame): Dataset[PixelStats] =
    pixelStats(media)(Jpeg.decodeRgb(_).map(d => (d.width, d.height, d.rgb)))
}
