package graft.multimodal

/** A real (minimal) GIF89a codec — pure JVM, no image libraries.
  *
  * The ENCODER exists to plant test images; the DECODER is the
  * capability, covering what a web crawl's GIFs need: header +
  * logical screen descriptor, global AND local color tables at bit
  * depths 1-8, extension-block skipping (GCE/comment/application),
  * data sub-block reassembly, FULL variable-width LZW decompression
  * (3-12 bit codes, clear-code dictionary resets, the K-K-K case,
  * the GIF encoder/decoder width-change offset), and 4-pass
  * interlace scatter. Output is 8-bit RGB via palette expansion.
  *
  * Totality is the contract (the Png/Jpeg convention): any malformed
  * or truncated input returns None, never a task-killing throw —
  * fuzz-pinned in CodecFuzzSpec.
  */
object Gif {

  private val MaxCodeWidth = 12
  private val MaxCodes = 1 << MaxCodeWidth // 4096

  // interlace pass row grids (GIF89a spec, appendix E)
  private val PassStart = Array(0, 4, 2, 1)
  private val PassStep = Array(8, 8, 4, 2)

  /** Row emission order: top-to-bottom, or the 4-pass interlace. */
  private def rowOrder(height: Int, interlaced: Boolean): Array[Int] =
    if (!interlaced) Array.range(0, height)
    else (0 until 4).toArray.flatMap(p =>
      Iterator.range(PassStart(p), height, PassStep(p)))

  private def le16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF)
    out.write((v >> 8) & 0xFF)
  }

  /** LSB-first bit writer (GIF packs code bits low-bit-first). */
  private final class BitWriter {
    private val bytes = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nBits = 0
    def put(code: Int, width: Int): Unit = {
      acc |= code << nBits
      nBits += width
      while (nBits >= 8) {
        bytes.write(acc & 0xFF)
        acc >>>= 8
        nBits -= 8
      }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) bytes.write(acc & 0xFF)
      bytes.toByteArray
    }
  }

  /** GIF-variant LZW compression of an index stream.
    *
    * Width-change timing: the decoder materializes each encoder
    * dictionary entry ONE CODE READ behind the emission that created
    * it, and bumps its code width after the entry lands (next ==
    * 1<<width). Mirrored here as a DEFERRED bump: the condition is
    * detected at assignment time but takes effect only after the
    * next emitted code — a flat "+1" threshold gets the tail wrong
    * when the bump lands on the final flush emit, which assigns no
    * entry (the depth-1/2 checkerboard images hit exactly that).
    */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int)
      : Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val w = new BitWriter
    var width = minCodeSize + 1
    var next = eoi + 1
    var pendingBump = false
    def emit(code: Int): Unit = {
      w.put(code, width)
      if (pendingBump) { width += 1; pendingBump = false }
    }
    // (prefix code << 8 | byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    emit(clear)
    if (data.nonEmpty) {
      var cur = data(0) & 0xFF
      var i = 1
      while (i < data.length) {
        val b = data(i) & 0xFF
        val key = (cur << 8) | b
        val hit = dict.get(key)
        if (hit != null) cur = hit
        else {
          emit(cur)
          if (next < MaxCodes) {
            dict.put(key, next)
            next += 1
            if (next == (1 << width) && width < MaxCodeWidth)
              pendingBump = true
          } else {
            // table full: reset (keeps the stream spec-clean even
            // though planted test images never get here)
            emit(clear)
            dict = new java.util.HashMap[Integer, Integer]()
            width = minCodeSize + 1
            next = eoi + 1
            pendingBump = false
          }
          cur = b
        }
        i += 1
      }
      emit(cur)
    }
    emit(eoi)
    w.finish()
  }

  /** Encode `width`×`height` palette indices as a GIF89a with a
    * global color table of 2^depth entries (each index must be
    * < 2^depth), optionally interlaced.
    */
  def encode(width: Int, height: Int, depth: Int, palette: Array[Byte],
      indices: Array[Byte], interlaced: Boolean = false): Array[Byte] = {
    require(depth >= 1 && depth <= 8, s"depth $depth out of range")
    require(width >= 1 && width <= 0xFFFF && height >= 1 &&
      height <= 0xFFFF,
      s"dimensions ${width}x$height exceed GIF's 16-bit descriptors")
    require(palette.length == 3 * (1 << depth),
      s"palette must have 2^$depth entries")
    require(indices.length == width * height, "indices size mismatch")
    require(indices.forall(i => (i & 0xFF) < (1 << depth)),
      s"index out of the 2^$depth palette range")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    le16(out, width)
    le16(out, height)
    // GCT present, color resolution = depth, GCT size field = depth-1
    out.write(0x80 | ((depth - 1) << 4) | (depth - 1))
    out.write(0) // background color index
    out.write(0) // pixel aspect ratio
    out.write(palette, 0, palette.length)
    out.write(0x2C) // image descriptor
    le16(out, 0)
    le16(out, 0)
    le16(out, width)
    le16(out, height)
    out.write(if (interlaced) 0x40 else 0)
    val minCodeSize = math.max(2, depth)
    out.write(minCodeSize)
    val stream = new Array[Byte](indices.length)
    var p = 0
    for (y <- rowOrder(height, interlaced)) {
      System.arraycopy(indices, y * width, stream, p, width)
      p += width
    }
    val lzw = lzwEncode(stream, minCodeSize)
    var i = 0
    while (i < lzw.length) {
      val n = math.min(255, lzw.length - i)
      out.write(n)
      out.write(lzw, i, n)
      i += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  case class Decoded(width: Int, height: Int, rgb: Array[Byte])

  /** One frame of an animated GIF to encode: a sub-rect of the
    * canvas with GIF89a graphic-control semantics.
    *
    * @param disposal 0/1 leave, 2 restore-to-background,
    *   3 restore-to-previous (what the canvas was before this frame)
    * @param transparent palette index treated as see-through
    *   (-1 = none)
    * @param delayCs frame delay in centiseconds (animation timing —
    *   carried in the GCE, irrelevant to pixel decoding)
    */
  case class FrameSpec(left: Int, top: Int, width: Int, height: Int,
      indices: Array[Byte], disposal: Int = 1, transparent: Int = -1,
      delayCs: Int = 4, interlaced: Boolean = false)

  /** Encode an animated GIF89a: global color table of 2^depth
    * entries, a NETSCAPE2.0 loop extension, then per frame a
    * graphic-control extension (disposal, transparency, delay) and
    * an image descriptor at the frame's canvas offset.
    */
  def encodeAnimated(width: Int, height: Int, depth: Int,
      palette: Array[Byte], frames: Seq[FrameSpec]): Array[Byte] = {
    require(depth >= 1 && depth <= 8, s"depth $depth out of range")
    require(width >= 1 && width <= 0xFFFF && height >= 1 &&
      height <= 0xFFFF,
      s"dimensions ${width}x$height exceed GIF's 16-bit descriptors")
    require(palette.length == 3 * (1 << depth),
      s"palette must have 2^$depth entries")
    require(frames.nonEmpty, "at least one frame")
    frames.foreach { f =>
      require(f.left >= 0 && f.top >= 0 &&
        f.left + f.width <= width && f.top + f.height <= height,
        s"frame rect ${f.left},${f.top} ${f.width}x${f.height} " +
          s"escapes the ${width}x$height canvas")
      require(f.indices.length == f.width * f.height,
        "frame indices size mismatch")
      require(f.indices.forall(i => (i & 0xFF) < (1 << depth)),
        s"frame index out of the 2^$depth palette range")
      require(f.disposal >= 0 && f.disposal <= 3,
        s"disposal ${f.disposal} out of range")
      require(f.transparent >= -1 && f.transparent < (1 << depth),
        s"transparent index ${f.transparent} out of range")
      require(f.delayCs >= 0 && f.delayCs <= 0xFFFF,
        s"delay ${f.delayCs}cs exceeds the GCE's 16-bit field")
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    le16(out, width)
    le16(out, height)
    out.write(0x80 | ((depth - 1) << 4) | (depth - 1))
    out.write(0) // background color index
    out.write(0) // pixel aspect ratio
    out.write(palette, 0, palette.length)
    // NETSCAPE2.0 application extension: loop forever
    out.write(0x21); out.write(0xFF); out.write(0x0B)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"), 0, 11)
    out.write(0x03); out.write(0x01); le16(out, 0); out.write(0)
    for (f <- frames) {
      // graphic-control extension
      out.write(0x21); out.write(0xF9); out.write(0x04)
      out.write((f.disposal << 2) | (if (f.transparent >= 0) 1 else 0))
      le16(out, f.delayCs)
      out.write(math.max(0, f.transparent))
      out.write(0)
      // image descriptor at the frame offset
      out.write(0x2C)
      le16(out, f.left)
      le16(out, f.top)
      le16(out, f.width)
      le16(out, f.height)
      out.write(if (f.interlaced) 0x40 else 0)
      val minCodeSize = math.max(2, depth)
      out.write(minCodeSize)
      val stream = new Array[Byte](f.indices.length)
      var p = 0
      for (y <- rowOrder(f.height, f.interlaced)) {
        System.arraycopy(f.indices, y * f.width, stream, p, f.width)
        p += f.width
      }
      val lzw = lzwEncode(stream, minCodeSize)
      var i = 0
      while (i < lzw.length) {
        val n = math.min(255, lzw.length - i)
        out.write(n)
        out.write(lzw, i, n)
        i += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3B) // trailer
    out.toByteArray
  }

  case class AnimMeta(width: Int, height: Int, nFrames: Int,
      totalDelayCs: Int, looped: Boolean)

  /** Animation METADATA without pixel decode (the ffprobe-style
    * header walk): canvas dims, frame count, total GCE delay, and
    * whether a NETSCAPE2.0 loop extension is present. LZW data is
    * SKIPPED sub-block by sub-block, never inflated — at corpus
    * scale, metadata extraction must not pay the decode. Returns
    * None for anything malformed (the [[decode]] totality contract).
    */
  def animMeta(p: Array[Byte]): Option[AnimMeta] =
    try animMetaImpl(p)
    catch {
      case _: IndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def animMetaImpl(p: Array[Byte]): Option[AnimMeta] = {
    def u(j: Int): Int = p(j) & 0xFF
    def le(j: Int): Int = u(j) | (u(j + 1) << 8)
    if (p.length < 13) return None
    val sig = new String(p, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    val width = le(6)
    val height = le(8)
    if (width <= 0 || height <= 0) return None
    val packed = u(10)
    var off = 13
    if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 0x07) + 1))
    var nFrames = 0
    var totalDelay = 0
    var looped = false
    var pendingDelay = 0
    def skipSubBlocks(): Boolean = {
      while ({
        if (off >= p.length) return false
        val n = u(off); off += 1 + n; n != 0
      }) ()
      off <= p.length
    }
    while (off < p.length) {
      u(off) match {
        case 0x3B =>
          return if (nFrames > 0)
            Some(AnimMeta(width, height, nFrames, totalDelay, looped))
          else None
        case 0x21 =>
          if (off + 1 >= p.length) return None
          val label = u(off + 1)
          off += 2
          if (label == 0xF9) {
            if (off + 6 > p.length || u(off) != 4) return None
            pendingDelay = le(off + 2)
            off += 5
            if (u(off) != 0) return None
            off += 1
          } else if (label == 0xFF) {
            // application extension: 11-byte identifier block
            if (off >= p.length) return None
            val n = u(off)
            if (n == 11 && off + 12 <= p.length &&
                new String(p, off + 1, 11, "US-ASCII") == "NETSCAPE2.0")
              looped = true
            if (!skipSubBlocks()) return None
          } else {
            if (!skipSubBlocks()) return None
          }
        case 0x2C =>
          if (off + 10 > p.length) return None
          val ipacked = u(off + 9)
          off += 10
          if ((ipacked & 0x80) != 0)
            off += 3 * (1 << ((ipacked & 0x07) + 1))
          if (off >= p.length) return None
          off += 1 // min code size — data itself is never inflated
          if (!skipSubBlocks()) return None
          nFrames += 1
          totalDelay += pendingDelay
          pendingDelay = 0
        case _ => return None
      }
    }
    if (nFrames > 0) Some(AnimMeta(width, height, nFrames, totalDelay, looped))
    else None
  }

  /** Decode EVERY frame of an animated (or single-frame) GIF as
    * composited full-canvas snapshots — the real frame walk a video
    * sampler needs: each output is what a viewer shows after that
    * frame, honoring per-frame offsets, transparency, and GCE
    * disposal (1 leave, 2 restore-to-background, 3
    * restore-to-previous). The canvas starts as the global
    * background color (black when only local tables exist); a
    * trailer or clean end-of-stream after ≥1 frame ends the walk.
    * Returns None for anything malformed (totality, the [[decode]]
    * contract) or more than `maxFrames` frames.
    */
  def decodeFrames(p: Array[Byte], maxFrames: Int = 1024)
      : Option[Vector[Decoded]] =
    try decodeFramesImpl(p, maxFrames)
    catch {
      case _: IndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def decodeFramesImpl(p: Array[Byte], maxFrames: Int)
      : Option[Vector[Decoded]] = {
    def u(j: Int): Int = p(j) & 0xFF
    def le(j: Int): Int = u(j) | (u(j + 1) << 8)
    if (p.length < 13) return None
    val sig = new String(p, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    val canvasW = le(6)
    val canvasH = le(8)
    if (canvasW <= 0 || canvasH <= 0 ||
        canvasW.toLong * canvasH > 64L * 1024 * 1024) return None
    // Output is one full-canvas RGB clone PER FRAME: bound the total
    // bytes (not just the frame count) so a crafted max-canvas
    // many-frame GIF rejects as None instead of OOMing the task —
    // the totality catch below cannot catch an OutOfMemoryError.
    val canvasBytes = canvasW.toLong * canvasH * 3
    val effMaxFrames =
      math.min(maxFrames.toLong, (256L << 20) / canvasBytes).toInt
    if (effMaxFrames < 1) return None
    val packed = u(10)
    val bgIndex = u(11)
    var off = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 0x07) + 1))
      if (off + n > p.length) return None
      gct = java.util.Arrays.copyOfRange(p, off, off + n)
      off += n
    }
    val canvas = new Array[Byte](canvasW * canvasH * 3)
    if (gct != null && bgIndex < gct.length / 3) {
      var i = 0
      while (i < canvasW * canvasH) {
        System.arraycopy(gct, bgIndex * 3, canvas, i * 3, 3)
        i += 1
      }
    }
    val frames = Vector.newBuilder[Decoded]
    var nFrames = 0
    // GCE state: applies to the next image only, then resets.
    var disposal = 0
    var transparent = -1
    while (off < p.length) {
      u(off) match {
        case 0x3B =>
          return if (nFrames > 0) Some(frames.result()) else None
        case 0x21 =>
          if (off + 1 >= p.length) return None
          val label = u(off + 1)
          off += 2
          if (label == 0xF9) {
            // graphic control: fixed 4-byte block + terminator
            if (off >= p.length || u(off) != 4 ||
                off + 6 > p.length) return None
            val gpacked = u(off + 1)
            disposal = (gpacked >> 2) & 0x07
            transparent = if ((gpacked & 1) != 0) u(off + 4) else -1
            off += 5
            if (u(off) != 0) return None
            off += 1
          } else {
            // other extensions: skip data sub-blocks
            while ({
              if (off >= p.length) return None
              val n = u(off); off += 1 + n; n != 0
            }) ()
          }
        case 0x2C =>
          if (off + 10 > p.length) return None
          val left = le(off + 1)
          val top = le(off + 3)
          val fw = le(off + 5)
          val fh = le(off + 7)
          val ipacked = u(off + 9)
          off += 10
          if (fw <= 0 || fh <= 0 ||
              left + fw > canvasW || top + fh > canvasH) return None
          val interlaced = (ipacked & 0x40) != 0
          val (table, indices, next) =
            imageData(p, off, ipacked, gct, fw * fh) match {
              case Some(d) => d
              case None => return None
            }
          off = next
          val nColors = table.length / 3
          // disposal 3 needs the pre-frame canvas to restore
          val before =
            if (disposal == 3) canvas.clone() else null
          val rows = rowOrder(fh, interlaced)
          var r = 0
          while (r < fh) {
            val fy = rows(r)
            var fx = 0
            while (fx < fw) {
              val ix = indices(r * fw + fx) & 0xFF
              // transparency first: transparent pixels are never
              // rendered, and real-world GIFs legally carry a
              // transparent index past a truncated local table
              if (ix != transparent) {
                if (ix >= nColors) return None
                System.arraycopy(table, ix * 3, canvas,
                  ((top + fy) * canvasW + (left + fx)) * 3, 3)
              }
              fx += 1
            }
            r += 1
          }
          nFrames += 1
          if (nFrames > effMaxFrames) return None
          frames += Decoded(canvasW, canvasH, canvas.clone())
          // apply disposal AFTER the snapshot
          disposal match {
            case 2 =>
              var fy = 0
              while (fy < fh) {
                var fx = 0
                while (fx < fw) {
                  val o = ((top + fy) * canvasW + (left + fx)) * 3
                  if (gct != null && bgIndex < gct.length / 3)
                    System.arraycopy(gct, bgIndex * 3, canvas, o, 3)
                  else {
                    canvas(o) = 0; canvas(o + 1) = 0; canvas(o + 2) = 0
                  }
                  fx += 1
                }
                fy += 1
              }
            case 3 =>
              System.arraycopy(before, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          disposal = 0
          transparent = -1
        case _ => return None
      }
    }
    // clean end of stream without a trailer: accept like the
    // missing-EOI leniency iff at least one frame decoded
    if (nFrames > 0) Some(frames.result()) else None
  }

  /** Decode the first image of a GIF87a/89a to 8-bit RGB. Returns
    * None for anything malformed: bad signature, truncated
    * descriptors or sub-blocks, missing color table, LZW code
    * underflow/overflow, out-of-palette indices, or a pixel count
    * that doesn't fill the frame.
    */
  def decode(p: Array[Byte]): Option[Decoded] =
    try decodeImpl(p)
    catch {
      // totality is the contract: crafted-input bounds surprises
      // reject cleanly, never throw
      case _: IndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def decodeImpl(p: Array[Byte]): Option[Decoded] = {
    def u(j: Int): Int = p(j) & 0xFF
    def le(j: Int): Int = u(j) | (u(j + 1) << 8)
    if (p.length < 13) return None
    val sig = new String(p, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    val packed = u(10)
    var off = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 0x07) + 1))
      if (off + n > p.length) return None
      gct = java.util.Arrays.copyOfRange(p, off, off + n)
      off += n
    }
    // walk blocks to the first image descriptor
    while (off < p.length && u(off) != 0x2C) {
      u(off) match {
        case 0x21 => // extension: label byte + data sub-blocks
          off += 2
          while ({
            if (off >= p.length) return None
            val n = u(off); off += 1 + n; n != 0
          }) ()
        case 0x3B => return None // trailer before any image
        case _ => return None
      }
    }
    if (off + 10 > p.length) return None
    val width = le(off + 5)
    val height = le(off + 7)
    val ipacked = u(off + 9)
    off += 10
    if (width <= 0 || height <= 0 ||
        width.toLong * height > 64L * 1024 * 1024) return None
    val interlaced = (ipacked & 0x40) != 0
    val (table, indices, _) =
      imageData(p, off, ipacked, gct, width * height) match {
        case Some(d) => d
        case None => return None
      }
    // palette expansion (+ optional interlace scatter)
    val nColors = table.length / 3
    val rgb = new Array[Byte](width * height * 3)
    val rows = rowOrder(height, interlaced)
    var r = 0
    while (r < height) {
      val y = rows(r)
      var x = 0
      while (x < width) {
        val ix = indices(r * width + x) & 0xFF
        if (ix >= nColors) return None
        System.arraycopy(table, ix * 3, rgb, (y * width + x) * 3, 3)
        x += 1
      }
      r += 1
    }
    Some(Decoded(width, height, rgb))
  }

  /** The image data that follows a descriptor at `start` (whose
    * packed byte is `ipacked`): the local color table, overriding
    * `gct`; the LZW minimum code size (2..8); the data sub-blocks,
    * reassembled and decoded to exactly `nPixels` indices. Returns
    * (color table, indices, offset past the block terminator), or
    * None when the table is missing or anything is truncated or
    * malformed.
    */
  private def imageData(p: Array[Byte], start: Int, ipacked: Int,
      gct: Array[Byte], nPixels: Int)
      : Option[(Array[Byte], Array[Byte], Int)] = {
    def u(j: Int): Int = p(j) & 0xFF
    var off = start
    var table = gct
    if ((ipacked & 0x80) != 0) { // local color table overrides
      val n = 3 * (1 << ((ipacked & 0x07) + 1))
      if (off + n > p.length) return None
      table = java.util.Arrays.copyOfRange(p, off, off + n)
      off += n
    }
    if (table == null) return None
    if (off >= p.length) return None
    val minCodeSize = u(off)
    off += 1
    if (minCodeSize < 2 || minCodeSize > 8) return None
    // reassemble the LZW stream from data sub-blocks
    val lzw = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (off >= p.length) return None
      val n = u(off)
      off += 1
      if (n == 0) done = true
      else {
        if (off + n > p.length) return None
        lzw.write(p, off, n)
        off += n
      }
    }
    lzwDecode(lzw.toByteArray, minCodeSize, nPixels)
      .map(ix => (table, ix, off))
  }

  /** GIF-variant LZW decompression to exactly `expected` indices. */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
      expected: Int): Option[Array[Byte]] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](MaxCodes)
    val suffix = new Array[Byte](MaxCodes)
    val out = new Array[Byte](expected)
    var outN = 0
    var width = minCodeSize + 1
    var next = eoi + 1
    var prev = -1
    var acc = 0
    var nBits = 0
    var i = 0

    // emit the expansion of `code` (walk the prefix chain, reversed)
    val stack = new Array[Byte](MaxCodes + 1)
    def emit(code: Int, kkkByte: Int): Boolean = {
      var top = 0
      var c = code
      if (kkkByte >= 0) { stack(top) = kkkByte.toByte; top += 1 }
      while (c >= clear + 2) {
        if (top > MaxCodes) return false // cycle guard
        stack(top) = suffix(c)
        top += 1
        c = prefix(c)
      }
      if (c >= clear) return false // dangling code below the roots
      stack(top) = c.toByte
      top += 1
      if (outN + top > expected) return false
      while (top > 0) {
        top -= 1
        out(outN) = stack(top)
        outN += 1
      }
      true
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear + 2) c = prefix(c)
      if (c >= clear) -1 else c
    }

    while (i < data.length || nBits >= width) {
      while (nBits < width && i < data.length) {
        acc |= (data(i) & 0xFF) << nBits
        nBits += 8
        i += 1
      }
      if (nBits < width) return None // truncated stream
      val code = acc & ((1 << width) - 1)
      acc >>>= width
      nBits -= width
      if (code == clear) {
        width = minCodeSize + 1
        next = eoi + 1
        prev = -1
      } else if (code == eoi) {
        return if (outN == expected) Some(out) else None
      } else if (prev == -1) {
        if (code >= clear) return None
        if (outN >= expected) return None
        out(outN) = code.toByte
        outN += 1
        prev = code
      } else {
        if (code > next || (code == next && next >= MaxCodes)) return None
        if (code == next) {
          // K-K-K: the just-about-to-be-defined code — expansion is
          // str(prev) + first(str(prev))
          val k = firstByte(prev)
          if (k < 0 || !emit(prev, k)) return None
        } else if (!emit(code, -1)) return None
        if (next < MaxCodes) {
          val k = if (code == next) firstByte(prev)
            else firstByte(code)
          if (k < 0) return None
          prefix(next) = prev
          suffix(next) = k.toByte
          next += 1
          if (next == (1 << width) && width < MaxCodeWidth) width += 1
        }
        prev = code
      }
    }
    // Ran out of codes without an explicit EOI. Sloppy real-world
    // encoders commonly just end the data stream; accept iff the
    // frame filled exactly (same invariant the EOI path checks) —
    // truncation mid-frame still rejects.
    if (outN == expected) Some(out) else None
  }
}
