package graft.multimodal

/** A REAL pure-JVM image decode path for the [[Multimodal.MediaDecoder]]
  * seam — no native libraries, no new dependencies. Parses two
  * self-describing uncompressed formats byte-for-byte:
  *
  *   - BMP (Windows bitmap, 24-bit uncompressed): little-endian header
  *     fields, BGR pixel triples, 4-byte-padded rows, bottom-up or
  *     top-down depending on the sign of the height field.
  *   - PPM "P6" (Netpbm binary pixmap): ASCII header with `#` comments,
  *     then raw RGB triples, maxval ≤ 255.
  *
  * The perceptual hash is a real average-hash (aHash): integer-luma
  * grayscale → 8×8 block means → threshold at the global mean → 64 bits
  * as 16 hex chars (same width as [[Multimodal.StubDecoder]]'s hash, so
  * the two decoders are drop-in interchangeable). All arithmetic is
  * integer, so the hash is deterministic across JVMs and platforms.
  */
object ImageDecoder extends Multimodal.MediaDecoder {

  def decode(bytes: Array[Byte]): (Int, Int, String) = {
    if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') decodePpm(bytes)
    else throw new IllegalArgumentException(
      s"unsupported payload (${bytes.length} bytes): expected BMP or PPM P6 magic")
  }

  /** Full pixel decode: (width, height, row-major RGB triples). Feeds the
    * resize path, which needs pixels rather than the aHash summary. */
  def decodeRgb(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, px) =
      if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') bmpPixelAccessor(bytes)
      else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') ppmPixelAccessor(bytes)
      else throw new IllegalArgumentException(
        s"unsupported payload (${bytes.length} bytes): expected BMP or PPM P6 magic")
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        val p = (y * w + x) * 3
        out(p) = r.toByte; out(p + 1) = g.toByte; out(p + 2) = b.toByte
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  private def bmpPixelAccessor(b: Array[Byte]): (Int, Int, (Int, Int) => (Int, Int, Int)) = {
    require(b.length >= 54, s"truncated BMP: ${b.length} bytes")
    val dataOff = le32(b, 10)
    val width = le32(b, 18)
    val rawHeight = le32(b, 22)
    val height = math.abs(rawHeight)
    require(width > 0 && height > 0, s"bad BMP dimensions ${width}x$rawHeight")
    require(le16(b, 28) == 24, s"unsupported BMP bit depth ${le16(b, 28)} (only 24-bit)")
    require(le32(b, 30) == 0, s"unsupported BMP compression ${le32(b, 30)}")
    val stride = ((width * 3 + 3) / 4) * 4
    require(b.length >= dataOff + stride * height, "truncated BMP pixel data")
    (width, height, (x: Int, y: Int) => {
      val row = if (rawHeight > 0) height - 1 - y else y
      val p = dataOff + row * stride + x * 3
      (u8(b(p + 2)), u8(b(p + 1)), u8(b(p)))
    })
  }

  private def ppmPixelAccessor(b: Array[Byte]): (Int, Int, (Int, Int) => (Int, Int, Int)) = {
    val (width, height, dataOff) = ppmHeader(b)
    (width, height, (x: Int, y: Int) => {
      val p = dataOff + (y * width + x) * 3
      (u8(b(p)), u8(b(p + 1)), u8(b(p + 2)))
    })
  }

  private def u8(b: Byte): Int = b & 0xff

  private def le32(b: Array[Byte], off: Int): Int =
    u8(b(off)) | (u8(b(off + 1)) << 8) | (u8(b(off + 2)) << 16) | (u8(b(off + 3)) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    u8(b(off)) | (u8(b(off + 1)) << 8)

  /** 24-bit uncompressed BMP. Rows are padded to 4-byte boundaries and
    * stored bottom-up unless the height field is negative (top-down). */
  private def decodeBmp(b: Array[Byte]): (Int, Int, String) = {
    val (width, height, px) = bmpPixelAccessor(b)
    (width, height, aHash(width, height, grayOf(px)))
  }

  /** PPM P6: ASCII header tokens (magic, width, height, maxval) with
    * whitespace and `#`-to-end-of-line comments, then raw RGB bytes. */
  private def decodePpm(b: Array[Byte]): (Int, Int, String) = {
    val (width, height, px) = ppmPixelAccessor(b)
    (width, height, aHash(width, height, grayOf(px)))
  }

  /** Integer-luma grayscale view over an RGB pixel accessor. */
  private def grayOf(px: (Int, Int) => (Int, Int, Int)): (Int, Int) => Int =
    (x, y) => { val (r, g, b) = px(x, y); (r * 299 + g * 587 + b * 114) / 1000 }

  /** Parse the PPM P6 ASCII header → (width, height, pixel-data offset). */
  private def ppmHeader(b: Array[Byte]): (Int, Int, Int) = {
    var pos = 2 // past "P6"
    def nextToken(): Int = {
      // skip whitespace and comments
      var inComment = false
      while (pos < b.length &&
        (inComment || b(pos).toChar.isWhitespace || b(pos) == '#')) {
        if (b(pos) == '#') inComment = true
        else if (b(pos) == '\n') inComment = false
        pos += 1
      }
      var v = 0
      require(pos < b.length && b(pos).toChar.isDigit, "malformed PPM header")
      while (pos < b.length && b(pos).toChar.isDigit) { v = v * 10 + (b(pos) - '0'); pos += 1 }
      v
    }
    val width = nextToken()
    val height = nextToken()
    val maxval = nextToken()
    require(width > 0 && height > 0, s"bad PPM dimensions ${width}x$height")
    require(maxval > 0 && maxval <= 255, s"unsupported PPM maxval $maxval (1-byte samples only)")
    pos += 1 // single whitespace byte after maxval, then raw data
    require(b.length >= pos + width * height * 3, "truncated PPM pixel data")
    (width, height, pos)
  }

  /** Average-hash: mean luma per 8×8 grid cell (block average, every cell
    * covers ≥ 1 pixel for any image size), bit set where the cell mean
    * exceeds the global mean. Bit 63 = top-left cell, row-major. */
  private def aHash(w: Int, h: Int, gray: (Int, Int) => Int): String = {
    val cells = new Array[Long](64)
    var mean = 0L
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val x0 = cx * w / 8; val x1 = math.max(x0 + 1, (cx + 1) * w / 8)
      val y0 = cy * h / 8; val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
      var sum = 0L; var n = 0L
      for (y <- y0 until math.min(y1, h); x <- x0 until math.min(x1, w)) {
        sum += gray(x, y); n += 1
      }
      // degenerate tiny images: clamp the sample point into range
      if (n == 0) { sum = gray(math.min(x0, w - 1), math.min(y0, h - 1)); n = 1 }
      cells(cy * 8 + cx) = sum / n
      mean += cells(cy * 8 + cx)
    }
    mean /= 64
    var bits = 0L
    for (i <- 0 until 64) if (cells(i) > mean) bits |= 1L << (63 - i)
    f"$bits%016x"
  }
}
