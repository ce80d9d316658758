package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM encoders/decoders for the three media containers the
  * multimodal surface carries. The decoders are REAL header/sample
  * parsers (byte-level, no codec libraries needed):
  *
  *  - image: uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up,
  *    4-byte row padding) — the classic "decodable without a library"
  *    raster format.
  *  - audio: 16-bit mono PCM WAV (RIFF/fmt/data chunks).
  *  - video: a minimal raw-frame container `GRV0 | w | h | n_frames |
  *    gray8 frames` — stands in for a codec container while keeping the
  *    frame geometry genuinely parseable and sliceable.
  *
  * All fields little-endian, as the real formats demand.
  */
object MediaCodec {

  // ── BMP (24bpp, BITMAPINFOHEADER) ──────────────────────────────────

  def bmpRowSize(width: Int): Int = (width * 3 + 3) / 4 * 4

  def bmpSize(width: Int, height: Int): Int = 54 + bmpRowSize(width) * height

  /** Encode a 24-bit BMP; pixel (x, y, channel) bytes come from `pix`. */
  def encodeBmp(width: Int, height: Int, pix: Int => Byte): Array[Byte] = {
    val rowSize = bmpRowSize(width)
    val size = 54 + rowSize * height
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(size)          // file size
    b.putInt(0)             // reserved
    b.putInt(54)            // pixel data offset
    b.putInt(40)            // BITMAPINFOHEADER size
    b.putInt(width)
    b.putInt(height)
    b.putShort(1)           // planes
    b.putShort(24)          // bits per pixel
    b.putInt(0)             // compression = BI_RGB
    b.putInt(rowSize * height)
    b.putInt(2835)          // 72 DPI in pixels/metre
    b.putInt(2835)
    b.putInt(0)             // palette colors
    b.putInt(0)             // important colors
    var i = 0
    val dataBytes = rowSize * height
    while (i < dataBytes) {
      // row padding bytes are zero, pixel bytes from the generator
      val inRow = i % rowSize
      b.put(if (inRow < width * 3) pix(i) else 0: Byte)
      i += 1
    }
    b.array()
  }

  /** (width, height, bitsPerPixel) from a BMP header; rejects non-BMP. */
  def decodeBmpHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP payload")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val width = b.getInt(18)
    val height = b.getInt(22)
    val bpp = b.getShort(28).toInt
    (width, height, bpp)
  }

  /** Iterate the pixel bytes of a 24-bit BMP (skips row padding). */
  def bmpPixelBytes(bytes: Array[Byte]): Iterator[Byte] = {
    val (w, h, bpp) = decodeBmpHeader(bytes)
    require(bpp == 24, s"expected 24bpp, got $bpp")
    val offset = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    val rowSize = bmpRowSize(w)
    for {
      y <- Iterator.range(0, h)
      x <- Iterator.range(0, w * 3)
    } yield bytes(offset + y * rowSize + x)
  }

  /** Nearest-neighbor resize of a 24-bit BMP: decode, sample the source
    * grid at integer-scaled positions, re-encode. Pure integer sampling
    * arithmetic — byte-deterministic.
    */
  def resizeBmpNearest(bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val (w, h, bpp) = decodeBmpHeader(bytes)
    require(bpp == 24, s"expected 24bpp, got $bpp")
    val offset = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    val srcRow = bmpRowSize(w)
    def srcPixel(x: Int, y: Int, c: Int): Byte =
      bytes(offset + y * srcRow + x * 3 + c)
    encodeBmp(targetW, targetH, { i =>
      // the generator receives indexes over the PADDED data area (it is
      // only invoked for pixel bytes, but `i` counts padding too)
      val paddedRow = bmpRowSize(targetW)
      val ty = i / paddedRow
      val rem = i % paddedRow
      val tx = rem / 3
      val c = rem % 3
      val sx = (tx.toLong * w / targetW).toInt
      val sy = (ty.toLong * h / targetH).toInt
      srcPixel(sx, sy, c)
    })
  }

  /** 64-bit difference hash (dHash) of a 24-bit BMP — the classic
    * perceptual image fingerprint: sample a 9×8 luma grid (nearest-
    * neighbor, integer arithmetic only), emit one bit per horizontally
    * adjacent pair (1 ⟺ right sample brighter). Robust to uniform
    * brightness shifts and resizing (gradient SIGNS survive both),
    * which byte hashes are not. Bit b = gy·8+gx compares grid columns
    * gx and gx+1 of row gy; luma = sum of the pixel's 3 channel bytes.
    * Reads the pixel data through the header's offset — a genuine
    * container parse, not a formula over synthetic state.
    */
  def dHash(bytes: Array[Byte]): Long = {
    val (w, h, bpp) = decodeBmpHeader(bytes)
    require(bpp == 24, s"expected 24bpp, got $bpp")
    val offset = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(10)
    val rowSize = bmpRowSize(w)
    def luma(gx: Int, gy: Int): Int = {
      val sx = gx * w / 9
      val sy = gy * h / 8
      var s = 0
      var c = 0
      while (c < 3) { s += bytes(offset + sy * rowSize + sx * 3 + c) & 0xff; c += 1 }
      s
    }
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (luma(gx + 1, gy) > luma(gx, gy)) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  // ── WAV (RIFF, 16-bit mono PCM) ────────────────────────────────────

  def wavSize(nSamples: Int): Int = 44 + 2 * nSamples

  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII"))
    b.putInt(36 + dataLen)  // chunk size
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII"))
    b.putInt(16)            // fmt chunk size
    b.putShort(1)           // PCM
    b.putShort(1)           // mono
    b.putInt(sampleRate)
    b.putInt(sampleRate * 2) // byte rate
    b.putShort(2)           // block align
    b.putShort(16)          // bits per sample
    b.put("data".getBytes("US-ASCII"))
    b.putInt(dataLen)
    samples.foreach(b.putShort)
    b.array()
  }

  /** (sampleRate, channels, bitsPerSample, nSamples) from a WAV header. */
  def decodeWavHeader(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a WAV payload")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val channels = b.getShort(22).toInt
    val sampleRate = b.getInt(24)
    val bits = b.getShort(34).toInt
    val dataLen = b.getInt(40)
    (sampleRate, channels, bits, dataLen / (channels * bits / 8))
  }

  /** PCM samples of a 16-bit mono WAV. */
  def wavSamples(bytes: Array[Byte]): Array[Short] = {
    val (_, channels, bits, n) = decodeWavHeader(bytes)
    require(channels == 1 && bits == 16, "expected 16-bit mono")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(n)(i => b.getShort(44 + 2 * i))
  }

  /** 64-bit audio fingerprint — the WAV counterpart of [[dHash]]: the
    * PCM stream is cut into 65 frames (sample i → frame i·65/n, integer
    * arithmetic), and bit k is set iff frame k+1's mean |amplitude|
    * exceeds frame k's. Energy-envelope GRADIENTS survive uniform gain
    * changes (the audio analog of dHash's brightness robustness), which
    * raw byte hashes do not. The mean comparison is an exact integer
    * cross-multiplication — no floats, so any engine (incl. the DuckDB
    * oracle) reproduces the bit pattern exactly; an empty frame
    * (n < 65) compares as 0/1.
    */
  def aHash(bytes: Array[Byte]): Long = {
    val (_, channels, bits, n) = decodeWavHeader(bytes)
    require(channels == 1 && bits == 16, "expected 16-bit mono")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    var i = 0
    while (i < n) {
      val k = (i.toLong * 65 / n).toInt
      sums(k) += math.abs(b.getShort(44 + 2 * i).toLong)
      cnts(k) += 1
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      val ca = math.max(cnts(k), 1L)
      val cb = math.max(cnts(k + 1), 1L)
      if (sums(k + 1) * ca > sums(k) * cb) hash |= 1L << k
      k += 1
    }
    hash
  }

  // ── raw gray8 frame container ("GRV0") ─────────────────────────────

  def encodeRawVideo(width: Int, height: Int, nFrames: Int,
                     pix: Int => Byte): Array[Byte] = {
    val dataLen = width * height * nFrames
    val b = ByteBuffer.allocate(16 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("GRV0".getBytes("US-ASCII"))
    b.putInt(width)
    b.putInt(height)
    b.putInt(nFrames)
    var i = 0
    while (i < dataLen) { b.put(pix(i)); i += 1 }
    b.array()
  }

  /** (width, height, nFrames) from the raw-video header. */
  def decodeRawVideoHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    require(bytes.length >= 16 &&
      new String(bytes, 0, 4, "US-ASCII") == "GRV0", "not a GRV0 payload")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    (b.getInt(4), b.getInt(8), b.getInt(12))
  }

  /** 64-bit video fingerprint — the GRV0 counterpart of [[dHash]] /
    * [[aHash]]: a 9×8 grid of (time-slice, row-band) cells sampled
    * nearest-neighbor like dHash's — cell (t, r) reads the single
    * representative frame t·F/9 and row r·h/8 (always in range for
    * F ≥ 1, h ≥ 4) and sums that row's w gray bytes. Bit (t, r) is set
    * iff slice t+1's row energy exceeds slice t's in the same band:
    * TEMPORAL luma gradients, which survive uniform brightness shifts
    * the way dHash's spatial ones do. Every cell has exactly w pixels,
    * so the compare is a plain integer sum compare — bit-reproducible
    * in any engine.
    */
  /** Spatio-temporal energy-gradient fingerprint: the clip's full pixel
    * volume (all frames concatenated, w·h·f gray8 bytes) is split into
    * 65 equal chunks and bit k compares the count-normalized sums of
    * chunks k+1 and k — the aHash shape applied to the video volume.
    * Count normalization makes the hash invariant under uniform
    * brightness shifts (s + c·Δ scales both sides identically).
    *
    * Deliberately NOT a (sampled-frame × row) grid: a 9×8 frame/row
    * grid compares equal cells for every clip with f < 9 frames
    * (t·f/9 resamples the same frame), collapsing ALL short clips
    * toward hash 0 — at the sf10 drill that one degenerate class made
    * the near-dup pair set 2.08 B rows. Chunking the whole volume
    * keeps every bit content-driven regardless of frame count.
    */
  def vHash(bytes: Array[Byte]): Long = {
    val (w, h, f) = decodeRawVideoHeader(bytes)
    val n = w * h * f
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    var i = 0
    while (i < n) {
      val k = (i.toLong * 65 / n).toInt
      sums(k) += bytes(16 + i) & 0xff
      cnts(k) += 1
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      val ca = math.max(cnts(k), 1L)
      val cb = math.max(cnts(k + 1), 1L)
      if (sums(k + 1) * ca > sums(k) * cb) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** One gray8 frame's bytes. */
  def rawVideoFrame(bytes: Array[Byte], frameIdx: Int): Array[Byte] = {
    val (w, h, n) = decodeRawVideoHeader(bytes)
    require(frameIdx >= 0 && frameIdx < n, s"frame $frameIdx of $n")
    val frameLen = w * h
    java.util.Arrays.copyOfRange(bytes,
      16 + frameIdx * frameLen, 16 + (frameIdx + 1) * frameLen)
  }
}
