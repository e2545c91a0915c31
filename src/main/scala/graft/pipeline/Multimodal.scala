package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Multimodal-column plumbing: media payloads as opaque BINARY columns
  * with typed metadata, and a batched feature-extraction pipeline. The
  * decode step is REAL for eight public formats the JVM parses without
  * external libraries — uncompressed 24-bit BMP, 16-bit PCM WAV, and
  * uncompressed-DIB AVI video via byte-level parsers here, PNG / JPEG /
  * GIF via the JDK's built-in `javax.imageio` plugins, and AIFF / AU
  * via `javax.sound.sampled` (both part of Java SE's `java.desktop`
  * module, present in headless JVMs). mp3 / mp4 payloads get a REAL
  * structural parse (MPEG Layer III frame-header walk, ISO-BMFF box
  * walk — sample rates, durations, frame/track counts) but no
  * sample-level decode (the JDK ships no codec for the compressed
  * payloads; a library codec plugs into the same per-partition decode
  * slot). Anything else falls back to a deterministic md5-derived
  * stand-in.
  *
  * At scale: the binary payloads never shuffle — metadata extraction
  * and featurization are per-partition map work; only the small
  * (id, features) output moves.
  */
object Multimodal {

  // ---- pure-JVM decoders ----------------------------------------------
  // Byte-level parsers of the public BMP (BITMAPINFOHEADER) and RIFF/WAVE
  // container layouts; all stats are integer-exact sums finished with one
  // 4-decimal rounding, so expected values are hand-computable in specs.

  final case class ImageStats(width: Int, height: Int,
                              meanR: Double, meanG: Double, meanB: Double)
  final case class AudioStats(sampleRate: Int, nChannels: Int,
                              nSamples: Int, peak: Int, rms: Double)

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def r4(x: Double) = math.rint(x * 10000) / 10000

  /** Uncompressed 24-bit BMP: 'BM' magic, BITMAPINFOHEADER, BGR rows
    * padded to 4 bytes, bottom-up when height > 0 (row order does not
    * affect the channel means). None on any other layout. */
  def decodeBmp(b: Array[Byte]): Option[ImageStats] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val pixelOffset = i32(b, 10)
    val width = i32(b, 18)
    val height = math.abs(i32(b, 22))
    val bpp = u16(b, 28)
    val compression = i32(b, 30)
    if (width <= 0 || height <= 0 || bpp != 24 || compression != 0) return None
    val rowSize = ((width * 3 + 3) / 4) * 4
    if (pixelOffset < 54 || pixelOffset.toLong + rowSize.toLong * height > b.length)
      return None
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < height) {
      var x = 0
      val row = pixelOffset + y * rowSize
      while (x < width) {
        val p = row + x * 3
        sb += b(p) & 0xff; sg += b(p + 1) & 0xff; sr += b(p + 2) & 0xff
        x += 1
      }
      y += 1
    }
    val n = width.toLong * height
    Some(ImageStats(width, height,
      r4(sr.toDouble / n), r4(sg.toDouble / n), r4(sb.toDouble / n)))
  }

  /** 16-bit PCM RIFF/WAVE: walks the chunk list for 'fmt ' (format 1,
    * 16 bps) and 'data'; peak is the max absolute sample, rms the root
    * mean square over all channel samples. None on any other layout. */
  def decodeWav(b: Array[Byte]): Option[AudioStats] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F'
      || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    var pos = 12
    var sampleRate = 0; var channels = 0; var blockAlign = 0; var ok = false
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= b.length) {
      val id = new String(b, pos, 4, "US-ASCII")
      val size = i32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return None
      id match {
        case "fmt " if size >= 16 =>
          val fmt = u16(b, pos + 8)
          channels = u16(b, pos + 10)
          sampleRate = i32(b, pos + 12)
          blockAlign = u16(b, pos + 20)
          val bps = u16(b, pos + 22)
          ok = fmt == 1 && bps == 16 && channels > 0 && blockAlign == channels * 2
        case "data" => dataOff = pos + 8; dataLen = size
        case _ => ()
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (!ok || dataOff < 0 || blockAlign == 0) return None
    val nFrames = dataLen / blockAlign
    val nVals = nFrames * channels
    var peak = 0; var sumSq = 0.0
    var i = 0
    while (i < nVals) {
      val v = u16(b, dataOff + i * 2).toShort.toInt
      val a = math.abs(v)
      if (a > peak) peak = a
      sumSq += v.toDouble * v
      i += 1
    }
    Some(AudioStats(sampleRate, channels, nFrames, peak,
      if (nVals > 0) r4(math.sqrt(sumSq / nVals)) else 0.0))
  }

  // ---- JDK ImageIO decoders (PNG / JPEG / GIF) ------------------------

  // Headless + no temp-file cache, so decode is a pure in-memory
  // per-partition operation (ImageIO's default cache writes every
  // stream to disk — pathological inside an executor hot loop).
  private lazy val imageIoReady: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** Magic-byte sniff for the compressed raster formats the JDK's
    * built-in ImageIO plugins decode. Sniffing first keeps non-image
    * payloads (the common case in a mixed corpus) off the ImageIO
    * reader-lookup path entirely. */
  def imageFormat(b: Array[Byte]): Option[String] =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G') Some("png")
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) Some("jpeg")
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8') Some("gif")
    else None

  /** Shared sniff + decode + guard for the ImageIO paths: (format,
    * image) for a sniffed payload that decodes to a non-empty bitmap,
    * None otherwise (including decode exceptions). */
  private def readImage(b: Array[Byte]): Option[(String, java.awt.image.BufferedImage)] =
    imageFormat(b).flatMap { fmt =>
      imageIoReady
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
        else Some((fmt, img))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Walk the decoded bitmap row-by-row through a reused ARGB buffer. */
  private def eachRow(img: java.awt.image.BufferedImage)(
      visit: (Int, Array[Int]) => Unit): Unit = {
    val w = img.getWidth
    val row = new Array[Int](w)
    var y = 0
    while (y < img.getHeight) {
      img.getRGB(0, y, w, 1, row, 0, w)
      visit(y, row)
      y += 1
    }
  }

  /** PNG/JPEG/GIF via `javax.imageio`: same (width, height, channel
    * means) stats as [[decodeBmp]]. None for non-image payloads and any
    * decode failure. */
  def decodeImageIo(b: Array[Byte]): Option[(String, ImageStats)] =
    readImage(b).map { case (fmt, img) =>
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      eachRow(img) { (_, row) =>
        var x = 0
        while (x < w) {
          val p = row(x)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
      }
      val n = w.toLong * h
      (fmt, ImageStats(w, h,
        r4(sr.toDouble / n), r4(sg.toDouble / n), r4(sb.toDouble / n)))
    }

  // ---- JDK javax.sound decoders (AIFF / AU) ---------------------------

  /** Magic sniff for the audio containers the JDK's built-in
    * `javax.sound.sampled` readers decode beyond the WAV fast path:
    * AIFF ('FORM'…'AIFF') and AU ('.snd'). */
  def audioFormat(b: Array[Byte]): Option[String] =
    if (b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' &&
      b(3) == 'M' && b(8) == 'A' && b(9) == 'I' && b(10) == 'F' &&
      b(11) == 'F') Some("aiff")
    else if (b.length >= 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' &&
      b(3) == 'd') Some("au")
    else None

  /** AIFF/AU via `javax.sound.sampled.AudioSystem`: the same
    * (sampleRate, channels, frames, peak, rms) stats as [[decodeWav]],
    * restricted to 16-bit signed PCM payloads (the symmetric contract).
    * None for non-audio payloads and any decode failure. */
  def decodeAudioIo(b: Array[Byte]): Option[(String, AudioStats)] =
    audioFormat(b).flatMap { fmt =>
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 || f.getChannels <= 0 ||
            f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
            None
          else {
            val data = ais.readAllBytes()
            val be = f.isBigEndian
            val nVals = data.length / 2
            var peak = 0; var sumSq = 0.0
            var i = 0
            while (i < nVals) {
              val v =
                if (be) (data(2 * i) << 8) | (data(2 * i + 1) & 0xff)
                else (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
              val a = math.abs(v)
              if (a > peak) peak = a
              sumSq += v.toDouble * v
              i += 1
            }
            Some((fmt, AudioStats(f.getSampleRate.toInt, f.getChannels,
              nVals / f.getChannels, peak,
              if (nVals > 0) r4(math.sqrt(sumSq / nVals)) else 0.0)))
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Media metadata + stub features via SQL over a binary cast of the
    * document text (the driver testdata ships no real media; any binary
    * column slots in unchanged). Fake dims decode deterministic bytes
    * of the content hash — stand-ins for a real decoder's output. */
  def sql(table: String)(d: Dialect): String = {
    def hex2int(pos: Int, len: Int) = d.hexToInt(s"SUBSTRING(MD5(text), $pos, $len)")
    s"""SELECT doc_id,
       |  CAST(LENGTH(text) AS BIGINT) AS n_bytes,
       |  MD5(text) AS content_hash,
       |  CAST(64 + ${hex2int(1, 2)} AS INT) AS fake_width,
       |  CAST(64 + ${hex2int(3, 2)} AS INT) AS fake_height,
       |  CAST(${d.intDiv(s"${hex2int(5, 4)} * 10000", "65535")} / 10000.0 AS DOUBLE) AS feat_0,
       |  CAST(${d.intDiv(s"${hex2int(9, 4)} * 10000", "65535")} / 10000.0 AS DOUBLE) AS feat_1,
       |  CAST(${d.intDiv(s"${hex2int(13, 4)} * 10000", "65535")} / 10000.0 AS DOUBLE) AS feat_2,
       |  CAST(${d.intDiv(s"${hex2int(17, 4)} * 10000", "65535")} / 10000.0 AS DOUBLE) AS feat_3
       |FROM $table
       |ORDER BY doc_id""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)

  /** Resize step: n x n grid of mean luma (ITU-R 601 integer weights,
    * 299/587/114 over 1000) pooled over the decoded bitmap — the
    * thumbnail fingerprint image near-dup compares. Cell sums are
    * integer-exact; one 4-decimal rounding at the end, so expected
    * values are hand-computable. */
  def bmpGridLuma(b: Array[Byte], n: Int = 4): Option[Array[Double]] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val pixelOffset = i32(b, 10)
    val width = i32(b, 18)
    val height = math.abs(i32(b, 22))
    if (width <= 0 || height <= 0 || u16(b, 28) != 24 || i32(b, 30) != 0)
      return None
    val rowSize = ((width * 3 + 3) / 4) * 4
    if (pixelOffset < 54 || pixelOffset.toLong + rowSize.toLong * height > b.length)
      return None
    val g = math.min(n, math.min(width, height))
    val sums = Array.ofDim[Long](g * g)
    val counts = Array.ofDim[Long](g * g)
    var y = 0
    while (y < height) {
      val cy = math.min(y * g / height, g - 1)
      val row = pixelOffset + y * rowSize
      var x = 0
      while (x < width) {
        val cx = math.min(x * g / width, g - 1)
        val p = row + x * 3
        val luma = 299L * (b(p + 2) & 0xff) + 587L * (b(p + 1) & 0xff) +
          114L * (b(p) & 0xff)
        sums(cy * g + cx) += luma
        counts(cy * g + cx) += 1
        x += 1
      }
      y += 1
    }
    Some(sums.indices.map(i =>
      r4(sums(i).toDouble / (1000.0 * counts(i)))).toArray)
  }

  /** Resize step over the ImageIO formats: same n x n mean-luma grid as
    * [[bmpGridLuma]], but in natural top-down row order (BMP's grid is
    * bottom-up because its pixel rows are). */
  def imageIoGridLuma(b: Array[Byte], n: Int = 4): Option[Array[Double]] =
    readImage(b).map { case (_, img) =>
      val w = img.getWidth; val h = img.getHeight
      val g = math.min(n, math.min(w, h))
      val sums = Array.ofDim[Long](g * g)
      val counts = Array.ofDim[Long](g * g)
      eachRow(img) { (y, row) =>
        val cy = math.min(y * g / h, g - 1)
        var x = 0
        while (x < w) {
          val cx = math.min(x * g / w, g - 1)
          val p = row(x)
          sums(cy * g + cx) += 299L * ((p >> 16) & 0xff) +
            587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
          counts(cy * g + cx) += 1
          x += 1
        }
      }
      sums.indices.map(i => r4(sums(i).toDouble / (1000.0 * counts(i)))).toArray
    }

  /** Frame-sample step: `k` equal PCM frames, RMS each — the coarse
    * audio fingerprint frame-sampled ingest pipelines compare. */
  def wavFrameRms(b: Array[Byte], k: Int = 8): Option[Array[Double]] = {
    decodeWav(b).flatMap { a =>
      if (a.nSamples <= 0) return Some(Array.empty[Double])
      // re-walk the chunk list for the data offset (cheap; headers only)
      var pos = 12
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= b.length) {
        val size = i32(b, pos + 4)
        if (new String(b, pos, 4, "US-ASCII") == "data") {
          dataOff = pos + 8; dataLen = size
        }
        pos += 8 + size + (size & 1)
      }
      if (dataOff < 0) return None
      val nVals = dataLen / 2
      val frames = math.min(k, nVals)
      val out = new Array[Double](frames)
      var f = 0
      while (f < frames) {
        val from = f * nVals / frames
        val until = (f + 1) * nVals / frames
        var sumSq = 0.0
        var i = from
        while (i < until) {
          val v = u16(b, dataOff + i * 2).toShort.toInt
          sumSq += v.toDouble * v
          i += 1
        }
        out(f) = r4(math.sqrt(sumSq / math.max(until - from, 1)))
        f += 1
      }
      Some(out)
    }
  }

  /** Integer frame energies (sum of squared samples per frame) — the
    * exact-arithmetic companion of [[wavFrameRms]]: no sqrt, no float,
    * so the energy-profile hash decides every bit identically in both
    * engines. Same chunk walk, same equal-frame split. */
  def wavFrameEnergy(b: Array[Byte], k: Int = 8): Option[Array[Long]] = {
    decodeWav(b).flatMap { a =>
      if (a.nSamples <= 0) return Some(Array.empty[Long])
      var pos = 12
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= b.length) {
        val size = i32(b, pos + 4)
        if (new String(b, pos, 4, "US-ASCII") == "data") {
          dataOff = pos + 8; dataLen = size
        }
        pos += 8 + size + (size & 1)
      }
      if (dataOff < 0) return None
      val nVals = dataLen / 2
      val frames = math.min(k, nVals)
      val out = new Array[Long](frames)
      var f = 0
      while (f < frames) {
        val from = f * nVals / frames
        val until = (f + 1) * nVals / frames
        var sumSq = 0L
        var i = from
        while (i < until) {
          val v = u16(b, dataOff + i * 2).toShort.toInt
          sumSq += v.toLong * v
          i += 1
        }
        out(f) = sumSq
        f += 1
      }
      Some(out)
    }
  }

  /** Render a 16-bit mono PCM WAV (8 kHz) from the given samples — the
    * audio counterpart of [[renderGrayBmp]]. */
  def renderPcmWav(samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = Array.ofDim[Byte](44 + dataLen)
    def tag(i: Int, s: String): Unit = { s.getBytes("US-ASCII").copyToArray(b, i) }
    def w16(i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
    def w32(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
      b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
    }
    tag(0, "RIFF"); w32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, 1)
    w32(24, 8000); w32(28, 16000); w16(32, 2); w16(34, 16)
    tag(36, "data"); w32(40, dataLen)
    var i = 0
    while (i < samples.length) { w16(44 + 2 * i, samples(i) & 0xffff); i += 1 }
    b
  }

  /** Energy-profile average-hash: bit f set when frame f's energy is at
    * or above the mean frame energy (`e_f · k ≥ Σe`, pure BIGINT). */
  def eHash(energies: Array[Long]): Long = {
    if (energies.isEmpty) return 0L
    val s = energies.sum
    var h = 0L
    var f = 0
    while (f < energies.length && f < 64) {
      if (energies(f) * energies.length >= s) h |= (1L << f)
      f += 1
    }
    h
  }

  /** Audio near-dup by energy-profile hash — the frame-sample step
    * feeding dedup, symmetric with [[runPhashDedup]]: real RIFF/WAVE
    * decode → 64 equal frames → integer frame energies → 64-bit
    * average-hash → banded hamming join. Payload synthesis mirrors the
    * image entry: two real 128-sample PCM WAVs per document (samples
    * `(md5byte − 128) · 256`; variant B flips sample 0), real decoder,
    * arithmetic all-pairs oracle. */
  /** The exact 64-bit hamming(≤3) pair join over a landed (id, hash)
    * relation — candidate generation + exact `bit_count` verify, shared
    * by the image ([[runPhashDedup]]) and audio ([[runAudioDedup]])
    * near-dup entries. The OUTPUT is scheme-invariant (candidates are a
    * SUPERSET; the exact hamming filter decides), so the candidate
    * scheme is a pure engine-side election by corpus size:
    *
    *  - `4×16 BANDS` (N ≤ [[HammingElectBound]]): classic pigeonhole —
    *    hamming ≤ 3 leaves one of 4 16-bit bands clean. Cheap explode
    *    (4 rows/id) but random band collisions grow ~4·N²/2¹⁶: the
    *    r13 sf10 curve measured exactly that (12.8× on a 10× hop at
    *    1M ids — occupancy, not operator shape).
    *  - `AG(3,2) COVER` (N above the bound): index the 8 byte-bands as
    *    GF(2)³ points; the 14 affine hyperplanes `{x : a·x = b}`
    *    (a ∈ 1..7, b ∈ 0..1) are 4-band subsets that COVER every
    *    ≤3-subset (the differences of ≤3 points span ≤2 dimensions, so
    *    a nonzero orthogonal `a` exists) — so for a true pair, some
    *    hyperplane contains ALL its dirty bands and the complementary
    *    4 KEPT bands (32 bits) match EXACTLY. 14 rows/id (a covering
    *    design C(8,4,3)=14, vs C(8,3)=56 for the naive drop-3 family —
    *    measured 78 s vs 12 s at 1M ids, the explode mass dominates)
    *    and collisions ~14·N²/2³²: output-linear far past 10M ids,
    *    where the 4×16 scheme's N²/2¹⁶ is already dead. Election
    *    boundary MEASURED, not modeled (hamming_scale_r14.json, harness
    *    source at `git show a829ce8:src/main/scala/graft/HammingScaleBench.scala`;
    *    synthetic hash-only relation, calm window, both sentinels
    *    recorded, warmup pass so no point carries JIT, and the band
    *    self-join pinned to SHUFFLE_HASH — the r14 first cut showed
    *    bands "winning" at ≤1M ids, which turned out to be Spark
    *    auto-BROADCASTING the cover's 14M-row exploded band side at
    *    sizes under the threshold and single-thread-building it; with
    *    the plan flip removed the cover wins every point from 256k up:
    *    256k 1.66 vs 1.90 s, 512k 1.87 vs 2.70 s, 1M 2.99 vs 5.21 s,
    *    2M 5.14 vs 24.5 s (bands ×4.0 candidate mass per doubling,
    *    exactly N²/2¹⁶; ~550M extrapolated candidates GC-thrash a
    *    24 GiB JVM at 4M), and holds near-linear through 8M. The bound
    *    is 2¹⁸: below it both schemes are sub-second and the bands'
    *    4-rows/id explode mass is the cheaper constant; above it the
    *    cover is measured-dominant. (The naive drop-3-of-8 family — 56
    *    combos — measured 78 s at 1M, strictly dominated.) */
  val HammingElectBound: Long = 1L << 18

  private[graft] def hammingPairsSql(view: String, hashCol: String,
                                     nIds: Long): String = {
    val bands =
      if (nIds <= HammingElectBound)
        s"""SELECT id, b AS bi,
           |         shiftrightunsigned($hashCol, CAST(16 * b AS INT)) & 65535 AS bv
           |    FROM $view LATERAL VIEW explode(array(0, 1, 2, 3)) e AS b""".stripMargin
      else {
        // the 14 affine hyperplanes of AG(3,2): drop the 4 bands with
        // parity(a & x) == b, keep the other 4 (32 bits of the hash)
        val combos = for (a <- 1 until 8; b <- 0 until 2) yield {
          var m = 0L
          (0 until 8).foreach { x =>
            if (Integer.bitCount(a & x) % 2 != b) m |= (0xffL << (8 * x))
          }
          m
        }
        val structs = combos.zipWithIndex.map { case (m, ci) =>
          s"named_struct('ci', $ci, 'm', ${m}L)"
        }.mkString(", ")
        s"""SELECT id, cm.ci AS bi, $hashCol & cm.m AS bv
           |    FROM $view LATERAL VIEW explode(array($structs)) e AS cm""".stripMargin
      }
    s"""WITH bands AS (
       |  $bands
       |),
       |cands AS (
       |  SELECT /*+ SHUFFLE_HASH(a) */ DISTINCT a.id AS id_a, c.id AS id_b
       |    FROM bands a JOIN bands c
       |      ON c.bi = a.bi AND c.bv = a.bv AND c.id > a.id
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT cd.id_a, cd.id_b,
       |         CAST(bit_count(pa.$hashCol ^ pb.$hashCol) AS INT) AS hamming
       |    FROM cands cd
       |    JOIN $view pa ON pa.id = cd.id_a
       |    JOIN $view pb ON pb.id = cd.id_b) z
       | WHERE hamming <= 3
       | ORDER BY id_a, id_b""".stripMargin
  }

  def runAudioDedup(spark: SparkSession, dir: String): DataFrame = {
    val view = graft.core.Materialize.view(spark, "ehash", dir,
        graft.core.Materialize.Checkpoint) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")).where(col("text").isNotNull)
        .as[(Long, String)]
      docs.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val samples = Array.ofDim[Int](128)
          var k = 0
          while (k < 8) {
            md.reset()
            val dg = md.digest(s"a$k:$text".getBytes("UTF-8"))
            var j = 0
            while (j < 16) {
              samples(16 * k + j) = ((dg(j) & 0xff) - 128) * 256
              j += 1
            }
            k += 1
          }
          val variantB = samples.clone()
          variantB(0) = ((((samples(0) / 256) + 128 + 128) % 256) - 128) * 256
          Seq(id * 2 -> renderPcmWav(samples), id * 2 + 1 -> renderPcmWav(variantB))
            .flatMap { case (vid, payload) =>
              wavFrameEnergy(payload, 64).map(e => (vid, eHash(e)))
            }
        }
      }.toDF("id", "ehash")
    }
    val n = graft.core.SessionCache.getOrElseUpdate(spark, "ehash_count", dir)(
      spark.table(view).count())
    spark.sql(hammingPairsSql(view, "ehash", n))
  }

  /** Arithmetic oracle for [[runAudioDedup]]: frame energies straight
    * from the md5 hex (`((byte−128)·256)²` summed per 2-sample frame),
    * bits by the same `e_f · 64 ≥ Σe` rule, all-pairs hamming. */
  def audioPairsSql(table: String)(d: Dialect): String = {
    def byteExpr(i: Int) =
      d.hexToInt(s"SUBSTRING(MD5('a${i / 16}:' || text), ${2 * (i % 16) + 1}, 2)")
    def sq(x: String) = s"(($x) * ($x))"
    // frame f's energy over samples 2f, 2f+1
    def eexpr(f: Int, b0: String, b1: String) =
      s"(${sq(s"($b0 - 128) * 256")} + ${sq(s"($b1 - 128) * 256")})"
    val fs = 0 until 64
    s"""WITH docs AS (SELECT doc_id, text FROM $table WHERE text IS NOT NULL),
       |bx AS (
       |  SELECT doc_id,
       |         ${(0 until 128).map(i => s"${byteExpr(i)} AS b$i").mkString(",\n         ")}
       |    FROM docs
       |),
       |ids AS (
       |  SELECT doc_id * 2 AS id, ${(0 until 128).map(i => s"b$i").mkString(", ")} FROM bx
       |  UNION ALL
       |  SELECT doc_id * 2 + 1 AS id, (b0 + 128) % 256 AS b0,
       |         ${(1 until 128).map(i => s"b$i").mkString(", ")} FROM bx
       |),
       |en AS (
       |  SELECT id, ${fs.map(f => s"${eexpr(f, s"b${2 * f}", s"b${2 * f + 1}")} AS e$f").mkString(",\n         ")}
       |    FROM ids
       |),
       |bits AS (
       |  SELECT id, (${fs.map(f => s"e$f").mkString(" + ")}) AS s,
       |         ${fs.map(f => s"e$f").mkString(", ")}
       |    FROM en
       |),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         (${fs.map(f =>
                    s"(CASE WHEN (a.e$f * 64 >= a.s) = (b.e$f * 64 >= b.s)" +
                    s" THEN 0 ELSE 1 END)").mkString("\n          + ")}) AS hamming
       |    FROM bits a JOIN bits b ON b.id > a.id
       |)
       |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
       |  FROM pairs WHERE hamming <= 3
       | ORDER BY id_a, id_b""".stripMargin
  }

  def audioPairsDuckSql(): String = audioPairsSql("documents")(DuckDialect)

  /** The Dataset-typed side of the pipeline: binary payload column +
    * per-partition batched decode via mapPartitions — batch-local codec
    * initialization, bounded memory per batch. BMP, WAV, AVI, PNG, JPEG,
    * GIF, AIFF and AU payloads decode for real ([[decodeBmp]] /
    * [[decodeWav]] / [[decodeAvi]] / [[decodeImageIo]] /
    * [[decodeAudioIo]]); mp4 / mp3 payloads parse structurally
    * ([[decodeMp4Meta]] / [[decodeMp3Meta]]); anything else gets the
    * deterministic content-hash stand-in (kind = 'opaque'). */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, kind: String,
                                 features: Array[Double])

  def featuresOf(id: Long, payload: Array[Byte],
                 digest: java.security.MessageDigest): MediaFeatures =
    decodeBmp(payload) match {
      case Some(s) => MediaFeatures(id, payload.length, "bmp",
        Array(s.width, s.height, s.meanR, s.meanG, s.meanB))
      case None => decodeWav(payload) match {
        case Some(a) => MediaFeatures(id, payload.length, "wav",
          Array(a.sampleRate, a.nChannels, a.nSamples, a.peak, a.rms))
        case None => decodeAvi(payload) match {
          case Some(v) => MediaFeatures(id, payload.length, "avi",
            Array(v.width, v.height, v.nFrames,
              // frames/sec from the container's usec-per-frame
              if (v.usecPerFrame > 0) r4(1e6 / v.usecPerFrame) else 0.0))
          case None => decodeImageIo(payload) match {
            case Some((fmt, s)) => MediaFeatures(id, payload.length, fmt,
              Array(s.width, s.height, s.meanR, s.meanG, s.meanB))
            case None => decodeAudioIo(payload) match {
              case Some((fmt, a)) => MediaFeatures(id, payload.length, fmt,
                Array(a.sampleRate, a.nChannels, a.nSamples, a.peak, a.rms))
              case None => decodeMp4Meta(payload) match {
                case Some(v) => MediaFeatures(id, payload.length, "mp4",
                  Array(v.timescale.toDouble, v.duration.toDouble,
                    v.durationMs.toDouble, v.nTraks.toDouble))
                case None => decodeMp3Meta(payload) match {
                  case Some(m) => MediaFeatures(id, payload.length, "mp3",
                    Array(m.sampleRate.toDouble, m.nFrames.toDouble,
                      m.durationMs.toDouble, m.bitrateKbps.toDouble))
                  case None =>
                    val h = digest.digest(payload)
                    MediaFeatures(id, payload.length, "opaque",
                      Array.tabulate(4)(i => (h(i) & 0xff) / 255.0))
                }
              }
            }
          }
        }
      }
    }

  // ---- perceptual-hash image near-dup ---------------------------------

  /** Render an n×n grayscale 24-bit BMP (n² byte values, file row
    * order) — the fixture/bridge renderer: specs and the phash entry
    * feed REAL BMP bytes through the real decode path with it. */
  def renderGrayBmp(vals: Array[Int]): Array[Byte] = {
    val n = math.sqrt(vals.length).toInt
    require(n * n == vals.length, "square image required")
    val rowSize = ((n * 3 + 3) / 4) * 4
    val size = 54 + rowSize * n
    val b = Array.ofDim[Byte](size)
    def w16(i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
    def w32(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
      b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    w32(2, size); w32(10, 54); w32(14, 40)
    w32(18, n); w32(22, n)
    w16(26, 1); w16(28, 24); w32(30, 0); w32(34, rowSize * n)
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) {
        val p = 54 + y * rowSize + x * 3
        val v = (vals(y * n + x) & 0xff).toByte
        b(p) = v; b(p + 1) = v; b(p + 2) = v
        x += 1
      }
      y += 1
    }
    b
  }

  /** Average-hash of a decoded luma grid: bit i set when cell i is at
    * or above the grid mean — the integer-exact form `v_i * N >= Σv`
    * so both engines decide each bit identically. Grid cells here are
    * integer-valued doubles (gray-pixel luma is exactly the byte). */
  def aHash(grid: Array[Double]): Long = {
    if (grid.isEmpty) return 0L
    val ints = grid.map(v => math.rint(v).toLong)
    val s = ints.sum
    var h = 0L
    var i = 0
    while (i < ints.length && i < 64) {
      if (ints(i) * ints.length >= s) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Image near-dup by perceptual hash — the media twin of simhash
    * dedup: decode → 8×8 mean-luma thumbnail ([[bmpGridLuma]], the
    * resize step) → 64-bit average-hash → pigeonhole-banded candidate
    * join (hamming ≤ 3 ⇒ at least one of four 16-bit bands equal) →
    * exact `bit_count(xor)` verification. The corpus ships no media,
    * so the entry synthesizes two REAL BMP payloads per document
    * (64 md5-derived gray pixels; variant B flips pixel 0 by +128) and
    * runs them through the real decode+resize+hash pipeline; the
    * DuckDB oracle never sees a byte of BMP — it derives every hash
    * bit arithmetically from the same md5 hex and verifies ALL pairs
    * directly. Different algorithms, same relation.
    *
    * At scale: payloads never shuffle (hashing is mapPartitions work);
    * only the 8-byte (id, phash) relation moves, the candidate join is
    * a band equi-join (never all-pairs — PlanSpec), and verification
    * touches only banded candidates. */
  def runPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val view = graft.core.Materialize.view(spark, "phash", dir,
        graft.core.Materialize.Checkpoint) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")).where(col("text").isNotNull)
        .as[(Long, String)]
      docs.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val vals = Array.ofDim[Int](64)
          var k = 0
          while (k < 4) {
            md.reset()
            val dg = md.digest(s"m$k:$text".getBytes("UTF-8"))
            var j = 0
            while (j < 16) { vals(16 * k + j) = dg(j) & 0xff; j += 1 }
            k += 1
          }
          val variantB = vals.clone()
          variantB(0) = (variantB(0) + 128) % 256
          Seq(id * 2 -> renderGrayBmp(vals), id * 2 + 1 -> renderGrayBmp(variantB))
            .flatMap { case (vid, payload) =>
              // the REAL pipeline: byte-level BMP decode + resize + hash
              bmpGridLuma(payload, 8).map(g => (vid, aHash(g)))
            }
        }
      }.toDF("id", "phash")
    }
    val n = graft.core.SessionCache.getOrElseUpdate(spark, "phash_count", dir)(
      spark.table(view).count())
    spark.sql(hammingPairsSql(view, "phash", n))
  }

  /** The oracle rendering: every hash bit from the md5 hex directly
    * (`v_i · 64 ≥ Σv`, the exact integer threshold [[aHash]] uses) and
    * the hamming of ALL id pairs as a 64-term bit-disagreement sum —
    * single-node all-pairs is fine for the oracle, the engine's banded
    * join must reproduce the identical relation. Spark-renderable too
    * (parity spec). */
  def phashPairsSql(table: String)(d: Dialect): String = {
    def vexpr(i: Int) =
      d.hexToInt(s"SUBSTRING(MD5('m${i / 16}:' || text), ${2 * (i % 16) + 1}, 2)")
    val vs = 0 until 64
    s"""WITH docs AS (SELECT doc_id, text FROM $table WHERE text IS NOT NULL),
       |px AS (
       |  SELECT doc_id,
       |         ${vs.map(i => s"${vexpr(i)} AS v$i").mkString(",\n         ")}
       |    FROM docs
       |),
       |ids AS (
       |  SELECT doc_id * 2 AS id, ${vs.map(i => s"v$i").mkString(", ")} FROM px
       |  UNION ALL
       |  SELECT doc_id * 2 + 1 AS id, (v0 + 128) % 256 AS v0,
       |         ${vs.drop(1).map(i => s"v$i").mkString(", ")} FROM px
       |),
       |bits AS (
       |  SELECT id, (${vs.map(i => s"v$i").mkString(" + ")}) AS s,
       |         ${vs.map(i => s"v$i").mkString(", ")}
       |    FROM ids
       |),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         (${vs.map(i =>
                    s"(CASE WHEN (a.v$i * 64 >= a.s) = (b.v$i * 64 >= b.s)" +
                    s" THEN 0 ELSE 1 END)").mkString("\n          + ")}) AS hamming
       |    FROM bits a JOIN bits b ON b.id > a.id
       |)
       |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
       |  FROM pairs WHERE hamming <= 3
       | ORDER BY id_a, id_b""".stripMargin
  }

  def phashPairsDuckSql(): String = phashPairsSql("documents")(DuckDialect)

  def extractFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val media = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    extractFrom(media.as[(Long, Array[Byte])])
  }

  /** Decode any (id, payload) dataset — the production entry point a
    * media table plugs into directly. */
  def extractFrom(media: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // codec/digest state initialized ONCE per partition
      val digest = java.security.MessageDigest.getInstance("MD5")
      batch.map { case (id, payload) => featuresOf(id, payload, digest) }
    }.toDF()
  }

  // ---- video: frame sampling + near-dup --------------------------------
  // A real RIFF/AVI container parser for the one video layout the JVM can
  // hold without an external codec: uncompressed 24-bit DIB ('DIB '
  // handler, BI_RGB) frames in '00db' chunks. Container walk, header
  // parse, and per-frame pixel access are all byte-level and exact, so
  // the frame-sample -> resize -> hash pipeline runs against REAL video
  // bytes end to end; compressed codecs (h264/vp9) plug into the same
  // frame-decode slot when a library codec is available.

  final case class VideoStats(width: Int, height: Int, nFrames: Int,
                              usecPerFrame: Int, frameOffsets: Array[Int])

  /** Render an uncompressed 24-bit DIB AVI (gray frames, `w*h` byte
    * values per frame in file row order) — the video counterpart of
    * [[renderGrayBmp]]/[[renderPcmWav]]: specs and the video entries
    * feed REAL AVI bytes through the real container-parse path. */
  def renderDibAvi(frames: Array[Array[Int]], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == w * h),
      "equal-sized gray frames required")
    val rowSize = ((w * 3 + 3) / 4) * 4
    val frameBytes = rowSize * h
    val n = frames.length
    val strlContent = 4 + (8 + 56) + (8 + 40)
    val hdrlContent = 4 + (8 + 56) + (8 + strlContent)
    val moviContent = 4 + n * (8 + frameBytes)
    val riffContent = 4 + (8 + hdrlContent) + (8 + moviContent)
    val b = Array.ofDim[Byte](8 + riffContent)
    var p = 0
    def tag(s: String): Unit = { s.getBytes("US-ASCII").copyToArray(b, p); p += 4 }
    def w16v(v: Int): Unit = { b(p) = v.toByte; b(p + 1) = (v >> 8).toByte; p += 2 }
    def w32v(v: Int): Unit = {
      b(p) = v.toByte; b(p + 1) = (v >> 8).toByte
      b(p + 2) = (v >> 16).toByte; b(p + 3) = (v >> 24).toByte; p += 4
    }
    tag("RIFF"); w32v(riffContent); tag("AVI ")
    tag("LIST"); w32v(hdrlContent); tag("hdrl")
    tag("avih"); w32v(56)
    w32v(100000); w32v(frameBytes * 10); w32v(0); w32v(0) // usec/frame, B/s, pad, flags
    w32v(n); w32v(0); w32v(1); w32v(frameBytes)           // frames, initial, streams, sugBuf
    w32v(w); w32v(h); w32v(0); w32v(0); w32v(0); w32v(0)  // dims + reserved[4]
    tag("LIST"); w32v(strlContent); tag("strl")
    tag("strh"); w32v(56)
    tag("vids"); tag("DIB "); w32v(0); w16v(0); w16v(0)   // type, handler, flags, prio, lang
    w32v(0); w32v(1); w32v(10); w32v(0); w32v(n)          // initial, scale, rate, start, length
    w32v(frameBytes); w32v(0); w32v(0)                    // sugBuf, quality, sampleSize
    w16v(0); w16v(0); w16v(w); w16v(h)                    // rcFrame
    tag("strf"); w32v(40)
    w32v(40); w32v(w); w32v(h); w16v(1); w16v(24)         // BITMAPINFOHEADER
    w32v(0); w32v(frameBytes); w32v(0); w32v(0); w32v(0); w32v(0)
    tag("LIST"); w32v(moviContent); tag("movi")
    frames.foreach { vals =>
      tag("00db"); w32v(frameBytes)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (vals(y * w + x) & 0xff).toByte
          val q = p + y * rowSize + x * 3
          b(q) = v; b(q + 1) = v; b(q + 2) = v
          x += 1
        }
        y += 1
      }
      p += frameBytes
    }
    b
  }

  /** Uncompressed-DIB AVI: RIFF walk for 'hdrl' (avih dims/rate, strf
    * 24 bpp BI_RGB) and 'movi' frame chunks (NNdb/NNdc). None on any
    * other container or codec. */
  def decodeAvi(b: Array[Byte]): Option[VideoStats] = {
    if (b.length < 24 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F'
      || b(8) != 'A' || b(9) != 'V' || b(10) != 'I' || b(11) != ' ') return None
    var width = 0; var height = 0; var usec = 0
    var bpp = 0; var comp = -1
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    def walk(from: Int, until: Int): Unit = {
      var pos = from
      while (pos + 8 <= until) {
        val id = new String(b, pos, 4, "US-ASCII")
        val size = i32(b, pos + 4)
        if (size < 0 || pos + 8 + size > until) return
        if (id == "LIST") walk(pos + 12, pos + 8 + size)
        else id match {
          case "avih" if size >= 40 =>
            usec = i32(b, pos + 8)
            width = i32(b, pos + 40); height = i32(b, pos + 44)
          case "strf" if size >= 40 =>
            bpp = u16(b, pos + 22); comp = i32(b, pos + 24)
          case _ if id(0).isDigit && id(1).isDigit &&
            (id.endsWith("db") || id.endsWith("dc")) => offs += (pos + 8)
          case _ => ()
        }
        pos += 8 + size + (size & 1)
      }
    }
    walk(12, b.length)
    val rowSize = ((width * 3 + 3) / 4) * 4
    if (width <= 0 || height <= 0 || bpp != 24 || comp != 0 || offs.isEmpty ||
      offs.exists(o => o.toLong + rowSize.toLong * height > b.length)) None
    else Some(VideoStats(width, height, offs.length, usec, offs.toArray))
  }

  /** Resize step for one decoded frame: the same integer-exact n×n
    * mean-luma pooling as [[bmpGridLuma]], over the frame's DIB rows. */
  def aviFrameGrid(b: Array[Byte], st: VideoStats, frame: Int, n: Int = 8): Array[Double] = {
    val rowSize = ((st.width * 3 + 3) / 4) * 4
    val base = st.frameOffsets(frame)
    val g = math.min(n, math.min(st.width, st.height))
    val sums = Array.ofDim[Long](g * g)
    val counts = Array.ofDim[Long](g * g)
    var y = 0
    while (y < st.height) {
      val cy = math.min(y * g / st.height, g - 1)
      val row = base + y * rowSize
      var x = 0
      while (x < st.width) {
        val cx = math.min(x * g / st.width, g - 1)
        val p = row + x * 3
        val luma = 299L * (b(p + 2) & 0xff) + 587L * (b(p + 1) & 0xff) +
          114L * (b(p) & 0xff)
        sums(cy * g + cx) += luma
        counts(cy * g + cx) += 1
        x += 1
      }
      y += 1
    }
    sums.indices.map(i => r4(sums(i).toDouble / (1000.0 * counts(i)))).toArray
  }

  /** Uniform frame sampling: the i-th of k samples is frame
    * `i * nFrames / k` — deterministic, order-preserving, and exactly
    * computable on the oracle side. */
  def sampleFrameIdx(nFrames: Int, k: Int): Array[Int] = {
    val samples = math.min(k, nFrames)
    Array.tabulate(samples)(i => i * nFrames / samples)
  }

  /** Frame-sample + resize + hash over a real AVI payload: decode the
    * container, sample k frames uniformly, average-hash each sampled
    * frame's 8×8 luma grid. */
  def aviFrameHashes(b: Array[Byte], k: Int = 4): Option[Array[(Int, Long)]] =
    decodeAvi(b).map { st =>
      sampleFrameIdx(st.nFrames, k).map(f => (f, aHash(aviFrameGrid(b, st, f, 8))))
    }

  private def videoHashView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "vhash", dir, graft.core.Materialize.Checkpoint) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")).where(col("text").isNotNull)
        .as[(Long, String)]
      docs.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // 16 gray 8×8 frames; frame f's 64 pixels from md5("v<f>:<c>:"+text)
          // chunks c = 0..3, file row order — the oracle rederives the
          // sampled frames' pixels from the same hex arithmetically.
          val frames = Array.tabulate(16) { f =>
            val vals = Array.ofDim[Int](64)
            var c = 0
            while (c < 4) {
              md.reset()
              val dg = md.digest(s"v$f:$c:$text".getBytes("UTF-8"))
              var j = 0
              while (j < 16) { vals(16 * c + j) = dg(j) & 0xff; j += 1 }
              c += 1
            }
            vals
          }
          val framesB = frames.clone()
          framesB(0) = frames(0).clone()
          framesB(0)(0) = (framesB(0)(0) + 128) % 256 // near-dup: one pixel of one frame
          Seq(id * 2 -> renderDibAvi(frames, 8, 8), id * 2 + 1 -> renderDibAvi(framesB, 8, 8))
            .flatMap { case (vid, payload) =>
              // the REAL pipeline: container parse + frame sample + resize + hash
              aviFrameHashes(payload, 4).toSeq.flatMap(_.map {
                case (f, h) => (vid, f, h)
              })
            }
        }
      }.toDF("id", "frame_idx", "fhash")
    }

  /** Frame-sample entry: per sampled frame of every rendered video, the
    * four 16-bit bands of its average-hash — the exact relation the
    * near-dup join blocks on, surfaced as an oracle-checkable table. */
  def runVideoFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val view = videoHashView(spark, dir)
    spark.sql(
      s"""SELECT id, CAST(frame_idx AS INT) AS frame_idx,
         |       CAST(shiftrightunsigned(fhash,  0) & 65535 AS INT) AS band0,
         |       CAST(shiftrightunsigned(fhash, 16) & 65535 AS INT) AS band1,
         |       CAST(shiftrightunsigned(fhash, 32) & 65535 AS INT) AS band2,
         |       CAST(shiftrightunsigned(fhash, 48) & 65535 AS INT) AS band3
         |  FROM $view
         | ORDER BY id, frame_idx""".stripMargin)
  }

  /** Video near-dup by sampled-frame hash sequence: candidates share an
    * IDENTICAL 64-bit hash of the SAME sampled frame (total hamming ≤ 3
    * over 4 frames ⇒ by pigeonhole some frame carries 0 differing bits
    * ⇒ that frame's whole hash is equal), verified by the exact
    * frame-aligned `bit_count(xor)` sum. Payloads never shuffle; only
    * the (id, frame_idx, fhash) relation moves.
    *
    * Scale shape: joining on the full 64-bit frame hash (instead of a
    * 16-bit band of it, the r10 form) keeps the recall guarantee while
    * cutting random candidate collisions from ~N²/2¹⁶ to ~N²/2⁶⁴ —
    * the r10-adjudicated quadratic candidate growth is gone, and any
    * residual (frame_idx, fhash) bucket mass IS genuine shared-frame
    * near-dup output, i.e. the join is output-linear. */
  def runVideoDedup(spark: SparkSession, dir: String): DataFrame = {
    val view = videoHashView(spark, dir)
    spark.sql(
      s"""WITH cands AS (
         |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
         |    FROM $view a JOIN $view c
         |      ON c.frame_idx = a.frame_idx AND c.fhash = a.fhash
         |         AND c.id > a.id
         |)
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT cd.id_a, cd.id_b,
         |         CAST(SUM(bit_count(pa.fhash ^ pb.fhash)) AS INT) AS hamming
         |    FROM cands cd
         |    JOIN $view pa ON pa.id = cd.id_a
         |    JOIN $view pb ON pb.id = cd.id_b AND pb.frame_idx = pa.frame_idx
         |   GROUP BY cd.id_a, cd.id_b) z
         | WHERE hamming <= 3
         | ORDER BY id_a, id_b""".stripMargin)
  }

  private def videoByteExpr(d: Dialect)(f: Int, i: Int): String =
    d.hexToInt(s"SUBSTRING(MD5('v$f:${i / 16}:' || text), ${2 * (i % 16) + 1}, 2)")

  // the sampled-frame indices for the rendered 16-frame videos — must
  // equal sampleFrameIdx(16, 4)
  private val videoSampledFrames = Seq(0, 4, 8, 12)

  /** Shared oracle CTE prefix: per (id, sampled frame), the 64 pixel
    * bytes straight from the md5 hex plus their sum — every hash bit is
    * then `v_i · 64 ≥ Σv`, the exact [[aHash]] rule. */
  private def videoBitsCtes(table: String, d: Dialect): String = {
    val vs = 0 until 64
    val frameSelects = videoSampledFrames.map { f =>
      s"""  SELECT doc_id, CAST($f AS INT) AS frame_idx,
         |         ${vs.map(i => s"${videoByteExpr(d)(f, i)} AS v$i").mkString(",\n         ")}
         |    FROM docs""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH docs AS (SELECT doc_id, text FROM $table WHERE text IS NOT NULL),
       |fr AS (
       |$frameSelects
       |),
       |ids AS (
       |  SELECT doc_id * 2 AS id, frame_idx, ${vs.map(i => s"v$i").mkString(", ")} FROM fr
       |  UNION ALL
       |  SELECT doc_id * 2 + 1 AS id, frame_idx,
       |         CASE WHEN frame_idx = 0 THEN (v0 + 128) % 256 ELSE v0 END AS v0,
       |         ${vs.drop(1).map(i => s"v$i").mkString(", ")} FROM fr
       |),
       |bits AS (
       |  SELECT id, frame_idx, (${vs.map(i => s"v$i").mkString(" + ")}) AS s,
       |         ${vs.map(i => s"v$i").mkString(", ")}
       |    FROM ids
       |)""".stripMargin
  }

  /** The bits relation alone — the parity spec materializes this in
    * Spark first (the single-statement form re-inlines the 64 pixel
    * expressions through the self-join and explodes at plan time;
    * DuckDB, which actually executes the oracle, handles it). */
  def videoBitsSelectSql(table: String)(d: Dialect): String =
    s"""${videoBitsCtes(table, d)}
       |SELECT * FROM bits""".stripMargin

  /** Frame-sample tail over a bits relation: each band as the integer
    * sum of its 16 threshold bits. Dialect-neutral. */
  def videoFramesTailSql(bitsTable: String): String = {
    def band(b: Int) = (0 until 16).map { j =>
      val i = 16 * b + j
      s"(CASE WHEN v$i * 64 >= s THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n           + ")
    s"""SELECT id, frame_idx,
       |       ${(0 until 4).map(b => s"CAST(${band(b)} AS INT) AS band$b").mkString(",\n       ")}
       |  FROM $bitsTable
       | ORDER BY id, frame_idx""".stripMargin
  }

  /** Pairs tail over a bits relation: all-pairs frame-aligned bit
    * disagreement, summed over the sampled frames. Dialect-neutral. */
  def videoPairsTailSql(bitsTable: String): String = {
    val vs = 0 until 64
    s"""WITH pairsf AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         (${vs.map(i =>
                    s"(CASE WHEN (a.v$i * 64 >= a.s) = (b.v$i * 64 >= b.s)" +
                    s" THEN 0 ELSE 1 END)").mkString("\n          + ")}) AS fham
       |    FROM $bitsTable a JOIN $bitsTable b
       |      ON b.id > a.id AND b.frame_idx = a.frame_idx
       |)
       |SELECT id_a, id_b, CAST(SUM(fham) AS INT) AS hamming
       |  FROM pairsf
       | GROUP BY id_a, id_b
       |HAVING SUM(fham) <= 3
       | ORDER BY id_a, id_b""".stripMargin
  }

  /** Arithmetic oracle for [[runVideoFrameSample]]. */
  def videoFramesSql(table: String)(d: Dialect): String =
    s"""${videoBitsCtes(table, d)}
       |${videoFramesTailSql("bits").replaceFirst("^SELECT", "SELECT")}""".stripMargin

  /** Arithmetic oracle for [[runVideoDedup]]: the bits CTEs feeding the
    * pairs tail as one statement (executed by DuckDB only). */
  def videoPairsSql(table: String)(d: Dialect): String = {
    val tail = videoPairsTailSql("bits")
    s"""${videoBitsCtes(table, d)},
       |${tail.stripPrefix("WITH ")}""".stripMargin
  }

  def videoFramesDuckSql(): String = videoFramesSql("documents")(DuckDialect)
  def videoPairsDuckSql(): String = videoPairsSql("documents")(DuckDialect)

  // ---- mp3 / mp4 structural metadata (container parse, no codec) -------
  // Frame-header walk of the public MPEG audio framing (ISO/IEC 11172-3
  // layer III) and box walk of the public ISO base media file format
  // (ISO/IEC 14496-12). These parse container STRUCTURE only — frame
  // boundaries, sample rates, timescales, durations, track counts —
  // which needs no codec; PCM/pixel decode of the compressed payloads
  // still requires a library codec and keeps the documented stand-in.

  final case class Mp3Stats(mpegVersion: Int, sampleRate: Int,
                            bitrateKbps: Int, nFrames: Int, durationMs: Long)
  final case class Mp4Stats(majorBrand: String, timescale: Long,
                            duration: Long, nTraks: Int, durationMs: Long)

  // Layer III bitrate tables (kbps, index 1-14; 0 = free, 15 = invalid)
  private val Mp3V1L3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3V2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** MPEG audio Layer III frame-header walk: skips a leading ID3v2 tag,
    * then steps frame to frame by the header-derived frame length
    * (`spf/8 · bitrate / rate + pad`). Accepts a consistent
    * (version, rate) stream with ≥1 whole frame; bitrate may vary (VBR
    * — the reported kbps is the integer mean). Trailing non-frame bytes
    * (ID3v1 etc.) end the walk; a frame that overruns the payload or
    * carries reserved field values rejects the payload. */
  def decodeMp3Meta(b: Array[Byte]): Option[Mp3Stats] = {
    var pos = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      pos = 10 + sz
    }
    var nFrames = 0; var version = 0; var sr = 0
    var kbpsSum = 0L; var samples = 0L
    var walking = true
    while (walking && pos + 4 <= b.length) {
      val h1 = b(pos + 1) & 0xff; val h2 = b(pos + 2) & 0xff
      if ((b(pos) & 0xff) != 0xff || (h1 & 0xe0) != 0xe0) walking = false
      else {
        val vbits = (h1 >> 3) & 3 // 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1
        val lbits = (h1 >> 1) & 3 // 1 = Layer III
        val brIdx = (h2 >> 4) & 15
        val srIdx = (h2 >> 2) & 3
        val pad = (h2 >> 1) & 1
        if (vbits == 1 || lbits != 1 || brIdx == 0 || brIdx == 15 || srIdx == 3)
          return None
        val v = if (vbits == 3) 1 else if (vbits == 2) 2 else 25
        val rate = (v match {
          case 1 => Array(44100, 48000, 32000)
          case 2 => Array(22050, 24000, 16000)
          case _ => Array(11025, 12000, 8000)
        })(srIdx)
        val kb = (if (v == 1) Mp3V1L3 else Mp3V2L3)(brIdx)
        if (nFrames == 0) { version = v; sr = rate }
        else if (v != version || rate != sr) return None
        val spf = if (v == 1) 1152 else 576
        val len = (spf / 8) * kb * 1000 / rate + pad
        if (len <= 4 || pos + len > b.length) return None
        nFrames += 1; kbpsSum += kb; samples += spf
        pos += len
      }
    }
    if (nFrames == 0) None
    else Some(Mp3Stats(version, sr, (kbpsSum / nFrames).toInt, nFrames,
      samples * 1000L / sr))
  }

  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u64be(b: Array[Byte], i: Int): Long =
    (u32be(b, i) << 32) | u32be(b, i + 4)

  /** ISO base-media (mp4/mov/m4a) box walk: `ftyp` major brand, then
    * `moov` → `mvhd` (v0 or v1 timescale + duration) and `trak` count.
    * Size-0 (to-end) and size-1 (64-bit largesize) boxes follow the
    * spec; any box overrunning its parent rejects the payload. */
  def decodeMp4Meta(b: Array[Byte]): Option[Mp4Stats] = {
    if (b.length < 16 ||
      !(b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')) return None
    val brand = new String(b, 8, 4, "US-ASCII")
    var timescale = 0L; var duration = -1L; var nTraks = 0
    def walk(from: Long, until: Long, inMoov: Boolean): Boolean = {
      var pos = from
      while (pos + 8 <= until) {
        var size = u32be(b, pos.toInt)
        var hdr = 8L
        val typ = new String(b, pos.toInt + 4, 4, "US-ASCII")
        if (size == 0) size = until - pos
        else if (size == 1) {
          if (pos + 16 > until) return false
          size = u64be(b, pos.toInt + 8); hdr = 16L
        }
        if (size < hdr || pos + size > until) return false
        typ match {
          case "moov" if !inMoov =>
            if (!walk(pos + hdr, pos + size, inMoov = true)) return false
          case "trak" if inMoov => nTraks += 1
          case "mvhd" if inMoov =>
            val body = (pos + hdr).toInt
            val ver = b(body) & 0xff
            // v0: ver/flags 4 + creation 4 + modification 4 → ts@12, dur@16
            // v1: ver/flags 4 + creation 8 + modification 8 → ts@20, dur@24
            if (ver == 0 && size >= hdr + 20) {
              timescale = u32be(b, body + 12); duration = u32be(b, body + 16)
            } else if (ver == 1 && size >= hdr + 32) {
              timescale = u32be(b, body + 20); duration = u64be(b, body + 24)
            } else return false
          case _ => ()
        }
        pos += size
      }
      pos == until
    }
    if (!walk(0, b.length.toLong, inMoov = false) || timescale <= 0 || duration < 0)
      None
    else Some(Mp4Stats(brand, timescale, duration, nTraks,
      duration * 1000L / timescale))
  }

  /** Render a constant-bitrate MPEG1 Layer III frame sequence (headers
    * + zero payload — structurally valid framing; the payload bits are
    * opaque to the structural parse). */
  def renderMp3(nFrames: Int, kbps: Int, sampleRate: Int): Array[Byte] = {
    val brIdx = Mp3V1L3.indexOf(kbps)
    val srIdx = Array(44100, 48000, 32000).indexOf(sampleRate)
    require(nFrames > 0 && brIdx > 0 && srIdx >= 0, "MPEG1 L3 rates required")
    val frameLen = 144 * kbps * 1000 / sampleRate
    val b = Array.ofDim[Byte](nFrames * frameLen)
    var f = 0
    while (f < nFrames) {
      val p = f * frameLen
      b(p) = 0xff.toByte
      b(p + 1) = 0xfb.toByte // sync | MPEG1 | Layer III | no CRC
      b(p + 2) = ((brIdx << 4) | (srIdx << 2)).toByte
      f += 1
    }
    b
  }

  /** Render a minimal ISO-BMFF file: `ftyp` (isom) + `moov` holding a
    * full 108-byte v0 `mvhd` (identity matrix) and `nTraks` empty
    * `trak` boxes. */
  def renderMp4(timescale: Long, duration: Long, nTraks: Int): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && duration <= 0xffffffffL &&
      nTraks >= 0, "v0 mvhd ranges required")
    val moovContent = 108 + nTraks * 8
    val b = Array.ofDim[Byte](16 + 8 + moovContent)
    var p = 0
    def tag(s: String): Unit = { s.getBytes("US-ASCII").copyToArray(b, p); p += 4 }
    def w32(v: Long): Unit = {
      b(p) = (v >>> 24).toByte; b(p + 1) = (v >>> 16).toByte
      b(p + 2) = (v >>> 8).toByte; b(p + 3) = v.toByte; p += 4
    }
    w32(16); tag("ftyp"); tag("isom"); w32(0)
    w32(8 + moovContent); tag("moov")
    w32(108); tag("mvhd")
    w32(0)                       // version 0 + flags
    w32(0); w32(0)               // creation, modification
    w32(timescale); w32(duration)
    w32(0x00010000L); w32(0x01000000L) // rate 1.0, volume 1.0 + reserved
    w32(0); w32(0)               // reserved[8]
    w32(0x00010000L); w32(0); w32(0) // unity matrix
    w32(0); w32(0x00010000L); w32(0)
    w32(0); w32(0); w32(0x40000000L)
    var i = 0
    while (i < 6) { w32(0); i += 1 } // pre_defined[24]
    w32(nTraks + 1L)             // next_track_ID
    var t = 0
    while (t < nTraks) { w32(8); tag("trak"); t += 1 }
    b
  }

  /** Structural-metadata oracle entry: per document, one REAL MPEG1-L3
    * frame sequence and one REAL ISO-BMFF file with md5-derived
    * parameters, pushed through the production [[featuresOf]] dispatch
    * (sniff + parse); the oracle rederives every field arithmetically
    * from the same md5 hex — the hash match proves the byte-level
    * render → sniff → walk round-trip on both container layouts.
    * All-integer outputs, so the relation is bit-exact cross-engine. */
  def runContainerMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).where(col("text").isNotNull)
      .as[(Long, String)]
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, text) =>
        md.reset()
        val dg = md.digest(text.getBytes("UTF-8"))
        def b(i: Int) = dg(i) & 0xff
        val mp3 = renderMp3(1 + b(0) % 8,
          Array(64, 96, 128, 192)(b(2) % 4), Array(44100, 48000, 32000)(b(1) % 3))
        val ts = Array(600L, 1000L, 90000L)(b(3) % 3)
        val mp4 = renderMp4(ts, ts * (1 + b(4) % 10) + b(5), 1 + b(6) % 3)
        Seq(id * 2 -> mp3, id * 2 + 1 -> mp4).map { case (vid, payload) =>
          val f = featuresOf(vid, payload, md)
          (vid, f.kind, f.features(0).toLong, f.features(1).toLong,
            f.features(2).toLong, f.features(3).toLong)
        }
      }
    }.toDF("id", "kind", "f0", "f1", "f2", "f3").orderBy("id")
  }

  /** The arithmetic rendering of [[runContainerMeta]]: every field as
    * integer arithmetic over the md5 hex — mp3 rows are (sample_rate,
    * n_frames, duration_ms, kbps), mp4 rows (timescale, duration,
    * duration_ms, n_traks). */
  def containerMetaSql(table: String)(d: Dialect): String = {
    def byteExpr(i: Int) =
      d.hexToInt(s"SUBSTRING(MD5(text), ${2 * i + 1}, 2)")
    s"""WITH bx AS (
       |  SELECT doc_id,
       |         ${(0 to 6).map(i => s"${byteExpr(i)} AS b$i").mkString(",\n         ")}
       |    FROM $table WHERE text IS NOT NULL
       |),
       |mp3 AS (
       |  SELECT doc_id * 2 AS id,
       |         CASE b1 % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
       |         1 + b0 % 8 AS nf,
       |         CASE b2 % 4 WHEN 0 THEN 64 WHEN 1 THEN 96 WHEN 2 THEN 128 ELSE 192 END AS kb
       |    FROM bx
       |),
       |mp4 AS (
       |  SELECT doc_id * 2 + 1 AS id,
       |         CASE b3 % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
       |         b4, b5, 1 + b6 % 3 AS nt
       |    FROM bx
       |)
       |SELECT id, kind, f0, f1, f2, f3 FROM (
       |  SELECT id, 'mp3' AS kind, CAST(sr AS BIGINT) AS f0,
       |         CAST(nf AS BIGINT) AS f1,
       |         CAST(${d.intDiv("nf * 1152 * 1000", "sr")} AS BIGINT) AS f2,
       |         CAST(kb AS BIGINT) AS f3
       |    FROM mp3
       |  UNION ALL
       |  SELECT id, 'mp4' AS kind, CAST(ts AS BIGINT) AS f0,
       |         CAST(ts * (1 + b4 % 10) + b5 AS BIGINT) AS f1,
       |         CAST(${d.intDiv("(ts * (1 + b4 % 10) + b5) * 1000", "ts")} AS BIGINT) AS f2,
       |         CAST(nt AS BIGINT) AS f3
       |    FROM mp4) z
       | ORDER BY id""".stripMargin
  }

  def containerMetaDuckSql(): String = containerMetaSql("documents")(DuckDialect)
}
