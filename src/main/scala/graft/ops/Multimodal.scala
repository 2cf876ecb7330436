package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.Fixture
import graft.tables.Tables

/** Multimodal-column pipeline: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded and feature-extracted in
  * batched partition-local calls. Absent from the reference (SURVEY.md
  * §2.2 — north-star extension surface).
  *
  * The decode path is REAL: payloads are genuine PNG images (written and
  * read through the JDK's `javax.imageio.ImageIO` — no external codec
  * jar) and genuine 16-bit PCM WAV files (`javax.sound.sampled`). The
  * "video" payload is a minimal length-prefixed container of PNG frames,
  * so frame sampling demuxes a binary container and codec-decodes the
  * sampled frames, exactly the mapInPandas-with-ffmpeg shape at full
  * fidelity minus only the exotic codecs.
  *
  * Oracle strategy: TESTDATA has no media table, so payloads are
  * synthesized deterministically from `documents` (pixel (x, y) of frame
  * f is an explicit integer formula of (doc_id, x, y, f)). PNG and WAV
  * are lossless, so the features the Spark side computes from DECODED
  * pixels/samples must equal what DuckDB computes from the generating
  * formula — a wrong decode (channel swap, row-order bug, off-by-one
  * demux) breaks the hash match. All emitted features are exact-integer
  * (or single-division / sqrt doubles, which IEEE 754 rounds identically
  * on both engines).
  *
  * Scale notes: payloads are processed partition-locally with zero
  * shuffles; m1 batches bound peak decoded memory to BatchSize images
  * regardless of partition size; a production deployment sets
  * spark.sql.files.maxPartitionBytes low for media tables so one task
  * never holds too many blobs.
  */
object Multimodal {

  /** A media row: opaque container payload + typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String,
                         width: Int, height: Int, n_frames: Int)
  /** Image features from the decoded poster frame — width/height come from
    * the DECODED image, not the stored metadata.
    */
  case class MediaFeatures(doc_id: Long, width: Int, height: Int, n_pixels: Long,
                           sum_r: Long, sum_g: Long, sum_b: Long, mean_r: Double)
  case class Frame(doc_id: Long, frame_idx: Int, n_pixels: Long,
                   sum_r: Long, sum_g: Long, sum_b: Long)
  case class Thumb(doc_id: Long, new_w: Int, new_h: Int,
                   t_sum_r: Long, t_sum_g: Long, t_sum_b: Long)
  case class AudioRecord(doc_id: Long, payload: Array[Byte], format: String,
                         sample_rate: Int, n_samples: Int)
  case class AudioFeatures(doc_id: Long, n_samples: Int, sum_abs: Long,
                           max_abs: Int, rms: Double)
  case class AudioWindow(doc_id: Long, win_idx: Int, n: Int,
                         sum_abs: Long, peak: Int, silent: Boolean)

  val BatchSize = 16
  /** Thumbnail bounding box; images are ≥ 8 px per side (below), so the
    * box downsample is always a true downsample (every target cell maps
    * to ≥ 1 source pixel).
    */
  val ThumbDim = 8
  /** Every-other-frame sampling stride (m2). */
  val FrameStride = 2
  val SampleRate = 8000

  // ---- deterministic synthesis (the stand-in for a real media column) ----

  private def widthOf(docId: Long): Int = (8 + docId % 17).toInt   // 8..24
  private def heightOf(docId: Long): Int = (8 + docId % 13).toInt  // 8..20
  private def framesOf(docId: Long): Int = (1 + docId % 4).toInt   // 1..4
  private def samplesOf(docId: Long): Int = (256 + (docId % 32) * 16).toInt

  /** Pixel formula for frame `f` — the ground truth the oracle recomputes. */
  private def rgbAt(docId: Long, x: Int, y: Int, f: Int): Int = {
    val r = ((docId + x + 11L * f) % 256).toInt
    val g = ((2 * docId + y + 23L * f) % 256).toInt
    val b = ((3 * x + 7 * y + 31 * f) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  private def encodePng(docId: Long, f: Int): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // bulk setRGB: one array store per image, not a sync'd call per pixel
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = rgbAt(docId, x, y, f); x += 1 }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Length-prefixed PNG frame container: [int32 n][int32 len | png]*n. */
  private def buildContainer(docId: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dos = new DataOutputStream(out)
    val n = framesOf(docId)
    dos.writeInt(n)
    var f = 0
    while (f < n) {
      val png = encodePng(docId, f)
      dos.writeInt(png.length); dos.write(png)
      f += 1
    }
    dos.flush()
    out.toByteArray
  }

  /** 16-bit little-endian mono PCM WAV; sample i is an explicit formula. */
  private[graft] def buildWav(docId: Long): Array[Byte] = {
    val n = samplesOf(docId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = ((docId * 131 + i * 17L) % 65536 - 32768).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ---- real decode ----

  /** Demux the frame container into raw PNG byte slices. */
  private[graft] def demux(payload: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val dis = new DataInputStream(new ByteArrayInputStream(payload))
    val n = dis.readInt()
    require(n >= 0 && n <= 65536, s"implausible frame count $n — corrupt container")
    (0 until n).map { _ =>
      val len = dis.readInt()
      require(len > 0 && len <= payload.length, s"implausible frame length $len")
      val b = new Array[Byte](len)
      dis.readFully(b)
      b
    }
  }

  private[graft] def decodeImage(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "payload is not a decodable image")
    img
  }

  /** (n_pixels, sum_r, sum_g, sum_b) over every decoded pixel. */
  private[graft] def pixelSums(img: BufferedImage): (Long, Long, Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w) // bulk read, one call
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
      i += 1
    }
    (w.toLong * h, sr, sg, sb)
  }

  /** Real decode, batched: the batch signature (Seq in → Seq out) is the
    * contract a vectorized decoder implements; BatchSize bounds how many
    * decoded images are simultaneously live per task.
    */
  private def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val img = decodeImage(r.payload)
      val (n, sr, sg, sb) = pixelSums(img)
      MediaFeatures(r.doc_id, img.getWidth, img.getHeight, n, sr, sg, sb,
        sr.toDouble / n)
    }

  /** Frame sampling: demux the container, decode every FrameStride-th
    * frame, emit per-frame pixel statistics — the row-explosion shape of
    * real video frame sampling, with a real codec in the loop.
    */
  private def frameStats(r: MediaRecord, stride: Int): Seq[Frame] = {
    val frames = demux(r.payload)
    (frames.indices by stride).map { f =>
      val (n, sr, sg, sb) = pixelSums(decodeImage(frames(f)))
      Frame(r.doc_id, f, n, sr, sg, sb)
    }
  }

  private def sampleFrames(r: MediaRecord): Seq[Frame] =
    frameStats(r, FrameStride)

  /** Every frame's stats — the scene-cut detector needs CONSECUTIVE
    * frames, not a sample.
    */
  private def allFrames(r: MediaRecord): Seq[Frame] = frameStats(r, 1)

  /** Aspect-preserving box-average downsample of the decoded poster frame
    * into a ThumbDim-bounded thumbnail: source pixel (x, y) belongs to
    * target cell (x·newW/w, y·newH/h); each thumbnail pixel is the floor
    * mean of its cell — an exact-integer resampling kernel over REAL
    * decoded pixels, so the thumbnail's channel sums are oracle-checkable
    * (interpolating kernels are implementation-defined; this one is math).
    * The thumbnail is materialized as a real BufferedImage (re-encodable
    * to PNG — MultimodalSpec round-trips it); the emitted features are its
    * per-channel sums.
    */
  private[graft] def boxThumbnail(img: BufferedImage): (BufferedImage, Long, Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val maxDim = math.max(w, h)
    val newW = w * ThumbDim / maxDim
    val newH = h * ThumbDim / maxDim
    val cells = newW * newH
    val sr = new Array[Long](cells); val sg = new Array[Long](cells)
    val sb = new Array[Long](cells); val cnt = new Array[Long](cells)
    val px = img.getRGB(0, 0, w, h, null, 0, w) // bulk read, one call
    var y = 0
    while (y < h) {
      val ty = y * newH / h
      var x = 0
      while (x < w) {
        val c = ty * newW + (x * newW / w)
        val rgb = px(y * w + x)
        sr(c) += (rgb >> 16) & 0xff; sg(c) += (rgb >> 8) & 0xff; sb(c) += rgb & 0xff
        cnt(c) += 1
        x += 1
      }
      y += 1
    }
    val thumb = new BufferedImage(newW, newH, BufferedImage.TYPE_INT_RGB)
    val tpx = new Array[Int](cells)
    var tr = 0L; var tg = 0L; var tb = 0L
    var c = 0
    while (c < cells) {
      val r = (sr(c) / cnt(c)).toInt; val g = (sg(c) / cnt(c)).toInt
      val b = (sb(c) / cnt(c)).toInt
      tpx(c) = (r << 16) | (g << 8) | b
      tr += r; tg += g; tb += b
      c += 1
    }
    thumb.setRGB(0, 0, newW, newH, tpx, 0, newW)
    (thumb, tr, tg, tb)
  }

  private def thumbnail(r: MediaRecord): Thumb = {
    val (thumb, tr, tg, tb) = boxThumbnail(decodeImage(r.payload))
    Thumb(r.doc_id, thumb.getWidth, thumb.getHeight, tr, tg, tb)
  }

  /** Real WAV decode through `AudioSystem`: header parse, format check,
    * PCM frame extraction, per-sample statistics.
    */
  private[graft] def audioFeatures(docId: Long, wav: Array[Byte]): AudioFeatures = {
    val bytes = decodePcm(wav)
    val n = bytes.length / 2
    var sumAbs = 0L; var maxAbs = 0; var sumSq = 0L
    var i = 0
    while (i < n) {
      val v = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
      val a = math.abs(v)
      sumAbs += a
      if (a > maxAbs) maxAbs = a
      sumSq += v.toLong * v
      i += 1
    }
    AudioFeatures(docId, n, sumAbs, maxAbs, math.sqrt(sumSq.toDouble / n))
  }

  /** Decode + validate the PCM payload both audio operators consume:
    * 16-bit little-endian mono, raw sample bytes out — the ONE place the
    * accepted-format contract lives (m4 and m6 must never disagree on
    * which payloads they reject).
    */
  private def decodePcm(wav: Array[Byte]): Array[Byte] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
      s"unexpected audio format $fmt")
    ais.readAllBytes()
  }

  /** Windowed energy for voice-activity detection (m6): the decoded PCM
    * stream cut into `winLen`-sample windows, each reduced to abs-sum and
    * peak; `silent` fires when mean |amplitude| is under a quarter of
    * full scale (integer cross-multiplication, no division). The last
    * window is partial when n isn't a multiple of winLen — reported with
    * its true `n`, never padded.
    */
  private[graft] def vadWindows(docId: Long, wav: Array[Byte],
                                winLen: Int): Seq[AudioWindow] = {
    val bytes = decodePcm(wav)
    val n = bytes.length / 2
    (0 until n by winLen).map { start =>
      val end = math.min(start + winLen, n)
      var sumAbs = 0L; var peak = 0
      var i = start
      while (i < end) {
        val v = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
        val a = math.abs(v)
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      val w = end - start
      AudioWindow(docId, start / winLen, w, sumAbs, peak,
        silent = sumAbs < 8192L * w)
    }
  }

  // ---- perceptual-hash image near-dup (m7) --------------------------------

  /** An image row for the near-dup fixture: base corpus + perturbed
    * re-encodes, ids disjoint (variants shifted by max(doc_id)+1).
    */
  case class ImgRecord(img_id: Long, payload: Array[Byte])

  /** m7's OWN pixel synthesis (NOT [[rgbAt]]): each channel renders a
    * per-document pseudo-random 8×8 block pattern (block (bx, by) is on
    * or off by a multiplicative-hash bit of doc_id) plus a small
    * deterministic texture. The m1 gradient formula is unusable here —
    * its doc dependence is a constant luma shift, which mean-thresholded
    * perceptual hashes are INVARIANT to by design, so every same-dims
    * document would collide into one signature and the band buckets
    * would go quadratic. Block patterns give each doc ~an independent
    * signature (bucket sizes ~n/2^16) while staying brightness-stable
    * under the perturbations, and the formula is plain BIGINT
    * arithmetic, so DuckDB replays it exactly.
    */
  private[graft] def blockBit(p: Long, bi: Int): Int = {
    // xorshift-mixed multiplicative hash: bit 20 of m·K alone is a Weyl-
    // sequence bit (measured ~14 bits of signature entropy over the
    // corpus — enough collisions to make exact frame matching noisy);
    // folding the top half in first (z ^ z>>>31) restores full mixing
    // (measured: 500/500 distinct image sigs, zero accidental pairs).
    val z = p * (bi + 17) * 2654435761L
    (((z ^ (z >>> 31)) >>> 20) & 1L).toInt
  }

  private[graft] def blockRgbAt(docId: Long, x: Int, y: Int, w: Int, h: Int): Int = {
    val bi = (y * 8 / h) * 8 + (x * 8 / w)
    // per-channel amplitudes picked so the LUMA contributions are
    // balanced (118·299 ≈ 60·587 ≈ 35k, 197·114 ≈ 22k): with equal
    // weights the aHash mean-threshold becomes a MAJORITY vote over the
    // three channel bits — a uniform 180 made the g channel dominate
    // and the signature collapse to the g pattern alone
    val r = blockBit(docId + 1, bi) * 118 + 30 + (3 * x + 7 * y) % 23
    val g = blockBit(docId * 31 + 7, bi) * 60 + 30 + (5 * x + 11 * y) % 19
    val b = blockBit(docId * 17 + 3, bi) * 197 + 30 + (7 * x + 13 * y) % 29
    (r << 16) | (g << 8) | b
  }

  private def encodeBlockPng(docId: Long): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = blockRgbAt(docId, x, y, w, h); x += 1 }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Posterize re-encode — the "saved again at lower quality" near-dup:
    * every channel quantized to a multiple of 4 (p/4*4), operating on
    * the DECODED base image, then re-encoded. Shifts each cell's mean
    * luma by ≲ 3 per channel, so the aHash lands within a few bits.
    */
  private[graft] def posterize(img: BufferedImage): BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) {
      val p = px(i)
      px(i) = ((p >> 16 & 0xff) / 4 * 4 << 16) |
        ((p >> 8 & 0xff) / 4 * 4 << 8) | ((p & 0xff) / 4 * 4)
      i += 1
    }
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    out.setRGB(0, 0, w, h, px, 0, w)
    out
  }

  /** Nearest-neighbor downscale to 3/4 size (floor, clamped to the 8 px
    * aHash minimum) — the "thumbnail repost" near-dup. Target pixel
    * (x, y) samples source (x·w/w', y·h/h'): pure integer resampling, so
    * the oracle replays the perturbed image exactly.
    */
  private[graft] def nnResize(img: BufferedImage): BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val w2 = math.max(w * 3 / 4, 8); val h2 = math.max(h * 3 / 4, 8)
    val src = img.getRGB(0, 0, w, h, null, 0, w)
    val dst = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * h / h2
      var x = 0
      while (x < w2) { dst(y * w2 + x) = src(sy * w + x * w / w2); x += 1 }
      y += 1
    }
    val out = new BufferedImage(w2, h2, BufferedImage.TYPE_INT_RGB)
    out.setRGB(0, 0, w2, h2, dst, 0, w2)
    out
  }

  private def reencodePng(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** 64-bit aHash over the decoded image: box-downsample to the 8×8 luma
    * grid (cell value = floor mean of 299r+587g+114b over its pixels —
    * the m3 exact-integer kernel at fixed dims), then bit c fires when
    * its cell exceeds the grid mean (64·cell > Σcells, integer
    * cross-multiplication — no division, no doubles). Brightness-shift
    * invariant by construction; a 100 TB deployment computes it in the
    * same decode pass that extracts m1's features, so the near-dup tier
    * costs one map-side Long per image plus the banded pair join.
    */
  private[graft] def aHash64(img: BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    require(w >= 8 && h >= 8, s"aHash needs >= 8 px per side, got ${w}x$h")
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val sum = new Array[Long](64); val cnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val ty = y * 8 / h
      var x = 0
      while (x < w) {
        val c = ty * 8 + x * 8 / w
        val p = px(y * w + x)
        sum(c) += 299L * (p >> 16 & 0xff) + 587L * (p >> 8 & 0xff) + 114L * (p & 0xff)
        cnt(c) += 1
        x += 1
      }
      y += 1
    }
    var total = 0L
    val cv = new Array[Long](64)
    var c = 0
    while (c < 64) { cv(c) = sum(c) / cnt(c); total += cv(c); c += 1 }
    var sig = 0L
    c = 0
    while (c < 64) { if (64L * cv(c) > total) sig |= (1L << c); c += 1 }
    sig
  }

  /** The image near-dup fixture: every doc's block-pattern PNG, plus a
    * posterize re-encode of every 5th and a nearest-neighbor downscale
    * of every 9th (variant ids shifted by max(doc_id)+1 and 2× that, so
    * they collide with nothing at any SF). Perturbations run on the
    * DECODED base payload — the staged tree exercises the full
    * decode → perturb → re-encode chain the oracle then checks.
    */
  val imgDupDir: Fixture = Fixture("graft_imgdup", "documents") { (s, d, tmp) =>
    import s.implicits._
    val ids = Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
    val shift = ids.agg(max(col("doc_id"))).as[Long].head() + 1L
    ids.map(id => ImgRecord(id, encodeBlockPng(id)))
      .union(ids.filter(_ % 5 == 0).map(id =>
        ImgRecord(id + shift, reencodePng(posterize(decodeImage(encodeBlockPng(id)))))))
      .union(ids.filter(_ % 9 == 0).map(id =>
        ImgRecord(id + 2 * shift, reencodePng(nnResize(decodeImage(encodeBlockPng(id)))))))
      .write.parquet(tmp + "/image")
  }

  // ---- audio perceptual near-dup (m8) --------------------------------------

  /** m8's audio synthesis — the audio analogue of [[blockRgbAt]]'s
    * lesson: the m4/m6 sawtooth's energy envelope is a function of the
    * doc's PHASE alone (one slow ramp per period), so a mean-thresholded
    * envelope hash would collide docs into phase classes exactly the way
    * the m1 gradient collides aHash. Here each doc gets a pseudo-random
    * 64-block amplitude pattern (multiplicative-hash bit per block, the
    * m7 primitive at a different salt): sample i rides a small ±99
    * sawtooth scaled 8× inside "loud" blocks — the envelope is crisply
    * bimodal per doc, stable under resampling and cropping, and the
    * formula is plain BIGINT arithmetic the oracle replays.
    */
  private[graft] def ampSampleAt(docId: Long, i: Int, n: Int): Int = {
    val on = blockBit(docId * 29 + 11, i * 64 / n)
    ((i * 17) % 199 - 99) * (1 + 7 * on)
  }

  private def buildAmpWav(docId: Long): Array[Byte] = {
    val n = samplesOf(docId)
    encodePcm(Array.tabulate(n)(i => ampSampleAt(docId, i, n)))
  }

  private def encodePcm(samples: Array[Int]): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private[graft] def decodeSamples(wav: Array[Byte]): Array[Int] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
      s"unexpected audio format $fmt")
    val bytes = ais.readAllBytes()
    Array.tabulate(bytes.length / 2)(i =>
      (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt)
  }

  /** Resample-by-2 — the "re-encoded at half rate" near-dup: keep every
    * 2nd decoded sample (pure index selection; no value arithmetic, so
    * both engines replay it exactly — integer division of NEGATIVE
    * sample values is the one thing Java and SQL disagree on, which is
    * why the perturbations here are index transforms, not quantizers).
    */
  private[graft] def resampleHalf(samples: Array[Int]): Array[Int] =
    Array.tabulate((samples.length + 1) / 2)(j => samples(2 * j))

  /** Crop the first 16 samples — the "trimmed repost" near-dup. */
  private[graft] def crop16(samples: Array[Int]): Array[Int] =
    samples.drop(16)

  /** 64-bit energy-envelope hash over decoded PCM: 64 relative-position
    * cells (sample i → cell i·64/n, the same box mapping as [[aHash64]]),
    * cell value = floor mean of |sample|, bit c = 64·cell > envelope sum
    * — loudness-scale-invariant by the same mean-threshold argument as
    * aHash, and robust to resampling/cropping because cells are
    * RELATIVE positions. Needs ≥ 64 samples so every cell is non-empty.
    */
  private[graft] def audioHash64(samples: Array[Int]): Long = {
    val n = samples.length
    require(n >= 64, s"audioHash needs >= 64 samples, got $n")
    val sum = new Array[Long](64); val cnt = new Array[Long](64)
    var i = 0
    while (i < n) {
      val c = (i.toLong * 64 / n).toInt
      sum(c) += math.abs(samples(i))
      cnt(c) += 1
      i += 1
    }
    var total = 0L
    val cv = new Array[Long](64)
    var c = 0
    while (c < 64) { cv(c) = sum(c) / cnt(c); total += cv(c); c += 1 }
    var sig = 0L
    c = 0
    while (c < 64) { if (64L * cv(c) > total) sig |= (1L << c); c += 1 }
    sig
  }

  /** The audio near-dup fixture: every doc's block-amplitude WAV, plus a
    * half-rate resample of every 5th and a 16-sample crop of every 9th
    * (ids shifted by max+1 / 2·max+1, the m7 discipline). Perturbations
    * run on DECODED samples and re-encode through the codec.
    */
  val audDupDir: Fixture = Fixture("graft_auddup", "documents") { (s, d, tmp) =>
    import s.implicits._
    val ids = Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
    val shift = ids.agg(max(col("doc_id"))).as[Long].head() + 1L
    ids.map(id => ImgRecord(id, buildAmpWav(id)))
      .union(ids.filter(_ % 5 == 0).map(id => ImgRecord(id + shift,
        encodePcm(resampleHalf(decodeSamples(buildAmpWav(id)))))))
      .union(ids.filter(_ % 9 == 0).map(id => ImgRecord(id + 2 * shift,
        encodePcm(crop16(decodeSamples(buildAmpWav(id)))))))
      .write.parquet(tmp + "/audio")
  }

  // ---- video near-dup (m10) ------------------------------------------------

  /** m10's frame synthesis: every (doc, frame) pair gets its OWN block
    * pattern (src = doc·4 + f keeps the hash-bit seeds disjoint across
    * the ≤ 4 frames), so per-frame aHashes are unique per (doc, frame)
    * and a shared frame hash means a genuinely shared frame — the
    * m7 lesson applied at frame grain (the m2 gradient frames would
    * alias every same-dims frame into one signature).
    */
  private def vidFramesOf(docId: Long): Int = (2 + docId % 3).toInt // 2..4

  private def encodeVidFrame(docId: Long, f: Int): Array[Byte] = {
    val w = widthOf(docId); val h = heightOf(docId)
    val src = docId * 4 + f
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = blockRgbAt(src, x, y, w, h); x += 1 }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def muxFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dos = new DataOutputStream(out)
    dos.writeInt(frames.length)
    frames.foreach { png => dos.writeInt(png.length); dos.write(png) }
    dos.flush()
    out.toByteArray
  }

  private def buildVidContainer(docId: Long): Array[Byte] =
    muxFrames((0 until vidFramesOf(docId)).map(encodeVidFrame(docId, _)))

  /** The video near-dup fixture: block-pattern frame containers, plus a
    * head-trimmed remux of every 5th video and a reversed remux of every
    * 9th — both INDEX-level edits over the demuxed + re-encoded frames,
    * so per-frame pixel content (hence per-frame aHash) is preserved
    * exactly, which is what makes frame-set containment the right
    * detector for cut/reordered re-uploads.
    */
  val vidDupDir: Fixture = Fixture("graft_viddup", "documents") { (s, d, tmp) =>
    import s.implicits._
    def remux(payload: Array[Byte], edit: IndexedSeq[Array[Byte]] => Seq[Array[Byte]]) =
      muxFrames(edit(demux(payload)).map(f => reencodePng(decodeImage(f))))
    val ids = Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
    val shift = ids.agg(max(col("doc_id"))).as[Long].head() + 1L
    ids.map(id => ImgRecord(id, buildVidContainer(id)))
      .union(ids.filter(_ % 5 == 0).map(id =>
        ImgRecord(id + shift, remux(buildVidContainer(id), _.drop(1)))))
      .union(ids.filter(_ % 9 == 0).map(id =>
        ImgRecord(id + 2 * shift, remux(buildVidContainer(id), _.reverse))))
      .write.parquet(tmp + "/video")
  }

  // ---- media tables (documents re-materialized as binary columns) ----

  /** Per-doc PNG-frame container table — the `binary` video column. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        MediaRecord(id, buildContainer(id), "video/x-graft-png-seq",
          widthOf(id), heightOf(id), framesOf(id))
      }
  }

  /** Per-doc still-image table (the poster frame as a raw PNG payload) —
    * the `binary` image column. m1/m3 consume this: decoding an image
    * column should not pay a video container's full frame-set synthesis
    * (frame 0's pixels are identical either way, so the oracles are
    * unchanged).
    */
  def imageTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
      .map(id => MediaRecord(id, encodePng(id, 0), "image/png",
        widthOf(id), heightOf(id), 1))
  }

  /** Per-doc WAV table — the `binary` audio column. */
  def audioTable(s: SparkSession, d: String): Dataset[AudioRecord] = {
    import s.implicits._
    Tables.table(s, d, "documents").select(col("doc_id")).as[Long]
      .map(id => AudioRecord(id, buildWav(id), "audio/wav", SampleRate, samplesOf(id)))
  }

  /** The media tables staged as PARQUET fixtures once per (sf,
    * documents-fingerprint) — so the registered queries read a REAL
    * stored `binary` column (the production shape: media lands in the
    * lake once; every pipeline pass decodes from storage), and their
    * timings measure demux + codec decode, not fixture synthesis.
    */
  val mediaDir: Fixture = Fixture("graft_media", "documents") { (s, d, tmp) =>
    mediaTable(s, d).write.parquet(tmp + "/video")
    imageTable(s, d).write.parquet(tmp + "/image")
    audioTable(s, d).write.parquet(tmp + "/audio")
  }

  private def staged[T: org.apache.spark.sql.Encoder](
      s: SparkSession, d: String, leaf: String): Dataset[T] =
    s.read.parquet(mediaDir(s, d) + "/" + leaf).as[T]

  def fixtures: Seq[Fixture] = Seq(mediaDir, imgDupDir, audDupDir, vidDupDir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_media_features" -> { (s, d) =>
      import s.implicits._
      staged[MediaRecord](s, d, "image")
        .mapPartitions(_.grouped(BatchSize).flatMap(g => decodeBatch(g.toSeq)))
        .toDF()
    },
    "m2_frame_sample" -> { (s, d) =>
      import s.implicits._
      staged[MediaRecord](s, d, "video").flatMap(sampleFrames _).toDF()
    },
    "m3_thumbnail" -> { (s, d) =>
      import s.implicits._
      staged[MediaRecord](s, d, "image").map(thumbnail _).toDF()
    },
    "m4_audio_features" -> { (s, d) =>
      import s.implicits._
      staged[AudioRecord](s, d, "audio")
        .map(r => audioFeatures(r.doc_id, r.payload)).toDF()
    },
    "m5_scene_cuts" -> { (s, d) =>
      // Shot-boundary detection — the video-curation primitive that
      // decides where a training clip starts: decode EVERY frame (m2
      // samples; boundaries live between consecutive frames) and reduce
      // each to per-channel pixel sums per RECORD — one clip's frames
      // are the peak decoded set per row, bounded by clip length rather
      // than m1's BatchSize (images batch; clips are already the batch).
      // One doc-keyed lag window then compares neighbors; a cut fires
      // when the summed absolute channel delta exceeds 65 per pixel —
      // the synthetic drift's no-wrap baseline, so boundaries are the
      // wrap-heavy transitions (~15% at sf0.01) — as an integer
      // cross-multiplication, no division. Frame rows per doc are tiny
      // (n_frames), so the window partition is clip-bounded, never
      // corpus-sized; decode is partition-local, the comparison pure plan.
      import s.implicits._
      val fr = staged[MediaRecord](s, d, "video").flatMap(allFrames _).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      fr.select(col("doc_id"), col("frame_idx"), col("n_pixels"),
          (col("sum_r") - lag(col("sum_r"), 1).over(w)).as("dr"),
          (col("sum_g") - lag(col("sum_g"), 1).over(w)).as("dg"),
          (col("sum_b") - lag(col("sum_b"), 1).over(w)).as("db"))
        .filter(col("dr").isNotNull)
        .select(col("*"),
          ((abs(col("dr")) + abs(col("dg")) + abs(col("db"))) >
            lit(65L) * col("n_pixels")).as("is_cut"))
    },
    "m6_audio_vad" -> { (s, d) =>
      // Voice-activity windows — the silence-trimming primitive of audio
      // data curation: each stored WAV decodes once (partition-local, no
      // shuffle at all — the per-window reduction happens inside the
      // decode pass, so the operator output is already window-grain) and
      // flags windows whose mean |amplitude| sits under a quarter of full
      // scale. 64-sample windows; the synthetic sawtooth localizes each
      // window's amplitude, so sf0.01 yields a real silent/active mix.
      import s.implicits._
      staged[AudioRecord](s, d, "audio")
        .flatMap(r => vadWindows(r.doc_id, r.payload, 64)).toDF()
    },
    "m7_image_neardup" -> { (s, d) =>
      // Perceptual-hash near-dup over the IMAGE column — the media tier
      // of the dedup family (a re-encoded/resized copy of a training
      // image has no text to shingle): decode every stored payload, one
      // 64-bit aHash per image map-side, then d4's pigeonhole hamming
      // banding pairs signatures within distance 3 — never all-pairs.
      // The fixture plants posterize re-encodes and nearest-neighbor
      // downscales among the block-pattern base images; the oracle
      // recomputes every signature from the generating pixel formulas
      // (perturbations included) and brute-forces hamming over all
      // pairs, so a decode bug, a resampling off-by-one, or a banding
      // completeness hole all break the hash match. MultimodalSpec
      // additionally pins banding ≡ brute force on the Spark side.
      import s.implicits._
      val sigs = s.read.parquet(imgDupDir(s, d) + "/image").as[ImgRecord]
        .map(r => (r.img_id, aHash64(decodeImage(r.payload))))
        .toDF("doc_id", "sh64")
      Dedup.hammingBandPairs(sigs, 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
    },
    "m8_audio_neardup" -> { (s, d) =>
      // Perceptual near-dup for the AUDIO column — m7's sibling, closing
      // the other half of the media-dedup tier (a half-rate re-encode or
      // a trimmed repost of a training clip has no text and no pixels):
      // decode every stored WAV, one 64-bit energy-envelope hash
      // map-side (64 relative-position cells of floor-mean |sample|,
      // mean-thresholded like aHash), the shared pigeonhole banding
      // pairs within hamming 3. The fixture plants half-rate resamples
      // and 16-sample crops — pure INDEX transforms, because integer
      // division of negative samples is the one arithmetic Java and SQL
      // disagree on — and the oracle recomputes every signature from the
      // generating sample formula (variant index maps included) and
      // brute-forces all pairs.
      import s.implicits._
      val sigs = s.read.parquet(audDupDir(s, d) + "/audio").as[ImgRecord]
        .map(r => (r.img_id, audioHash64(decodeSamples(r.payload))))
        .toDF("doc_id", "sh64")
      Dedup.hammingBandPairs(sigs, 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
    },
    "m9_crossmodal_clusters" -> { (s, d) =>
      // CROSS-MODAL dedup fusion — the decision layer a multimodal corpus
      // actually needs: a document is a duplicate if EITHER modality
      // matches (mirror sites swap the text around a reused image;
      // boilerplate text wraps distinct images), so the near-dup edge
      // sets from the text tier (d3's verified MinHash-LSH pairs) and
      // the image tier (m7's aHash hamming pairs over the stored BASE
      // payloads) union into ONE graph and d6's pointer-jumping
      // component labeling assigns the canonical representative. Output
      // carries per-modality degrees so the keep-policy layer can see
      // WHY a doc clustered. Scale budget = the two pair generators
      // (both banded, never all-pairs) + the shared fixpoint over
      // edge-incident docs only; the oracle replays text pairs as exact
      // Jaccard (the d6 precedent: LSH-verified == exact at the
      // threshold), image pairs from the generating pixel formulas, and
      // reachability as a recursive CTE.
      import s.implicits._
      val docs = Tables.table(s, d, "documents").select(col("doc_id"))
      val sigs = s.read.parquet(imgDupDir(s, d) + "/image").as[ImgRecord]
        .map(r => (r.img_id, aHash64(decodeImage(r.payload))))
        .toDF("doc_id", "sh64")
        .join(docs, "doc_id") // base corpus only; variants are fixture-only
      // The image edge set feeds THREE consumers (the union into the
      // component labeling + both legs of its degree rollup); the banded
      // self-join re-ran per consumer without materialization (r16 plan).
      // The pair set is slim (two longs/edge) while the join it caps is
      // signature-frame-sized.
      val imgEdges = Dedup.hammingBandPairs(sigs, 3)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
      val textEdges = Dedup.minhashLshPairs(s, d, 0.8)
        .select(col("doc_a"), col("doc_b"))
      val clusters = Dedup.labelComponents(
        s, textEdges.unionAll(imgEdges), docs)
      def degree(p: org.apache.spark.sql.DataFrame, name: String) =
        p.select(col("doc_a").as("doc_id"))
          .unionAll(p.select(col("doc_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as(name))
      clusters
        .join(degree(textEdges, "n_text_edges"), Seq("doc_id"), "left")
        .join(degree(imgEdges, "n_image_edges"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster"),
          coalesce(col("n_text_edges"), lit(0L)).as("n_text_edges"),
          coalesce(col("n_image_edges"), lit(0L)).as("n_image_edges"))
    },
    "m10_video_neardup" -> { (s, d) =>
      // Video near-dup — the third media tier (a trimmed or re-cut
      // re-upload shares most of its FRAMES even when no single poster
      // image or text matches): demux every stored container, decode
      // every frame, one aHash per frame map-side, then videos pair on
      // frame-SET containment — candidates come from an equi-join on a
      // shared frame hash (never all-pairs; a shared 64-bit block-pattern
      // hash means a genuinely shared frame), the score is
      // |A∩B| / min(|A|,|B|) in integer ppm (d10's containment at frame
      // grain — the right detector for cut/reordered edits, which
      // preserve frames while changing count and order). The fixture
      // plants head-trimmed and reversed remuxes (both land at ppm 10^6:
      // trimming drops a frame from one SIDE's set, reversal changes
      // only order, which a set score ignores). The oracle recomputes
      // every frame signature from the generating formulas and replays
      // the set algebra.
      import s.implicits._
      val frames = s.read.parquet(vidDupDir(s, d) + "/video").as[ImgRecord]
        .flatMap(r => demux(r.payload).map(f =>
          (r.img_id, aHash64(decodeImage(f)))))
        .toDF("vid", "fh")
        .distinct() // set semantics: a repeated frame counts once
        // Materialize the (vid, frame-hash) SET once: four consumers below
        // (self-join both sides + the two size joins) would otherwise each
        // re-demux and re-decode every frame of every container — the
        // corpus-sized codec pass — while the set itself is two longs per
        // distinct frame (r16: 2.23 s -> one decode pass; the plan carried
        // four Scan+decode subtrees, exchange reuse did not fire across
        // the pruned aggregate copies)
        .localCheckpoint(true)
      val sizes = frames.groupBy(col("vid")).agg(count(lit(1)).as("n"))
      val shared = frames.as("a").join(frames.as("b"),
          col("a.fh") === col("b.fh") && col("a.vid") < col("b.vid"))
        .groupBy(col("a.vid").as("vid_a"), col("b.vid").as("vid_b"))
        .agg(count(lit(1)).as("common_frames"))
      shared
        .join(sizes.select(col("vid").as("vid_a"), col("n").as("n_a")), "vid_a")
        .join(sizes.select(col("vid").as("vid_b"), col("n").as("n_b")), "vid_b")
        .withColumn("containment_ppm",
          expr("common_frames * 1000000 DIV least(n_a, n_b)"))
        .filter(col("containment_ppm") >= 500000L)
        .select(col("vid_a"), col("vid_b"), col("common_frames"),
          col("n_a"), col("n_b"), col("containment_ppm"))
    }
  )

  /** The oracle replays the generating pixel/sample formulas with lateral
    * `range()` grids — equal results prove the decode (PNG/WAV are
    * lossless, so decoded values ≡ generated values iff the codec plumbing
    * is right).
    */
  val oracleSql: Map[String, String] = Map(
    "m1_media_features" ->
      """SELECT d.doc_id,
        |  CAST(8 + d.doc_id % 17 AS INT) AS width,
        |  CAST(8 + d.doc_id % 13 AS INT) AS height,
        |  count(*) AS n_pixels,
        |  CAST(sum((d.doc_id + x.x) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((2*d.doc_id + y.y) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((3*x.x + 7*y.y) % 256) AS BIGINT) AS sum_b,
        |  CAST(sum((d.doc_id + x.x) % 256) AS DOUBLE) / count(*) AS mean_r
        |FROM documents d,
        |     unnest(range(0, 8 + d.doc_id % 17)) AS x(x),
        |     unnest(range(0, 8 + d.doc_id % 13)) AS y(y)
        |GROUP BY d.doc_id""".stripMargin,
    "m2_frame_sample" ->
      """SELECT d.doc_id, CAST(f.f AS INT) AS frame_idx, count(*) AS n_pixels,
        |  CAST(sum((d.doc_id + x.x + 11*f.f) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((2*d.doc_id + y.y + 23*f.f) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((3*x.x + 7*y.y + 31*f.f) % 256) AS BIGINT) AS sum_b
        |FROM documents d,
        |     unnest(range(0, 1 + d.doc_id % 4, 2)) AS f(f),
        |     unnest(range(0, 8 + d.doc_id % 17)) AS x(x),
        |     unnest(range(0, 8 + d.doc_id % 13)) AS y(y)
        |GROUP BY d.doc_id, f.f""".stripMargin,
    "m3_thumbnail" ->
      """WITH px AS (
        |  SELECT d.doc_id, 8 + d.doc_id % 17 AS w, 8 + d.doc_id % 13 AS h,
        |         x.x AS x, y.y AS y,
        |         (d.doc_id + x.x) % 256 AS r, (2*d.doc_id + y.y) % 256 AS g,
        |         (3*x.x + 7*y.y) % 256 AS b
        |  FROM documents d,
        |       unnest(range(0, 8 + d.doc_id % 17)) AS x(x),
        |       unnest(range(0, 8 + d.doc_id % 13)) AS y(y)
        |), cells AS (
        |  SELECT doc_id,
        |         w * 8 // greatest(w, h) AS new_w, h * 8 // greatest(w, h) AS new_h,
        |         x * (w * 8 // greatest(w, h)) // w AS tx,
        |         y * (h * 8 // greatest(w, h)) // h AS ty,
        |         sum(r) // count(*) AS cr, sum(g) // count(*) AS cg,
        |         sum(b) // count(*) AS cb
        |  FROM px GROUP BY 1, 2, 3, 4, 5
        |)
        |SELECT doc_id, CAST(new_w AS INT) AS new_w, CAST(new_h AS INT) AS new_h,
        |       CAST(sum(cr) AS BIGINT) AS t_sum_r, CAST(sum(cg) AS BIGINT) AS t_sum_g,
        |       CAST(sum(cb) AS BIGINT) AS t_sum_b
        |FROM cells GROUP BY 1, 2, 3""".stripMargin,
    "m4_audio_features" ->
      """SELECT d.doc_id,
        |  CAST(256 + (d.doc_id % 32) * 16 AS INT) AS n_samples,
        |  CAST(sum(abs((d.doc_id * 131 + i.i * 17) % 65536 - 32768)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs((d.doc_id * 131 + i.i * 17) % 65536 - 32768)) AS INT) AS max_abs,
        |  sqrt(CAST(sum(((d.doc_id * 131 + i.i * 17) % 65536 - 32768)
        |                * ((d.doc_id * 131 + i.i * 17) % 65536 - 32768)) AS DOUBLE)
        |       / count(*)) AS rms
        |FROM documents d, unnest(range(0, 256 + (d.doc_id % 32) * 16)) AS i(i)
        |GROUP BY d.doc_id""".stripMargin,
    // m5: every frame's channel sums from the generating formula, then
    // the same lag-window delta + per-pixel threshold.
    "m5_scene_cuts" ->
      """WITH fr AS (
        |  SELECT d.doc_id, CAST(f.f AS INT) AS frame_idx, count(*) AS n_pixels,
        |    CAST(sum((d.doc_id + x.x + 11*f.f) % 256) AS BIGINT) AS sum_r,
        |    CAST(sum((2*d.doc_id + y.y + 23*f.f) % 256) AS BIGINT) AS sum_g,
        |    CAST(sum((3*x.x + 7*y.y + 31*f.f) % 256) AS BIGINT) AS sum_b
        |  FROM documents d,
        |       unnest(range(0, 1 + d.doc_id % 4)) AS f(f),
        |       unnest(range(0, 8 + d.doc_id % 17)) AS x(x),
        |       unnest(range(0, 8 + d.doc_id % 13)) AS y(y)
        |  GROUP BY d.doc_id, f.f),
        |dl AS (
        |  SELECT doc_id, frame_idx, n_pixels,
        |    sum_r - lag(sum_r) OVER w AS dr,
        |    sum_g - lag(sum_g) OVER w AS dg,
        |    sum_b - lag(sum_b) OVER w AS db
        |  FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
        |SELECT doc_id, frame_idx, n_pixels, dr, dg, db,
        |  (abs(dr) + abs(dg) + abs(db)) > 65 * n_pixels AS is_cut
        |FROM dl WHERE dr IS NOT NULL""".stripMargin,
    // m6: the generating sample formula grouped into the same 64-sample
    // windows, abs-sum + peak + the quarter-scale silence test.
    "m6_audio_vad" ->
      """WITH s AS (
        |  SELECT d.doc_id, CAST(i.i // 64 AS INT) AS win_idx,
        |    abs((d.doc_id * 131 + i.i * 17) % 65536 - 32768) AS a
        |  FROM documents d,
        |       unnest(range(0, 256 + (d.doc_id % 32) * 16)) AS i(i))
        |SELECT doc_id, win_idx, CAST(count(*) AS INT) AS n,
        |  CAST(sum(a) AS BIGINT) AS sum_abs,
        |  CAST(max(a) AS INT) AS peak,
        |  CAST(sum(a) AS BIGINT) < 8192 * count(*) AS silent
        |FROM s GROUP BY doc_id, win_idx""".stripMargin,
    // m7: every aHash signature recomputed from the generating pixel
    // formulas — base block patterns, the posterize (vk=1) and
    // nearest-neighbor resize (vk=2) perturbations — as two BIGINT
    // halves (bit 63 would overflow a single signed shift), then
    // brute-force hamming over ALL pairs. Equality with the banded
    // Spark pass proves decode + perturb + hash + banding end to end.
    "m7_image_neardup" ->
      """WITH sh AS (SELECT max(doc_id) + 1 AS s FROM documents),
        |imgs AS (
        |  SELECT doc_id AS img_id, doc_id AS src, 8 + doc_id % 17 AS w,
        |    8 + doc_id % 13 AS h, 8 + doc_id % 17 AS pw, 8 + doc_id % 13 AS ph,
        |    0 AS vk
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM sh), doc_id, 8 + doc_id % 17,
        |    8 + doc_id % 13, 8 + doc_id % 17, 8 + doc_id % 13, 1
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT s FROM sh), doc_id, 8 + doc_id % 17,
        |    8 + doc_id % 13,
        |    greatest((8 + doc_id % 17) * 3 // 4, 8),
        |    greatest((8 + doc_id % 13) * 3 // 4, 8), 2
        |  FROM documents WHERE doc_id % 9 = 0),
        |coords AS (
        |  SELECT i.img_id, i.src, i.w, i.h, i.pw, i.ph, i.vk, x.x AS x, y.y AS y,
        |    CASE WHEN i.vk = 2 THEN x.x * i.w // i.pw ELSE x.x END AS sx,
        |    CASE WHEN i.vk = 2 THEN y.y * i.h // i.ph ELSE y.y END AS sy
        |  FROM imgs i, unnest(range(0, i.pw)) AS x(x), unnest(range(0, i.ph)) AS y(y)),
        |chan AS (
        |  SELECT img_id, pw, ph, x, y, vk,
        |    ((xor((src + 1) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761, ((src + 1) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761) >> 31) >> 20) & 1) * 118
        |      + 30 + (3 * sx + 7 * sy) % 23 AS r0,
        |    ((xor((src * 31 + 7) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761, ((src * 31 + 7) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761) >> 31) >> 20) & 1) * 60
        |      + 30 + (5 * sx + 11 * sy) % 19 AS g0,
        |    ((xor((src * 17 + 3) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761, ((src * 17 + 3) * ((sy * 8 // h) * 8 + sx * 8 // w + 17) * 2654435761) >> 31) >> 20) & 1) * 197
        |      + 30 + (7 * sx + 13 * sy) % 29 AS b0
        |  FROM coords),
        |lum AS (
        |  SELECT img_id, (y * 8 // ph) * 8 + x * 8 // pw AS cell,
        |    299 * (CASE WHEN vk = 1 THEN r0 // 4 * 4 ELSE r0 END)
        |    + 587 * (CASE WHEN vk = 1 THEN g0 // 4 * 4 ELSE g0 END)
        |    + 114 * (CASE WHEN vk = 1 THEN b0 // 4 * 4 ELSE b0 END) AS luma
        |  FROM chan),
        |cells AS (
        |  SELECT img_id, cell, CAST(sum(luma) // count(*) AS BIGINT) AS cv
        |  FROM lum GROUP BY 1, 2),
        |bits AS (
        |  SELECT img_id, cell,
        |    CASE WHEN 64 * cv > sum(cv) OVER (PARTITION BY img_id) THEN 1 ELSE 0 END AS bit
        |  FROM cells),
        |sig AS (
        |  SELECT img_id,
        |    CAST(sum(CASE WHEN bit = 1 AND cell < 32
        |      THEN (1::BIGINT << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN bit = 1 AND cell >= 32
        |      THEN (1::BIGINT << CAST(cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1)
        |SELECT a.img_id AS doc_a, b.img_id AS doc_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.img_id < b.img_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin,
    // m8: every envelope hash recomputed from the generating sample
    // formula — base block-amplitude signals, the resample-by-2 (vk=1)
    // and crop-16 (vk=2) index maps — then brute-force hamming over all
    // pairs, the m7 template at sample grain.
    "m8_audio_neardup" ->
      """WITH sh AS (SELECT max(doc_id) + 1 AS s FROM documents),
        |auds AS (
        |  SELECT doc_id AS aid, doc_id AS src, 256 + (doc_id % 32) * 16 AS n0,
        |    256 + (doc_id % 32) * 16 AS np, 0 AS vk
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM sh), doc_id, 256 + (doc_id % 32) * 16,
        |    (256 + (doc_id % 32) * 16 + 1) // 2, 1
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT s FROM sh), doc_id, 256 + (doc_id % 32) * 16,
        |    256 + (doc_id % 32) * 16 - 16, 2
        |  FROM documents WHERE doc_id % 9 = 0),
        |samp AS (
        |  SELECT a.aid, a.np, a.src, a.n0, i.i AS i,
        |    CASE WHEN a.vk = 1 THEN 2 * i.i
        |         WHEN a.vk = 2 THEN i.i + 16 ELSE i.i END AS si
        |  FROM auds a, unnest(range(0, a.np)) AS i(i)),
        |av AS (
        |  SELECT aid, np, i,
        |    abs(((si * 17) % 199 - 99) *
        |      (1 + 7 * ((xor((src * 29 + 11) * ((si * 64 // n0) + 17) * 2654435761,
        |               ((src * 29 + 11) * ((si * 64 // n0) + 17) * 2654435761) >> 31)
        |                 >> 20) & 1))) AS a
        |  FROM samp),
        |cells AS (
        |  SELECT aid, i * 64 // np AS cell,
        |    CAST(sum(a) // count(*) AS BIGINT) AS cv
        |  FROM av GROUP BY 1, 2),
        |bits AS (
        |  SELECT aid, cell,
        |    CASE WHEN 64 * cv > sum(cv) OVER (PARTITION BY aid) THEN 1 ELSE 0 END AS bit
        |  FROM cells),
        |sig AS (
        |  SELECT aid,
        |    CAST(sum(CASE WHEN bit = 1 AND cell < 32
        |      THEN (1::BIGINT << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN bit = 1 AND cell >= 32
        |      THEN (1::BIGINT << CAST(cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1)
        |SELECT a.aid AS doc_a, b.aid AS doc_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.aid < b.aid
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin,
    // m9: text pairs as exact Jaccard >= 0.8 (the d6 precedent —
    // LSH-verified pairs equal exact pairs at the threshold), image
    // pairs from the base-image pixel formulas (the m7 template minus
    // the variant arms), union → recursive reachability → min label,
    // plus per-modality degrees.
    "m9_crossmodal_clusters" ->
      s"""WITH tp AS (
         |  SELECT doc_a, doc_b FROM (${Dedup.jaccardOracle(0.8).replace("\n", "\n  ")})),
         |bimgs AS (
         |  SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
         |  FROM documents),
         |chan AS (
         |  SELECT i.doc_id, i.w, i.h, x.x AS x, y.y AS y,
         |    ((xor((i.doc_id + 1) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761, ((i.doc_id + 1) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761) >> 31) >> 20) & 1) * 118
         |      + 30 + (3 * x.x + 7 * y.y) % 23 AS r0,
         |    ((xor((i.doc_id * 31 + 7) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761, ((i.doc_id * 31 + 7) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761) >> 31) >> 20) & 1) * 60
         |      + 30 + (5 * x.x + 11 * y.y) % 19 AS g0,
         |    ((xor((i.doc_id * 17 + 3) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761, ((i.doc_id * 17 + 3) * ((y.y * 8 // i.h) * 8 + x.x * 8 // i.w + 17) * 2654435761) >> 31) >> 20) & 1) * 197
         |      + 30 + (7 * x.x + 13 * y.y) % 29 AS b0
         |  FROM bimgs i, unnest(range(0, i.w)) AS x(x), unnest(range(0, i.h)) AS y(y)),
         |cells AS (
         |  SELECT doc_id, (y * 8 // h) * 8 + x * 8 // w AS cell,
         |    CAST(sum(299 * r0 + 587 * g0 + 114 * b0) // count(*) AS BIGINT) AS cv
         |  FROM chan GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, cell,
         |    CASE WHEN 64 * cv > sum(cv) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
         |  FROM cells),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN bit = 1 AND cell < 32
         |      THEN (1::BIGINT << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN bit = 1 AND cell >= 32
         |      THEN (1::BIGINT << CAST(cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
         |  FROM bits GROUP BY 1),
         |ip AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM tp
         |  UNION SELECT doc_b, doc_a FROM tp
         |  UNION SELECT doc_a, doc_b FROM ip
         |  UNION SELECT doc_b, doc_a FROM ip),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r),
         |dt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT doc_a AS doc_id FROM tp UNION ALL SELECT doc_b FROM tp)
         |  GROUP BY 1),
         |di AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT doc_a AS doc_id FROM ip UNION ALL SELECT doc_b FROM ip)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster,
         |  coalesce(dt.n, 0) AS n_text_edges,
         |  coalesce(di.n, 0) AS n_image_edges
         |FROM documents d
         |LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
         |  ON d.doc_id = m.a
         |LEFT JOIN dt ON d.doc_id = dt.doc_id
         |LEFT JOIN di ON d.doc_id = di.doc_id""".stripMargin,
    // m10: per-frame signatures from the generating formulas (src =
    // doc*4 + f), variant frame-index maps (trim drops f=0, reverse
    // keeps the set), then the same set-containment algebra.
    "m10_video_neardup" ->
      """WITH sh AS (SELECT max(doc_id) + 1 AS s FROM documents),
        |vids AS (
        |  SELECT doc_id AS vid, doc_id AS src, 8 + doc_id % 17 AS w,
        |    8 + doc_id % 13 AS h, 0 AS fmin, 2 + doc_id % 3 AS fcnt
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT s FROM sh), doc_id, 8 + doc_id % 17,
        |    8 + doc_id % 13, 1, 2 + doc_id % 3
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT s FROM sh), doc_id, 8 + doc_id % 17,
        |    8 + doc_id % 13, 0, 2 + doc_id % 3
        |  FROM documents WHERE doc_id % 9 = 0),
        |fr AS (
        |  SELECT v.vid, v.src * 4 + f.f AS fsrc, v.w, v.h
        |  FROM vids v, unnest(range(v.fmin, v.fcnt)) AS f(f)),
        |chan AS (
        |  SELECT fr.vid, fr.fsrc, fr.w, fr.h, x.x AS x, y.y AS y,
        |    ((xor((fr.fsrc + 1) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761, ((fr.fsrc + 1) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761) >> 31) >> 20) & 1) * 118
        |      + 30 + (3 * x.x + 7 * y.y) % 23 AS r0,
        |    ((xor((fr.fsrc * 31 + 7) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761, ((fr.fsrc * 31 + 7) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761) >> 31) >> 20) & 1) * 60
        |      + 30 + (5 * x.x + 11 * y.y) % 19 AS g0,
        |    ((xor((fr.fsrc * 17 + 3) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761, ((fr.fsrc * 17 + 3) * ((y.y * 8 // fr.h) * 8 + x.x * 8 // fr.w + 17) * 2654435761) >> 31) >> 20) & 1) * 197
        |      + 30 + (7 * x.x + 13 * y.y) % 29 AS b0
        |  FROM fr, unnest(range(0, fr.w)) AS x(x), unnest(range(0, fr.h)) AS y(y)),
        |cells AS (
        |  SELECT vid, fsrc, (y * 8 // h) * 8 + x * 8 // w AS cell,
        |    CAST(sum(299 * r0 + 587 * g0 + 114 * b0) // count(*) AS BIGINT) AS cv
        |  FROM chan GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT vid, fsrc, cell,
        |    CASE WHEN 64 * cv > sum(cv) OVER (PARTITION BY vid, fsrc)
        |         THEN 1 ELSE 0 END AS bit
        |  FROM cells),
        |sig AS (
        |  SELECT DISTINCT vid,
        |    CAST(sum(CASE WHEN bit = 1 AND cell < 32
        |      THEN (1::BIGINT << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN bit = 1 AND cell >= 32
        |      THEN (1::BIGINT << CAST(cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY vid, fsrc),
        |sizes AS (SELECT vid, CAST(count(*) AS BIGINT) AS n FROM sig GROUP BY 1),
        |shared AS (
        |  SELECT a.vid AS vid_a, b.vid AS vid_b,
        |    CAST(count(*) AS BIGINT) AS common_frames
        |  FROM sig a JOIN sig b
        |    ON a.lo = b.lo AND a.hi = b.hi AND a.vid < b.vid
        |  GROUP BY 1, 2)
        |SELECT s.vid_a, s.vid_b, s.common_frames, x.n AS n_a, y.n AS n_b,
        |  s.common_frames * 1000000 // least(x.n, y.n) AS containment_ppm
        |FROM shared s JOIN sizes x ON x.vid = s.vid_a
        |              JOIN sizes y ON y.vid = s.vid_b
        |WHERE s.common_frames * 1000000 // least(x.n, y.n) >= 500000""".stripMargin
  )
}
