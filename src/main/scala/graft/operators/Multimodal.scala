package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media as
  * opaque `binary` columns + typed metadata, with decode / feature
  * extraction / frame sampling as batched per-partition transforms.
  *
  * Mirrors the reference's "treat documents as rows of a corpus table"
  * data model (Big_data_Analytics `dataset_generator.py`) extended to
  * binary payloads. As of round 5 the codec layer is REAL, pure-JVM:
  *   - images: PNG, encoded/decoded via `javax.imageio` (JDK built-in)
  *   - audio:  WAV (RIFF header + 16-bit PCM), hand-built/hand-parsed
  *   - video:  RAWV, a minimal raw-RGB frame container (4-byte magic +
  *             width/height/fps/nframes header + w*h*3-byte frames) —
  *             the container the frame-sampling contract parses for real
  *
  * Scale notes: media bytes ride the same partition as their metadata
  * (no shuffle to decode); `mapPartitions` amortizes per-batch decoder
  * init exactly like a Pandas-UDF batch would in PySpark; decoded
  * features are fixed-width arrays so downstream ops stay columnar.
  * `ImageIO.setUseCache(false)` keeps PNG decode purely in-memory (the
  * default spills a temp file per call — a syscall per row at 100 TB).
  */
object Multimodal {

  case class MediaRecord(media_id: Long, kind: String, bytes: Array[Byte],
                         width: Int, height: Int, duration_ms: Int)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, features: Array[Float])
  case class Frame(media_id: Long, frame_idx: Int, offset_ms: Int,
                   frame_bytes: Array[Byte])
  case class DecodedMedia(media_id: Long, kind: String, width: Int,
                          height: Int, duration_ms: Int, n_frames: Int,
                          n_bytes: Long, features: Array[Float])

  /** Pure-JVM codecs. Encoders generate deterministic fixtures keyed by
    * id (the "camera"); decoders recover structure from BYTES ALONE —
    * the q61 oracle cross-checks decoded metadata against the generation
    * formulas, so a decode bug cannot hide behind its encoder.
    */
  object MediaCodec {
    ImageIO.setUseCache(false) // in-memory PNG io; no temp-file per call

    /** splitmix64-style finalizer: deterministic pixel/sample source.
      * Package-visible: the q73 fixture derives its pattern params and
      * pixel noise from the same family the oracle emulates. */
    private[operators] def mix(s: Long): Long = {
      var z = s + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    // ---- fixture geometry formulas (mirrored literally in the q61
    //      DuckDB oracle — change BOTH or the gate goes red) ----
    def imageWidth(id: Long): Int  = ((id % 8) * 16 + 32).toInt
    def imageHeight(id: Long): Int = ((id % 8) * 9 + 18).toInt
    def wavSamples(id: Long): Int  = ((id % 60) * 80 + 800).toInt
    val WavRate = 8000 // Hz; samples are multiples of 8 ⇒ exact ms
    def videoWidth(id: Long): Int  = ((id % 4) * 8 + 16).toInt
    def videoHeight(id: Long): Int = ((id % 4) * 6 + 12).toInt
    def videoFrames(id: Long): Int = ((id % 30) + 2).toInt
    val VideoFps = 10

    /** PNG via ImageIO: a real compressed image format, decoded by a
      * real decoder. Pixels are a deterministic hash pattern. */
    def pngFor(id: Long): Array[Byte] = {
      val w = imageWidth(id); val h = imageHeight(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (mix(id * 1000003L + y.toLong * w + x) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Canonical 44-byte-header WAV: RIFF/WAVE + fmt + data, 16-bit
      * mono PCM little-endian. */
    def wavFor(id: Long): Array[Byte] = {
      val n = wavSamples(id)
      val dataSize = n * 2
      val bb = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1)            // PCM
      bb.putShort(1)            // mono
      bb.putInt(WavRate)
      bb.putInt(WavRate * 2)    // byte rate
      bb.putShort(2)            // block align
      bb.putShort(16)           // bits/sample
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
      var i = 0
      while (i < n) { bb.putShort((mix(id * 7919L + i) % 32768).toShort); i += 1 }
      bb.array
    }

    /** RAWV container: "RAWV" magic, big-endian int32 width/height/fps/
      * nframes, then nframes raw RGB frames of w*h*3 bytes. */
    def rawvFor(id: Long): Array[Byte] = {
      val w = videoWidth(id); val h = videoHeight(id); val nf = videoFrames(id)
      val frameSz = w * h * 3
      val bb = ByteBuffer.allocate(20 + nf * frameSz) // big-endian default
      bb.put("RAWV".getBytes("US-ASCII"))
      bb.putInt(w); bb.putInt(h); bb.putInt(VideoFps); bb.putInt(nf)
      var f = 0
      while (f < nf) {
        var i = 0
        while (i < frameSz) {
          bb.put((mix(id * 31L + f.toLong * 131071L + i) & 0xff).toByte)
          i += 1
        }
        f += 1
      }
      bb.array
    }

    // ---- q73 fixture: perceptual near-dup image family ----
    // Same-base images share ONE resolution-normalized pattern (a
    // triangle wave over a*u + b*v + c with u = x·512/w, v = y·512/h —
    // the argument spans the same range at every resolution, so the
    // POOLED 9×8 grid is dimension-invariant up to integer
    // discretization) plus per-pixel ±3 argument noise per image id.
    // Same base ⇒ dHash hamming ~0-4 across ANY dims; different base ⇒
    // uncorrelated (~32). All integer arithmetic on the unsigned mix
    // value, mirrored digit-for-digit in the q73 DuckDB oracle.
    def nearDupImageBase(id: Long): Long = (id / 3) % 21

    private def triWave(arg: Long): Int = {
      val m = (arg % 512).toInt
      if (m < 256) m else 511 - m
    }

    /** Grayscale value of pixel (x, y) of image `id` — the q73 camera
      * formula (public: the spec's brute-force twin reads it too). */
    def nearDupPixel(id: Long, w: Int, h: Int, x: Int, y: Int): Int = {
      val base = nearDupImageBase(id)
      val a = 1 + java.lang.Long.remainderUnsigned(mix(base * 3 + 1), 5)
      val b = 1 + java.lang.Long.remainderUnsigned(mix(base * 3 + 2), 5)
      val c = java.lang.Long.remainderUnsigned(mix(base * 3 + 3), 512)
      val noise = java.lang.Long.remainderUnsigned(
        mix(id * 1000003L + y.toLong * w + x), 4)
      triWave(a * (x.toLong * 512 / w) + b * (y.toLong * 512 / h) + c + noise)
    }

    /** Real PNG bytes for the near-dup family (same encoder as
      * [[pngFor]]; gray pixels r=g=b). */
    def pngNearFor(id: Long): Array[Byte] = {
      val w = imageWidth(id); val h = imageHeight(id)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = nearDupPixel(id, w, h, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 64-bit difference hash (dHash) of a decoded image: average-pool
      * the grayscale raster onto a 9×8 grid (pixel→block map
      * gx = x·9/w, gy = y·8/h — no empty blocks for w ≥ 9, h ≥ 8),
      * bit(gy·8+gx) = 1 iff mean(gx+1, gy) > mean(gx, gy), compared by
      * integer CROSS-MULTIPLICATION (s₂·n₁ > s₁·n₂) so the bits are
      * exact and the DuckDB oracle reproduces them without floats. */
    def dHash64(img: BufferedImage): Long = {
      val w = img.getWidth; val h = img.getHeight
      require(w >= 9 && h >= 8, s"dHash needs >= 9x8 pixels, got ${w}x$h")
      val sums = Array.ofDim[Long](9, 8)
      val counts = Array.ofDim[Long](9, 8)
      var y = 0
      while (y < h) {
        val gy = y * 8 / h
        var x = 0
        while (x < w) {
          val gx = x * 9 / w
          sums(gx)(gy) += (img.getRGB(x, y) & 0xff).toLong
          counts(gx)(gy) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          if (sums(gx + 1)(gy) * counts(gx)(gy) >
              sums(gx)(gy) * counts(gx + 1)(gy))
            hash |= 1L << (gy * 8 + gx)
          gx += 1
        }
        gy += 1
      }
      hash
    }

    // ---- q77 fixture: perceptual near-dup video family ----
    // Same-base videos share ONE resolution-normalized SPATIAL pattern
    // (the q73 triangle family over u = x·512/w, v = y·512/h) rendered
    // into every frame with per-(id, frame, pixel) ±3 argument noise.
    // Frame-AVERAGING cancels the noise, so the pooled hash is
    // invariant to resolution AND frame count — the two axes the RAWV
    // geometry varies (id mod 4 drives w/h, id mod 30 drives nframes).
    def nearDupVideoBase(id: Long): Long = (id / 3) % 13

    /** Grayscale value of pixel (x, y) of frame `f` of video `id` —
      * the q77 camera formula (public: spec twin + oracle replay). */
    def nearDupVideoPixel(id: Long, w: Int, h: Int, f: Int,
                          x: Int, y: Int): Int = {
      val base = nearDupVideoBase(id)
      val a = 1 + java.lang.Long.remainderUnsigned(mix(base * 7 + 1), 5)
      val b = 1 + java.lang.Long.remainderUnsigned(mix(base * 7 + 2), 5)
      val c = java.lang.Long.remainderUnsigned(mix(base * 7 + 3), 512)
      val noise = java.lang.Long.remainderUnsigned(
        mix(id * 1000003L + f.toLong * 131071L + y.toLong * w + x), 4)
      triWave(a * (x.toLong * 512 / w) + b * (y.toLong * 512 / h) + c + noise) / 2
    }

    /** Real RAWV bytes for the near-dup family (same container as
      * [[rawvFor]]; gray frames r=g=b). */
    def rawvNearFor(id: Long): Array[Byte] = {
      val w = videoWidth(id); val h = videoHeight(id); val nf = videoFrames(id)
      val bb = ByteBuffer.allocate(20 + nf * w * h * 3)
      bb.put("RAWV".getBytes("US-ASCII"))
      bb.putInt(w); bb.putInt(h); bb.putInt(VideoFps); bb.putInt(nf)
      var f = 0
      while (f < nf) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = nearDupVideoPixel(id, w, h, f, x, y).toByte
            bb.put(v); bb.put(v); bb.put(v)
            x += 1
          }
          y += 1
        }
        f += 1
      }
      bb.array
    }

    /** 64-bit perceptual hash of a RAWV payload: accumulate the RED
      * channel of EVERY frame onto the 9×8 spatial grid (block count =
      * pixels-in-block × nframes), then [[dHash64]]'s adjacent-block
      * cross-multiplied comparisons. Division-free — the frame average
      * lives implicitly in the counts — so the DuckDB oracle replays it
      * in pure integer SQL, and the hash is invariant to resolution and
      * frame count by the same pooling argument as dHash. */
    def vHash64(bytes: Array[Byte]): Long = {
      val (w, h, _, nf) = rawvHeader(bytes)
      require(w >= 9 && h >= 8, s"vHash needs >= 9x8 pixels, got ${w}x$h")
      require(nf >= 1, "vHash needs >= 1 frame")
      val sums = Array.ofDim[Long](9, 8)
      val counts = Array.ofDim[Long](9, 8)
      val frameSz = w * h * 3
      var f = 0
      while (f < nf) {
        val off = 20 + f * frameSz
        var y = 0
        while (y < h) {
          val gy = y * 8 / h
          var x = 0
          while (x < w) {
            val gx = x * 9 / w
            sums(gx)(gy) += bytes(off + (y * w + x) * 3) & 0xff
            counts(gx)(gy) += 1
            x += 1
          }
          y += 1
        }
        f += 1
      }
      var hash = 0L
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          if (sums(gx + 1)(gy) * counts(gx)(gy) >
              sums(gx)(gy) * counts(gx + 1)(gy))
            hash |= 1L << (gy * 8 + gx)
          gx += 1
        }
        gy += 1
      }
      hash
    }

    // ---- q76 fixture: perceptual near-dup audio family ----
    // Same-base clips share ONE duration-normalized waveform (a sum of
    // two triangle waves over u = t·512/n — the argument spans the same
    // range at every clip length, so the POOLED 65-block profile is
    // duration-invariant up to integer discretization) plus per-sample
    // ±3 argument noise per clip id. Same base ⇒ fingerprint hamming
    // ~0-4 across ANY durations; different base ⇒ different
    // frequency/phase params ⇒ uncorrelated differential bits. All
    // integer arithmetic on the unsigned mix value, mirrored
    // digit-for-digit in the q76 DuckDB oracle.
    def nearDupAudioBase(id: Long): Long = (id / 3) % 17

    /** PCM sample t of clip `id` with n total samples — the q76
      * microphone formula (public: the spec's brute-force twin and the
      * oracle both replay it). */
    def nearDupSample(id: Long, n: Int, t: Int): Int = {
      val base = nearDupAudioBase(id)
      // frequencies 2..9: measured across the whole sf0.01 family, this
      // range puts every same-base pair at fingerprint hamming ≤ 2 and
      // every cross-base pair at ≥ 5 — slower waves (1..5) produce
      // low-entropy differential bits whose long runs let unrelated
      // bases collide under small phase offsets
      val a = 2 + java.lang.Long.remainderUnsigned(mix(base * 5 + 1), 8)
      val b = 2 + java.lang.Long.remainderUnsigned(mix(base * 5 + 2), 8)
      val c = java.lang.Long.remainderUnsigned(mix(base * 5 + 3), 512)
      val d = java.lang.Long.remainderUnsigned(mix(base * 5 + 4), 512)
      val noise = java.lang.Long.remainderUnsigned(mix(id * 1000003L + t), 4)
      val u = t.toLong * 512 / n
      val v = triWave(a * u + c + noise) + triWave(b * u + d)
      (v - 255) * 64
    }

    /** Real WAV bytes for the near-dup family (same RIFF writer as
      * [[wavFor]]). */
    def wavNearFor(id: Long): Array[Byte] = {
      val n = wavSamples(id)
      val dataSize = n * 2
      val bb = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(WavRate); bb.putInt(WavRate * 2)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
      var t = 0
      while (t < n) { bb.putShort(nearDupSample(id, n, t).toShort); t += 1 }
      bb.array
    }

    /** 64-bit temporal difference fingerprint ("chromaprint-lite") of a
      * PCM array: average-pool the RAW samples onto 65 time blocks
      * (t→block t·65/n — no empty blocks for n ≥ 65), bit i = 1 iff
      * mean(block i+1) > mean(block i), compared by integer
      * CROSS-MULTIPLICATION (counts are positive, so s₂·n₁ > s₁·n₂
      * orders the means exactly even for signed sums) — [[dHash64]]'s
      * differential-coding idea applied along time, duration-invariant
      * the same way dHash is resolution-invariant, and exactly
      * replayable in SQL without floats. */
    def audioFingerprint64(samples: Array[Int]): Long = {
      val n = samples.length
      require(n >= 65, s"fingerprint needs >= 65 samples, got $n")
      val sums = new Array[Long](65)
      val counts = new Array[Long](65)
      var t = 0
      while (t < n) {
        val blk = (t.toLong * 65 / n).toInt
        sums(blk) += samples(t)
        counts(blk) += 1
        t += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (sums(i + 1) * counts(i) > sums(i) * counts(i + 1))
          hash |= 1L << i
        i += 1
      }
      hash
    }

    case class Decoded(width: Int, height: Int, durationMs: Int,
                       nFrames: Int, features: Array[Float])

    private def pad(vals: Array[Float], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      System.arraycopy(vals, 0, out, 0, math.min(vals.length, dim))
      out
    }

    def decode(kind: String, bytes: Array[Byte], dim: Int): Decoded =
      kind match {
        case "image" => decodePng(bytes, dim)
        case "audio" => decodeWav(bytes, dim)
        case "video" => decodeRawv(bytes, dim)
        case other   => throw new IllegalArgumentException(s"unknown media kind: $other")
      }

    /** Real PNG decode: dimensions + per-band means + gray stddev from
      * the actual pixel raster. */
    def decodePng(bytes: Array[Byte], dim: Int): Decoded = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, "ImageIO could not decode image bytes")
      val w = img.getWidth; val h = img.getHeight
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sGray = 0.0; var sGray2 = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sr += r; sg += g; sb += b
          val gray = (r + g + b) / 3.0
          sGray += gray; sGray2 += gray * gray
          x += 1
        }
        y += 1
      }
      val n = (w * h).toDouble
      val varGray = math.max(0.0, sGray2 / n - (sGray / n) * (sGray / n))
      Decoded(w, h, 0, 1, pad(Array(
        (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat,
        (sb / n / 255.0).toFloat, (math.sqrt(varGray) / 255.0).toFloat,
        w.toFloat, h.toFloat, (w.toDouble / h).toFloat), dim))
    }

    /** Real RIFF chunk walk: finds fmt/data wherever they sit (not a
      * fixed-44-byte-offset assumption), derives duration from the data
      * size and block align, features from the PCM samples. */
    /** Validated RIFF/WAVE header walk, shared by [[decodeWav]] and
      * [[pcmSamples]]: (rate, channels, blockAlign, dataOff, dataSize).
      * Walks until BOTH chunks are found — RIFF permits data before
      * fmt, so stopping at the first data chunk would reject legal
      * files. Skips clamp to the buffer end; a truncated chunk reaches
      * the named require, not an anonymous ByteBuffer throw. */
    private[operators] def wavHeader(bytes: Array[Byte]): (Int, Int, Int, Int, Int) = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF file")
      bb.getInt // riff size
      require(fourcc() == "WAVE", "not a WAVE file")
      var rate = 0; var blockAlign = 0; var channels = 0
      var dataOff = -1; var dataSize = 0
      def skip(body: Int): Unit =
        bb.position(math.min(bb.limit(), bb.position() + body + (body & 1)))
      while (bb.remaining() >= 8 && (dataOff < 0 || rate == 0)) {
        val id = fourcc(); val sz = bb.getInt
        id match {
          case "fmt " =>
            val p = bb.position()
            bb.getShort // audio format
            channels = bb.getShort.toInt
            rate = bb.getInt
            bb.getInt   // byte rate
            blockAlign = bb.getShort.toInt
            bb.position(math.min(bb.limit(), p + sz + (sz & 1))) // pad to even
          case "data" =>
            dataOff = bb.position(); dataSize = sz
            skip(sz) // keep walking for fmt
          case _ =>
            skip(sz)
        }
      }
      require(rate > 0 && blockAlign > 0 && dataOff >= 0, "missing fmt/data chunk")
      // a header claiming more payload than the file carries must fail
      // with a named error, not an anonymous IndexOutOfBounds mid-read
      require(dataOff.toLong + dataSize <= bytes.length,
        s"WAV data chunk overruns payload: off=$dataOff size=$dataSize " +
          s"file=${bytes.length}")
      (rate, channels, blockAlign, dataOff, dataSize)
    }

    /** The raw 16-bit PCM samples of a WAV payload — the audio
      * fingerprint's input (decode-from-bytes-alone, like every codec
      * here). */
    def pcmSamples(bytes: Array[Byte]): Array[Int] = {
      val (_, _, blockAlign, dataOff, dataSize) = wavHeader(bytes)
      val n = dataSize / blockAlign
      val view = ByteBuffer.wrap(bytes, dataOff, dataSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      Array.tabulate(n)(i => view.getShort(dataOff + i * blockAlign).toInt)
    }

    def decodeWav(bytes: Array[Byte], dim: Int): Decoded = {
      val (rate, channels, blockAlign, dataOff, dataSize) = wavHeader(bytes)
      val nSamples = dataSize / blockAlign
      val durationMs = (nSamples.toLong * 1000L / rate).toInt
      var sum = 0.0; var sum2 = 0.0; var zc = 0; var prev = 0; var maxAbs = 0
      val sampleView = ByteBuffer.wrap(bytes, dataOff, dataSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < nSamples) {
        val s = sampleView.getShort(dataOff + i * blockAlign).toInt
        sum += s; sum2 += s.toDouble * s
        if (i > 0 && ((s >= 0) != (prev >= 0))) zc += 1
        if (math.abs(s) > maxAbs) maxAbs = math.abs(s)
        prev = s
        i += 1
      }
      val n = math.max(1, nSamples).toDouble
      Decoded(0, 0, durationMs, 0, pad(Array(
        (math.sqrt(sum2 / n) / 32768.0).toFloat, (sum / n / 32768.0).toFloat,
        (zc / n).toFloat, (maxAbs / 32768.0).toFloat,
        rate.toFloat, channels.toFloat), dim))
    }

    /** Validated RAWV header parse, shared by [[decodeRawv]] and
      * [[Multimodal.sampleFrames]]: checks magic, field sanity, and that
      * the payload actually holds the claimed frames (a header lying
      * about nframes must fail loudly, not zero-pad fabricated frames). */
    private[operators] def rawvHeader(bytes: Array[Byte]): (Int, Int, Int, Int) = {
      require(bytes.length >= 20, "RAWV payload shorter than its header")
      val bb = ByteBuffer.wrap(bytes) // big-endian
      val magic = new Array[Byte](4); bb.get(magic)
      require(new String(magic, "US-ASCII") == "RAWV", "not a RAWV container")
      val w = bb.getInt; val h = bb.getInt; val fps = bb.getInt; val nf = bb.getInt
      require(fps > 0 && w > 0 && h > 0 && nf >= 0, "corrupt RAWV header")
      require(bytes.length >= 20 + nf.toLong * (w.toLong * h * 3),
        "truncated RAWV payload")
      (w, h, fps, nf)
    }

    /** RAWV header parse + first-frame pixel stats. */
    def decodeRawv(bytes: Array[Byte], dim: Int): Decoded = {
      val (w, h, fps, nf) = rawvHeader(bytes)
      val frameSz = w * h * 3
      val durationMs = (nf.toLong * 1000L / fps).toInt
      var sum = 0.0; var sum2 = 0.0
      var i = 20
      val end = if (nf > 0) 20 + frameSz else 20 // zero-frame: no raster to read
      while (i < end) {
        val v = (bytes(i) & 0xff).toDouble
        sum += v; sum2 += v * v
        i += 1
      }
      val n = math.max(1, frameSz).toDouble
      val vr = math.max(0.0, sum2 / n - (sum / n) * (sum / n))
      Decoded(w, h, durationMs, nf, pad(Array(
        (sum / n / 255.0).toFloat, (math.sqrt(vr) / 255.0).toFloat,
        w.toFloat, h.toFloat, fps.toFloat, nf.toFloat), dim))
    }
  }

  /** Build a media table from the documents corpus: text bytes stand in
    * for encoded media (deterministic fake payloads with real binary
    * schema). Metadata-contract half — see [[realMedia]] for payloads a
    * decoder can actually parse. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        pmod(col("doc_id"), lit(3)).cast("int") + 1).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
      (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"),
      (pmod(col("doc_id"), lit(60)) * 1000).cast("int").as("duration_ms"))

  /** Real media table: deterministic PNG/WAV/RAWV payloads keyed by
    * doc_id (the container ships no external corpora, so the fixtures
    * ARE the camera). Encoding happens per-partition, distributed — the
    * driver never sees a payload. */
  def realMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Encoding is CPU-bound per row, and the id column is tiny — so a
    // small input (one parquet split at test SF) must be spread across
    // the full parallelism BEFORE the codec work, or the whole encode
    // runs on one core (measured: q61 median 3.5s → 0.62s at
    // sf0.1/local[32]). Tables.spread is a no-op when the scan is
    // already wide; the bytes produced AFTER this point never shuffle
    // (decode/feature-extract ride these partitions).
    val ids = graft.sources.Tables.spread(
      docs.select(col("doc_id")), col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val bytes = kind match {
          case "image" => MediaCodec.pngFor(id)
          case "audio" => MediaCodec.wavFor(id)
          case _       => MediaCodec.rawvFor(id)
        }
        (id, kind, bytes)
      }
    }.toDF("media_id", "kind", "bytes")
  }

  /** Decode a media table: one decoder pass per partition, bytes never
    * shuffled, metadata + fixed-width features out. */
  /** [[MediaCodec.decode]] with per-row context on failure: a decode
    * error inside a Spark task otherwise surfaces as an anonymous
    * SparkException with no hint WHICH payload was bad — or that the
    * caller composed a decode path with [[mediaFromDocuments]], the
    * metadata-only fixture half whose text bytes are not decodable
    * (real payloads come from [[realMedia]]). */
  private def decodeCtx(id: Long, kind: String, bytes: Array[Byte],
                        dim: Int): MediaCodec.Decoded =
    try MediaCodec.decode(kind, bytes, dim)
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"media_id=$id kind=$kind: undecodable payload " +
            s"(${e.getMessage}); decode paths need realMedia-encoded " +
            "bytes — mediaFromDocuments is the metadata-only fixture half",
          e)
    }

  def decodeMedia(media: DataFrame, dim: Int = 8): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "bytes").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) =>
          val d = decodeCtx(id, kind, bytes, dim)
          DecodedMedia(id, kind, d.width, d.height, d.durationMs, d.nFrames,
            bytes.length.toLong, d.features)
        }
      }
  }

  /** q45 — media metadata audit: the typed-metadata half of the
    * multimodal contract (kind routing, dimensions, payload size), all
    * derivable portably so the DuckDB oracle covers it. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaFromDocuments(graft.sources.Tables(s, dir, "documents"))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("duration_ms"), length(col("bytes")).cast("long").as("n_bytes"))
      .orderBy(col("media_id"))

  /** q61 — real decode audit: encode real PNG/WAV/RAWV payloads, decode
    * them FROM BYTES ALONE, and emit the recovered structure. The DuckDB
    * oracle recomputes the expected metadata from the fixture formulas —
    * if the RIFF walk, the PNG reader, or the RAWV header parse
    * mis-reads a field, the hash gate goes red. */
  def mediaDecode(s: SparkSession, dir: String): DataFrame =
    decodeMedia(realMedia(graft.sources.Tables(s, dir, "documents"))).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("duration_ms"), col("n_frames"))
      .orderBy(col("media_id"))

  /** Decode + feature-extract, batched per partition: real per-kind
    * content statistics (pixel means, PCM RMS/zero-crossings, frame
    * stats) plus a payload CRC. */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "bytes").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) =>
          val d = decodeCtx(id, kind, bytes, dim)
          val crc = new java.util.zip.CRC32(); crc.update(bytes)
          MediaFeatures(id, kind, bytes.length.toLong, crc.getValue, d.features)
        }
      }
  }

  /** REAL frame sampling: parse the RAWV header, slice actual frame
    * payloads every `everyMs` milliseconds. Emits (media_id, frame_idx,
    * offset_ms, frame_bytes) with frame_bytes the exact w*h*3 raster.
    * (Default `everyMs` dropped 10000 → 1000 with the real-codec
    * fixtures, whose clips are seconds, not minutes.) */
  def sampleFrames(media: DataFrame, everyMs: Int = 1000): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "bytes").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val (w, h, fps, nf) =
          try MediaCodec.rawvHeader(bytes)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalArgumentException(
                s"media_id=$id: undecodable video payload " +
                  s"(${e.getMessage}); frame sampling needs " +
                  "realMedia-encoded RAWV bytes", e)
          }
        val frameSz = w * h * 3
        val stepFrames = math.max(1, everyMs.toLong * fps / 1000).toInt
        Iterator.range(0, nf, stepFrames).map { f =>
          val off = 20 + f * frameSz
          Frame(id, f, (f.toLong * 1000L / fps).toInt,
            java.util.Arrays.copyOfRange(bytes, off, off + frameSz))
        }
      }.toDF()
  }

  /** Portable polynomial content checksum: fold (acc·257 + byte) mod
    * 1e9+7 over the payload in order. Chosen over CRC32 because the
    * DuckDB oracle must RECOMPUTE it from the fixture formulas inside
    * SQL (list_reduce over the regenerated byte list) — CRC32's
    * bit-reflected table walk has no DuckDB builtin. Order-sensitive,
    * so a frame slice that is right-sized but wrongly-offset still
    * changes the sum. */
  def polyChecksum(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 257L + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    acc
  }

  /** q63 — frame-sampling audit: [[sampleFrames]] over the real RAWV
    * payloads, each sampled frame reduced to (frame_idx, offset_ms,
    * n_bytes, [[polyChecksum]]). The DuckDB oracle regenerates the
    * expected frame bytes from the fixture formulas (splitmix64 emulated
    * in HUGEINT arithmetic) and recomputes the same checksum — so a
    * mis-parsed header, wrong frame stride, or off-by-one slice offset
    * all go red at the driver gate, not just in local specs. */
  def frameSampleAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = realMedia(graft.sources.Tables(s, dir, "documents"))
      .filter(col("kind") === "video")
    sampleFrames(media).as[Frame]
      .map(f => (f.media_id, f.frame_idx, f.offset_ms,
        f.frame_bytes.length.toLong, polyChecksum(f.frame_bytes)))
      .toDF("media_id", "frame_idx", "offset_ms", "n_bytes", "checksum")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** (media_id, dhash) for every q73-family image id in `dir` — the
    * perceptual image INDEX projection, factored out so the pair query
    * (q73), the incremental classifier's image tier (q75) and the
    * stored-index path all share ONE hash definition. Encode + decode +
    * hash run in one per-partition pass: the payload is born and dies
    * inside the task; only (id, 8-byte hash) ever moves. */
  def imageDHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageDHashesFor(s, graft.sources.Tables.spread(
      graft.sources.Tables(s, dir, "documents")
        .select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(3)) === 0),
      col("doc_id")).as[Long])
  }

  /** [[imageDHashes]] over ANY id set (a real deployment maps its media
    * catalog here and swaps [[MediaCodec.pngNearFor]] for a fetch). */
  def imageDHashesFor(s: SparkSession,
                      ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import s.implicits._
    ids.mapPartitions { it =>
      // the camera, then a hash of the bytes alone
      it.map(id => (id, pngDHash(id, MediaCodec.pngNearFor(id))))
    }.toDF("media_id", "dhash")
  }

  /** (doc_id, `out`) from a (doc_id, bytes) media frame: `hash`
    * reduces each payload inside its task, so bytes never leave it and
    * only the 8-byte hash moves — the per-micro-batch decode of the
    * image, audio and video ingest classifiers ([[DedupIndex.classify]]
    * over one perceptual side); `hash` gets the row's id to name it in
    * errors. */
  def payloadHashes(media: DataFrame, out: String)(
      hash: (Long, Array[Byte]) => Long): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, hash(id, bytes)) })
      .toDF("doc_id", out)
  }

  /** The image hash of [[imageDHashesFor]] and [[payloadHashes]]:
    * decode the PNG payload and [[MediaCodec.dHash64]] it. Ingest
    * payloads come from outside the program, so an undecodable one
    * fails naming its row. */
  def pngDHash(id: Long, bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, s"id=$id: undecodable PNG payload")
    MediaCodec.dHash64(img)
  }

  /** q73 — PERCEPTUAL image near-dup pairs: dedup extended to the
    * image modality. Each image id's real PNG payload (the q73 fixture
    * family, [[MediaCodec.pngNearFor]]) is DECODED FROM BYTES ALONE,
    * reduced to a 64-bit difference hash ([[MediaCodec.dHash64]]:
    * 9×8 average-pooled grid, adjacent-block comparisons — robust to
    * resolution changes and small pixel edits, the property
    * content-hash dedup lacks for images), banded 8×8 bits, and pairs
    * with Hamming distance ≤ `maxHamming` are emitted.
    *
    * Scale shape: hashing is one decoder pass per partition (bytes
    * never shuffle — only the 8-byte hash does); the candidate join is
    * band-keyed, never all-pairs; and for maxHamming ≤ 7 the 8-band
    * split is EXACT by pigeonhole (two hashes differing in ≤ 7 bits
    * must agree on one of 8 disjoint bytes), so the banding is a pure
    * optimization with zero recall trade — the spec proves equality
    * with the brute-force O(n²) scan. The oracle replays the whole
    * path from the fixture formulas (splitmix in HUGEINT, triangle
    * pattern, integer cross-multiplied pooled comparisons) without
    * decoding, exactly like q61/q63/q64. */
  def imageNearDupPairs(s: SparkSession, dir: String,
                        maxHamming: Int = 6): DataFrame = {
    val hashes = Caches.track(imageDHashes(s, dir))
    val banded = hashes.select(col("media_id"), col("dhash"),
        explode(Dedup.sketchBandStructs(col("dhash"), 64, 8)).as("b"))
      .select(col("media_id"), col("dhash"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("img_a"), col("b.media_id").as("img_b"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("img_a"), col("img_b"))
  }

  /** (media_id, dhash) perceptual video hashes for every q77-family
    * video id in `dir` (the video modality slot doc_id % 3 = 2) —
    * encode + decode + hash in one per-partition pass, RAWV payloads
    * never shuffle. */
  def videoHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoHashesFor(s, graft.sources.Tables.spread(
      graft.sources.Tables(s, dir, "documents")
        .select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(3)) === 2),
      col("doc_id")).as[Long])
  }

  /** [[videoHashes]] over ANY id set (the q79 split-before-decode
    * entry). */
  def videoHashesFor(s: SparkSession,
                     ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import s.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val bytes = MediaCodec.rawvNearFor(id) // the camera
        (id, MediaCodec.vHash64(bytes)) // bytes alone
      }
    }.toDF("media_id", "dhash")
  }

  /** q77 — PERCEPTUAL video near-dup pairs, completing the modality
    * trio (q73 images, q76 audio): each video's RAWV payload is decoded
    * from bytes alone, every frame accumulated onto the 9×8 spatial
    * grid ([[MediaCodec.vHash64]] — frame-averaging cancels per-frame
    * noise, so the hash is invariant to BOTH resolution and frame
    * count), banded 8×8 bits like q73 (spatial-pattern bits, so the
    * contiguous banding's collision rate is dHash-like — soak-gated
    * against the analytic bound), pairs at Hamming ≤ `maxHamming`.
    * Scale shape and exactness argument are q73's verbatim. */
  def videoNearDupPairs(s: SparkSession, dir: String,
                        maxHamming: Int = 6): DataFrame = {
    val hashes = Caches.track(videoHashes(s, dir))
    val banded = hashes.select(col("media_id"), col("dhash"),
        explode(Dedup.sketchBandStructs(col("dhash"), 64, 8)).as("b"))
      .select(col("media_id"), col("dhash"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("vid_a"), col("b.media_id").as("vid_b"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("vid_a"), col("vid_b"))
  }

  /** (media_id, afp) perceptual audio fingerprints for every
    * q76-family clip id in `dir` (the audio modality slot doc_id % 3 =
    * 1, matching [[mediaFromDocuments]]'s kind assignment) — encode +
    * decode + fingerprint in one per-partition pass, WAV bytes never
    * shuffle. */
  def audioFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioFingerprintsFor(s, graft.sources.Tables.spread(
      graft.sources.Tables(s, dir, "documents")
        .select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(3)) === 1),
      col("doc_id")).as[Long])
  }

  /** [[audioFingerprints]] over ANY id set — lets callers (q79) filter
    * ids BEFORE the decode pass instead of fingerprinting everything
    * and filtering after. */
  def audioFingerprintsFor(s: SparkSession,
                           ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import s.implicits._
    ids.mapPartitions { it =>
      it.map { id =>
        val bytes = MediaCodec.wavNearFor(id) // the microphone
        (id, MediaCodec.audioFingerprint64(
          MediaCodec.pcmSamples(bytes))) // bytes alone
      }
    }.toDF("media_id", "afp")
  }

  /** q76 — PERCEPTUAL audio near-dup pairs: the q73 shape applied to
    * the audio modality. Each clip's real WAV payload
    * ([[MediaCodec.wavNearFor]]) is decoded from bytes alone
    * ([[MediaCodec.pcmSamples]]), reduced to the 64-bit temporal
    * difference fingerprint ([[MediaCodec.audioFingerprint64]] —
    * robust to re-sampling/duration changes the way dHash is robust to
    * resizes), banded 8×8 bits, and pairs with Hamming distance ≤
    * `maxHamming` are emitted.
    *
    * Scale shape = q73's verbatim: per-partition decode (only the
    * 8-byte fingerprint moves), band-keyed candidate join (never
    * all-pairs), and for maxHamming ≤ 7 the 8-band split is EXACT by
    * pigeonhole — the spec proves equality with the brute-force O(n²)
    * scan. The oracle replays the whole path from the fixture formulas
    * in integer SQL. */
  def audioNearDupPairs(s: SparkSession, dir: String,
                        maxHamming: Int = 4): DataFrame = {
    val fps = Caches.track(audioFingerprints(s, dir))
    // stride-interleaved banding (Dedup.interleavedBandStructs): the
    // fingerprint's differential bits come in runs, and contiguous
    // byte bands would collide ~5.7× the uniform rate (soak-measured);
    // interleaving restores it with the identical exactness argument
    val banded = fps.select(col("media_id"), col("afp"),
        explode(Dedup.interleavedBandStructs(col("afp"))).as("b"))
      .select(col("media_id"), col("afp"),
        col("b.band").as("band"), col("b.key").as("key"))
    banded.as("a").join(banded.as("b"), Seq("band", "key"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("clip_a"), col("b.media_id").as("clip_b"),
        bit_count(col("a.afp").bitwiseXOR(col("b.afp")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("clip_a"), col("clip_b"))
  }

  /** q64 — audio feature audit: [[extractFeatures]] over the real WAV
    * payloads, emitting the PCM statistics (RMS, mean amplitude,
    * zero-crossing rate, peak). All four are float-cast values of
    * EXACT-integer-derived doubles (sums of ints < 2^53 are exact in
    * IEEE double regardless of order), so the oracle reproduces them
    * bit-for-bit by regenerating the samples and applying the same
    * divisions + CAST AS FLOAT. */
  def audioFeatureAudit(s: SparkSession, dir: String): DataFrame = {
    val media = realMedia(graft.sources.Tables(s, dir, "documents"))
      .filter(col("kind") === "audio")
    extractFeatures(media).toDF()
      .select(col("media_id"), col("n_bytes"),
        element_at(col("features"), 1).as("rms"),
        element_at(col("features"), 2).as("mean_amp"),
        element_at(col("features"), 3).as("zc_rate"),
        element_at(col("features"), 4).as("peak"))
      .orderBy(col("media_id"))
  }

  /** Resize metadata transform (pure column math — a real resize would
    * live in the mapPartitions decoder; the metadata contract is what
    * downstream joins key on). */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("width"), col("height")).cast("double"))
    media
      .withColumn("out_width", ceil(col("width") * scale).cast("int"))
      .withColumn("out_height", ceil(col("height") * scale).cast("int"))
  }
}
