package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A multimodal asset row: opaque binary payload + typed metadata. The
  * engine's data model for images/audio/video at 100 TB: content stays an
  * opaque `binary` column (never parsed by Catalyst), metadata is columnar
  * and filterable, heavy per-asset work runs batched per partition.
  */
final case class MediaRecord(media_id: Long, mime: String, content: Array[Byte])

final case class ImageMeta(media_id: Long, mime: String, width: Int, height: Int,
                           n_bytes: Long, sha_like: Long)

final case class FrameSample(media_id: Long, frame_index: Int, feature: Array[Float])

final case class ImageHash(media_id: Long, dhash: Long)

final case class AudioMeta(media_id: Long, sample_rate: Int, channels: Int,
                           bits_per_sample: Int, n_samples: Long,
                           duration_us: Long, decoded: Boolean)

final case class AudioFeatures(media_id: Long, n_samples: Long, peak: Int,
                               zero_crossings: Long, rms: Double, mean: Double)

/** Multimodal column plumbing (north-star). Image *decode* is real for the
  * container formats the JDK ships readers for (PNG/JPEG/GIF/BMP via
  * `javax.imageio` — header-only dimension reads, full decode for resize,
  * feature extraction, and frame iteration); payloads that are not a
  * recognized image fall back to a deterministic stand-in derived from the
  * payload hash, so a mixed corpus flows through total and the text-backed
  * test corpus stays oracle-checkable. Feature extraction over decodable
  * payloads is REAL pixel math (channel means + luminance histogram over
  * the decoded raster, oracle-replayed on the [[syntheticMedia]] corpus);
  * only the non-image fallback remains a hash-seeded placeholder for the
  * vision-model session this container cannot run.
  *
  * Scale notes: per-asset work uses `mapPartitions` so any native decoder
  * would be initialized once per partition (not per record) and fed a batch
  * iterator — the JVM analog of a batched (Arrow/Pandas-style) UDF. Binary
  * payloads never enter a shuffle: derived metadata/features are small
  * columns; joins back to content go through the `media_id` key.
  */
object Multimodal {

  /** Deterministic 64-bit hash of a byte payload (FNV-1a). */
  private def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Wrap a text table as fake media assets (test/fixture path: the container
    * has no real image corpus; payload = UTF-8 bytes of the text).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"), lit("image/png").as("mime"),
      encode(col(textCol), "UTF-8").as("content")).as[MediaRecord]
  }

  /** Fallback decode for payloads that are not a recognized image container:
    * deterministic fake dimensions derived from the payload hash (keeps the
    * text-backed fixture corpus oracle-checkable and the pipeline total —
    * no asset is dropped for being undecodable).
    */
  private def decodeImageStub(payload: Array[Byte]): (Int, Int) = {
    val h = fnv1a(payload)
    (640 + (math.floorMod(h, 1280L)).toInt, 360 + (math.floorMod(h >>> 32, 720L)).toInt)
  }

  /** Magic-byte sniff for the containers `javax.imageio` ships readers for.
    * Cheap rejection first: running ImageIO's SPI scan on every non-image
    * payload (the common case in a mixed corpus) would dominate the batch.
    */
  private def looksLikeImage(p: Array[Byte]): Boolean =
    (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
    (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff) ||
    (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
    (p.length >= 2 && p(0) == 'B' && p(1) == 'M')

  /** Full-decode admission guard: the magic-byte sniff is deliberately
    * permissive (any payload starting 'B','M' "looks like" a BMP — e.g. a
    * text document beginning "BM25 ..."), and a full `ImageIO.read` on such
    * a payload can interpret following bytes as a ~2-billion-pixel header
    * and DIE on raster allocation with an OutOfMemoryError that `NonFatal`
    * does not catch — killing the task, not the record. So every full
    * decode is admitted only after a HEADER-ONLY dimension read (no
    * allocation) confirms a sane raster. 64M pixels ≈ a 256 MB ARGB buffer,
    * far above any fixture and far below the OOM line.
    */
  private def decodableRaster(payload: Array[Byte], maxPixels: Long = 64L << 20): Boolean =
    decodeDims(payload).exists { case (w, h) =>
      w > 0 && h > 0 && w.toLong * h <= maxPixels
    }

  /** Real header-only dimension read via `javax.imageio`: positions a reader
    * on the stream and asks for width/height WITHOUT decoding pixel data —
    * O(header bytes) per asset, the right cost for a metadata pass over
    * multi-MB payloads. Returns None for non-image or corrupt payloads.
    */
  private def decodeDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (!looksLikeImage(payload)) None
    else {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis, true); Some((r.getWidth(0), r.getHeight(0))) }
          catch { case scala.util.control.NonFatal(_) => None } // truncated/corrupt
          finally r.dispose()
        }
      } finally iis.close()
    }
  }

  /** Extract image metadata, batched per partition. Real `javax.imageio`
    * dimension reads for recognized containers (header-only — pixel data is
    * never decoded), deterministic stub for everything else. Decoder "init"
    * happens once per partition — the production shape for native codecs.
    */
  def imageMeta(media: Dataset[MediaRecord]): Dataset[ImageMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // per-partition decoder init: no disk-backed stream cache (pure
      // in-memory payloads), the spot where a JNI codec handle would live
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        val (w, h) = decodeDims(m.content).getOrElse(decodeImageStub(m.content))
        ImageMeta(m.media_id, m.mime, w, h, m.content.length.toLong, fnv1a(m.content))
      }
    }
  }

  /** Real pixel feature of a decoded raster: `[mean_r, mean_g, mean_b,
    * luminance-histogram fractions × (dim − 3)]`. Channel means are in
    * 0..255; luminance is the BT.601 integer form `(299r + 587g + 114b) /
    * 1000`, binned as `lum · bins / 256`; fractions are of the pixel count.
    * Exact integer sums + one double division + a float cast — bit-stable
    * on any JVM, and replayable by any engine that can do arithmetic (the
    * DuckDB oracle regenerates the [[syntheticMedia]] grid and reproduces
    * these numbers without an image codec).
    */
  private def pixelFeature(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val bins = dim - 3
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Long](bins)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) {
        val p = img.getRGB(x, y)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
        sr += r; sg += g; sb += b
        val lum = (r * 299 + g * 587 + b * 114) / 1000
        hist(lum * bins / 256) += 1
        y += 1
      }
      x += 1
    }
    val n = (w.toLong * h).toDouble
    (Array(sr / n, sg / n, sb / n) ++ hist.map(_ / n)).map(_.toFloat)
  }

  /** Deterministic hash-seeded pseudo-embedding — the fallback for payloads
    * no JDK reader decodes; stands in for the vision-model session (per
    * partition init, batched inference) this container cannot run.
    */
  private def hashFeature(content: Array[Byte], dim: Int, salt: Long = 0L): Array[Float] = {
    val rng = new scala.util.Random(fnv1a(content) ^ salt)
    Array.fill(dim)(rng.nextFloat())
  }

  /** Feature extraction, batched per partition. REAL pixel math for any
    * payload `javax.imageio` decodes ([[pixelFeature]]: channel means +
    * luminance histogram); deterministic hash fallback for everything else,
    * so a mixed corpus flows through total. `dim` must exceed 3 (three
    * channel means + at least one histogram bin).
    */
  def features(media: Dataset[MediaRecord], dim: Int): Dataset[FrameSample] = {
    require(dim > 3, "dim must exceed 3: three channel means + >=1 histogram bin")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        val real: Option[Array[Float]] =
          if (!decodableRaster(m.content)) None
          else try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content)))
              .map(pixelFeature(_, dim))
          } catch { case scala.util.control.NonFatal(_) => None }
        FrameSample(m.media_id, 0, real.getOrElse(hashFeature(m.content, dim)))
      }
    }
  }

  /** 64-bit difference hash (dHash) of a decoded raster: BT.601 integer
    * luminance pooled onto a 9×8 grid (block (i,j) covers pixels with
    * `floor(x·9/w) = i`, `floor(y·8/h) = j`), then bit (j·8+i) is set iff
    * block (i+1,j)'s mean luminance exceeds block (i,j)'s. The mean
    * comparison is done by CROSS-MULTIPLYING integer block sums against
    * block pixel counts — no division, so the hash is bit-identical on any
    * JVM and replayable by any engine with integer arithmetic (the DuckDB
    * oracle reproduces it from the [[syntheticMedia]] pixel formula).
    * Perceptual, not cryptographic: near-identical images (resize, small
    * edits, recompression) land within a few bits — Hamming distance is
    * the image near-dup metric, the visual analog of SimHash on text.
    */
  private def dHashBits(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](72) // 9 cols x 8 rows, index gx*8 + gy
    val cnts = new Array[Long](72)
    var x = 0
    while (x < w) {
      val gx = x * 9 / w
      var y = 0
      while (y < h) {
        val gy = y * 8 / h
        val p = img.getRGB(x, y)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
        sums(gx * 8 + gy) += (r * 299 + g * 587 + b * 114) / 1000
        cnts(gx * 8 + gy) += 1
        y += 1
      }
      x += 1
    }
    var bits = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (sums((i + 1) * 8 + j) * cnts(i * 8 + j) > sums(i * 8 + j) * cnts((i + 1) * 8 + j))
          bits |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    bits
  }

  /** Perceptual hash per asset, batched per partition: real [[dHashBits]]
    * for any payload the JDK decodes with a raster of at least 9×8 (smaller
    * rasters would leave pooling blocks empty); deterministic payload-hash
    * fallback otherwise, so a mixed corpus flows through total. The output
    * is 8 bytes per asset — the image-dedup index at 100 TB is built from
    * THIS column (exact-match groupBy for identical images, SimHash-style
    * pigeonhole banding for Hamming-near pairs), never from payload bytes.
    */
  def dHashes(media: Dataset[MediaRecord]): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        val real: Option[Long] =
          if (!decodableRaster(m.content)) None
          else try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content)))
              .filter(img => img.getWidth >= 9 && img.getHeight >= 8)
              .map(dHashBits)
          } catch { case scala.util.control.NonFatal(_) => None }
        ImageHash(m.media_id, real.getOrElse(fnv1a(m.content)))
      }
    }
  }

  /** Sample every `everyN`-th frame: the explode/generator shape for
    * frame-level processing. For payloads with a JDK reader the frame count
    * is REAL (`reader.getNumImages` — 1 for stills, the actual frame count
    * for animated GIF) and each sampled frame's feature is the real
    * [[pixelFeature]] of that decoded frame. Non-image payloads keep the
    * deterministic stand-in (frame count = payload length / 1024 + 1,
    * hash-seeded features) so mixed corpora flow through total.
    */
  def frameSamples(media: Dataset[MediaRecord], everyN: Int, dim: Int): Dataset[FrameSample] = {
    require(dim > 3, "dim must exceed 3: three channel means + >=1 histogram bin")
    // everyN = 0 would throw from `by 0` INSIDE an executor task (the
    // fallback path sits outside the try), and a negative stride silently
    // emits zero frames for every decodable asset — refuse both up front
    require(everyN > 0, s"everyN must be a positive frame stride: $everyN")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.flatMap { m =>
        val real: Option[Seq[FrameSample]] =
          if (!decodableRaster(m.content)) None
          else try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(m.content))
            try {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) None
              else {
                val r = readers.next()
                try {
                  r.setInput(iis, false) // seekable: getNumImages needs traversal
                  val frames = r.getNumImages(true)
                  val idxs = 0 until frames by everyN
                  // re-check the raster cap PER SAMPLED FRAME (header-only
                  // reads): decodableRaster only vetted image index 0, and
                  // a multi-frame GIF can declare a huge raster on a LATER
                  // frame — r.read(fi) on it dies with the unrecoverable
                  // OutOfMemoryError the admission guard exists to prevent
                  if (idxs.exists(fi =>
                      r.getWidth(fi).toLong * r.getHeight(fi) > (64L << 20)))
                    None
                  else Some(idxs.map(fi =>
                    FrameSample(m.media_id, fi, pixelFeature(r.read(fi), dim))))
                } catch { case scala.util.control.NonFatal(_) => None }
                finally r.dispose()
              }
            } finally iis.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        real.getOrElse {
          val frames = (m.content.length / 1024 + 1)
          (0 until frames by everyN).map(fi =>
            FrameSample(m.media_id, fi, hashFeature(m.content, dim, fi.toLong)))
        }
      }
    }
  }

  /** Deterministic synthetic image corpus: pixel (x, y) of id `i` has
    * channels given by a closed-form mod-256 integer formula, rendered into
    * a REAL PNG. Because PNG is lossless, the decoded raster equals the
    * formula — so an engine with no image codec (the DuckDB oracle) can
    * replay any decoded-pixel computation by regenerating the grid
    * arithmetically. This is the fixture that turns decode + feature
    * extraction into an oracle-checkable path instead of a trust-me stub.
    */
  def syntheticMedia(df: DataFrame, idCol: String, w: Int, h: Int): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    // fan out the id frame: downstream mapPartitions (PNG encode here,
    // ImageIO decode in the consumers) inherit this partitioning, and a
    // single-file id source would otherwise run the whole codec path
    // one-core; the fan-out ships 8-byte ids. No-op at scale.
    graft.operators.Par.fanOut(df.select(col(idCol).cast("long").as("__mid")), Seq("__mid"))
      .as[Long].mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false)
      ids.map { id =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var x = 0
        while (x < w) {
          var y = 0
          while (y < h) {
            val r = math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt
            val g = math.floorMod(id * 17 + x * 11 + y * 5, 256L).toInt
            val b = math.floorMod(id * 29 + x * 3 + y * 19, 256L).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            y += 1
          }
          x += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id, "image/png", bos.toByteArray)
      }
    }
  }

  /** Real resize for decodable payloads: `javax.imageio` decode →
    * `Graphics2D` bilinear scale to (w, h) → PNG re-encode (so the output
    * mime is always `image/png` on that path). Non-image payloads keep the
    * deterministic fake (`ceil(w*h/64)` bytes from the original hash) so a
    * mixed corpus flows through without drops. The Dataset shape (binary in
    * → binary out, per-partition batching, one decoder init per partition)
    * is the production plumbing; a libvips/JNI deployment swaps only the
    * per-record body.
    */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // per-partition resize-library init (ImageIO here; libvips handle in a
      // native deployment)
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        val real: Option[MediaRecord] =
          if (!decodableRaster(m.content)) None
          else try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content)))
              .map { img =>
                val out = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = out.createGraphics()
                try {
                  g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g.drawImage(img, 0, 0, w, h, null)
                } finally g.dispose()
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(out, "png", bos)
                MediaRecord(m.media_id, "image/png", bos.toByteArray)
              }
          } catch { case scala.util.control.NonFatal(_) => None }
        real.getOrElse {
          val seed = fnv1a(m.content)
          val n = math.max(1, w * h / 64)
          val out = new Array[Byte](n)
          var x = seed
          var i = 0
          while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; out(i) = (x >>> 56).toByte; i += 1 }
          MediaRecord(m.media_id, m.mime, out)
        }
      }
    }
  }

  /** Byte-level metadata that needs no decode: pure Catalyst, oracle-checkable. */
  def byteStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      length(encode(col(textCol), "UTF-8")).as("n_bytes"),
      length(col(textCol)).as("n_chars"))

  // ───────────────────────── audio ─────────────────────────

  /** Deterministic synthetic audio corpus: id `i`'s signal is a mod-65536
    * integer sawtooth — `s[t] = ((s0 + step·t) mod 2^16) − 2^15` with
    * `s0`/`step` derived from the FNV-1a hash of `"aud|" + id` — written
    * into a REAL RIFF/WAVE container (PCM16 mono little-endian). Because
    * PCM is lossless, the decoded stream equals the formula, so an engine
    * with no audio codec (the DuckDB oracle) replays any decoded-sample
    * computation arithmetically — the same fixture move as
    * [[syntheticMedia]]'s PNGs.
    */
  def syntheticAudio(df: DataFrame, idCol: String, sampleRate: Int = 8000,
                     nSamples: Int = 800): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    // NO id-frame fan-out here, unlike syntheticMedia: PCM synthesis and
    // javax.sound parsing are ~µs/row (measured: adding the exchange COST
    // 0.5 s on the audio queries while the PNG codec path gained 2×+), so
    // the extra exchange only pays where the per-row codec is heavy. At
    // scale the id source has ≥ cores splits and both shapes coincide.
    df.select(col(idCol).cast("long")).as[Long].map { id =>
      val seed = fnv1a(("aud|" + id).getBytes("UTF-8"))
      val s0 = (seed & 0xffffL).toInt
      val step = 1 + ((seed >>> 16) % 32749L).toInt
      val data = new Array[Byte](nSamples * 2)
      var t = 0
      while (t < nSamples) {
        val s = ((s0 + step.toLong * t) % 65536L).toInt - 32768
        data(2 * t) = (s & 0xff).toByte
        data(2 * t + 1) = ((s >> 8) & 0xff).toByte
        t += 1
      }
      MediaRecord(id, "audio/wav", wavBytes(data, sampleRate))
    }
  }

  /** Minimal canonical RIFF/WAVE wrapper around PCM16 mono data. */
  private def wavBytes(data: Array[Byte], sampleRate: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                       // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)     // byte rate
      .putShort(2).putShort(16)                      // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(data.length)
      .put(data)
    bb.array()
  }

  /** REAL audio container parse via the JDK's shipped readers
    * (`javax.sound.sampled` handles WAV/AIFF/AU headless — no audio device
    * involved): sample rate, channels, bit depth, frame count, exact
    * integer duration. Unrecognized payloads return a zeroed row with
    * `decoded = false` so a mixed corpus flows through total — the honest
    * analog of the image path's fallback, minus any fake numbers.
    */
  def audioMeta(media: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        try {
          val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(m.content))
          val f = aff.getFormat
          val sr = f.getSampleRate.toInt
          // a recognized-but-unsized container (e.g. AU's streaming
          // 0xffffffff data-size header) reports NOT_SPECIFIED (-1):
          // clamp to 0 so the row never carries a negative sample count
          // or duration — sr/channels/bits stay real, decoded stays true
          val n = math.max(0L, aff.getFrameLength.toLong)
          AudioMeta(m.media_id, sr, f.getChannels, f.getSampleSizeInBits, n,
            if (sr > 0) n * 1000000L / sr else 0L, decoded = true)
        } catch {
          case scala.util.control.NonFatal(_) =>
            AudioMeta(m.media_id, 0, 0, 0, 0L, 0L, decoded = false)
        }
      }
    }
  }

  /** Real signal statistics over the DECODED PCM stream (not the generator
    * formula): the payload goes through `AudioSystem.getAudioInputStream`,
    * frames are read back as signed 16-bit little-endian samples, and the
    * features are integer-exact accumulations — peak `max |s|`, sign-change
    * count, RMS and mean from exact long sums (one IEEE division + sqrt at
    * the end, so any engine replays them bit-identically). Non-PCM16-mono
    * payloads are skipped (flatMap) — feature extraction is a decode-only
    * path by contract.
    *
    * Scale shape: per-partition batched decode like every media op here
    * (one reader init per partition); payload bytes never shuffle — the
    * output is six small columns keyed by `media_id`.
    */
  def audioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.flatMap { m =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.content))
          try {
            val f = in.getFormat
            val pcm16Mono =
              f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian
            if (!pcm16Mono) None
            else {
              val bytes = in.readAllBytes()
              val n = bytes.length / 2
              var sum = 0L; var sumSq = 0L; var peak = 0; var zc = 0L
              var prevNonNeg = true
              var t = 0
              while (t < n) {
                val s = (((bytes(2 * t + 1) & 0xff) << 8) | (bytes(2 * t) & 0xff)).toShort.toInt
                sum += s
                sumSq += s.toLong * s
                val a = math.abs(s)
                if (a > peak) peak = a
                val nonNeg = s >= 0
                if (t > 0 && nonNeg != prevNonNeg) zc += 1
                prevNonNeg = nonNeg
                t += 1
              }
              if (n == 0) None
              else Some(AudioFeatures(m.media_id, n.toLong, peak, zc,
                math.sqrt(sumSq.toDouble / n), sum.toDouble / n))
            }
          } finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }
}
