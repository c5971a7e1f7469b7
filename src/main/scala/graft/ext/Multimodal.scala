package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) travel as opaque
  * `binary` columns with typed metadata alongside. The Spark-side shape —
  * schema, batch iteration, partition-parallel decode — is real; the codec
  * itself is a clearly-marked deterministic STUB because no media libraries
  * ship in this environment. Swapping `fakeDecode` for a real decoder (e.g.
  * a JNI JPEG reader) changes no plan shape: decode remains a narrow
  * per-partition map, no shuffle, parallel over file splits at any scale.
  */
object Multimodal {

  /** Decoded-media feature record (what a real image decode would yield). */
  case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      checksum: Long)

  /** PROCESS-GLOBAL imageio configuration, applied once per JVM the first
    * time any codec task touches it (lazy val ⇒ one volatile check after
    * initialization). Disabling the temp-file cache is deliberate for the
    * whole executor JVM — heap streams beat scratch files for small media
    * payloads, executors may have no scratch dir, and a FileCache
    * ImageInputStream leaks one temp file per payload until JVM exit.
    * Scope caveat: this also affects any OTHER imageio user in the same
    * JVM; re-enable per call site with an explicit MemoryCache/FileCache
    * stream if that ever matters.
    */
  private lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** The ONE rolling checksum every stub codec path uses (decode, frame
    * sampling, resize) — the DuckDB oracles mirror this byte-for-byte, so
    * it must never fork per call site.
    */
  def checksum(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = (acc * 31 + (bytes(i) & 0xff)) % 2147483647L; i += 1 }
    acc
  }

  /** STUB decoder: deterministic pseudo-features from the payload bytes.
    * A real implementation would parse the container header; this derives
    * "dimensions" from a rolling checksum so tests are reproducible.
    */
  def fakeDecode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val acc = checksum(bytes)
    MediaFeatures(
      doc_id = id,
      n_bytes = bytes.length.toLong,
      width = (acc % 1920).toInt + 1,
      height = ((acc / 1920) % 1080).toInt + 1,
      channels = (acc % 3).toInt + 1,
      checksum = acc)
  }

  /** Attach a binary "media" column (UTF-8 payload stands in for real
    * bytes) — the ingest-side plumbing of a multimodal table.
    */
  def withBinaryPayload(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("media"))

  /** Partition-parallel decode: the Scala analog of a batched Pandas-UDF
    * pipeline — one decoder instantiation per partition, streaming over
    * rows, typed output. No shuffle; width scales with input splits.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder setup would go here (codec handles, buffers)
        rows.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  /** Decoded REAL image record ([[decodeImages]]). `ok=false` rows carry
    * -1 features: bytes that no installed reader recognizes (the decode
    * analog of PERMISSIVE-mode parse nulls — corrupt media must not kill
    * a 100 TB job).
    */
  case class ImageFeatures(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      pixel_checksum: Long,
      ok: Boolean)

  /** Rolling checksum over the RGB raster, row-major — bit-identical to a
    * per-pixel `getRGB(x, y)` loop but via ONE bulk raster grab (per-pixel
    * getRGB does a color-model conversion per call; the bulk form converts
    * the scanline batch at once, ~an order of magnitude faster on large
    * images — the difference matters when this map runs over 100 TB).
    */
  private def rgbChecksum(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var acc = 0L
    var i = 0
    while (i < px.length) {
      acc = (acc * 31 + (px(i) & 0xffffff)) % 2147483647L
      i += 1
    }
    acc
  }

  /** REAL image decode via `javax.imageio` (public JDK API — PNG/JPEG/GIF/
    * BMP readers ship in every JRE): parses actual container bytes into
    * dimensions, channel count, and a deterministic pixel checksum
    * (rolling hash over the RGB raster, same modulus as [[checksum]]).
    * Identical plan shape to the [[decodeFeatures]] stub — narrow
    * per-partition map, decoder state per partition, no shuffle, width
    * scales with input splits — so swapping stub→real changes no plan.
    * Feed it from `spark.read.format("binaryFile")` for on-disk media.
    */
  def decodeImages(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoCache // once-per-JVM decoder setup (see the lazy val)
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img == null) ImageFeatures(id, bytes.length.toLong, -1, -1, -1, -1L, ok = false)
            else
              ImageFeatures(id, bytes.length.toLong, img.getWidth, img.getHeight,
                img.getColorModel.getNumComponents, rgbChecksum(img), ok = true)
          } catch { case scala.util.control.NonFatal(_) =>
            // imageio throws RuntimeExceptions (IllegalArgument, CMM,
            // NegativeArraySize, AIOOBE) on malformed containers, not just
            // IOException — a corrupt payload must never kill the task.
            ImageFeatures(id, bytes.length.toLong, -1, -1, -1, -1L, ok = false)
          }
        }
      }
  }

  /** REAL image resize: decode → `Graphics2D.drawImage` bilinear rescale →
    * re-encode PNG. Same bytes-to-bytes per-partition signature as the
    * [[resize]] stub (no shuffle; a real thumbnail pipeline at scale is
    * exactly this map over binaryFile splits). Unrecognized payloads pass
    * through as empty thumbnails rather than failing the partition.
    */
  def resizeImages(spark: SparkSession, media: DataFrame,
      targetW: Int, targetH: Int): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoCache // once-per-JVM decoder setup (see the lazy val)
        rows.map { case (id, bytes) =>
          val src = try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
          } catch { case scala.util.control.NonFatal(_) => None }
          val out = src.map { img =>
            val dst = new java.awt.image.BufferedImage(targetW, targetH,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
            g.dispose()
            val buf = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(dst, "png", buf)
            buf.toByteArray
          }.getOrElse(Array.empty[Byte])
          (id, out)
        }
      }
      .toDF("doc_id", "thumb")
  }

  /** One sampled "frame" of a media payload (video frame-sampling shape). */
  case class Frame(doc_id: Long, frame_ix: Int, offset: Long, n_bytes: Int,
      checksum: Long)

  /** Frame sampling: emit every `stride`-th fixed-size chunk of the
    * payload — the plan shape of video frame extraction (one row in, many
    * rows out, still a narrow per-partition flatMap; a real codec would
    * seek keyframes instead of fixed offsets). Output rows carry offsets
    * so downstream ops can re-fetch regions lazily.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 64, stride: Int = 4): Dataset[Frame] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val frames = bytes.grouped(frameBytes).zipWithIndex
        frames.collect { case (chunk, ix) if ix % stride == 0 =>
          Frame(id, ix, ix.toLong * frameBytes, chunk.length, checksum(chunk))
        }
      }
  }

  /** One REAL decoded video frame ([[decodeVideoFrames]]). A payload no
    * installed reader recognizes (or that breaks mid-decode) yields a
    * single `ok=false` row with -1 features — same triage contract as
    * [[ImageFeatures]]: corrupt media surfaces as data, never task death.
    */
  case class VideoFrame(doc_id: Long, frame_ix: Int, width: Int, height: Int,
      pixel_checksum: Long, ok: Boolean)

  /** REAL multi-frame container decode via `javax.imageio` (public JDK
    * API): the JDK ships no MP4/H.264 codec, but its GIF reader decodes
    * *animated* GIFs — a real multi-frame container with per-frame rasters
    * — which makes the video frame-extraction path executable end-to-end
    * with zero non-public dependencies. One row per sampled frame
    * (`stride` mirrors the keyframe-sampling knob of [[sampleFrames]]),
    * carrying true dimensions plus the same rolling RGB checksum as
    * [[decodeImages]], so frame content is pixel-exact testable. Plan
    * shape identical to every codec here: narrow per-partition flatMap
    * (one reader per payload, disposed after), no shuffle, width scales
    * with input splits. Note GIF stores animation deltas: frames after
    * the first may be sub-rectangles — rows report the STORED raster
    * (deterministic), not a composited canvas; compositing is a
    * downstream concern exactly as pixel-format conversion is for images.
    * A real MP4 codec would slot into this same signature unchanged.
    */
  def decodeVideoFrames(spark: SparkSession, media: DataFrame,
      stride: Int = 1): Dataset[VideoFrame] = {
    // caller bug, not corrupt media: fail loudly, outside the per-row net
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        imageIoNoCache // once-per-JVM (was per-row here — a global toggle)
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext)
              Seq(VideoFrame(id, -1, -1, -1, -1L, ok = false))
            else {
              val reader = readers.next()
              try {
                // seekForwardOnly=false so getNumImages(allowSearch) may scan
                reader.setInput(iis, false, true)
                val n = reader.getNumImages(true)
                if (n <= 0) Seq(VideoFrame(id, -1, -1, -1, -1L, ok = false))
                else (0 until n by stride).map { i =>
                  val img = reader.read(i)
                  VideoFrame(id, i, img.getWidth, img.getHeight,
                    rgbChecksum(img), ok = true)
                }
              } finally reader.dispose()
            }
          } finally iis.close()
        } catch { case scala.util.control.NonFatal(_) =>
          // imageio GIF parsing throws RuntimeExceptions on malformed
          // frame tables, not just IOException — degrade to one triage row
          Seq(VideoFrame(id, -1, -1, -1, -1L, ok = false))
        }
      }
  }

  /** One analysis window of an audio-like payload (hop < win ⇒ overlap). */
  case class AudioWindow(doc_id: Long, win_ix: Int, n_samples: Int, energy: Long)

  /** Windowed energy over the payload's "samples" (bytes stand in for PCM
    * samples): per overlapping window, Σ sample² — the audio
    * feature-extraction / VAD-precursor shape. Exact integer arithmetic
    * (byte < 256 ⇒ window energy < 32·2¹⁶, overflow-free), one narrow
    * per-partition flatMap, no shuffle; a real codec would decode PCM
    * frames first and change no plan shape.
    */
  def audioWindows(spark: SparkSession, media: DataFrame,
      win: Int = 32, hop: Int = 16): Dataset[AudioWindow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val n = bytes.length
        val last = if (n <= win) 0 else (n - win + hop - 1) / hop
        (0 to last).map { ix =>
          val start = ix * hop
          val end = math.min(start + win, n)
          var energy = 0L
          var i = start
          while (i < end) {
            val s = (bytes(i) & 0xff).toLong; energy += s * s; i += 1
          }
          AudioWindow(id, ix, end - start, energy)
        }
      }
  }

  /** Decoded REAL audio record ([[decodeAudio]]). `ok=false` rows carry -1
    * features: payloads no installed reader parses (corrupt media must not
    * kill the job — same contract as [[ImageFeatures]]).
    */
  case class AudioFeatures(
      doc_id: Long,
      n_bytes: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      sample_checksum: Long,
      ok: Boolean)

  /** Decode signed 16-bit little-endian PCM bytes to samples. WAV PCM is
    * int16 LE in the wild default; the codec rejects other widths rather
    * than guessing (ok=false), keeping the checksum contract exact.
    */
  private def pcm16le(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff))
      i += 1
    }
    out
  }

  /** REAL audio decode via `javax.sound.sampled` (public JDK API — the WAV/
    * AIFF/AU readers ship in every JRE): parses actual container bytes into
    * sample rate / channels / bit depth / frame count plus a deterministic
    * checksum over the decoded int16 samples (same rolling modulus as
    * [[checksum]], so corrupt-byte detection is sample-exact, not
    * header-only). Identical plan shape to the [[audioWindows]] stub —
    * narrow per-partition map, no shuffle, width scales with input splits.
    * Feed it from `spark.read.format("binaryFile")` for on-disk media.
    */
  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
                fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
              AudioFeatures(id, bytes.length.toLong, -1, -1, -1, -1L, -1L, ok = false)
            else {
              val pcm = in.readAllBytes()
              var acc = 0L
              val samples = pcm16le(pcm)
              var i = 0
              while (i < samples.length) {
                acc = (acc * 31 + (samples(i) & 0xffff)) % 2147483647L
                i += 1
              }
              AudioFeatures(id, bytes.length.toLong, fmt.getSampleRate.toInt,
                fmt.getChannels, fmt.getSampleSizeInBits,
                samples.length.toLong / fmt.getChannels, acc, ok = true)
            }
          } catch {
            // the sampled readers also throw RuntimeExceptions on truncated
            // containers — degrade, never fail the task
            case scala.util.control.NonFatal(_) =>
              AudioFeatures(id, bytes.length.toLong, -1, -1, -1, -1L, -1L, ok = false)
          }
        }
      }
  }

  /** REAL windowed energy: decode WAV PCM ([[decodeAudio]]'s reader), then
    * per overlapping int16-sample window emit Σ s² — [[audioWindows]] with
    * real samples instead of payload bytes. Exact integer arithmetic
    * (sample² < 2³⁰; any practical window count stays far inside Long).
    * Unparseable payloads yield zero rows for that doc, never a partition
    * failure. One narrow flatMap, no shuffle.
    */
  def audioPcmWindows(spark: SparkSession, media: DataFrame,
      win: Int = 256, hop: Int = 128): Dataset[AudioWindow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val samples =
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
                fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
              Array.empty[Int]
            else pcm16le(in.readAllBytes())
          } catch {
            case scala.util.control.NonFatal(_) => Array.empty[Int]
          }
        val n = samples.length
        if (n == 0) Seq.empty
        else {
          val last = if (n <= win) 0 else (n - win + hop - 1) / hop
          (0 to last).map { ix =>
            val start = ix * hop
            val end = math.min(start + win, n)
            var energy = 0L
            var i = start
            while (i < end) {
              val s = samples(i).toLong; energy += s * s; i += 1
            }
            AudioWindow(id, ix, end - start, energy)
          }
        }
      }
  }

  /** Resize stub: a real implementation would rescale pixel buffers; the
    * stub derives the target-size "thumbnail" bytes deterministically by
    * striding the source. The signature (bytes -> bytes, per partition, no
    * shuffle) is what matters for the pipeline shape.
    */
  def resize(spark: SparkSession, media: DataFrame, targetBytes: Int): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val step = math.max(1, bytes.length / math.max(1, targetBytes))
          (id, bytes.indices.by(step).take(targetBytes).map(bytes).toArray)
        }
      }
      .toDF("doc_id", "thumb")
  }

  /** Thumbnail summary row (size + rolling checksum of the strided bytes)
    * — the oracle-checkable face of [[resize]].
    */
  case class Thumb(doc_id: Long, n_thumb_bytes: Int, thumb_checksum: Long)

  /** [[resize]] → typed features; same rolling checksum as the decode
    * stub, so the whole thumbnail path is byte-exact against the oracle.
    */
  def resizeFeatures(spark: SparkSession, media: DataFrame,
      targetBytes: Int): Dataset[Thumb] = {
    import spark.implicits._
    resize(spark, media, targetBytes).as[(Long, Array[Byte])].map { case (id, b) =>
      Thumb(id, b.length, checksum(b))
    }
  }

  /** 64-bit audio fingerprint per clip: bit i = "window i+1 has more
    * energy than window i" over the first 65 PCM windows — the classic
    * energy-delta fingerprint. Because bits encode ORDER of energies,
    * not magnitudes, a volume-scaled copy fingerprints identically
    * (energies scale uniformly; spec-proved), while different content
    * reorders deltas. Exact integer comparisons over [[audioPcmWindows]]
    * output: one per-clip keyed window (lead) + one keyed aggregate —
    * summing the disjoint power-of-two bit values IS the bitwise OR.
    * Clips shorter than 65 windows leave high bits 0; n_windows rides
    * along so consumers can mask.
    */
  def audioFingerprint(spark: SparkSession, media: DataFrame,
      win: Int = 256, hop: Int = 128): DataFrame = {
    val w = audioPcmWindows(spark, media, win, hop).toDF()
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("win_ix"))
    val bits = w
      .withColumn("_ne", lead(col("energy"), 1).over(byDoc))
      .where(col("win_ix") < 64 && col("_ne").isNotNull)
      .select(col("doc_id"),
        when(col("_ne") > col("energy"),
          expr("shiftleft(1L, cast(win_ix as int))")).otherwise(lit(0L))
          .as("_bit"))
      .groupBy("doc_id").agg(sum(col("_bit")).as("_fp"))
    w.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .join(bits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("_fp"), lit(0L)).as("afp"))
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int, ahash: Long,
      ok: Boolean)

  /** 64-bit perceptual average-hash (aHash) per image: decode → 8×8
    * integer block sums of the RGB-sum gray signal → each bit is "block
    * brighter than the image mean". All arithmetic is EXACT integer
    * (block assignment by floor x·8/w; the threshold compares
    * blockSum·totalPixels > totalSum·blockPixels — no division, no
    * float resampling), so the hash is bit-stable across JVMs and
    * partitionings, unlike a Graphics2D-rescale-based hash. Robust to
    * re-encoding/resampling/brightness-preserving noise; images smaller
    * than 8×8 (or undecodable bytes) degrade to ok=false rows.
    *
    * Plan shape: the same narrow partition-parallel map as
    * [[decodeImages]] — per-image work, no shuffle.
    */
  /** The 8×8 integer-exact aHash kernel over one decoded raster — shared
    * by the image and video paths. None for rasters under 8×8 (a 64-cell
    * grid needs at least one pixel per cell to be meaningful).
    */
  private def rasterAHash(img: java.awt.image.BufferedImage): Option[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    if (w < 8 || h < 8) None
    else {
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val sums = new Array[Long](64)
      val counts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val by = y * 8 / h
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          val gray = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          val b = by * 8 + x * 8 / w
          sums(b) += gray
          counts(b) += 1
          x += 1
        }
        y += 1
      }
      val totalSum = sums.sum
      val totalCnt = counts.sum
      var hash = 0L
      var b = 0
      while (b < 64) {
        // cross-multiplied mean compare in BigInt: the Long
        // spelling sums(b)*totalCnt overflows near 1e8 px
        // (sums(b) ≤ 765·P/64, totalCnt = P → product ~ 12·P²),
        // silently flipping bits on large bright images. 128
        // exact big-int products per image is noise next to the
        // decode; bit-stability is preserved.
        if (BigInt(sums(b)) * totalCnt > BigInt(totalSum) * counts(b))
          hash |= (1L << b)
        b += 1
      }
      Some(hash)
    }
  }

  def imageAHash(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoCache
        rows.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img == null)
              ImageHash(id, -1, -1, -1L, ok = false)
            else rasterAHash(img) match {
              case Some(hash) =>
                ImageHash(id, img.getWidth, img.getHeight, hash, ok = true)
              case None =>
                ImageHash(id, img.getWidth, img.getHeight, -1L, ok = false)
            }
          } catch { case scala.util.control.NonFatal(_) =>
            ImageHash(id, -1, -1, -1L, ok = false)
          }
        }
      }
  }

  /** Perceptual near-duplicate image pairs: aHash sketches banded 8×8
    * bits (pigeonhole: hamming ≤ 7 ⇒ the pair shares at least one of the
    * 8 bands — exact recall at the default threshold), candidates joined
    * on band keys, verified by codegen bit_count. The image twin of the
    * SimHash text pipeline, and the same no-pairwise-pass shape: a
    * billion images shuffle 8 band keys each, never compare all pairs.
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 6): DataFrame = {
    val sk = imageAHash(spark, media).toDF()
      .where(col("ok")).select(col("doc_id"), col("ahash"))
      .localCheckpoint(false) // 16 B/image sketch frame (§8 rule)
    val b = graft.ext.Dedup.simhashBands(sk, "doc_id", "ahash",
      bands = 8, bits = 64)
    val l = b.select(col("band_ix"), col("band_key"),
      col("doc_id").as("id_a"), col("ahash").as("_ha"))
    val r = b.select(col("band_ix"), col("band_key"),
      col("doc_id").as("id_b"), col("ahash").as("_hb"))
    l.join(r, Seq("band_ix", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long").as("hd"))
      .where(col("hd") <= maxHamming)
      .distinct()
  }

  /** Declarative (oracle-checkable) twin of [[imageAHash]] over the stub
    * byte raster: positions 0..n-1 of the payload bucket into 64
    * equal-width cells (`b = i*64 div n` — the 1-D form of the codec's
    * `y*8/h` grid map), and a cell's bit sets iff its byte sum beats the
    * global mean, compared CROSS-MULTIPLIED (`s·totalCnt > totalSum·c`)
    * in exact integer arithmetic — the same overflow-safe spelling the
    * real kernel uses, no floats anywhere, so the DuckDB mirror is
    * bit-exact. The 64 bits come back as two 32-bit halves
    * (`ahash_lo`/`ahash_hi`) so BIGINT stays positive on both engines.
    *
    * Plan shape: char explode → partial-aggregable (doc, cell) sum →
    * one doc-keyed window for the totals → doc-keyed bit pack. Shuffles
    * carry (doc, cell) pairs — 64 rows/doc regardless of media size.
    */
  def stubAHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // r13: ONE native codegen pass per document (stub_ahash_bits) in
    // place of the char explode + (doc, cell) aggregate + doc window +
    // bit-pack aggregate — the sketch is now a pure projection (zero
    // exchanges; the old spelling cost three per sketch, and the char
    // explode was the catalog's densest row stream). Bit-for-bit equal
    // to the r12 declarative spelling (SuffixOpsSpec pins it); oracles
    // untouched.
    docs
      .where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.RasterExpressions.stub_ahash_bits(col(textCol)).as("_h"))
      .select(col("doc_id"), col("_h").getField("lo").as("ahash_lo"),
        col("_h").getField("hi").as("ahash_hi"))

  /** Difference hash (dHash) on the same 1-D stub raster: a 72-cell
    * grid (9 columns × 8 rows in the classic 2-D layout, flattened),
    * bit (r, c) = mean(cell[r·9+c]) > mean(cell[r·9+c+1]) — the
    * GRADIENT compare, cross-multiplied exact like [[stubAHash]]'s
    * global-mean compare. Also algebraically brightness-invariant:
    * (s1+c1)·c2 > (s2+c2)·c1 ⟺ s1·c2 > s2·c1. Adjacent-cell pairing
    * is a doc-keyed equi self-join on the shifted cell index; docs too
    * short to populate both neighbors leave those bits 0.
    */
  def stubDHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // r13: native one-pass kernel, the stubAHash note — the adjacent-
    // cell self-join becomes an in-kernel neighbor compare. Proved
    // equal to the r12 declarative spelling in SuffixOpsSpec.
    docs
      .where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.RasterExpressions.stub_dhash_bits(col(textCol)).as("_h"))
      // null sketch = no populated adjacent cell pair = the declarative
      // inner join emitted no rows for this doc — drop it, same row set
      .where(col("_h").isNotNull)
      .select(col("doc_id"), col("_h").getField("lo").as("dhash_lo"),
        col("_h").getField("hi").as("dhash_hi"))

  /** One perceptual frame hash of a video ([[videoAHash]]). */
  case class VideoFrameHash(doc_id: Long, frame_ix: Int, ahash: Long,
      ok: Boolean)

  /** Per-frame 64-bit perceptual aHash over a real multi-frame container
    * — the video arm of the dedup family. Same reader discipline as
    * [[decodeVideoFrames]] (JDK `javax.imageio` multi-frame GIF path; a
    * real MP4 codec would slot in unchanged), same hash kernel as
    * [[imageAHash]] ([[rasterAHash]] — exact integer grid sums,
    * cross-multiplied mean threshold, bit-stable across JVMs). `stride`
    * is the keyframe-sampling knob: hashing every k-th frame bounds
    * per-video work while keeping temporal alignment (frame_ix is the
    * TRUE container index, so two videos sampled at the same stride
    * still align). Undecodable payloads or sub-8×8 frames degrade to
    * ok=false rows — corrupt media is data, never task death.
    *
    * Plan shape: narrow per-partition flatMap, no shuffle; width scales
    * with input splits — the per-frame hash rows are 24 B each, the
    * decode cost is the payload.
    */
  def videoAHash(spark: SparkSession, media: DataFrame,
      stride: Int = 1): Dataset[VideoFrameHash] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        imageIoNoCache
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext)
              Seq(VideoFrameHash(id, -1, -1L, ok = false))
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis, false, true)
                val n = reader.getNumImages(true)
                if (n <= 0) Seq(VideoFrameHash(id, -1, -1L, ok = false))
                else (0 until n by stride).map { i =>
                  rasterAHash(reader.read(i)) match {
                    case Some(h) => VideoFrameHash(id, i, h, ok = true)
                    case None    => VideoFrameHash(id, i, -1L, ok = false)
                  }
                }
              } finally reader.dispose()
            }
          } finally iis.close()
        } catch { case scala.util.control.NonFatal(_) =>
          Seq(VideoFrameHash(id, -1, -1L, ok = false))
        }
      }
  }

  /** Perceptual near-duplicate VIDEO pairs: per-frame aHash sketches,
    * TEMPORAL banding — candidates must collide on
    * (frame_ix, band_ix, band_key), i.e. the same time slot sharing an
    * 8-bit hash band (pigeonhole: per-frame hamming ≤ `maxHamming` ≤ 7 ⇒
    * some band of the 8 is identical — exact per-frame recall) — then a
    * codegen bit_count verify per aligned frame and a MAJORITY vote:
    * a pair survives iff strictly more than half of its aligned frame
    * slots (aligned = min(frames_a, frames_b)) verify as near-identical.
    * Majority (not all-frames) is what makes re-encodes with a damaged
    * title frame or a trimmed tail still read as duplicates, while
    * half-replaced content does not.
    *
    * Output: (id_a, id_b, n_aligned, n_matched) with id_a < id_b.
    *
    * Scale shape: a billion videos shuffle 8 band keys per SAMPLED frame
    * — never an all-pairs pass, and the band join is keyed by frame slot
    * so hot bands don't cross time. The 24 B/frame sketch frame is
    * checkpointed once and fed to both join branches (§8 rule).
    */
  def videoNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 6, stride: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8x8-bit banding is exact only for maxHamming in [0,7], got $maxHamming")
    val sk = videoAHash(spark, media, stride).toDF()
      .where(col("ok")).select(col("doc_id"), col("frame_ix"), col("ahash"))
      .localCheckpoint(false)
    val nFrames = sk.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val bandCols = (0 until 8).map { b =>
      struct(lit(b).as("band_ix"),
        shiftright(col("ahash"), b * 8).bitwiseAND(lit(255L)).as("band_key"))
    }
    val banded = sk.select(col("doc_id"), col("frame_ix"), col("ahash"),
        explode(array(bandCols: _*)).as("_b"))
      .select(col("doc_id"), col("frame_ix"), col("ahash"),
        col("_b.band_ix").as("band_ix"), col("_b.band_key").as("band_key"))
    val l = banded.select(col("frame_ix"), col("band_ix"), col("band_key"),
      col("doc_id").as("id_a"), col("ahash").as("_ha"))
    val r = banded.select(col("frame_ix"), col("band_ix"), col("band_key"),
      col("doc_id").as("id_b"), col("ahash").as("_hb"))
    val matched = l.join(r, Seq("frame_ix", "band_ix", "band_key"))
      .where(col("id_a") < col("id_b"))
      .where(bit_count(col("_ha").bitwiseXOR(col("_hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"), col("frame_ix"))
      .distinct() // a frame may collide in several bands — count it once
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_matched"))
    matched
      .join(nFrames.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(nFrames.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        least(col("n_a"), col("n_b")).as("n_aligned"), col("n_matched"))
      .where(col("n_matched") * 2 > col("n_aligned"))
  }

  /** Declarative (oracle-checkable) frame-keyed stub aHash: exactly
    * [[stubAHash]] with the raster key widened from doc to
    * (doc, frame_ix) — input must carry (doc_id, frame_ix, text). Same
    * integer arithmetic, same two-32-bit-halves packing, same shuffle
    * bound (64 cell rows per FRAME at any media size).
    */
  def stubFrameAHash(frames: DataFrame): DataFrame =
    // r13: native kernel per (doc, frame) row — the stubAHash note.
    frames
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("frame_ix"),
        graft.functions.RasterExpressions.stub_ahash_bits(col("text")).as("_h"))
      .select(col("doc_id"), col("frame_ix"),
        col("_h").getField("lo").as("ahash_lo"),
        col("_h").getField("hi").as("ahash_hi"))

  /** Uniform "brightness shift" of the stub raster: every byte value +1
    * (chr(ascii+1) per char — ASCII 32..125 stays printable ASCII).
    * [[stubAHash]] is exactly invariant under it: per-cell sums shift by
    * the cell count, the total by the total count, and the cross-
    * multiplied compare cancels the shift algebraically —
    * (s+c)·tc > (ts+tc)·c ⟺ s·tc > ts·c. The perceptual-hash property
    * (brightness-robust identity) stated as an integer identity.
    */
  /** Incremental perceptual media dedup — dedup a NEW batch of media
    * hashes against ALL ingest history without rescanning it. The store
    * holds (doc_id, arr, ahash_lo, ahash_hi) of EVERY doc ever ingested
    * (duplicates included: a doc similar to an already-rejected near-dup
    * must still be caught, and near-duplication is not transitive), so
    * the decision has a batch-split-independent closed form: doc b is a
    * duplicate iff some doc a with arr_a < arr_b is within Hamming
    * `maxHamming` — `arr` is the total arrival order, and the reported
    * `dup_of` is the EARLIEST-arrived match. Candidates come from the
    * 4×16-bit banded join (pigeonhole-exact at hd ≤ 3), so per batch the
    * work is (batch ∪ history) band keys joined against batch band keys
    * — the history is never pairwise-scanned, and a billion-item store
    * shuffles only its band keys.
    *
    * Returns the batch's duplicate decisions (doc_id, dup_of, hd) and
    * appends the batch's hashes to the store. The returned frame
    * snapshots the store's FILE LISTING at call time —
    * `spark.read.parquet` builds its file index when the DataFrame is
    * constructed, i.e. before this call's own append — so the candidate
    * pool is exactly the pre-batch history plus this batch regardless of
    * when the result is evaluated. CONTRACT: successive batches must
    * carry nondecreasing `arr` ranges (ingest in arrival order); a batch
    * whose arr values precede already-stored history would need matches
    * the store was never asked for, and the per-batch decisions would no
    * longer equal the one-shot closed form.
    *
    * `maxHamming` must be ≤ 3: the 4×16-bit banding is pigeonhole-exact
    * only there (hd ≤ 3 over 4 bands forces one identical band); a larger
    * threshold would silently lose candidates.
    */
  def ingestMediaHashBatch(spark: SparkSession, storePath: String,
      hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is exact only for maxHamming in [0,3], got $maxHamming")
    val storeExists = {
      val dir = new java.io.File(storePath)
      dir.isDirectory && dir.listFiles() != null &&
        dir.listFiles().exists(_.getName.endsWith(".parquet"))
    }
    val batch = hashes.select(col("doc_id"), col("arr"),
      col("ahash_lo"), col("ahash_hi")).localCheckpoint(false)
    val pool =
      if (storeExists) spark.read.parquet(storePath).unionByName(batch)
      else batch
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until 4).map { bix =>
        val half = if (bix < 2) col("ahash_lo") else col("ahash_hi")
        struct(lit(bix).as("band_ix"),
          shiftright(half, (bix % 2) * 16).bitwiseAND(lit(65535L))
            .as("band_key"))
      }
      df.select(col("doc_id"), col("arr"), col("ahash_lo"), col("ahash_hi"),
          explode(array(bandCols: _*)).as("_b"))
        .select(col("doc_id"), col("arr"), col("ahash_lo"), col("ahash_hi"),
          col("_b.band_ix").as("band_ix"), col("_b.band_key").as("band_key"))
    }
    val l = banded(pool).select(col("band_ix"), col("band_key"),
      col("doc_id").as("id_a"), col("arr").as("arr_a"),
      col("ahash_lo").as("_la"), col("ahash_hi").as("_ha"))
    val r = banded(batch).select(col("band_ix"), col("band_key"),
      col("doc_id").as("id_b"), col("arr").as("arr_b"),
      col("ahash_lo").as("_lb"), col("ahash_hi").as("_hb"))
    val matches = l.join(r, Seq("band_ix", "band_key"))
      .where(col("arr_a") < col("arr_b"))
      .select(col("id_b"), col("id_a"), col("arr_a"),
        (bit_count(col("_la").bitwiseXOR(col("_lb"))) +
          bit_count(col("_ha").bitwiseXOR(col("_hb")))).cast("long").as("hd"))
      .where(col("hd") <= maxHamming)
      .distinct()
    val rn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_b")).orderBy(col("arr_a"), col("id_a"))
    batch.write.mode("append").parquet(storePath)
    matches.withColumn("_rn", row_number().over(rn)).where(col("_rn") === 1)
      .select(col("id_b").as("doc_id"), col("id_a").as("dup_of"), col("hd"))
  }

  def brightnessShift(text: Column): Column = {
    // translate() is a single codegen pass; the per-char
    // transform+substr lambda spelling it replaces ran interpreted AND
    // re-scanned the string per character (O(L²)) — it dominated the
    // *_ahash_pairs twin builds. The char map covers printable ASCII
    // 32..125 (the raster domain; +1 keeps it printable), identical to
    // the oracle's chr(ascii(c) + 1) on that domain.
    val from = (32 to 125).map(_.toChar).mkString
    val to = (33 to 126).map(_.toChar).mkString
    translate(text, from, to)
  }
}
