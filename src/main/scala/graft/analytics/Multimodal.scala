package graft.analytics

import Par.Mat

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed partition-wise.
  *
  * The decode step is a clearly-marked deterministic STUB (no image/audio
  * libraries in this environment) — what is real and tested is the Spark
  * plumbing: the binary column schema, the typed Dataset boundary, the
  * partition-wise batch shape (`mapPartitions`, one decoder instance per
  * partition — exactly where a JNI/FFmpeg/JPEG decoder handle would be
  * initialized once and reused), and the deterministic metadata contract.
  */
object Multimodal {

  /** One opaque media blob + lineage. */
  final case class MediaBlob(doc_id: Long, media_type: String, data: Array[Byte])

  /** Extracted metadata/features (what a real decoder would emit). */
  final case class MediaMeta(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Real header decode for PNG/GIF/BMP/JPEG payloads — pure byte parsing,
    * no imaging libraries (dimensions live in fixed header fields / SOF
    * segments). Non-image payloads fall back to the deterministic stub
    * arithmetic (the stand-in for audio/video decoders that would need
    * native libs not present in this environment). */
  private def decode(b: MediaBlob): MediaMeta = {
    ImageHeaders.parse(b.data) match {
      case Some((mediaType, w, h)) =>
        MediaMeta(b.doc_id, mediaType, b.data.length.toLong, w, h, 1)
      case None =>
        // full-decode fallback: formats the JDK reads but the header
        // parser doesn't cover (e.g. TIFF, WBMP). Header parsing stays
        // the fast path — it never materializes a raster.
        decodeImage(b.data) match {
          case Some(img) =>
            MediaMeta(b.doc_id, "image/decoded", b.data.length.toLong,
                      img.getWidth, img.getHeight, 1)
          case None => decodeStub(b)
        }
    }
  }

  /** STUB decoder for non-image payloads: deterministic arithmetic standing
    * in for decoders whose native libs aren't in this container. */
  private def decodeStub(b: MediaBlob): MediaMeta = {
    val n = b.data.length.toLong
    MediaMeta(
      doc_id = b.doc_id,
      media_type = b.media_type,
      n_bytes = n,
      width = (n % 64L).toInt * 10 + 32,
      height = (n % 48L).toInt * 10 + 32,
      n_frames = (n % 24L).toInt + 1)
  }

  /** Binary-column ingestion: treat a string column as the opaque payload
    * (stands in for `spark.read.format("binaryFile")` content). */
  def asBlobs(docs: DataFrame, idCol: String, payloadCol: String): Dataset[MediaBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      lit("image/stub").as("media_type"),
      col(payloadCol).cast("binary").as("data")).as[MediaBlob]
  }

  /** Partition-wise decode: one decoder per partition, streaming over the
    * iterator (never materializes the partition). */
  def extractMeta(blobs: Dataset[MediaBlob]): Dataset[MediaMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      // per-partition decoder scope: a native decoder handle would be
      // created HERE once and reused across the iterator
      it.map(decode)
    }
  }

  /** Deterministic per-payload features (REAL computation, not a stub):
    * code-point count/sum/distinct plus a position-weighted rolling
    * checksum — the shape a learned feature extractor would emit, computed
    * exactly so the oracle reproduces it. */
  final case class MediaFeatures(doc_id: Long, n_cp: Long, sum_cp: Long,
                                 n_distinct_cp: Long, wsum: Long)

  /** Feature extraction through the same partition-wise decode path as
    * [[extractMeta]]: one extractor instance per partition, streaming over
    * the iterator. Exact integer arithmetic (mod 1e9+7 applied per step ==
    * applied once, since (a+b) mod m == ((a mod m)+b) mod m). */
  def extractFeatures(blobs: Dataset[MediaBlob]): Dataset[MediaFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.map { b =>
        // null payload == empty payload (zeros row, like the oracle's
        // LEFT JOIN + coalesce — not a task crash)
        val s = if (b.data == null) ""
                else new String(b.data, java.nio.charset.StandardCharsets.UTF_8)
        var i = 0; var n = 0L; var sum = 0L; var w = 0L
        val seen = new java.util.HashSet[Int]()
        while (i < s.length) {
          val cp = s.codePointAt(i)
          n += 1; sum += cp; seen.add(cp)
          w = (w + n * cp) % 1000000007L
          i += Character.charCount(cp)
        }
        MediaFeatures(b.doc_id, n, sum, seen.size.toLong, w)
      }
    }
  }

  /** Real decode via `javax.imageio` (ships with the JDK): PNG/JPEG/BMP/GIF
    * payloads become a [[java.awt.image.BufferedImage]]; anything the JDK
    * readers don't recognize (and any truncated/corrupt image) is None.
    * `setUseCache(false)` keeps the reader off executor-local temp files —
    * payloads are already in memory. */
  private[graft] def decodeImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (data == null || data.length == 0) None
    else try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data)))
      // NonFatal, not just IOException: ImageIO plugins throw
      // CMMException / ArrayIndexOutOfBounds / IllegalArgument on corrupt
      // payloads — all must take the undecodable path, not kill the job
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic nearest-neighbor scale: out(x, y) = in(x*wIn/wOut,
    * y*hIn/hOut), integer floor — the one resampling rule every engine
    * reproduces exactly (bilinear/area kernels differ per library, which
    * would make the result un-oracle-able). */
  private[analytics] def scaleNearest(img: java.awt.image.BufferedImage,
                                      w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val sy = y * img.getHeight / h
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB(x * img.getWidth / w, sy) & 0xffffff)
        x += 1
      }
      y += 1
    }
    out
  }

  private[graft] def encodeImage(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, baos)
    baos.toByteArray
  }

  // ---------------------------------------------------------------------
  // Deterministic synthetic images: the oracle-checkable gate for the real
  // decode path. A 24-bit BMP is byte-exactly constructible from a pixel
  // formula, so a SQL oracle can recompute what a real ImageIO decode +
  // nearest-neighbor resize must produce without ever touching an image.
  // ---------------------------------------------------------------------

  /** Pixel formula for synthetic images: channel values are exact integer
    * functions of (doc_id, x, y), reproducible in any SQL engine. */
  private[analytics] def synthRgb(docId: Long, x: Int, y: Int): Int = {
    val r = ((docId * 7 + x * 5 + y * 3) % 256).toInt
    val g = ((docId * 11 + x * 2 + y) % 256).toInt
    val b = ((docId + x + y * 9) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Uncompressed 24-bit bottom-up BMP of [[synthRgb]] pixels. 54-byte
    * header + rows padded to 4 bytes — the layout every BMP reader
    * (including the JDK's) decodes bit-exactly. */
  private[analytics] def syntheticBmp(docId: Long, w: Int, h: Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(0).putInt(0).putInt(0).putInt(0)
    var fy = h - 1 // bottom-up: first stored row is the image's last
    while (fy >= 0) {
      var x = 0
      while (x < w) {
        val rgb = synthRgb(docId, x, fy)
        buf.put((rgb & 0xff).toByte)          // B
          .put(((rgb >> 8) & 0xff).toByte)    // G
          .put(((rgb >> 16) & 0xff).toByte)   // R
        x += 1
      }
      var pad = rowBytes - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      fy -= 1
    }
    buf.array()
  }

  /** Synthetic image blobs for the decode gate: per-doc BMPs with
    * formula-derived dimensions, generated partition-wise (no driver
    * materialization — at 100 TB this is the `binaryFile` scan stand-in). */
  def syntheticImageBlobs(docs: DataFrame, idCol: String): Dataset[MediaBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (id % 4 + 2).toInt
        val h = (id % 3 + 2).toInt
        MediaBlob(id, "image/bmp", syntheticBmp(id, w, h))
      }
    }
  }

  /** Uncompressed PCM WAV of deterministic bytes: 44-byte canonical
    * header + payload byte j = (docId + j) % 256. Rate/channels/length
    * are exact integer functions of docId so a SQL oracle recomputes
    * everything [[audioMeta]] must report. */
  private[analytics] def syntheticWav(docId: Long): Array[Byte] = {
    val rate = 8000 + (docId % 4).toInt * 4000
    val ch = 1 + (docId % 2).toInt
    val nSamples = 100 + (docId % 50).toInt
    val dataSize = nSamples * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(ch.toShort)
      .putInt(rate).putInt(rate * ch * 2).putShort((ch * 2).toShort)
      .putShort(16)
    buf.put("data".getBytes).putInt(dataSize)
    var j = 0
    while (j < dataSize) { buf.put(((docId + j) % 256).toByte); j += 1 }
    buf.array()
  }

  /** Synthetic audio blobs for the WAV gate (partition-wise generation,
    * mirroring [[syntheticImageBlobs]]). */
  def syntheticWavBlobs(docs: DataFrame, idCol: String): Dataset[MediaBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map(id => MediaBlob(id, "audio/wav", syntheticWav(id)))
    }
  }

  /** REAL audio metadata via [[WavHeaders]]: sample rate, channels, bit
    * depth, sample count, and exact integer duration. Non-WAV payloads
    * are dropped (compressed codecs need libraries this environment
    * doesn't ship — the documented remaining stub). */
  def audioMeta(blobs: Dataset[MediaBlob]): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        WavHeaders.parse(b.data).map { m =>
          (b.doc_id, "audio/wav", b.data.length.toLong, m.sampleRate,
           m.channels, m.bitsPerSample, m.nSamples,
           m.nSamples * 1000L / m.sampleRate)
        }
      }
    }.toDF("doc_id", "media_type", "n_bytes", "sample_rate", "channels",
           "bits_per_sample", "n_samples", "duration_ms")
  }

  /** Sample-level PCM decode — REAL codec-level audio decode (PCM is the
    * uncompressed codec; no external libraries needed): 16-bit LE frames
    * read from the data chunk, reduced map-side to the features an audio
    * quality gate partitions on — frame count, amplitude sum, sum of
    * squares (the RMS numerator), peak |amplitude|, and the zero-crossing
    * count of channel 0 (strict sign flips between consecutive frames;
    * zeros break a run). Exact integer arithmetic end-to-end so a SQL
    * oracle recomputes every value. One pass over the payload, nothing
    * but the 8-column feature row leaves the partition. Non-PCM or
    * non-16-bit payloads drop (compressed codecs need libraries this
    * container doesn't ship — the documented remaining stub). */
  def audioFeatures(blobs: Dataset[MediaBlob]): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        WavHeaders.parse(b.data).filter(_.bitsPerSample == 16).map { m =>
          val ch = m.channels
          val nTotal = (m.nSamples * ch).toInt
          var k = 0
          var off = m.dataOffset
          var sum = 0L
          var sumSq = 0L
          var peak = 0L
          var zc = 0L
          var prev0 = 0
          var have0 = false
          while (k < nTotal) {
            val v = (b.data(off) & 0xff) | ((b.data(off + 1) & 0xff) << 8)
            val s = if (v >= 0x8000) v - 0x10000 else v
            sum += s
            sumSq += s.toLong * s
            val a = math.abs(s.toLong)
            if (a > peak) peak = a
            if (k % ch == 0) { // channel-0 stream carries the crossings
              if (have0 && ((prev0 < 0 && s > 0) || (prev0 > 0 && s < 0)))
                zc += 1
              prev0 = s
              have0 = true
            }
            k += 1
            off += 2
          }
          (b.doc_id, m.sampleRate, ch, m.nSamples, sum, sumSq, peak, zc)
        }
      }
    }.toDF("doc_id", "sample_rate", "channels", "n_frames", "sum_amp",
           "sum_sq", "peak_abs", "zero_cross")
  }

  /** Minimal deterministic MP4 skeleton: `ftyp` + `moov(mvhd v0, trak/
    * mdia/minf/stbl(stts, stsz))` with formula-derived timescale/
    * duration and a real SAMPLE TABLE — `stts` (one run of n frames at
    * a fixed delta) and `stsz` (varying per-frame byte sizes) — enough
    * container structure for any ISO-BMFF metadata or frame-index
    * parser, all fields recomputable from doc_id by a SQL oracle. */
  private[analytics] def syntheticMp4(docId: Long): Array[Byte] = {
    val timescale = 1000 * ((docId % 3).toInt + 1)
    val duration = 500 + (docId % 100).toInt
    val n = 5 + (docId % 4).toInt           // frame count
    val delta = 100 + (docId % 7).toInt     // per-frame duration units
    val stszSize = 20 + 4 * n
    val stblSize = 8 + 24 + stszSize
    val minfSize = 8 + stblSize
    val mdiaSize = 8 + minfSize
    val trakSize = 8 + mdiaSize
    val moovSize = 8 + 108 + trakSize
    val buf = java.nio.ByteBuffer.allocate(16 + moovSize) // big-endian
    buf.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    buf.putInt(moovSize).put("moov".getBytes)
    buf.putInt(108).put("mvhd".getBytes)
    buf.putInt(0)                 // version 0 + flags
      .putInt(0).putInt(0)        // creation, modification
      .putInt(timescale).putInt(duration)
      .putInt(0x00010000)         // rate 1.0
      .putShort(0x0100.toShort)   // volume 1.0
      .putShort(0).putInt(0).putInt(0) // reserved
    for (m <- Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000))
      buf.putInt(m)               // unity matrix
    for (_ <- 0 until 6) buf.putInt(0) // pre_defined
    buf.putInt(2)                 // next_track_id
    buf.putInt(trakSize).put("trak".getBytes)
    buf.putInt(mdiaSize).put("mdia".getBytes)
    buf.putInt(minfSize).put("minf".getBytes)
    buf.putInt(stblSize).put("stbl".getBytes)
    buf.putInt(24).put("stts".getBytes)
      .putInt(0)                  // version + flags
      .putInt(1)                  // entry_count
      .putInt(n).putInt(delta)    // one (count, delta) run
    buf.putInt(stszSize).put("stsz".getBytes)
      .putInt(0)                  // version + flags
      .putInt(0)                  // sample_size 0 = per-sample table
      .putInt(n)                  // sample_count
    for (i <- 0 until n)
      buf.putInt(200 + ((docId + i) % 50).toInt)
    buf.array()
  }

  /** Synthetic video blobs for the MP4 gate. */
  def syntheticMp4Blobs(docs: DataFrame, idCol: String): Dataset[MediaBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].mapPartitions { it =>
      it.map(id => MediaBlob(id, "video/mp4", syntheticMp4(id)))
    }
  }

  /** REAL video container metadata via [[Mp4Headers]]: timescale,
    * duration units, exact integer duration. Non-BMFF payloads dropped
    * (frame decode needs codecs — the documented remaining stub). */
  def videoMeta(blobs: Dataset[MediaBlob]): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        Mp4Headers.parse(b.data).map { m =>
          (b.doc_id, "video/mp4", b.data.length.toLong,
           m.timescale, m.durationUnits, m.durationMs)
        }
      }
    }.toDF("doc_id", "media_type", "n_bytes", "timescale",
           "duration_units", "duration_ms")
  }

  /** Container-level video FRAME INDEX via [[Mp4Headers.parseSampleTable]]:
    * frame count, per-track duration units, total/max frame bytes from
    * the `stts`/`stsz` sample tables, and the fps those imply against
    * the `mvhd` timescale — the packet-level inventory a training
    * pipeline shards and filters on (short clips, bitrate outliers),
    * with zero codec work. Map-side per-row parse, no shuffle; payloads
    * without a complete sample table are dropped (pixel decode of
    * compressed codecs stays out of scope — needs codec libs). */
  def videoFrameIndex(blobs: Dataset[MediaBlob]): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        for {
          m <- Mp4Headers.parse(b.data)
          fi <- Mp4Headers.parseSampleTable(b.data)
        } yield (b.doc_id, fi.nFrames, fi.durationUnits, fi.totalBytes,
          fi.maxBytes, m.timescale)
      }
    }.toDF("doc_id", "n_frames", "duration_units_frames",
           "total_sample_bytes", "max_sample_bytes", "timescale")
      .select(col("doc_id"), col("n_frames"), col("duration_units_frames"),
        col("total_sample_bytes"), col("max_sample_bytes"),
        // ANSI: guard the denominator itself — a zero-duration track
        // yields null fps, not DIVIDE_BY_ZERO
        round(col("n_frames").cast("double") * col("timescale") /
          when(col("duration_units_frames") > 0,
            col("duration_units_frames").cast("double")), 6).as("fps"))
  }

  /** The decode gate: REAL ImageIO decode of each payload, deterministic
    * nearest-neighbor resize to (outW, outH), and an exact position-weighted
    * raster checksum — sum over out pixels of (y*outW + x + 1) * rgb24.
    * Every output column is an exact integer a SQL oracle recomputes from
    * the pixel formula, so a checksum match proves the BMP writer, the JDK
    * decoder, and the resample loop agree pixel-for-pixel. */
  def decodeResizeChecksum(blobs: Dataset[MediaBlob],
                           outW: Int, outH: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeImage(b.data).map { img =>
          val scaled = scaleNearest(img, outW, outH)
          var sum = 0L
          var y = 0
          while (y < outH) {
            var x = 0
            while (x < outW) {
              sum += (y.toLong * outW + x + 1) * (scaled.getRGB(x, y) & 0xffffff)
              x += 1
            }
            y += 1
          }
          (b.doc_id, img.getWidth, img.getHeight, outW, outH,
           b.data.length.toLong, sum)
        }
      }
    }.toDF("doc_id", "in_w", "in_h", "out_w", "out_h", "n_bytes_in", "checksum")
  }

  /** 64-bit average perceptual hash (aHash) of an image payload: real
    * decode, deterministic nearest-neighbor 8x8, integer grayscale
    * (r+g+b)/3, bit p set iff gray(p)*64 > Σgray (the strict integer form
    * of "above the mean" — no floating point anywhere, so a SQL oracle
    * reproduces every bit). Returned as two 32-bit halves so oracles
    * never touch the 2^63 sign bit. Map-side only: one decoder pass per
    * partition, no shuffle. Payloads the JDK cannot decode are dropped
    * (same contract as [[decodeResizeChecksum]]). */
  def perceptualHash(blobs: Dataset[MediaBlob]): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeImage(b.data).map { img =>
          val scaled = scaleNearest(img, 8, 8)
          val gray = new Array[Long](64)
          var sum = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val rgb = scaled.getRGB(x, y) & 0xffffff
              val g = ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
              gray(y * 8 + x) = g
              sum += g
              x += 1
            }
            y += 1
          }
          var hi = 0L
          var lo = 0L
          var p = 0
          while (p < 64) {
            if (gray(p) * 64 > sum) {
              if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
            }
            p += 1
          }
          (b.doc_id, hi, lo)
        }
      }
    }.toDF("doc_id", "hash_hi", "hash_lo")
  }

  /** Perceptual near-duplicate pairs over [[perceptualHash]] output, the
    * image-dedup counterpart of the SimHash/LSH text path. aHash is
    * COARSE: identical-hash groups are the common case, so pairing raw
    * docs would cost Σ|group|² — identical hashes collapse to their
    * min-id canonical FIRST (the exact-dedup step), and only the distinct
    * hashes enter the near-dup join. Candidates come from 4 x 16-bit
    * hash bands (same-band-value bucket join, bucket size capped like the
    * text LSH); exact hamming distance then filters candidates, so the
    * result is banding-approximate by construction — and the oracle bands
    * identically. Output: canonical pairs (doc_a < doc_b) with their
    * distance. */
  def phashNearDupPairs(ph: DataFrame, maxHamming: Int,
                        maxBucket: Int = 1000): DataFrame = {
    val spark = ph.sparkSession
    import spark.implicits._
    val ch = ph.groupBy($"hash_hi", $"hash_lo")
      .agg(min($"doc_id").as("canon"))
      .materialized()
    val bands = ch.select($"canon", $"hash_hi", $"hash_lo",
      posexplode(array(
        expr("hash_lo % 65536"), expr("hash_lo DIV 65536"),
        expr("hash_hi % 65536"), expr("hash_hi DIV 65536"))).as(Seq("bi", "bv")))
    val keep = bands.groupBy($"bi", $"bv").agg(count(lit(1)).as("n"))
      .filter($"n" <= maxBucket).select($"bi", $"bv")
    val kb = bands.join(keep, Seq("bi", "bv"))
    val cand = kb
      .select($"bi", $"bv", $"canon".as("doc_a"),
        $"hash_hi".as("hi_a"), $"hash_lo".as("lo_a"))
      .join(kb.select($"bi", $"bv", $"canon".as("doc_b"),
        $"hash_hi".as("hi_b"), $"hash_lo".as("lo_b")), Seq("bi", "bv"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"hi_a", $"lo_a", $"doc_b", $"hi_b", $"lo_b")
      .distinct()
    cand
      .select($"doc_a", $"doc_b",
        (bit_count($"hi_a".bitwiseXOR($"hi_b")) +
         bit_count($"lo_a".bitwiseXOR($"lo_b"))).cast("int").as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  /** Frame sampling: k frame indices spread evenly over [0, n_frames), one
    * output row per sampled frame (the explode shape a video pipeline
    * feeds to per-frame feature extraction). Pure integer arithmetic over
    * the decoded frame count — fully deterministic, so even this stubbed
    * path is oracle-checkable. `frame_key` is the md5 lineage key a real
    * pipeline would use to address extracted frame artifacts. */
  def sampleFrames(meta: Dataset[MediaMeta], k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = meta.sparkSession
    import spark.implicits._
    val kk = least(lit(k), $"n_frames")
    meta.toDF()
      // when-guard: n_frames=0 must emit NO rows — a bare sequence(0, -1)
      // would produce the DESCENDING array [0, -1]; explode drops the null
      .select($"doc_id", $"n_frames",
              explode(when(kk > 0, sequence(lit(0), kk - 1)))
                .as("sample_ord"))
      .select($"doc_id", $"sample_ord",
        // integer DIV keeps both engines exact (a double divide + cast
        // would round differently: DuckDB CAST(x AS INT) rounds, Spark
        // truncates)
        expr(s"CAST((sample_ord * (n_frames - 1)) DIV ${math.max(k - 1, 1)} AS INT)")
          .as("frame_idx"))
      .withColumn("frame_key",
        md5(concat($"doc_id".cast("string"), lit("|"),
                   $"frame_idx".cast("string"))))
  }
}

/** WAV (RIFF/WAVE) header parser — REAL audio metadata from pure byte
  * inspection, the audio analogue of [[ImageHeaders]]: walk the RIFF chunk
  * list to `fmt ` (PCM layout) and `data`, derive sample count from the
  * data size. Compressed codecs (mp3/aac/ogg) remain out of scope — they
  * need real codec libraries this environment doesn't ship. */
object WavHeaders {

  final case class WavMeta(sampleRate: Int, channels: Int,
                           bitsPerSample: Int, nSamples: Long,
                           dataOffset: Int)

  private def le32(d: Array[Byte], o: Int): Int =
    (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) |
      ((d(o + 2) & 0xff) << 16) | ((d(o + 3) & 0xff) << 24)
  private def le16(d: Array[Byte], o: Int): Int =
    (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)

  def parse(d: Array[Byte]): Option[WavMeta] = {
    if (d == null || d.length < 44 ||
        d(0) != 'R' || d(1) != 'I' || d(2) != 'F' || d(3) != 'F' ||
        d(8) != 'W' || d(9) != 'A' || d(10) != 'V' || d(11) != 'E') return None
    var i = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var dataSize = -1L
    var dataOffset = -1
    while (i + 8 <= d.length && (fmt.isEmpty || dataSize < 0)) {
      val id = new String(d, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = le32(d, i + 4).toLong & 0xffffffffL
      if (id == "fmt " && i + 24 <= d.length) {
        val audioFormat = le16(d, i + 8)
        if (audioFormat != 1) return None // PCM only
        fmt = Some((le16(d, i + 10), le32(d, i + 12), le16(d, i + 22)))
      } else if (id == "data") {
        dataSize = math.min(size, (d.length - i - 8).toLong)
        dataOffset = i + 8
      }
      // chunks are word-aligned: odd sizes carry a pad byte. Advance in
      // LONG arithmetic: a crafted 32-bit size near 2^32 would overflow
      // the int step into a zero/negative advance (infinite loop) or a
      // negative offset (crash) — clamp past-the-end instead
      val next = i.toLong + 8L + size + (size % 2)
      if (next <= i) return None
      i = math.min(next, d.length.toLong).toInt
    }
    fmt.collect {
      // bits >= 8: integer bits/8 of a corrupt 1..7-bit depth would be 0
      // and divide by zero — drop such payloads instead
      case (ch, rate, bits)
          if dataSize >= 0 && ch > 0 && bits >= 8 && rate > 0 =>
        WavMeta(rate, ch, bits, dataSize / (ch.toLong * (bits / 8)),
                dataOffset)
    }
  }
}

/** MP4/ISO-BMFF box parser — REAL video metadata from pure byte
  * inspection: walk top-level boxes to `moov`, then its `mvhd` child, and
  * read timescale + duration (version 0 and 1 layouts). Frame decode
  * stays out of scope (needs real codecs); the container metadata a
  * training pipeline partitions on — duration — is exact. */
object Mp4Headers {

  final case class Mp4Meta(timescale: Long, durationUnits: Long) {
    def durationMs: Long =
      if (timescale == 0) 0L else durationUnits * 1000L / timescale
  }

  private def be32(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
  private def be64(d: Array[Byte], o: Int): Long =
    (be32(d, o) << 32) | be32(d, o + 4)

  private def findBox(d: Array[Byte], from: Int, until: Int,
                      name: String): Option[(Int, Int)] = {
    var i = from
    while (i + 8 <= until) {
      val size = be32(d, i)
      val id = new String(d, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (size < 8) return None // size-0 "rest of file" / 64-bit unsupported
      val end = math.min(until.toLong, i + size).toInt
      if (id == name) return Some((i + 8, end))
      i = end
    }
    None
  }

  // allowlisted lead-box ids, hoisted: parse() runs once per ROW on the
  // distributed videoMeta path
  private val LeadBoxes = Set("ftyp", "moov", "styp", "free")

  def parse(d: Array[Byte]): Option[Mp4Meta] = {
    if (d == null || d.length < 16) return None
    // an ISO-BMFF file leads with a well-formed box, normally ftyp
    val lead = new String(d, 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (!LeadBoxes.contains(lead)) return None
    for {
      (ms, me) <- findBox(d, 0, d.length, "moov")
      (hs, he) <- findBox(d, ms, me, "mvhd")
      if he - hs >= 20
      version = d(hs) & 0xff
      // a TRUNCATED v1 box must not fall through to the v0 layout — the
      // bytes at +12/+16 are the middle of its 64-bit creation/
      // modification fields, not timescale/duration
      meta <- if (version == 1)
                if (he - hs >= 32) Some(Mp4Meta(be32(d, hs + 20), be64(d, hs + 24)))
                else None
              else Some(Mp4Meta(be32(d, hs + 12), be32(d, hs + 16)))
    } yield meta
  }

  /** Frame index from the sample tables — the container-level "frame
    * decode" that needs NO codec: `stts` (time-to-sample runs) gives
    * the frame count and total track duration in media units, `stsz`
    * gives per-frame byte sizes. */
  final case class Mp4FrameIndex(nFrames: Long, durationUnits: Long,
                                 totalBytes: Long, maxBytes: Long)

  /** Walk moov/trak/mdia/minf/stbl to the first track's `stts` + `stsz`
    * and fold the sample tables. None on any malformed/truncated table,
    * and on an stts/stsz frame-count disagreement (a malformed file
    * must not half-parse). Pure byte inspection, one pass per box. */
  def parseSampleTable(d: Array[Byte]): Option[Mp4FrameIndex] = {
    if (d == null || d.length < 16) return None
    val lead = new String(d, 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (!LeadBoxes.contains(lead)) return None
    for {
      (ms, me) <- findBox(d, 0, d.length, "moov")
      (ts, te) <- findBox(d, ms, me, "trak")
      (mds, mde) <- findBox(d, ts, te, "mdia")
      (mns, mne) <- findBox(d, mds, mde, "minf")
      (ss, se) <- findBox(d, mns, mne, "stbl")
      (tts, tte) <- findBox(d, ss, se, "stts")
      (szs, sze) <- findBox(d, ss, se, "stsz")
      idx <- foldSampleTables(d, tts, tte, szs, sze)
    } yield idx
  }

  private def foldSampleTables(d: Array[Byte], tts: Int, tte: Int,
                               szs: Int, sze: Int): Option[Mp4FrameIndex] = {
    // stts: version/flags(4) entry_count(4) then (count, delta) pairs
    if (tte - tts < 8) return None
    val nEntries = be32(d, tts + 4)
    if (nEntries < 0 || tte - tts - 8 < 8L * nEntries) return None
    var frames = 0L; var durUnits = 0L
    var e = 0
    while (e < nEntries) {
      val c = be32(d, tts + 8 + 8 * e)
      frames += c
      durUnits += c * be32(d, tts + 12 + 8 * e)
      e += 1
    }
    // stsz: version/flags(4) sample_size(4) sample_count(4) [+ sizes]
    if (sze - szs < 12) return None
    val fixedSize = be32(d, szs + 4)
    val count = be32(d, szs + 8)
    if (count != frames) return None // tables disagree: malformed
    val (total, mx) =
      if (fixedSize != 0L) (fixedSize * count, if (count > 0) fixedSize else 0L)
      else {
        if (sze - szs - 12 < 4L * count) return None
        var t = 0L; var m = 0L
        var i = 0
        while (i < count) {
          val s = be32(d, szs + 12 + 4 * i)
          t += s; if (s > m) m = s
          i += 1
        }
        (t, m)
      }
    Some(Mp4FrameIndex(frames, durUnits, total, mx))
  }
}

/** Image-container header parsers: dimensions from fixed header fields,
  * pure JVM byte inspection. */
object ImageHeaders {

  private def be32(d: Array[Byte], o: Int): Int =
    ((d(o) & 0xff) << 24) | ((d(o + 1) & 0xff) << 16) |
      ((d(o + 2) & 0xff) << 8) | (d(o + 3) & 0xff)
  private def le32(d: Array[Byte], o: Int): Int =
    (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) |
      ((d(o + 2) & 0xff) << 16) | ((d(o + 3) & 0xff) << 24)
  private def be16(d: Array[Byte], o: Int): Int =
    ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
  private def le16(d: Array[Byte], o: Int): Int =
    (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8)

  /** (media_type, width, height) when the payload is a recognized image. */
  def parse(d: Array[Byte]): Option[(String, Int, Int)] = {
    if (d.length >= 24 &&
        d(0) == 0x89.toByte && d(1) == 'P' && d(2) == 'N' && d(3) == 'G')
      Some(("image/png", be32(d, 16), be32(d, 20)))
    // 'GIF'/'BM' are ordinary text prefixes ("GIFs are...", "BMW...") —
    // require the full GIF version signature / a known DIB header size so
    // text payloads never misparse as images
    else if (d.length >= 10 && d(0) == 'G' && d(1) == 'I' && d(2) == 'F' &&
             d(3) == '8' && (d(4) == '7' || d(4) == '9') && d(5) == 'a')
      Some(("image/gif", le16(d, 6), le16(d, 8)))
    else if (d.length >= 26 && d(0) == 'B' && d(1) == 'M' &&
             Set(12, 40, 52, 56, 64, 108, 124).contains(le32(d, 14)))
      Some(("image/bmp", le32(d, 18), math.abs(le32(d, 22))))
    else if (d.length >= 4 && d(0) == 0xff.toByte && d(1) == 0xd8.toByte)
      parseJpeg(d).map { case (w, h) => ("image/jpeg", w, h) }
    else None
  }

  /** Walk JPEG segments to the first SOFn frame header. */
  private def parseJpeg(d: Array[Byte]): Option[(Int, Int)] = {
    var i = 2
    while (i + 9 < d.length) {
      if (d(i) != 0xff.toByte) return None
      val marker = d(i + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i += 2
      else if (marker == 0x01 || marker == 0xff) i += 2
      else {
        val len = be16(d, i + 2)
        val isSof = (marker >= 0xc0 && marker <= 0xcf) &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof)
          return Some((be16(d, i + 7), be16(d, i + 5))) // (width, height)
        if (len < 2) return None
        i += 2 + len
      }
    }
    None
  }
}
