package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * BINARY columns with typed metadata structs; decode / feature-extract /
  * frame-sample run as partition-local batch functions over the binary
  * column (the Scala analog of `mapInPandas` batches).
  *
  * The decode kernel is a real (if minimal) image codec: a from-scratch
  * binary PPM (P6, netpbm) header parser — ASCII dimensions with comment
  * and whitespace handling per the spec. Heavier codecs (JPEG/PNG via
  * JNI/FFI) slot into the same partition-local kernel; the Spark-side
  * contract (schema, encoders, partition batching, column pruning before
  * the heavy kernel) is unchanged by the codec choice.
  *
  * Input schema: every media kernel reads `doc_id BIGINT` and `payload
  * BINARY` by those fixed names (the frames the `documentsAs*` adapters
  * below build).
  */
object Multimodal {

  /** Typed metadata extracted from a media payload. Unparseable payloads
    * carry width/height/maxval = -1 (kept, not dropped — a 100 TB scrub
    * wants to COUNT corrupt rows, not silently lose them). */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, content_md5: String,
                             width: Int, height: Int, maxval: Int)

  /** Raw payload row: id + opaque bytes. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** The pruned (doc_id, payload) rows every media kernel maps over: the
    * scan reads only those two columns (check ReadSchema in explain). */
  private def mediaRows(media: DataFrame): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "payload").as[MediaRow]
  }

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Real minimal image decoder: binary PPM (P6) header — magic "P6",
    * then width, height, maxval as ASCII decimals separated by
    * whitespace, with '#'-to-end-of-line comments allowed before each
    * token (the netpbm grammar). Returns None when the payload is not a
    * parseable P6 header. Pixel samples follow the header and are left
    * untouched here (frame/pixel access is [[pixelStats]]' job). */
  def decodePpm(payload: Array[Byte]): Option[(Int, Int, Int)] =
    decodePpmAt(payload, 0).map { case (w, h, mv, _) => (w, h, mv) }

  /** The one P6 header parser (decodePpm, pixelStats, resizeNearest and
    * the frame walker all share it): parse at `off`, returning
    * (w, h, maxval, headerLen). headerLen spans through the single
    * whitespace byte that terminates the maxval token, i.e. the offset
    * of the first pixel byte relative to `off`. */
  private def decodePpmAt(payload: Array[Byte], off: Int): Option[(Int, Int, Int, Int)] = {
    if (payload.length < off + 2 || payload(off) != 'P'.toByte ||
        payload(off + 1) != '6'.toByte) None
    else {
      var i = off + 2
      def skipWsAndComments(): Unit = {
        var more = true
        while (more) {
          while (i < payload.length &&
            (payload(i) == ' ' || payload(i) == '\n' || payload(i) == '\r' || payload(i) == '\t')) i += 1
          if (i < payload.length && payload(i) == '#'.toByte) {
            while (i < payload.length && payload(i) != '\n'.toByte) i += 1
          } else more = false
        }
      }
      def readInt(): Option[Int] = {
        skipWsAndComments()
        val s = i
        while (i < payload.length && payload(i) >= '0'.toByte && payload(i) <= '9'.toByte) i += 1
        // ≤9 digits keeps the value inside Int range; a longer run is a
        // corrupt header and must yield None (kept+flagged), not a throw.
        if (i == s || i - s > 9) None
        else Some(new String(payload, s, i - s, "US-ASCII").toInt)
      }
      for { w <- readInt(); h <- readInt(); mv <- readInt()
            if i < payload.length } yield (w, h, mv, i + 1 - off)
    }
  }

  /** Decode a binary payload column into typed metadata. Runs as a
    * partition-local map over the pruned (doc_id, payload) projection. */
  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions { it =>
        // per-partition init (real codecs are expensive to construct)
        it.map { r =>
          val (w, h, mv) = decodePpm(r.payload).getOrElse((-1, -1, -1))
          MediaMeta(r.doc_id, r.payload.length.toLong, md5Hex(r.payload), w, h, mv)
        }
      }
  }

  // ---------------------------------------------------------------
  // audio: RIFF/WAVE
  // ---------------------------------------------------------------

  /** Typed audio metadata: -1 fields mark unparseable payloads (kept +
    * flagged, same contract as [[MediaMeta]]). duration_us derives from
    * data_bytes / byte_rate — integral µs so oracles replay it. */
  final case class WavMeta(doc_id: Long, channels: Int, sample_rate: Int,
                           bits: Int, data_bytes: Long, n_bytes: Long,
                           duration_us: Long)

  /** Real RIFF/WAVE writer: canonical 44-byte header layout (RIFF size,
    * fmt  chunk with PCM fields, data chunk), little-endian per the
    * spec, with an optional junk LIST chunk before fmt  — so the reader
    * below can only pass by genuinely walking chunks. Sample data is a
    * deterministic ramp. Odd-sized data chunks get the RIFF pad byte. */
  def encodeWav(channels: Int, rate: Int, bits: Int, nSamples: Int,
                junkLen: Int = 0): Array[Byte] = {
    val dataBytes = nSamples * channels * (bits / 8)
    val pad = dataBytes % 2
    // RIFF pads EVERY odd-sized chunk — the junk chunk included
    val junk = if (junkLen > 0) 8 + junkLen + junkLen % 2 else 0
    val total = 12 + junk + 24 + 8 + dataBytes + pad
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("WAVE".getBytes("US-ASCII"))
    if (junkLen > 0) {
      bb.put("LIST".getBytes("US-ASCII")).putInt(junkLen)
      (0 until junkLen + junkLen % 2).foreach(i => bb.put((i % 251).toByte))
    }
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * (bits / 8))
      .putShort((channels * (bits / 8)).toShort).putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    (0 until dataBytes + pad).foreach(i => bb.put((i % 253).toByte))
    bb.array()
  }

  /** Real RIFF/WAVE reader: verifies the RIFF/WAVE magic then walks the
    * chunk list (skipping unknown chunks and RIFF odd-size padding) to
    * the fmt  and data chunks. Returns (channels, rate, bits,
    * dataBytes); None on anything malformed. */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Int, Long)] =
    decodeWavFull(payload).map { case (ch, rate, bits, _, db) => (ch, rate, bits, db) }

  /** [[decodeWav]] plus the data chunk's byte OFFSET — what sample-level
    * readers need: (channels, rate, bits, dataOff, dataBytes). */
  def decodeWavFull(payload: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    def ascii(off: Int, s: String): Boolean =
      payload.length >= off + 4 && s.getBytes("US-ASCII").zipWithIndex
        .forall { case (b, i) => payload(off + i) == b }
    def u16(off: Int): Int =
      (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (payload(off) & 0xffL) | ((payload(off + 1) & 0xffL) << 8) |
        ((payload(off + 2) & 0xffL) << 16) | ((payload(off + 3) & 0xffL) << 24)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) None
    else {
      // Long cursor: two near-4GB declared sizes would wrap an Int sum
      // negative and turn a corrupt payload into an out-of-bounds throw
      var off = 12L
      var fmt: Option[(Int, Int, Int)] = None
      var data: Option[(Long, Long)] = None
      while ((fmt.isEmpty || data.isEmpty) && off + 8 <= payload.length) {
        val o = off.toInt
        val size = u32(o + 4)
        // a chunk must FIT: a declared size running past the payload end
        // is truncation/corruption, not a parseable file
        if (size < 0 || off + 8 + size > payload.length) return None
        if (ascii(o, "fmt ") && size >= 16)
          fmt = Some((u16(o + 10), u32(o + 12).toInt, u16(o + 22)))
        else if (ascii(o, "data")) data = Some((off + 8, size))
        off += 8 + size + size % 2 // RIFF pads odd chunks
      }
      for { (ch, rate, bits) <- fmt; (dOff, db) <- data } yield
        (ch, rate, bits, dOff, db)
    }
  }

  /** Decode a WAV payload column into typed audio metadata — same
    * partition-local batch shape as [[decodeMeta]]. */
  def decodeWavMeta(media: DataFrame): Dataset[WavMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodeWav(r.payload) match {
          case Some((ch, rate, bits, db)) =>
            val byteRate = rate.toLong * ch * (bits / 8)
            val durUs = if (byteRate > 0) db * 1000000L / byteRate else -1L
            WavMeta(r.doc_id, ch, rate, bits, db, r.payload.length.toLong, durUs)
          case None =>
            WavMeta(r.doc_id, -1, -1, -1, -1L, r.payload.length.toLong, -1L)
        }
      })
  }

  final case class WavSampleStats(doc_id: Long, n_samples: Long,
                                  sum_abs: Long, max_abs: Long)

  /** Sample-level PCM stats — the audio analog of [[pixelStats]]: decode
    * the REAL data chunk (offset from the chunk walk, not assumed),
    * interpret samples per the parsed header (16-bit signed LE, or
    * 8-bit unsigned centered at 128), and aggregate |amplitude| —
    * total and max, exact integers. Unparseable payloads and
    * unsupported bit depths are kept and flagged −1, never dropped
    * ([[MediaMeta]]'s contract). */
  def wavSampleStats(media: DataFrame): Dataset[WavSampleStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodeWavFull(r.payload) match {
          case Some((_, _, bits, dOff, db)) if bits == 16 || bits == 8 =>
            val width = bits / 8
            val n = db / width
            var sum = 0L
            var mx = 0L
            var k = 0L
            while (k < n) {
              val o = (dOff + k * width).toInt
              val a =
                if (bits == 16)
                  math.abs((((r.payload(o) & 0xff) |
                    ((r.payload(o + 1) & 0xff) << 8)).toShort).toInt).toLong
                else
                  math.abs((r.payload(o) & 0xff) - 128).toLong
              sum += a
              if (a > mx) mx = a
              k += 1
            }
            WavSampleStats(r.doc_id, n, sum, mx)
          case _ => WavSampleStats(r.doc_id, -1L, -1L, -1L)
        }
      })
  }

  /** Per-frame PCM energy over a parsed WAV payload: samples decoded by
    * the same chunk walk as [[wavSampleStats]], grouped into frames of
    * `frameSize` samples (last frame may be partial), each frame
    * emitting (Σ|a|, n) — the front half of a voice-activity detector.
    * Unparseable payloads emit zero rows; callers restore the sentinel
    * contract with a LEFT JOIN onto the id spine. */
  def wavFrameEnergies(media: DataFrame, frameSize: Int = 8): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .flatMap { r =>
        decodeWavFull(r.payload) match {
          case Some((_, _, bits, dOff, db)) if bits == 16 || bits == 8 =>
            val width = bits / 8
            val n = db / width
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var k = 0L
            var fIdx = 0L
            var fSum = 0L
            var fN = 0L
            while (k < n) {
              val o = (dOff + k * width).toInt
              val a =
                if (bits == 16)
                  math.abs((((r.payload(o) & 0xff) |
                    ((r.payload(o + 1) & 0xff) << 8)).toShort).toInt).toLong
                else
                  math.abs((r.payload(o) & 0xff) - 128).toLong
              fSum += a; fN += 1; k += 1
              if (fN == frameSize || k == n) {
                out += ((r.doc_id, fIdx, fSum, fN))
                fIdx += 1; fSum = 0L; fN = 0L
              }
            }
            out
          case _ => Nil
        }
      }
      .toDF("doc_id", "frame_idx", "f_sum", "f_n")
  }

  /** Documents→WAV adapter: real RIFF bytes with all parameters derived
    * from doc_id, so the oracle replays the expected metadata from the
    * construction formulas (the round trip proves the reader walks the
    * actual little-endian chunk layout — docs divisible by 3 carry a
    * junk LIST chunk before fmt ). */
  def documentsAsWav(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      val channels = 1 + (id % 2).toInt
      val rate = 8000 + (id % 5).toInt * 1000
      val bits = 8 * (1 + (id % 2).toInt)
      val nSamples = 10 + (id % 50).toInt
      val junk = if (id % 3 == 0) 2 * ((id % 4).toInt + 1) else 0
      (id, encodeWav(channels, rate, bits, nSamples, junk))
    }).toDF("doc_id", "payload")
  }

  // ---------------------------------------------------------------
  // video: concatenated-PPM frame container
  // ---------------------------------------------------------------

  /** Real frame sampler over a concatenated-PPM container: walks frame
    * headers (each frame = P6 header + w·h·3 pixel bytes), keeping every
    * `stride`-th frame's (idx, w, h, byte offset). One output row per
    * sampled frame — the explode shape of video frame extraction, with
    * the sizes actually computed from the parsed headers. */
  def sampleVideoFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .flatMap { r =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Long)]
        var off = 0L
        var idx = 0
        var ok = true
        while (ok && off < r.payload.length) {
          decodePpmAt(r.payload, off.toInt) match {
            case Some((w, h, _, hdrLen)) =>
              if (idx % stride == 0) out += ((r.doc_id, idx, w, h, off))
              off += hdrLen + w.toLong * h * 3
              idx += 1
            case None => ok = false // trailing garbage ends the walk
          }
        }
        out
      }
      .toDF("doc_id", "frame_idx", "width", "height", "offset")
  }

  /** Per-frame pixel statistics over a concatenated-PPM container: the
    * same header walk as [[sampleVideoFrames]], but each frame's pixel
    * payload is actually READ (sum + count of the w·h·3 bytes) — the
    * feature-extraction step a scene-cut detector needs. Truncated
    * frames (header claims more pixels than remain) are dropped, ending
    * the walk — the corrupt-row contract. One output row per frame. */
  def videoFrameStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .flatMap { r =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Long, Long)]
        var off = 0
        var idx = 0
        var ok = true
        while (ok && off < r.payload.length) {
          decodePpmAt(r.payload, off) match {
            case Some((w, h, _, hdrLen)) =>
              val n = w * h * 3
              val px = off + hdrLen
              if (px + n <= r.payload.length) {
                var s = 0L
                var i = 0
                while (i < n) { s += r.payload(px + i) & 0xff; i += 1 }
                out += ((r.doc_id, idx, w, h, s, n.toLong))
                off = px + n
                idx += 1
              } else ok = false
            case None => ok = false
          }
        }
        out
      }
      .toDF("doc_id", "frame_idx", "width", "height", "sum_px", "n_px")
  }

  /** Documents→video adapter: a container of 1 + doc_id%4 PPM frames,
    * frame f sized w=1+(doc_id+f)%8, h=1+f%5 with real w·h·3 pixel
    * payloads — offsets/sizes replayable by formula in the oracle. */
  def documentsAsVideo(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      val frames = 1 + (id % 4).toInt
      val bb = new java.io.ByteArrayOutputStream()
      (0 until frames).foreach { f =>
        val w = 1 + ((id + f) % 8).toInt
        val h = 1 + (f % 5)
        bb.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
        (0 until w * h * 3).foreach(i => bb.write(i % 249))
      }
      (id, bb.toByteArray)
    }).toDF("doc_id", "payload")
  }

  /** Per-image pixel feature extraction: byte count, sum, min, max over
    * the pixel stream following a parsed P6 header (unsigned byte
    * values). The header length is COMPUTED by the parser, so the stats
    * only match an oracle that knows the construction if the parser
    * skipped exactly the header — a round trip through real offsets.
    * Unparseable payloads flag -1 (kept, not dropped). */
  final case class PixelStats(doc_id: Long, n_px_bytes: Long, sum_px: Long,
                              min_px: Int, max_px: Int)

  def pixelStats(media: DataFrame): Dataset[PixelStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodePpmAt(r.payload, 0) match {
          case Some((_, _, _, hdrLen)) =>
            var i = hdrLen
            var sum = 0L
            var mn = 256
            var mx = -1
            while (i < r.payload.length) {
              val v = r.payload(i) & 0xff
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              i += 1
            }
            val n = (r.payload.length - hdrLen).toLong
            if (n == 0) PixelStats(r.doc_id, 0L, 0L, -1, -1)
            else PixelStats(r.doc_id, n, sum, mn, mx)
          case None => PixelStats(r.doc_id, -1L, -1L, -1, -1)
        }
      })
  }

  /** The cell pass the three image hashes share: split the `n` pixel
    * bytes after a `hdrLen`-byte header into `cells` contiguous ranges
    * (cell(i) = i·cells div n) and return each range's byte-value sum
    * and byte count. `n` must be positive. */
  private def cellSums(payload: Array[Byte], hdrLen: Int,
                       cells: Int): (Array[Long], Array[Long]) = {
    val n = payload.length - hdrLen
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    var i = 0
    while (i < n) {
      val c = (i.toLong * cells / n).toInt
      sums(c) += payload(hdrLen + i) & 0xff
      cnts(c) += 1
      i += 1
    }
    (sums, cnts)
  }

  /** Perceptual average-hash (aHash) of a P6 payload: the pixel stream
    * is split into `cells` contiguous ranges (cell(i) = i·cells div n —
    * the 1-D analogue of the classic 8×8 grid), and cell c's bit is set
    * iff its mean exceeds the global mean — compared as the EXACT
    * cross-multiplication sum_c·n > total·n_c, so the hash is pure
    * integer arithmetic and a SQL oracle replays it bit-for-bit.
    * 60 cells keep the hash in the engine's 60-bit discipline.
    * Near-identical images flip few cells → small hamming distance;
    * pair them with the simhash band machinery (Dedup) when needed.
    * Sentinels follow [[pixelStats]]: unparseable → (-1, -1), zero
    * pixels → (0, -1); flagged, never dropped. Per-partition kernel —
    * a codec loop is not a Catalyst expression (same justification as
    * the other media kernels). */
  final case class AHash(doc_id: Long, n_px: Long, ahash: Long)

  def averageHash(media: DataFrame, cells: Int = 60): Dataset[AHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodePpmAt(r.payload, 0) match {
          case Some((_, _, _, hdrLen)) =>
            val n = r.payload.length - hdrLen
            if (n <= 0) AHash(r.doc_id, 0L, -1L)
            else {
              val (sums, cnts) = cellSums(r.payload, hdrLen, cells)
              val total = sums.sum
              var hash = 0L
              var c = 0
              while (c < cells) {
                if (cnts(c) > 0 && sums(c) * n > total * cnts(c))
                  hash |= 1L << c
                c += 1
              }
              AHash(r.doc_id, n.toLong, hash)
            }
          case None => AHash(r.doc_id, -1L, -1L)
        }
      })
  }

  /** Difference hash (dHash): 61 cell means along the pixel stream,
    * bit c set when cell c+1's mean EXCEEDS cell c's — the gradient
    * companion of [[averageHash]] (aHash thresholds on global
    * brightness, dHash on local slope, so the pair catches both
    * brightness-shift and gradient-flip near-dups). Exact-integer rule
    * (cross-multiplied means); corrupt payloads keep the −1 sentinel. */
  def differenceHash(media: DataFrame, cells: Int = 61): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodePpmAt(r.payload, 0) match {
          case Some((_, _, _, hdrLen)) =>
            val n = r.payload.length - hdrLen
            if (n <= 0) (r.doc_id, 0L, -1L)
            else {
              val (sums, cnts) = cellSums(r.payload, hdrLen, cells)
              var hash = 0L
              var c = 0
              while (c < cells - 1) {
                if (cnts(c) > 0 && cnts(c + 1) > 0 &&
                  sums(c + 1) * cnts(c) > sums(c) * cnts(c + 1))
                  hash |= 1L << c
                c += 1
              }
              (r.doc_id, n.toLong, hash)
            }
          case None => (r.doc_id, -1L, -1L)
        }
      })
      .toDF("doc_id", "n_px", "dhash")
  }

  /** pHash constants: 64 luminance cells, 16 kept DCT coefficients,
    * cosine kernel floor-scaled to 2²⁰ integers at CLASS-INIT time —
    * the SAME table is embedded as literals in the oracle SQL, so no
    * libm call happens at query time in either engine (the cross-engine
    * cos() ulp trap can't occur by construction). */
  val PhashCells = 64
  val PhashCoeffs = 16
  val PhashScale = 1048576L
  lazy val phashCoef: Array[Array[Long]] =
    Array.tabulate(PhashCoeffs, PhashCells) { (k, c) =>
      math.floor(math.cos(
        math.Pi * (2 * c + 1) * (k + 1) / (2.0 * PhashCells)) * PhashScale).toLong
    }

  final case class PHash(doc_id: Long, n_px: Long, phash: Long)

  /** DCT perceptual hash (the pHash family): 64 cell means over the
    * payload bytes → 1-D DCT-II (integer multiply-accumulate against
    * [[phashCoef]]) → bit k set when coefficient k exceeds the
    * coefficient mean. Robust to uniform brightness/contrast shifts
    * (which [[averageHash]] partially is) AND to low-frequency noise.
    * Pure BIGINT after the class-init cosine table; sentinels follow
    * [[pixelStats]]. */
  def perceptualHash(media: DataFrame): Dataset[PHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    val coef = phashCoef
    mediaRows(media)
      .mapPartitions(_.map { r =>
        decodePpmAt(r.payload, 0) match {
          case Some((_, _, _, hdrLen)) =>
            val n = r.payload.length - hdrLen
            if (n <= 0) PHash(r.doc_id, 0L, -1L)
            else {
              val (sums, cnts) = cellSums(r.payload, hdrLen, PhashCells)
              val mu = Array.tabulate(PhashCells)(c =>
                if (cnts(c) > 0) sums(c) * 1024L / cnts(c) else 0L)
              val f = Array.tabulate(PhashCoeffs) { k =>
                var acc = 0L; var c = 0
                while (c < PhashCells) { acc += mu(c) * coef(k)(c); c += 1 }
                acc
              }
              val total = f.sum
              var hash = 0L
              var k = 0
              while (k < PhashCoeffs) {
                if (f(k) * PhashCoeffs > total) hash |= 1L << k
                k += 1
              }
              PHash(r.doc_id, n.toLong, hash)
            }
          case None => PHash(r.doc_id, -1L, -1L)
        }
      })
  }

  /** Nearest-neighbor resize of a P6 payload: output pixel (x, y) copies
    * input pixel (⌊x·w/newW⌋, ⌊y·h/newH⌋), all 3 channels — the
    * partition-local shape of image preprocessing (the resize kernel a
    * production pipeline swaps for a SIMD/codec one; the Spark contract
    * is unchanged). Payloads without full pixel data (or unparseable)
    * pass through with a null output payload. */
  def resizeNearest(media: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .map { r =>
        val out = decodePpmAt(r.payload, 0) match {
          case Some((w, h, mv, hdrLen))
              if w > 0 && h > 0 && r.payload.length >= hdrLen + 3L * w * h =>
            val header = s"P6\n$newW $newH\n$mv\n".getBytes("US-ASCII")
            val bb = java.nio.ByteBuffer.allocate(header.length + 3 * newW * newH)
            bb.put(header)
            var y = 0
            while (y < newH) {
              val sy = y.toLong * h / newH
              var x = 0
              while (x < newW) {
                val sx = x.toLong * w / newW
                val off = hdrLen + 3 * (sy * w + sx).toInt
                bb.put(r.payload(off)).put(r.payload(off + 1)).put(r.payload(off + 2))
                x += 1
              }
              y += 1
            }
            bb.array()
          case _ => null
        }
        (r.doc_id, out)
      }
      .toDF("doc_id", "payload")
  }

  /** Documents→media adapter for the test tables: treats the utf-8 text
    * bytes as the opaque payload. */
  def documentsAsMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Documents→PPM adapter: wraps each document's text bytes in a real
    * binary-PPM (P6) header with deterministic dimensions (derived from
    * doc_id / text length so the oracle can replay the construction —
    * the round-trip proves the parser actually reads the header, since
    * the oracle's expected dims come from the construction formula, not
    * from parsing). Pure Column ops; the payload bytes are identical to
    * DuckDB's encode() of the same string. */
  final case class PixelHist(doc_id: Long, bin: Int, cnt: Long)

  /** 16-bin luminance histogram of a P6 payload's pixel stream (bin =
    * v div 16) — the per-asset exposure profile a visual-quality filter
    * thresholds on. Same single-pass per-row kernel as [[pixelStats]]
    * (one fixed 16-slot array per row, no per-byte allocation); only
    * occupied bins are emitted, and a payload with no pixel bytes
    * (empty or corrupt) emits no rows — histogram consumers join back
    * onto the catalogue when absence matters. */
  def pixelHistogram(media: DataFrame): Dataset[PixelHist] = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .flatMap { r =>
        decodePpmAt(r.payload, 0) match {
          case Some((_, _, _, hdrLen)) =>
            val bins = new Array[Long](16)
            var i = hdrLen
            while (i < r.payload.length) {
              bins((r.payload(i) & 0xff) >> 4) += 1
              i += 1
            }
            (0 until 16).collect {
              case b if bins(b) > 0 => PixelHist(r.doc_id, b, bins(b))
            }
          case None => Nil
        }
      }
  }

  def documentsAsPpm(docs: DataFrame): DataFrame = {
    val w = (lit(1) + col("doc_id") % 64).cast("string")
    val h = (lit(1) + length(col("text")) % 64).cast("string")
    docs.select(col("doc_id"),
      encode(concat(lit("P6\n"), w, lit(" "), h, lit("\n255\n"), col("text")),
        "UTF-8").as("payload"))
  }
}
