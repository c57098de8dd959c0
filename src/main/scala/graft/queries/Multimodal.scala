package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines (Layer B
  * north-star; absent in the reference). Media payloads are opaque
  * `binary` columns with typed metadata travelling beside them; decode/
  * feature-extraction runs as batched partition-level processing
  * (`mapPartitions` over a typed Dataset — the Scala analog of
  * `mapInPandas`), so one task amortizes per-batch setup (codec init,
  * model load) across its whole partition, which is the shape that
  * matters at 100 TB.
  *
  * The audio path is REAL end-to-end: payloads are genuine RIFF/WAVE
  * PCM16 files (synthesized from the document bytes, since the
  * container ships no media corpora) and the decoder is a full RIFF
  * chunk-walk parser that would decode any canonical PCM16 WAV. The
  * extracted features are exact integer arithmetic over the decoded
  * samples, which is what makes mm02 DuckDB-oracle-checkable. */
object Multimodal {

  case class MediaRow(doc_id: Long, media: Array[Byte], fmt: String,
                      n_bytes: Long)
  case class MediaFeatures(doc_id: Long, fmt: String, n_bytes: Long,
                           sample_rate: Long, n_samples: Long,
                           sum_abs: Long, max_abs: Long)

  // ------------------------------------------------- WAV codec
  private val WavRate = 8000

  /** Minimal canonical RIFF/WAVE writer: 44-byte header + mono PCM16,
    * one sample per input byte, centered at 128 ((b-128)*256). */
  def synthWav(bytes: Array[Byte], sampleRate: Int = WavRate): Array[Byte] = {
    val dataLen = bytes.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1) // PCM, mono
    bb.putInt(sampleRate).putInt(sampleRate * 2) // byte rate
    bb.putShort(2).putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < bytes.length) {
      bb.putShort((((bytes(i) & 0xff) - 128) * 256).toShort)
      i += 1
    }
    bb.array()
  }

  case class WavPcm(sampleRate: Int, channels: Int, bitsPerSample: Int,
                    samples: Array[Short])

  /** Real PCM16 WAV decoder: validates the RIFF/WAVE magic, walks the
    * chunk list (skipping unknown chunks, honoring odd-length padding),
    * reads the fmt descriptor, and materializes the little-endian
    * 16-bit samples. No dependencies. */
  def decodeWav(media: Array[Byte]): WavPcm = {
    val bb = java.nio.ByteBuffer.wrap(media)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourCC() == "RIFF", "not a RIFF file")
    bb.getInt // riff size
    require(fourCC() == "WAVE", "not a WAVE file")
    var rate = 0; var channels = 0; var bits = 0
    var samples: Array[Short] = null
    while (bb.remaining() >= 8 && (samples == null || rate == 0)) {
      val id = fourCC()
      val len = bb.getInt
      id match {
        case "fmt " =>
          val fmtCode = bb.getShort
          require(fmtCode == 1, s"not PCM (fmt code $fmtCode)")
          channels = bb.getShort.toInt
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          bits = bb.getShort.toInt
          require(bits == 16, s"only PCM16 supported, got $bits")
          bb.position(bb.position() + (len - 16))
        case "data" =>
          val n = len / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = bb.getShort; i += 1 }
        case _ => // skip unknown chunk (word-aligned)
          bb.position(bb.position() + len + (len & 1))
      }
    }
    require(rate > 0 && samples != null, "missing fmt or data chunk")
    WavPcm(rate, channels, bits, samples)
  }

  /** ASCII-only document scan (char length == UTF-8 byte length).
    * Every synth media oracle in this module maps CHARACTERS to
    * payload BYTES via `ord()`, which is only byte-faithful for
    * ASCII; guarding the scan in BOTH engines makes a testdata
    * redraw that introduces non-ASCII text shrink the corpus instead
    * of silently diverging the hash compare (the mm10 +5 byte shift
    * would also wrap at 256 where `ord(x)+5` does not). */
  private[graft] def asciiDocs(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .filter(length(col("text")) === octet_length(col("text")))

  /** The matching DuckDB predicate for [[asciiDocs]]. */
  private val AsciiPred = "length(text) = strlen(text)"

  /** documents → media table: text bytes as the opaque payload. In a
    * real pipeline this is `spark.read.format("binaryFile")` or a
    * parquet table with a binary column. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    asciiDocs(s, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        lit("text/plain").as("fmt"),
        octet_length(encode(col("text"), "UTF-8")).cast("long")
          .as("n_bytes"))

  /** Metadata-only projection (oracle-checkable). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(col("doc_id"), col("fmt"), col("n_bytes"))

  val mediaMetaSql: String = """
    SELECT doc_id, 'text/plain' AS fmt,
      octet_length(encode(text)) AS n_bytes
    FROM documents
    WHERE length(text) = strlen(text)
    ORDER BY doc_id"""

  /** documents → audio table: a real PCM16 WAV file per document
    * (samples synthesized from the text bytes). */
  def wavTable(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((b: Array[Byte]) => synthWav(b))
    asciiDocs(s, dir)
      .select(col("doc_id"),
        synth(encode(col("text"), "UTF-8")).as("media"),
        lit("audio/wav").as("fmt"))
      .withColumn("n_bytes", octet_length(col("media")).cast("long"))
  }

  /** Batched decode/feature-extract over partitions: parse each WAV
    * payload with the real decoder and compute exact integer amplitude
    * features over the decoded samples. One task amortizes codec init
    * across its partition. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = wavTable(s, dir).as[MediaRow]
    ds.mapPartitions { rows =>
      // per-partition setup happens once here (codec init)
      rows.map { r =>
        val wav = decodeWav(r.media)
        var sumAbs = 0L; var maxAbs = 0L
        var i = 0
        while (i < wav.samples.length) {
          val a = math.abs(wav.samples(i).toLong)
          sumAbs += a
          if (a > maxAbs) maxAbs = a
          i += 1
        }
        MediaFeatures(r.doc_id, r.fmt, r.n_bytes, wav.sampleRate.toLong,
          wav.samples.length.toLong, sumAbs, maxAbs)
      }
    }.toDF()
  }

  /** DuckDB replica: the corpus is pure ASCII < 128, so each PCM
    * sample is (ord(char) - 128) * 256 — strictly negative, hence
    * abs = (128 - ord) * 256; the 44-byte canonical header plus two
    * bytes per sample gives n_bytes. */
  val mediaFeaturesSql: String = s"""
    SELECT doc_id, 'audio/wav' AS fmt,
      CAST(44 + 2 * octet_length(encode(text)) AS BIGINT) AS n_bytes,
      CAST($WavRate AS BIGINT) AS sample_rate,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
      CAST(coalesce(list_sum([(128 - ord(x)) * 256
        FOR x IN string_split(text, '')]), 0) AS BIGINT) AS sum_abs,
      CAST(coalesce(list_max([(128 - ord(x)) * 256
        FOR x IN string_split(text, '')]), 0) AS BIGINT) AS max_abs
    FROM documents
    WHERE length(text) = strlen(text)
    ORDER BY doc_id"""

  // ------------------------------------------------- frame sampling
  private val FrameBytes = 64
  private val FrameStride = 4

  /** Frame sampling over the opaque binary payload: fixed-size byte
    * frames, every `FrameStride`-th kept (the video-pipeline shape:
    * chunk → sample → per-frame feature). Pure expressions — the
    * explode fans out only the sampled frame indices, never the
    * payload bytes per frame candidate; `substring` on the binary
    * column slices lazily per emitted row. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val nFrames = ceil(col("n_bytes") / lit(FrameBytes.toDouble)).cast("long")
    mediaTable(s, dir)
      // zero-byte payloads have no frames: sequence(0, -1) would throw,
      // and the oracle's range(0, 0, k) emits nothing for them
      .filter(col("n_bytes") > 0)
      .withColumn("frame_no",
        explode(sequence(lit(0L), nFrames - 1, lit(FrameStride.toLong))))
      .withColumn("frame",
        expr(s"substring(media, cast(frame_no * $FrameBytes + 1 as int), " +
          s"$FrameBytes)"))
      .select(col("doc_id"), col("frame_no"),
        octet_length(col("frame")).cast("long").as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))
  }

  /** DuckDB oracle: the corpus is pure ASCII (verified), so character
    * substrings of the text equal byte slices of the payload and
    * VARCHAR md5 equals Spark's binary md5. */
  val frameSampleSql: String = s"""
    SELECT doc_id, frame_no,
      octet_length(encode(substring(text,
        CAST(frame_no * $FrameBytes + 1 AS BIGINT), $FrameBytes)))
        AS frame_bytes,
      md5(substring(text,
        CAST(frame_no * $FrameBytes + 1 AS BIGINT), $FrameBytes))
        AS frame_md5
    FROM (
      SELECT doc_id, text,
        unnest(range(0,
          CAST(ceil(octet_length(encode(text)) / $FrameBytes.0) AS BIGINT),
          $FrameStride)) AS frame_no
      FROM documents
      WHERE length(text) = strlen(text))
    ORDER BY doc_id, frame_no"""

  // ------------------------------------------------- PPM image codec

  case class ImageRow(doc_id: Long, media: Array[Byte])
  case class ImageFeatures(doc_id: Long, fmt: String, width: Long,
                           height: Long, sum_r: Long, sum_g: Long,
                           sum_b: Long)

  /** Minimal canonical binary-PPM (P6) writer: one pixel per input
    * byte b, a single row — R = b, G = 255−b, B = 7b mod 256. Exact
    * byte arithmetic so the decoded features replay in any engine. */
  def synthPpm(bytes: Array[Byte]): Array[Byte] = {
    val header = s"P6\n${bytes.length} 1\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](bytes.length * 3)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      px(3 * i) = b.toByte
      px(3 * i + 1) = (255 - b).toByte
      px(3 * i + 2) = (b * 7 % 256).toByte
      i += 1
    }
    header ++ px
  }

  case class PpmImage(width: Int, height: Int, maxVal: Int,
                      pixels: Array[Byte])

  /** Real P6 parser: magic, '#' comments, arbitrary whitespace between
    * header tokens, single whitespace before the raster, 3 bytes per
    * pixel — decodes any canonical 8-bit binary PPM. No dependencies. */
  def decodePpm(media: Array[Byte]): PpmImage = {
    var pos = 0
    def skipWs(): Unit = {
      var in = true
      while (in && pos < media.length) {
        val c = media(pos).toChar
        if (c == '#') { while (pos < media.length && media(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else in = false
      }
    }
    def token(): String = {
      skipWs()
      val start = pos
      while (pos < media.length && !media(pos).toChar.isWhitespace) pos += 1
      new String(media, start, pos - start, "US-ASCII")
    }
    require(token() == "P6", "not a binary PPM (P6) file")
    val (w, h, maxVal) = (token().toInt, token().toInt, token().toInt)
    require(maxVal == 255, s"only 8-bit PPM supported, maxval $maxVal")
    pos += 1 // the single whitespace byte after maxval
    val n = w * h * 3
    require(media.length - pos >= n, "truncated PPM raster")
    PpmImage(w, h, maxVal, java.util.Arrays.copyOfRange(media, pos, pos + n))
  }

  /** documents → image table: a real P6 file per non-empty document. */
  def ppmTable(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((b: Array[Byte]) => synthPpm(b))
    asciiDocs(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), synth(col("payload")).as("media"))
  }

  /** mm04 — image decode + channel statistics through the real P6
    * parser, batched per partition like [[mediaFeatures]] (same
    * 100 TB shape: decoder init amortized per task, features exact
    * integer arithmetic → DuckDB-replayable). */
  def imageFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ppmTable(s, dir).as[ImageRow].mapPartitions { rows =>
      rows.map { r =>
        val img = decodePpm(r.media)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var i = 0
        while (i < img.pixels.length) {
          sr += img.pixels(i) & 0xff
          sg += img.pixels(i + 1) & 0xff
          sb += img.pixels(i + 2) & 0xff
          i += 3
        }
        ImageFeatures(r.doc_id, "image/x-portable-pixmap",
          img.width.toLong, img.height.toLong, sr, sg, sb)
      }
    }.toDF()
  }

  /** DuckDB replica via the synth formula: pure-ASCII corpus, so the
    * channel sums are closed-form over the character codes. */
  val imageFeaturesSql: String = """
    SELECT doc_id, 'image/x-portable-pixmap' AS fmt,
      CAST(octet_length(encode(text)) AS BIGINT) AS width,
      CAST(1 AS BIGINT) AS height,
      CAST(list_sum([ord(x) FOR x IN string_split(text, '')])
        AS BIGINT) AS sum_r,
      CAST(list_sum([255 - ord(x) FOR x IN string_split(text, '')])
        AS BIGINT) AS sum_g,
      CAST(list_sum([ord(x) * 7 % 256 FOR x IN string_split(text, '')])
        AS BIGINT) AS sum_b
    FROM documents
    WHERE octet_length(encode(text)) > 0
      AND length(text) = strlen(text)
    ORDER BY doc_id"""

  // ----------------------------------------------------- image resize

  /** Nearest-neighbor resample of a decoded image to half width: keep
    * every even-indexed source column. Integer-exact (no filtering
    * kernel), so the resized raster replays in SQL. */
  def resizeHalf(img: PpmImage): PpmImage = {
    val newW = (img.width + 1) / 2
    val out = new Array[Byte](newW * img.height * 3)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < newW) {
        val src = (y * img.width + 2 * x) * 3
        val dst = (y * newW + x) * 3
        out(dst) = img.pixels(src)
        out(dst + 1) = img.pixels(src + 1)
        out(dst + 2) = img.pixels(src + 2)
        x += 1
      }
      y += 1
    }
    PpmImage(newW, img.height, img.maxVal, out)
  }

  /** mm06 — decode → resize → feature-extract, the standard media
    * preprocessing chain (thumbnail/downsample before feature
    * extraction), batched per partition like every decode here.
    * Nearest-neighbor keeps the arithmetic integer-exact: the oracle
    * recomputes the resized channel sums from the even-position
    * characters of the source text. */
  def imageResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ppmTable(s, dir).as[ImageRow].mapPartitions { it =>
      it.map { r =>
        val img = resizeHalf(decodePpm(r.media))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var i = 0
        while (i < img.pixels.length) {
          sr += img.pixels(i) & 0xff
          sg += img.pixels(i + 1) & 0xff
          sb += img.pixels(i + 2) & 0xff
          i += 3
        }
        ImageFeatures(r.doc_id, "image/x-portable-pixmap",
          img.width.toLong, img.height.toLong, sr, sg, sb)
      }
    }.toDF()
  }

  /** Resized replica: pixel x of the output is source pixel 2x, i.e.
    * the odd-POSITION characters of the 1-indexed text. */
  val imageResizeSql: String = """
    WITH px AS (
      SELECT doc_id, octet_length(encode(text)) AS w,
        list_transform(range(1, octet_length(encode(text)) + 1, 2),
          i -> ord(text[i])) AS keep
      FROM documents
      WHERE octet_length(encode(text)) > 0
        AND length(text) = strlen(text))
    SELECT doc_id, 'image/x-portable-pixmap' AS fmt,
      CAST((w + 1) // 2 AS BIGINT) AS width,
      CAST(1 AS BIGINT) AS height,
      CAST(list_sum(keep) AS BIGINT) AS sum_r,
      CAST(list_sum([255 - v FOR v IN keep]) AS BIGINT) AS sum_g,
      CAST(list_sum([v * 7 % 256 FOR v IN keep]) AS BIGINT) AS sum_b
    FROM px
    ORDER BY doc_id"""

  // ------------------------------------------- decode-failure quarantine

  case class QuarantineRow(doc_id: Long, source: String,
                           media: Array[Byte])
  case class DecodeOutcome(doc_id: Long, source: String, ok: Long,
                           sum_r: Long)

  /** mm05 — quarantine path: at 100 TB some payloads WILL be corrupt,
    * and a decoder that throws kills the whole job. The production
    * shape: decode inside a per-row try, emit an `ok` flag + features
    * for good rows, and aggregate the quarantined rows per source
    * instead of failing — bad records become a DATASET, not an
    * exception. Corruption is planted deterministically (every 13th
    * doc's payload is truncated mid-raster) so the oracle states the
    * outcome in closed form; decode work stays batched per partition.
    *
    * Output: per-source totals, quarantine counts, and the channel-sum
    * of the successfully decoded images — proving failures are
    * isolated row-by-row, not batch-by-batch. */
  def decodeQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val synth = udf { (id: Long, b: Array[Byte]) =>
      val full = synthPpm(b)
      // truncate INSIDE the raster: header parses, pixel read fails
      if (id % 13 == 0) java.util.Arrays.copyOf(full, full.length - 2)
      else full
    }
    val rows = asciiDocs(s, dir)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), col("source"),
        synth(col("doc_id"), col("payload")).as("media"))
    val outcomes = rows.as[QuarantineRow]
      .mapPartitions { it =>
        it.map { r =>
          try {
            val img = decodePpm(r.media)
            var sr = 0L
            var i = 0
            while (i < img.pixels.length) { sr += img.pixels(i) & 0xff; i += 3 }
            DecodeOutcome(r.doc_id, r.source, 1L, sr)
          } catch {
            case _: Exception => DecodeOutcome(r.doc_id, r.source, 0L, 0L)
          }
        }
      }.toDF()
    outcomes
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok") === 0, 1L).otherwise(0L)).as("n_quarantined"),
        sum(col("sum_r")).as("decoded_sum_r"))
  }

  /** Closed-form oracle: exactly the planted truncations fail; the
    * surviving channel sum is the synth formula over non-planted docs. */
  val decodeQuarantineSql: String = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_quarantined,
      CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE
        coalesce(list_sum([ord(x) FOR x IN string_split(text, '')]), 0)
        END) AS BIGINT) AS decoded_sum_r
    FROM documents
    WHERE octet_length(encode(text)) > 0
      AND length(text) = strlen(text)
    GROUP BY source
    ORDER BY source"""

  // ----------------------------------------------- audio resample

  case class AudioResampled(doc_id: Long, sample_rate: Long,
                            n_samples: Long, sum_abs: Long, max_abs: Long)

  /** Decimate PCM by 2: keep every even-indexed sample. Integer-exact
    * (no anti-alias filter — the nearest-neighbor analog for audio),
    * so the resampled amplitude features replay in SQL. */
  def decimate2(samples: Array[Short]): Array[Short] = {
    val out = new Array[Short]((samples.length + 1) / 2)
    var i = 0
    while (i < out.length) { out(i) = samples(2 * i); i += 1 }
    out
  }

  /** mm07 — audio downsample chain: decode WAV → decimate to half the
    * sample rate → amplitude features, the audio twin of mm06's image
    * resize (decode-transform-extract with the transform inside the
    * same per-partition batch, so samples never leave the task that
    * decoded them). The oracle recomputes the surviving samples from
    * the odd-position source characters via the synth formula. */
  def audioResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir)
      .filter(col("n_bytes") > lit(44L)) // ≥1 sample past the header
      .select(col("doc_id"), col("media"), col("fmt"), col("n_bytes"))
      .as[MediaRow].mapPartitions { it =>
        it.map { r =>
          val wav = decodeWav(r.media)
          val half = decimate2(wav.samples)
          var sumAbs = 0L
          var maxAbs = 0L
          var i = 0
          while (i < half.length) {
            val a = math.abs(half(i).toLong)
            sumAbs += a
            if (a > maxAbs) maxAbs = a
            i += 1
          }
          AudioResampled(r.doc_id, wav.sampleRate / 2L, half.length.toLong,
            sumAbs, maxAbs)
        }
      }.toDF()
  }

  /** Surviving sample i is source sample 2i = the odd-position
    * characters of the 1-indexed text; each sample is (byte-128)*256. */
  val audioResampleSql: String = s"""
    WITH sm AS (
      SELECT doc_id,
        list_transform(range(1, octet_length(encode(text)) + 1, 2),
          i -> abs((ord(text[i]) - 128) * 256)) AS v
      FROM documents
      WHERE octet_length(encode(text)) > 0
        AND length(text) = strlen(text))
    SELECT doc_id, CAST(${WavRate / 2} AS BIGINT) AS sample_rate,
      CAST(len(v) AS BIGINT) AS n_samples,
      CAST(list_sum(v) AS BIGINT) AS sum_abs,
      CAST(list_max(v) AS BIGINT) AS max_abs
    FROM sm
    ORDER BY doc_id"""

  // -------------------------------------------- video scene changes
  private val FrameChars = 16
  private val SceneThreshold = 100L

  case class VideoFrame(doc_id: Long, frame_no: Long, media: Array[Byte])
  case class FrameStat(doc_id: Long, frame_no: Long, sum_r: Long)

  /** documents → video table: each document becomes a frame SEQUENCE —
    * one real P6 file per [[FrameChars]]-char text slice. The chunking
    * is declarative (sequence + substring, zero shuffles); only the
    * per-frame codec runs imperatively. */
  def videoFrames(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((b: Array[Byte]) => synthPpm(b))
    asciiDocs(s, dir)
      // sequence(0, n-1) flips to a DESCENDING range when n = 0:
      // empty documents must not reach it
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            expr(s"(length(text) + ${FrameChars - 1}) div $FrameChars") - 1),
          f => substring(col("text"), (f * FrameChars + 1).cast("int"),
            lit(FrameChars)))).as(Seq("frame_no", "chunk")))
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        encode(col("chunk"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("frame_no"),
        synth(col("payload")).as("media"))
  }

  /** mm08 — video scene-change detection: decode every frame through
    * the real P6 parser (batched per partition, decoder init amortized
    * per task), reduce each to an exact integer intensity sum, and
    * flag frames whose red-channel sum jumps more than
    * [[SceneThreshold]] from the previous frame. Temporal comparison
    * is one lag window keyed on doc_id — frame streams of one
    * document never cross partitions, so at 100 TB the shuffle is one
    * pass of (doc, frame, sum) triples, never raster bytes. */
  def sceneChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    videoFrames(s, dir).as[VideoFrame].mapPartitions { rows =>
      rows.map { f =>
        val img = decodePpm(f.media)
        var sr = 0L
        var i = 0
        while (i < img.pixels.length) { sr += img.pixels(i) & 0xff; i += 3 }
        FrameStat(f.doc_id, f.frame_no, sr)
      }
    }.toDF()
      .withColumn("prev", lag(col("sum_r"), 1).over(w))
      .select(col("doc_id"), col("frame_no"), col("sum_r"),
        (col("prev").isNotNull &&
          abs(col("sum_r") - col("prev")) > SceneThreshold)
          .cast("long").as("is_scene_change"))
  }

  /** DuckDB replica via the synth formula (pure-ASCII corpus: the
    * red channel is the character code, so frame sums are closed-form
    * over the text slices). */
  val sceneChangesSql: String = s"""
    WITH frames AS (
      SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        CAST(list_sum([ord(x) FOR x IN string_split(
          substr(text, CAST(f * $FrameChars + 1 AS INT), $FrameChars),
          '')]) AS BIGINT) AS sum_r
      FROM documents,
        LATERAL (SELECT unnest(range(
          (length(text) + ${FrameChars - 1}) // $FrameChars)) AS f)
      WHERE length(text) > 0 AND length(text) = strlen(text))
    SELECT doc_id, frame_no, sum_r,
      CAST(CASE WHEN lag(sum_r) OVER w IS NOT NULL
            AND abs(sum_r - lag(sum_r) OVER w) > $SceneThreshold
           THEN 1 ELSE 0 END AS BIGINT) AS is_scene_change
    FROM frames
    WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)
    ORDER BY doc_id, frame_no"""

  // ------------------------------------------- mm09 VAD segments
  private val VadFrame = 16
  private val VadThreshold = 140000L

  case class FrameEnergy(doc_id: Long, frame_no: Long, energy: Long)

  /** mm09 — energy-threshold voice-activity detection over the real
    * WAV payloads: decode (per-partition batched), cut the PCM into
    * [[VadFrame]]-sample frames, reduce each to an exact integer
    * energy Σ|sample| (partial frames dropped — both engines use
    * ⌊n/16⌋ frames), then merge consecutive ACTIVE frames
    * (energy > [[VadThreshold]], which splits the corpus's frame-
    * energy distribution near its median, so real segment boundaries
    * exist) into speech segments via the gaps-and-islands pattern —
    * frame_no − row_number() over active frames is constant exactly
    * within a run. The audio analog of mm08's scene cut: mm08 finds
    * CHANGE points, VAD finds ACTIVITY extents — the segmentation
    * that decides which audio spans are worth transcribing at all.
    *
    * Scale shape: raster bytes never leave the decode task — only
    * (doc_id, frame_no, energy) triples shuffle, once, on doc_id for
    * the island window; segments then come from one partial-agg
    * groupBy. The oracle replays frame energies closed-form from the
    * synth formula, so the hash match certifies decoder + framing +
    * island merge end to end. */
  def vadSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    val frames = wavTable(s, dir)
      .filter(col("n_bytes") >= lit(44L + 2L * VadFrame)) // ≥1 frame
      .select(col("doc_id"), col("media"), col("fmt"), col("n_bytes"))
      .as[MediaRow].mapPartitions { it =>
        it.flatMap { r =>
          val wav = decodeWav(r.media)
          val nf = wav.samples.length / VadFrame
          (0 until nf).iterator.map { f =>
            var e = 0L
            var i = f * VadFrame
            val end = i + VadFrame
            while (i < end) { e += math.abs(wav.samples(i).toLong); i += 1 }
            FrameEnergy(r.doc_id, f.toLong, e)
          }
        }
      }.toDF()
    frames.filter(col("energy") > VadThreshold)
      .withColumn("island", col("frame_no") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min(col("frame_no")).as("seg_start"),
        max(col("frame_no")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("seg_energy"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "seg_energy")
  }

  /** Closed-form synth replica: frame f's energy is the sum of
    * (128 − ord(c))·256 over text chars [16f+1, 16f+16] (ASCII < 128
    * ⇒ every sample is negative ⇒ |s| = (128−ord)·256). */
  val vadSegmentsSql: String = s"""
    WITH fr AS (
      SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        CAST(list_sum([abs((ord(x) - 128) * 256) FOR x IN
          string_split(substr(text, CAST(f * $VadFrame + 1 AS INT),
            $VadFrame), '')]) AS BIGINT) AS energy
      FROM documents,
        LATERAL (SELECT unnest(range(length(text) // $VadFrame)) AS f)
      WHERE length(text) >= $VadFrame
        AND length(text) = strlen(text)),
    active AS (
      SELECT doc_id, frame_no, energy,
        frame_no - row_number() OVER (
          PARTITION BY doc_id ORDER BY frame_no) AS island
      FROM fr WHERE energy > $VadThreshold)
    SELECT doc_id, min(frame_no) AS seg_start,
      max(frame_no) AS seg_end, count(*) AS n_frames,
      CAST(sum(energy) AS BIGINT) AS seg_energy
    FROM active
    GROUP BY doc_id, island
    ORDER BY doc_id, seg_start"""

  // -------------------------------------- mm10 perceptual hash
  private val PhashBuckets = 16

  case class PhashRow(doc_id: Long, width: Long, phash: Long)

  /** mm10 — perceptual image hashing (aHash family) + hash-equality
    * dedup: each decoded image's red channel is split into
    * [[PhashBuckets]] equal-width bands; bit j is set when band j's
    * mean exceeds the whole-image mean — compared CROSS-MULTIPLIED
    * (band_sum · total_count > total_sum · band_count), so the hash
    * is exact integer arithmetic end to end, no division, replayable
    * in SQL. Images sharing a (width, phash) pair are perceptual
    * duplicates (near-identical tonal profile at band granularity) —
    * the image-side analog of d01's exact text hash, and the cheap
    * prefilter that runs before any pixel-level diff in real image
    * dedup stacks.
    *
    * Every 11th document plants a REPLICA image with +5 on every
    * channel byte — a uniform brightness shift. The band-vs-mean test
    * is provably invariant under it ((bs+5·bc)·w > (ts+5·w)·bc ⟺
    * bs·w > ts·bc), so each replica must collapse into its origin's
    * group — exactly the robustness that separates a PERCEPTUAL hash
    * from d01's byte hash (which the shift defeats).
    *
    * Scale shape: hashing happens inside the per-partition decode
    * batch (raster bytes never move); the dedup is ONE hash groupBy
    * on the 8-byte (width, phash) key with map-side combine — d01's
    * cost model on binary media. */
  def phashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // asciiDocs: the +5 brightness shift operates on raw bytes and
    // WRAPS at 256, while the closed-form oracle shifts code points
    // unwrapped — they agree only when every byte is < 251, which
    // ASCII guarantees.
    val docs = asciiDocs(s, dir)
      .filter(length(col("text")) >= PhashBuckets)
    val base = docs.select(col("doc_id"), col("text"),
      lit(0).as("shift"))
    val replicas = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
        lit(5).as("shift"))
    val synthShifted = udf((b: Array[Byte], sh: Int) =>
      synthPpm(b.map(x => (x + sh).toByte)))
    val imgs = base.unionAll(replicas)
      .select(col("doc_id"),
        synthShifted(encode(col("text"), "UTF-8"), col("shift"))
          .as("media"),
        lit("image/x-ppm").as("fmt"),
        octet_length(encode(col("text"), "UTF-8")).cast("long")
          .as("n_bytes"))
    val hashed = imgs.select(col("doc_id"), col("media"), col("fmt"),
      col("n_bytes")).as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val img = decodePpm(r.media)
        val w = img.width
        var total = 0L
        var i = 0
        while (i < w) { total += img.pixels(3 * i) & 0xff; i += 1 }
        var phash = 0L
        var j = 0
        while (j < PhashBuckets) {
          val from = j * w / PhashBuckets
          val until = (j + 1) * w / PhashBuckets
          var bandSum = 0L
          var k = from
          while (k < until) { bandSum += img.pixels(3 * k) & 0xff; k += 1 }
          // band mean > image mean, cross-multiplied (exact integers)
          if (bandSum * w > total * (until - from))
            phash |= 1L << j
          j += 1
        }
        PhashRow(r.doc_id, w.toLong, phash)
      }
    }.toDF()
    hashed.groupBy("width", "phash")
      .agg(count(lit(1)).as("n_images"),
        min(col("doc_id")).as("keeper_id"))
  }

  /** Closed-form replica: the red channel is the document's byte
    * sequence (+5 for the planted brightness-shifted replicas), so
    * band sums are ord() sums over char ranges. */
  val phashDedupSql: String = s"""
    WITH px AS (
      SELECT doc_id, length(text) AS w,
        [ord(x) FOR x IN string_split(text, '')] AS reds
      FROM documents WHERE length(text) >= $PhashBuckets
        AND $AsciiPred
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, length(text) AS w,
        [ord(x) + 5 FOR x IN string_split(text, '')] AS reds
      FROM documents
      WHERE length(text) >= $PhashBuckets AND doc_id % 11 = 0
        AND $AsciiPred),
    hashed AS (
      SELECT doc_id, CAST(w AS BIGINT) AS width,
        CAST(list_sum([
          CASE WHEN
            list_sum(reds[(j * w // $PhashBuckets + 1):
                          ((j + 1) * w // $PhashBuckets)]) * w >
            list_sum(reds) *
              ((j + 1) * w // $PhashBuckets - j * w // $PhashBuckets)
          THEN 1 << j ELSE 0 END
          FOR j IN range($PhashBuckets)]) AS BIGINT) AS phash
      FROM px)
    SELECT width, phash, count(*) AS n_images,
      min(doc_id) AS keeper_id
    FROM hashed
    GROUP BY width, phash
    ORDER BY width, phash"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("mm01_media_meta", mediaMeta _, Some(mediaMetaSql)),
      ("mm02_media_features", mediaFeatures _, Some(mediaFeaturesSql)),
      ("mm03_frame_sample", frameSample _, Some(frameSampleSql)),
      ("mm04_image_features", imageFeatures _, Some(imageFeaturesSql)),
      ("mm05_decode_quarantine", decodeQuarantine _,
        Some(decodeQuarantineSql)),
      ("mm06_image_resize", imageResize _, Some(imageResizeSql)),
      ("mm07_audio_resample", audioResample _, Some(audioResampleSql)),
      ("mm08_scene_changes", sceneChanges _, Some(sceneChangesSql)),
      ("mm09_vad_segments", vadSegments _, Some(vadSegmentsSql)),
      ("mm10_phash_dedup", phashDedup _, Some(phashDedupSql)),
    )
}
