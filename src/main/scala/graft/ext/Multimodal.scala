package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §7.6 / builder brief): image,
  * audio and video payloads ride as opaque `binary` columns with typed
  * metadata; decode / feature-extract / frame-sample are per-partition
  * transformations behind a pluggable decoder.
  *
  * The actual codec libraries are not present in this environment, so the
  * decode step is STUBBED: [[DeterministicFakeDecoder]] derives all outputs
  * (dimensions, features, frames) purely from the payload bytes via a
  * rolling 64-bit hash — fully deterministic, so the Spark-side plumbing
  * (schema, batching, partitioning, column shapes) is real and testable.
  * Swapping in a real decoder is a constructor argument, not a rewrite.
  *
  * Scale posture: media rows are heavy (MBs each) — transformations use
  * `mapPartitions` so a decoder is initialized once per partition, feature
  * vectors are fixed-width `Array[Float]` (columnar-friendly), and nothing
  * ever collects payloads to the driver. Partition sizing for such tables
  * should be driven by `spark.sql.files.maxPartitionBytes`, not row counts.
  */
object Multimodal {

  /** Canonical media-table schema: one row per asset. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  case class MediaMeta(mime: String, width: Option[Int], height: Option[Int],
                       sample_rate: Option[Int], duration_ms: Option[Long])
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  case class DecodedMedia(media_id: Long, kind: String, width: Int, height: Int,
                          n_frames: Int, features: Array[Float])

  /** Decoder boundary — a real implementation would wrap e.g. a JNI codec.
    * Must be Serializable (instantiated on executors, once per partition).
    */
  trait MediaDecoder extends Serializable {
    def decode(kind: String, payload: Array[Byte]): DecodedMedia0
  }

  /** One-time per-JVM codec posture: ImageIO's stream factories default
    * to `useCache=true`, which backs EVERY `createImageInputStream` /
    * `createImageOutputStream` (and the streams `ImageIO.read` makes
    * internally) with a TEMP FILE on disk — one create+delete per
    * asset, the dominant cost of the m03/m06 codec roundtrips measured
    * at ~5000 docs/task (guide §1.2 step 2: per-task work). Our
    * payloads are KB-sized in-memory arrays; memory-cached streams are
    * strictly cheaper and bit-identical. Referenced (lazily, once) by
    * every encode/decode entry point so the setting holds wherever the
    * task runs.
    */
  private object CodecInit {
    lazy val done: Unit = javax.imageio.ImageIO.setUseCache(false)
  }

  /** The JDK's audio SPI dispatch, resolved ONCE per JVM:
    * `AudioSystem.getAudioInputStream(stream)` re-runs the provider
    * lookup per call through `JDK13Services.getProviders`, a GLOBAL
    * synchronized static — measured with thread dumps at 31/32 executor
    * threads BLOCKED on it once the audio decode pass was parallelized
    * (the lock convoy made 32 threads SLOWER than one). Loading the
    * `javax.sound.sampled.spi.AudioFileReader` providers through
    * ServiceLoader once and dispatching directly replicates
    * AudioSystem's own loop (first reader that accepts wins; the rest
    * throw UnsupportedAudioFileException) without the per-row lock.
    */
  private object AudioReaders {
    lazy val all: Seq[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val buf = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.result()
    }

    /** The reader that accepted the LAST payload, tried first on the
      * next one: the provider list includes SoftMidiAudioFileReader,
      * whose per-attempt MIDI probe goes through MidiSystem.getProviders
      * — the SAME global JDK13Services lock (thread dumps again showed
      * 31/32 threads blocked there after the AudioFileReader lookup was
      * cached). Preferring the last-successful reader skips the MIDI
      * attempt entirely on a homogeneous stream. Only the ATTEMPT ORDER
      * changes: container magics are disjoint (RIFF vs MThd vs .snd), so
      * whichever reader accepts is the same reader at any order.
      */
    @volatile private var preferred: javax.sound.sampled.spi.AudioFileReader = null

    /** AudioSystem.getAudioInputStream semantics over the cached
      * providers; the input must support mark/reset (ours is a
      * ByteArrayInputStream).
      */
    def open(in: java.io.InputStream): javax.sound.sampled.AudioInputStream = {
      val p = preferred
      if (p != null) {
        try return p.getAudioInputStream(in)
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException =>
            in.reset()
        }
      }
      val rs = all.iterator
      while (rs.hasNext) {
        val r = rs.next()
        if (r ne p) {
          try {
            val s = r.getAudioInputStream(in)
            preferred = r
            return s
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException =>
              in.reset()
          }
        }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "Stream of unsupported format")
    }
  }
  /** Raw decode result before the id is attached. */
  case class DecodedMedia0(width: Int, height: Int, n_frames: Int, features: Array[Float])

  /** Deterministic stand-in for the codec stack: every output is a pure
    * function of the payload bytes (rolling 64-bit polynomial hash), so
    * plumbing tests are reproducible with no native libraries.
    */
  class DeterministicFakeDecoder(featureDim: Int = 16) extends MediaDecoder {
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      val bytes = if (payload == null) Array.emptyByteArray else payload
      var h = 1125899906842597L // large prime seed
      bytes.foreach(b => h = h * 31 + (b & 0xff))
      def mix(i: Int): Long = {
        var x = h + i * 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val w = 16 + math.floorMod(mix(1), 1905L).toInt // 16..1920
      val ht = 16 + math.floorMod(mix(2), 1065L).toInt
      val frames = kind match {
        case "video" => 1 + math.floorMod(mix(3), 300L).toInt
        case _       => 1
      }
      val feats = Array.tabulate(featureDim) { i =>
        (math.floorMod(mix(10 + i), 2000001L).toInt - 1000000) / 1000000.0f
      }
      DecodedMedia0(w, ht, frames, feats)
    }
  }

  /** Oracle-portable decoder: features are the first 60 hex nibbles of
    * SHA-256(payload), affine-mapped to (nibble − 7.5)/8 ∈ [−0.9375,
    * 0.9375] — every value a small-integer/2⁴ rational, exactly
    * representable in Float, so the downstream sign signature (e17) is
    * nibble ≥ 8, recomputable bit-identically by any engine with a
    * sha256 function. This is the m02 decode stand-in: unlike
    * [[DeterministicFakeDecoder]] (whose wrapping-int64 mix cannot be
    * replayed in an overflow-checking SQL engine), it puts the REAL
    * decode boundary — bytes in, fixed-width features out, once per
    * row through the mapPartitions bridge — under the cross-engine
    * oracle hash. A real perceptual feature extractor swaps the hash
    * for pixels; the plumbing and the dedup plan stay identical.
    */
  class ShaSignatureDecoder extends MediaDecoder {
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      val bytes = if (payload == null) Array.emptyByteArray else payload
      val dig = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      val feats = Array.tabulate(60) { i =>
        val b = dig(i / 2) & 0xff
        val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
        (nib - 7.5f) / 8.0f
      }
      DecodedMedia0(16, 16, 1, feats)
    }
  }

  /** REAL-codec image decoder over the JDK's built-in `javax.imageio`
    * readers (PNG / BMP / GIF — zero new dependencies): true pixel
    * dimensions plus a genuine pixel feature — a gridSize×gridSize
    * block-mean LUMINANCE map (the blockhash perceptual-feature family;
    * Rec. 601 weights 0.299/0.587/0.114), row-major, each value in
    * [0, 1]. Deterministic: PNG/BMP decode to exact pixel values and
    * each block mean is an exact double sum over a bounded block, so
    * the feature path is as replayable as the stubs. Undecodable
    * payloads fail loudly (a silent zero-vector would poison the dedup
    * signature downstream). n_frames is 1 — still images; animated
    * containers surface frame 0 here (frame EXTRACTION stays behind
    * [[sampleFrames]]'s grid).
    *
    * For an image smaller than the grid, block edges clamp so every
    * cell covers ≥ 1 pixel (cells replicate pixels — still a pure
    * function of the image). This decoder closes the "no real codec in
    * the container" caveat for the formats the JDK itself ships;
    * JPEG/video stay behind the same boundary with external codecs.
    */
  class ImageIoDecoder(gridSize: Int = 4) extends MediaDecoder {
    require(gridSize > 0, s"gridSize must be positive, got $gridSize")
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      CodecInit.done // memory-cached streams, not a temp file per asset
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        if (payload == null) Array.emptyByteArray else payload))
      require(img != null,
        "payload is not an image the JDK can decode (ImageIO returned null)")
      val w = img.getWidth; val h = img.getHeight
      val feats = new Array[Float](gridSize * gridSize)
      var gy = 0
      while (gy < gridSize) {
        val y0 = math.min(gy * h / gridSize, h - 1)
        val y1 = math.max(y0 + 1, math.min((gy + 1) * h / gridSize, h))
        var gx = 0
        while (gx < gridSize) {
          val x0 = math.min(gx * w / gridSize, w - 1)
          val x1 = math.max(x0 + 1, math.min((gx + 1) * w / gridSize, w))
          var sum = 0.0; var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >>> 16) & 0xff
              val g = (rgb >>> 8) & 0xff
              val b = rgb & 0xff
              sum += (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
              n += 1; x += 1
            }
            y += 1
          }
          feats(gy * gridSize + gx) = (sum / n).toFloat
          gx += 1
        }
        gy += 1
      }
      DecodedMedia0(w, h, 1, feats)
    }
  }

  /** Ingestion bridge from the binaryFile source
    * ([[graft.sources.Formats.readBinaryFiles]]) into the canonical media
    * table: one MediaRow per file. `media_id = xxhash64(path)` — a pure
    * function of the object's name, so ids are stable across re-ingests
    * and independent of scan layout; kind derives from the extension.
    * True dimensions/rates come later from decode — meta carries only the
    * extension-guessed mime here.
    */
  def fromBinaryFiles(files: DataFrame): Dataset[MediaRow] = {
    val s = files.sparkSession
    import s.implicits._
    files
      .select(
        xxhash64(col("path")).as("media_id"),
        // extension = after the last dot WITHIN the basename — splitting
        // the full path on dots would let a dotted directory (".../v1.2/")
        // leak into the ext of a dot-free filename; empty when none
        lower(regexp_extract(col("path"), "\\.([^./]+)$", 1)).as("ext"),
        col("content").as("payload"))
      .withColumn("kind",
        when(col("ext").isin("png", "jpg", "jpeg", "img", "bmp", "gif"), "image")
          .when(col("ext").isin("wav", "mp3", "flac", "ogg"), "audio")
          .when(col("ext").isin("mp4", "avi", "mkv", "webm"), "video")
          .otherwise("binary"))
      .select(col("media_id"), col("kind"), col("payload"),
        struct(
          // standard IANA types for the extensions `kind` already knows;
          // anything unrecognized is honestly an octet-stream rather than
          // a fabricated application/x-<ext> nobody registers handlers for
          when(col("ext").isin("jpg", "jpeg"), "image/jpeg")
            .when(col("ext") === "png", "image/png")
            .when(col("ext") === "gif", "image/gif")
            .when(col("ext") === "bmp", "image/bmp")
            .when(col("ext") === "wav", "audio/wav")
            .when(col("ext") === "mp3", "audio/mpeg")
            .when(col("ext") === "flac", "audio/flac")
            .when(col("ext") === "ogg", "audio/ogg")
            .when(col("ext") === "mp4", "video/mp4")
            .when(col("ext") === "webm", "video/webm")
            .when(col("ext") === "mkv", "video/x-matroska")
            .when(col("ext") === "avi", "video/x-msvideo")
            .otherwise("application/octet-stream").as("mime"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
      .as[MediaRow]
  }

  /** Decode each asset once per partition; emits fixed-width feature rows.
    * `mapPartitions` (not a per-row UDF) so decoder init amortizes and the
    * iterator never materializes a partition in memory.
    */
  def decodeAndFeaturize(media: Dataset[MediaRow], decoder: MediaDecoder): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val d = decoder.decode(r.kind, r.payload)
        DecodedMedia(r.media_id, r.kind, d.width, d.height, d.n_frames, d.features)
      }
    }
  }

  /** Resize stub: clamps each asset's decoded dimensions into a bounding
    * box preserving aspect ratio — the shape (per-partition transform,
    * dimension arithmetic on metadata, payload untouched at this layer) a
    * real resampler plugs into; a real implementation would also rewrite
    * `features` from resized pixels.
    */
  def resize(decoded: Dataset[DecodedMedia], maxW: Int, maxH: Int): Dataset[DecodedMedia] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions(_.map { d =>
      val scale = math.min(1.0, math.min(maxW.toDouble / d.width, maxH.toDouble / d.height))
      d.copy(width = math.max(1, (d.width * scale).toInt),
        height = math.max(1, (d.height * scale).toInt))
    })
  }

  /** Frame sampling stub for video rows: every k-th frame index up to the
    * decoded frame count — returns (media_id, frame_idx) pairs, the shape a
    * real frame extractor would feed downstream (e.g. image embedding).
    */
  def sampleFrames(decoded: Dataset[DecodedMedia], everyK: Int): DataFrame = {
    val s = decoded.sparkSession
    import s.implicits._
    decoded.filter(_.kind == "video")
      .select(col("media_id"), col("n_frames"))
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK))).as("frame_idx"))
  }

  /** Audio windowing: fixed-length overlapping analysis windows from each
    * audio row's metadata duration — (media_id, window_idx, start_ms,
    * end_ms) rows, the grid a real STFT/feature extractor fills in. Pure
    * generator arithmetic on metadata (the payload is untouched at this
    * layer), mirroring how sampleFrames grids video. Short tails are
    * emitted (standard; padding is the consumer's concern).
    */
  def audioWindows(media: Dataset[MediaRow], windowMs: Long,
                   strideMs: Long): DataFrame = {
    require(windowMs > 0 && strideMs > 0, "window and stride must be positive")
    media.toDF()
      .filter(col("kind") === "audio" && col("meta.duration_ms").isNotNull &&
        col("meta.duration_ms") > 0)
      .select(col("media_id"), col("meta.duration_ms").as("dur"))
      .select(col("media_id"), col("dur"),
        posexplode(sequence(lit(0L), col("dur") - 1, lit(strideMs))))
      .select(col("media_id"), col("pos").cast("long").as("window_idx"),
        col("col").as("start_ms"),
        least(col("col") + windowMs, col("dur")).as("end_ms"))
      .orderBy("media_id", "window_idx")
  }

  /** Feature-table projection: media features as an `Array[Float]` column
    * ready for the VectorOps similarity path (same column shape as the
    * `embeddings` table).
    */
  def featureTable(decoded: Dataset[DecodedMedia]): DataFrame =
    decoded.toDF().select(col("media_id").as("vec_id"), col("features").as("embedding"))

  /** Metadata audit in the data-contract style (SURVEY A10): null payloads,
    * suspicious dimensions, per-kind counts.
    */
  def mediaAudit(media: DataFrame): DataFrame =
    media.groupBy("kind").agg(
      count(lit(1)).as("n"),
      sum(isnull(col("payload")).cast("long")).as("null_payload"),
      sum((length(col("payload")) === 0).cast("long")).as("empty_payload"))

  // ---------------------------------------------------------------- m01

  /** Exact BINARY-payload dedup — the first media-dedup pass every
    * multimodal pipeline runs (before any perceptual hash): group
    * payloads by their SHA-256 content fingerprint, keep the lowest id
    * per group, report copy counts and reclaimable bytes. This is d01's
    * semantics lifted to `BinaryType` end-to-end: the hash, the byte
    * length and the grouping all run on the binary column, which is how
    * a 100 TB media table is actually deduped (hash-group the
    * fingerprints; never ship or compare payloads — two payloads are
    * equal iff their SHA-256s are, at any practical scale).
    *
    * The registry instance derives the payload deterministically from
    * `documents.text` (UTF-8 bytes) because the testdata carries no
    * media column — the point is that the BINARY path itself (cast,
    * octet length, sha2-over-bytes, fingerprint grouping) sits under
    * the cross-engine hash gate; a real media table swaps the source
    * column, not the plan. Scale shape: one scan, one
    * map-side-combining group on the 64-hex fingerprint, a slim
    * keeper/copies table joined back by fingerprint. All outputs are
    * exact ints or hex strings — no floats anywhere.
    */
  def binaryHashDedup(s: SparkSession, dir: String): DataFrame = {
    val payloads = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "CAST(text AS BINARY) AS payload")
      .selectExpr("doc_id", "octet_length(payload) AS n_bytes",
        "sha2(payload, 256) AS sha")
    val groups = payloads.groupBy("sha")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
    payloads.join(groups, "sha")
      .select(col("doc_id"), col("n_bytes"), col("sha"), col("n_copies"),
        (col("doc_id") === col("keeper")).as("is_keeper"),
        when(col("doc_id") === col("keeper"), 0L)
          .otherwise(col("n_bytes")).as("reclaimable_bytes"))
      .orderBy("doc_id")
  }

  private val binaryHashDedupSql =
    """WITH p AS (SELECT doc_id,
      |        octet_length(CAST(text AS BLOB)) AS n_bytes,
      |        sha256(text) AS sha
      |      FROM documents),
      |g AS (SELECT sha, count(*) AS n_copies, min(doc_id) AS keeper
      |      FROM p GROUP BY sha)
      |SELECT doc_id, n_bytes, sha, n_copies,
      |  doc_id = keeper AS is_keeper,
      |  CASE WHEN doc_id = keeper THEN 0 ELSE n_bytes END
      |    AS reclaimable_bytes
      |FROM p JOIN g USING (sha) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m02

  /** Perceptual media near-dup pairs — the FULL media-dedup chain under
    * the oracle gate: binary payload → per-partition decode
    * ([[decodeAndFeaturize]] through the real [[MediaDecoder]] boundary)
    * → feature table → e17's sign signature → 8-band LSH candidate
    * pairs → exact hamming ≤ 7. m01 gates the exact-bytes rung of media
    * dedup; this gates the perceptual rung on the SAME derived-payload
    * trick: each document's first-8-token header bytes stand in for an
    * asset payload (docs sharing boilerplate openings — 25 pairs at
    * sf0.01 — become the planted duplicates; the decoder is
    * [[ShaSignatureDecoder]], whose features any engine can recompute).
    *
    * The DuckDB oracle is deliberately the BRUTE-FORCE O(n²) hamming
    * join over driver-recomputed signatures: the ≤ 7-of-8-bands
    * pigeonhole guarantees banded ≡ brute force, so the hash compare
    * pins that guarantee cross-engine — an algorithm-independent
    * witness, d72's oracle discipline. Scale shape is e17's: signature
    * is row-local, candidates come from band-bucket posting lists via
    * the lazy pair_explode, hamming is one codegen'd bit_count.
    */
  def perceptualMediaDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.Tables.documents(s, dir)
      .selectExpr(
        "doc_id AS media_id",
        "'image' AS kind",
        "CAST(concat_ws(' ', slice(split(text, ' '), 1, 8)) AS BINARY) AS payload",
        """named_struct('mime', 'application/octet-stream',
          |  'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT),
          |  'sample_rate', CAST(NULL AS INT),
          |  'duration_ms', CAST(NULL AS BIGINT)) AS meta""".stripMargin)
      .as[MediaRow]
    val feats = featureTable(decodeAndFeaturize(media, new ShaSignatureDecoder))
    VectorOps.perceptualDupPairs(feats, hammingMax = 7)
      .selectExpr("vec_id_1 AS media_id_1", "vec_id_2 AS media_id_2", "hamming")
      .orderBy("media_id_1", "media_id_2")
  }

  private val perceptualMediaDedupSql =
    """WITH p AS (SELECT doc_id AS media_id,
      |        sha256(array_to_string(string_split(text, ' ')[1:8], ' ')) AS sha
      |      FROM documents),
      |sg AS (SELECT media_id,
      |  CAST(list_sum(list_transform(range(1, 61),
      |    i -> CASE WHEN ('0x' || substr(sha, i, 1))::BIGINT >= 8
      |              THEN (CAST(1 AS BIGINT) << (i - 1))
      |              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |  FROM p)
      |SELECT a.media_id AS media_id_1, b.media_id AS media_id_2,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sg a JOIN sg b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
      |ORDER BY media_id_1, media_id_2""".stripMargin

  // ---------------------------------------------------------------- m03

  /** Minimal 24-bit uncompressed BMP encoder for an 8-bit GRAYSCALE
    * image (r = g = b = v) — the REAL container the JDK's ImageIO BMP
    * reader decodes exactly (no chroma subsampling, no quantization),
    * which is what lets m03 put a true encode → decode → featurize
    * roundtrip under the cross-engine oracle. Input row-major,
    * top-down; BMP stores rows bottom-up, 4-byte-aligned (w=8 ⇒ 24-byte
    * rows, already aligned).
    */
  private[ext] def encodeGrayBmp(w: Int, h: Int,
      pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == w * h, s"need ${w * h} pixels, got ${pixels.length}")
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54)     // file header
      .putInt(40).putInt(w).putInt(h)                 // BITMAPINFOHEADER
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) {                                  // bottom-up rows
      var x = 0
      while (x < w) {
        val v = (pixels(y * w + x) & 0xff).toByte
        buf.put(v).put(v).put(v)                      // B, G, R
        x += 1
      }
      var pad = w * 3
      while (pad < rowBytes) { buf.put(0.toByte); pad += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Registry entry: dHash perceptual fingerprints from REAL decoded
    * pixels — the decoded-pixel rung m01/m02 lack: per document a
    * deterministic 8×8 grayscale image (pixel (x, y) = first byte of
    * md5("<doc_id>:<y*8+x>") — a definition BOTH engines can state) is
    * encoded as a REAL BMP ([[encodeGrayBmp]]), decoded through the
    * REAL codec ([[ImageIoDecoder]], javax.imageio — true pixel reads,
    * not a stub), block-mean featurized on a 4×4 grid, and fingerprinted
    * with the dHash rule: bit (gy·4+gx) set iff block(gy,gx) >
    * block(gy,(gx+1) mod 4) — gradient-sign hashing, the perceptual
    * family production image dedup uses.
    *
    * Cross-engine determinism WITHOUT replaying floats: for grayscale
    * pixels the decoder's Rec.-601 block mean is a strictly monotone
    * function of the block's integer pixel SUM, and the float feature
    * recovers that sum exactly (round(f·n·255); error ≤ 1e-4 ≪ 0.5) —
    * so the emitted bits are INTEGER comparisons and the oracle replays
    * them from the pixel definition in pure integer SQL. The hash
    * equality therefore pins the whole encode → ImageIO decode →
    * block-mean chain: any pixel the codec roundtrip perturbs flips a
    * sum and scrambles the fingerprint. Scale shape: everything is
    * row-local (64 md5s + one encode/decode per doc behind the
    * per-partition decoder); the only shuffle is the output sort.
    */
  def mediaDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the payload is GENERATED from doc_id, so fan the 8-byte proxy out
    // BEFORE the 64-md5 + encode/decode work (guide §8: move heavy bytes
    // zero times, decide placement on the narrow key) — a 1-row-group
    // input otherwise runs the whole codec pass on one task
    val px = graft.Tables.fanOut(
        graft.Tables.documents(s, dir).select("doc_id"))
      .selectExpr("doc_id",
        """transform(sequence(0, 63), i ->
          |  CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), ':',
          |    CAST(i AS STRING)) AS BINARY)), 1, 2), 16, 10) AS INT))
          |  AS pixels""".stripMargin)
      .as[(Long, Array[Int])]
    val media: Dataset[MediaRow] = px.mapPartitions(_.map { case (id, pixels) =>
      MediaRow(id, "image", encodeGrayBmp(8, 8, pixels),
        MediaMeta("image/bmp", Some(8), Some(8), None, None))
    })
    decodeAndFeaturize(media, new ImageIoDecoder(4)).toDF()
      .selectExpr("media_id", "width", "height",
        "transform(features, f -> CAST(round(f * 4 * 255) AS BIGINT)) AS bs")
      .selectExpr("media_id", "width", "height",
        """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) ->
          |  acc + IF(bs[b] > bs[(b div 4) * 4 + pmod(b + 1, 4)],
          |    shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))
          |  AS dhash""".stripMargin)
      .orderBy("media_id")
  }

  private val mediaDhashSql =
    """WITH px AS (
      |  SELECT doc_id AS media_id, i,
      |    CAST(('0x' || substr(md5(doc_id || ':' || i), 1, 2)) AS INT) AS v
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
      |bs AS (
      |  SELECT media_id, ((i // 8) // 2) AS gy, ((i % 8) // 2) AS gx,
      |    sum(v) AS s
      |  FROM px GROUP BY 1, 2, 3),
      |dh AS (
      |  SELECT a.media_id,
      |    CAST(sum(CASE WHEN a.s > b.s
      |      THEN (CAST(1 AS BIGINT) << (a.gy * 4 + a.gx))
      |      ELSE 0 END) AS BIGINT) AS dhash
      |  FROM bs a JOIN bs b ON a.media_id = b.media_id AND a.gy = b.gy
      |    AND b.gx = (a.gx + 1) % 4
      |  GROUP BY a.media_id)
      |SELECT media_id, 8 AS width, 8 AS height, dhash
      |FROM dh ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- m04

  /** 64-feature decode stand-in for the media → ANN-index arc: the 64
    * hex nibbles of SHA-256(payload), affine-mapped to (nib − 7.5)/8 —
    * [[ShaSignatureDecoder]]'s exact-rational discipline widened to the
    * 64 dimensions [[VectorIndex]]'s subspace layout expects, so decoded
    * media features flow through the UNMODIFIED committed-index
    * machinery and every value is replayable bit-identically in SQL.
    */
  class Sha64Decoder extends MediaDecoder {
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      val bytes = if (payload == null) Array.emptyByteArray else payload
      val dig = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      val feats = Array.tabulate(64) { i =>
        val b = dig(i / 2) & 0xff
        val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
        (nib - 7.5f) / 8.0f
      }
      DecodedMedia0(16, 16, 1, feats)
    }
  }

  /** The m04 incoming-split rule (the d79/d82 bucket cut on media ids). */
  private def mediaIncPredSpark = s"pmod(md5_long60(CAST(vec_id AS STRING)), 100) >= ${TextOps.TrainCut}"
  private def mediaIncPredSql =
    s"${TextOps.md5h60Sql("CAST(vec_id AS VARCHAR)")} % 100 >= ${TextOps.TrainCut}"

  /** Registry entry: media near-dup ADMISSION served off the committed
    * ANN index — e52's ingest-gate arc run on DECODED MEDIA FEATURES:
    * payload-header bytes decode through the [[MediaDecoder]] boundary
    * ([[Sha64Decoder]], 64 exact-rational features), the base split's
    * features build the standard trained IVF-PQ artifact
    * ([[VectorIndex.buildIndexFrom]] — residual quantizers, cell-
    * partitioned codes), and each incoming asset probes it two-stage
    * (route → ADC shortlist → exact-cosine verify at τ = 0.9). Docs
    * sharing a payload header decode to IDENTICAL features (cosine
    * exactly 1), so cross-split header dups are the planted positives.
    * This is the multimodal family joining the vector family's serving
    * stack — one index implementation, text-derived or media-derived
    * vectors alike. The oracle replays decode → train → probe inline
    * ([[VectorOps.vectorAdmissionOracleOver]]).
    */
  def mediaAdmission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val media = graft.Tables.documents(s, dir)
      .selectExpr(
        "doc_id AS media_id",
        "'image' AS kind",
        "CAST(concat_ws(' ', slice(split(text, ' '), 1, 8)) AS BINARY) AS payload",
        """named_struct('mime', 'application/octet-stream',
          |  'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT),
          |  'sample_rate', CAST(NULL AS INT),
          |  'duration_ms', CAST(NULL AS BIGINT)) AS meta""".stripMargin)
      .as[MediaRow]
    val vecs = featureTable(decodeAndFeaturize(media, new Sha64Decoder))
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val incoming = vecs.filter(expr(mediaIncPredSpark))
    val base = vecs.filter(expr(s"NOT ($mediaIncPredSpark)"))
    val root = SegmentChain.tmpRoot("graft-ann-media", dir)
    // reuse keys on the build's own fingerprint stamp (e52's pattern) —
    // the media-feature corpus lives under its own root, so the generic
    // index stamp plus this root IS the (source, format) key
    SegmentChain.ensure(s, root,
        (-3L, s"index.r:${SegmentChain.fingerprint(base, "vec_id")}"))(
      VectorIndex.buildIndexFrom(base, root))
    VectorIndex.admissionVerdicts(incoming, base, root, tau = 0.9, None)
  }

  private def mediaAdmissionSql = VectorOps.vectorAdmissionOracleOver(
    """SELECT doc_id AS vec_id,
      |    list_transform(range(1, 65), i ->
      |      (CAST(('0x' || substr(sha256(array_to_string(
      |         string_split(text, ' ')[1:8], ' ')), i, 1)) AS BIGINT) - 7.5)
      |      / 8.0) AS v
      |  FROM documents""".stripMargin,
    mediaIncPredSql, 0.9)

  // ---------------------------------------------------------------- m05

  /** Minimal PCM-16 mono WAV encoder (RIFF/WAVE, little-endian) — the
    * REAL container the JDK's javax.sound.sampled reader decodes
    * exactly (uncompressed signed PCM: no quantization, no resampling),
    * the audio analogue of [[encodeGrayBmp]]: what lets m05 put a true
    * encode → decode → featurize roundtrip under the cross-engine
    * oracle.
    */
  private[graft] def encodePcm16Wav(sampleRate: Int,
      samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                    // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)  // byte rate
      .putShort(2).putShort(16)                   // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(v => { buf.putShort(v); () })
    buf.array()
  }

  /** REAL-codec audio decoder over the JDK's built-in
    * `javax.sound.sampled` (WAV / signed PCM — zero new dependencies):
    * decodes the payload to its true int16 samples, grids them into
    * fixed-length non-overlapping analysis windows ([[audioWindows]]'s
    * grid with stride = window, in samples), and emits INTEGER-exact
    * per-window features packed [sum|s|₀..sum|s|ₖ₋₁, zc₀..zcₖ₋₁]:
    * the energy proxy Σ|sample| and the zero-crossing count (sign
    * changes between consecutive samples within the window — the
    * classic voiced/unvoiced discriminator). Every value is an integer
    * < 2²⁴, exactly representable in the Float feature slot, so the
    * emitted numbers replay bit-identically in any engine (m03's
    * integer-exact oracle discipline on the audio rung). width = total
    * samples, height = sample rate, n_frames = window count.
    * Undecodable / non-PCM payloads fail loudly.
    */
  class AudioPcmDecoder(windowSamples: Int = 16) extends MediaDecoder {
    require(windowSamples > 0, s"windowSamples must be positive")
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      // AudioSystem.getAudioInputStream semantics without its per-call
      // global provider lock — see [[AudioReaders]]
      val in = AudioReaders.open(
        new java.io.ByteArrayInputStream(
          if (payload == null) Array.emptyByteArray else payload))
      val fmt = in.getFormat
      require(fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected 16-bit mono signed PCM, got $fmt")
      val bytes = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bytes.length / 2
      val samples = Array.fill(n)(bb.getShort())
      val nw = (n + windowSamples - 1) / windowSamples
      val feats = new Array[Float](2 * nw)
      var w = 0
      while (w < nw) {
        val lo = w * windowSamples
        val hi = math.min(lo + windowSamples, n)
        var sa = 0L; var zc = 0L; var i = lo
        while (i < hi) {
          sa += math.abs(samples(i).toLong)
          if (i > lo && ((samples(i) >= 0) != (samples(i - 1) >= 0))) zc += 1
          i += 1
        }
        feats(w) = sa.toFloat
        feats(nw + w) = zc.toFloat
        w += 1
      }
      DecodedMedia0(n, math.round(fmt.getSampleRate), nw, feats)
    }
  }

  /** Registry entry: analysis-window audio features from REAL decoded
    * PCM — the audio rung joining m03's real-codec image rung: per
    * document a deterministic 64-sample int16 signal (sample i =
    * first-4-hex-nibbles of md5("<doc_id>:a<i>") − 32768 — a
    * definition BOTH engines can state) is encoded as a REAL WAV
    * ([[encodePcm16Wav]]), decoded through the REAL codec
    * ([[AudioPcmDecoder]], javax.sound.sampled — true sample reads,
    * not a stub), and featurized on the 16-sample analysis grid:
    * per window the Σ|sample| energy proxy and the zero-crossing
    * count. Both are INTEGER definitions of the decoded samples, so
    * the oracle replays them from the sample definition in pure
    * integer SQL and the hash equality pins the whole encode →
    * javax.sound decode → window-feature chain: any sample the codec
    * roundtrip perturbs shifts a sum. Scale shape: everything is
    * row-local (64 md5s + one encode/decode per doc behind the
    * per-partition decoder, 4 emitted rows per doc); the only shuffle
    * is the output sort.
    */
  def mediaAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // doc_id proxy fan-out before sample generation + codec (see m03)
    val sm = graft.Tables.fanOut(
        graft.Tables.documents(s, dir).select("doc_id"))
      .selectExpr("doc_id",
        """transform(sequence(0, 63), i ->
          |  CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), ':a',
          |    CAST(i AS STRING)) AS BINARY)), 1, 4), 16, 10) AS INT) - 32768)
          |  AS samples""".stripMargin)
      .as[(Long, Array[Int])]
    val media: Dataset[MediaRow] = sm.mapPartitions(_.map { case (id, smp) =>
      MediaRow(id, "audio", encodePcm16Wav(8000, smp.map(_.toShort)),
        MediaMeta("audio/wav", None, None, Some(8000), Some(8L)))
    })
    decodeAndFeaturize(media, new AudioPcmDecoder(16)).toDF()
      .selectExpr("media_id", "n_frames AS nw", "features")
      .selectExpr("media_id", "nw",
        "posexplode(slice(features, 1, nw)) AS (widx, saf)", "features")
      .selectExpr("media_id",
        "CAST(widx AS INT) AS window_idx",
        "CAST(round(saf) AS BIGINT) AS sum_abs",
        "CAST(round(features[nw + widx]) AS BIGINT) AS zero_crossings")
      .orderBy("media_id", "window_idx")
  }

  private val mediaAudioFeaturesSql =
    """WITH px AS (
      |  SELECT doc_id AS media_id, i,
      |    CAST(('0x' || substr(md5(doc_id || ':a' || i), 1, 4)) AS INT)
      |      - 32768 AS v
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
      |w AS (SELECT media_id, (i // 16) AS window_idx, i, v FROM px),
      |sa AS (SELECT media_id, window_idx,
      |         CAST(sum(abs(v)) AS BIGINT) AS sum_abs
      |       FROM w GROUP BY 1, 2),
      |zc AS (SELECT a.media_id, a.window_idx,
      |         CAST(sum(CASE WHEN (a.v >= 0) <> (b.v >= 0)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      |       FROM w a JOIN w b ON a.media_id = b.media_id
      |         AND a.window_idx = b.window_idx AND b.i = a.i - 1
      |       GROUP BY 1, 2)
      |SELECT sa.media_id, CAST(sa.window_idx AS INT) AS window_idx, sum_abs,
      |  coalesce(zero_crossings, CAST(0 AS BIGINT)) AS zero_crossings
      |FROM sa LEFT JOIN zc USING (media_id, window_idx)
      |ORDER BY media_id, window_idx""".stripMargin

  // ---------------------------------------------------------------- m06

  /** Minimal ANIMATED-GIF encoder over the JDK's own ImageIO GIF writer
    * — the multi-frame container its reader decodes exactly: each
    * frame is an 8-bit INDEXED image over an explicit 256-gray palette
    * (index i ↦ gray i — the writer keeps the image's own palette, so
    * the roundtrip is lossless by construction; a TYPE_BYTE_GRAY input
    * would leave palette choice to the writer). Frames are full
    * replacements (no partial-frame disposal), so per-frame reads need
    * no compositing. The video analogue of [[encodeGrayBmp]] /
    * [[encodePcm16Wav]].
    */
  private[graft] def encodeGrayGif(w: Int, h: Int, nFrames: Int,
      pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == w * h * nFrames,
      s"need ${w * h * nFrames} pixels, got ${pixels.length}")
    CodecInit.done
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    // ONE frame image, ONE metadata DOM for the whole sequence: every
    // frame is the same (w, h, palette), so the per-frame
    // getDefaultImageMetadata → getAsTree → setFromTree round (three DOM
    // builds per frame — the measured encode hot spot at 2-4 frames ×
    // corpus) runs once; writeToSequence only reads the descriptor.
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    // the JDK writer's DEFAULT is an INTERLACED image descriptor —
    // rows stored in four-pass order, which permutes (and on tiny
    // heights truncates) a sequential read-back; force it off so the
    // stored raster is row-exact
    val meta = writer.getDefaultImageMetadata(
      new javax.imageio.ImageTypeSpecifier(img),
      writer.getDefaultWriteParam)
    val fmt = meta.getNativeMetadataFormatName
    val tree = meta.getAsTree(fmt)
      .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val kids = tree.getChildNodes
    var k = 0
    while (k < kids.getLength) {
      kids.item(k) match {
        case n: javax.imageio.metadata.IIOMetadataNode
            if n.getNodeName == "ImageDescriptor" =>
          n.setAttribute("interlaceFlag", "FALSE")
        case _ =>
      }
      k += 1
    }
    meta.setFromTree(fmt, tree)
    val frame = new Array[Byte](w * h) // bulk raster write, not per-pixel
    var f = 0
    while (f < nFrames) {
      var i = 0
      while (i < w * h) {
        frame(i) = (pixels(f * w * h + i) & 0xff).toByte
        i += 1
      }
      img.getRaster.setDataElements(0, 0, w, h, frame)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** REAL-codec multi-frame decoder over the JDK's ImageIO sequence
    * reader (animated GIF — zero new dependencies): n_frames is the
    * container's TRUE frame count (`getNumImages`), and the feature
    * vector carries one INTEGER-exact value per frame — the frame's
    * pixel-gray sum (≤ 64·255 for 8×8, exactly representable in the
    * Float slot). This is the rung that makes the video path real:
    * frame COUNTS and frame CONTENT both come from an actual codec
    * read, so [[sampleFrames]]-style gridding downstream runs on
    * decoded truth, not metadata. Undecodable payloads fail loudly.
    */
  class GifFramesDecoder extends MediaDecoder {
    override def decode(kind: String, payload: Array[Byte]): DecodedMedia0 = {
      CodecInit.done // memory-cached streams, not a temp file per asset
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(
          if (payload == null) Array.emptyByteArray else payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext,
        "payload is not an image container the JDK can decode")
      val reader = readers.next()
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      val feats = new Array[Float](n)
      var w = 0; var h = 0
      var f = 0
      while (f < n) {
        val img = reader.read(f)
        w = img.getWidth; h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
          y += 1
        }
        feats(f) = sum.toFloat
        f += 1
      }
      reader.dispose(); iis.close()
      DecodedMedia0(w, h, n, feats)
    }
  }

  /** Registry entry: frame sampling over REAL decoded video frames —
    * the video rung joining m03 (image) and m05 (audio): per document
    * a deterministic animated GIF with 2 + (doc_id mod 3) frames of
    * 8×8 grayscale (frame f, pixel i = first byte of
    * md5("<doc_id>:v<f>:<i>")), encoded through the JDK's own GIF
    * sequence writer, decoded through the REAL multi-frame reader
    * ([[GifFramesDecoder]]), then every 2nd frame (the
    * [[sampleFrames]] stride discipline, applied to the DECODED frame
    * count) emits its integer pixel-sum. The oracle replays frame
    * count, stride and sums from the pixel definition in pure integer
    * SQL — a frame the codec roundtrip drops, reorders or perturbs
    * shifts a row or a sum. Scale shape: row-local encode/decode
    * behind the per-partition decoder (≤4 frames × 64 md5s per doc);
    * the only shuffle is the output sort.
    */
  def mediaVideoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // doc_id proxy fan-out before pixel generation + codec (see m03)
    val px = graft.Tables.fanOut(
        graft.Tables.documents(s, dir).select("doc_id"))
      .selectExpr("doc_id",
        "CAST(2 + pmod(doc_id, 3) AS INT) AS nf",
        """transform(sequence(0, CAST((2 + pmod(doc_id, 3)) * 64 - 1 AS INT)), i ->
          |  CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), ':v',
          |    CAST(i div 64 AS STRING), ':', CAST(pmod(i, 64) AS STRING))
          |    AS BINARY)), 1, 2), 16, 10) AS INT)) AS pixels""".stripMargin)
      .as[(Long, Int, Array[Int])]
    val media: Dataset[MediaRow] = px.mapPartitions(_.map {
      case (id, nf, pixels) =>
        MediaRow(id, "video", encodeGrayGif(8, 8, nf, pixels),
          MediaMeta("image/gif", Some(8), Some(8), None, None))
    })
    decodeAndFeaturize(media, new GifFramesDecoder).toDF()
      .selectExpr("media_id", "CAST(n_frames AS INT) AS n_frames",
        "posexplode(features) AS (frame_idx, fs)")
      .filter("frame_idx % 2 = 0")
      .selectExpr("media_id", "n_frames", "CAST(frame_idx AS INT) AS frame_idx",
        "CAST(round(fs) AS BIGINT) AS frame_sum")
      .orderBy("media_id", "frame_idx")
  }

  private val mediaVideoFramesSql =
    """WITH f AS (SELECT doc_id AS media_id,
      |        CAST(2 + doc_id % 3 AS INT) AS n_frames,
      |        unnest(range(0, 2 + doc_id % 3)) AS frame_idx
      |      FROM documents),
      |fs AS (SELECT media_id, n_frames, frame_idx,
      |         CAST(sum(CAST(('0x' || substr(
      |           md5(media_id || ':v' || frame_idx || ':' || i), 1, 2))
      |           AS INT)) AS BIGINT) AS frame_sum
      |       FROM f CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
      |       GROUP BY 1, 2, 3)
      |SELECT media_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
      |  frame_sum
      |FROM fs WHERE frame_idx % 2 = 0
      |ORDER BY media_id, frame_idx""".stripMargin

  /** Oracle-gated multimodal queries (the binary-column path under the
    * driver's DuckDB hash compare; the codec-dependent ops stay
    * spec-verified on fixtures — MultimodalSpec).
    */
  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("m01_binary_hash_dedup", binaryHashDedup,
      Some(binaryHashDedupSql)),
    graft.QueryDef("m02_perceptual_media_dedup", perceptualMediaDedup,
      Some(perceptualMediaDedupSql)),
    graft.QueryDef("m03_media_dhash", mediaDhash,
      Some(mediaDhashSql)),
    graft.QueryDef("m04_media_admission", mediaAdmission,
      Some(graft.QueryDef.materializeCtes(mediaAdmissionSql))),
    graft.QueryDef("m05_media_audio_features", mediaAudioFeatures,
      Some(mediaAudioFeaturesSql)),
    graft.QueryDef("m06_media_video_frames", mediaVideoFrames,
      Some(mediaVideoFramesSql)))
}
