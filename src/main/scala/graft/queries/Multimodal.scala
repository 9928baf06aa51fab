package graft.queries

import graft.SparkEntry.Key
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder north star): image/audio/video
  * as opaque `binary` columns with typed metadata, plus
  * decode/feature-extract/frame-sample stages.
  *
  * The IMAGE codec is REAL (`javax.imageio`, bundled in every JVM):
  * [[decodeImage]] handles PNG/JPEG/GIF/BMP, and [[q_media_decode]]
  * proves the full encode→decode round trip against a DuckDB oracle
  * that recomputes the expected raster arithmetically. The AUDIO codec
  * is REAL too (round 9 — `javax.sound.sampled`, also bundled in every
  * JVM): [[decodeWav]] handles WAV/PCM, and [[q_media_audio]] proves
  * its encode→decode round trip under the same arithmetic-oracle
  * stance. VIDEO decode is the one remaining STUB — no in-JVM video
  * codec exists — with a deterministic fake (hash-derived features),
  * clearly marked below. Everything around all three is real and
  * tested: the media schema,
  * the binary column handling, the batched `mapPartitions` decode
  * boundary (the Scala analog of `mapInPandas` — an iterator of rows
  * in, an iterator of decoded rows out, so the decoder amortizes
  * model/codec init per partition, not per row), partitioning, and the
  * explode-shaped frame sampling.
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, features: Array[Float])

  /** Synthesize a media table from `documents` (deterministic: the
    * testdata ships no binary table — text bytes stand in for encoded
    * media payloads; ids/kinds/meta derive arithmetically).
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      struct(
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(4)) * 90 + 180).cast("int").as("height"),
        lit(16000).cast("int").as("sample_rate")).as("meta"))

  /** Batched decode + feature extraction over the binary column.
    *
    * The IMAGE path is real: payloads that decode under `javax.imageio`
    * (PNG/JPEG/GIF/BMP — the codecs bundled in every JVM) produce
    * actual raster features ([[decodeImageFeatures]]; the round-trip is
    * oracle-proven by [[q_media_decode]]). The AUDIO path is real as
    * well ([[decodeWav]], oracle-proven by [[q_media_audio]]). Video
    * payloads — and image/audio rows whose bytes don't actually decode,
    * which is every row of the text-derived [[mediaTable]], keeping
    * this query deterministic — fall back to the STUBBED `fakeDecode`
    * (video is the only kind with no in-JVM codec). The
    * partition-batched iterator plumbing is production-shaped either
    * way: codec handles and model weights init once per partition, not
    * per row.
    */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .select(col("media_id"), col("kind"), col("bytes"),
        col("meta.width"), col("meta.height"), col("meta.sample_rate"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition init happens HERE (codec handles, model weights)
        rows.map { r =>
          // a NULL payload (e.g. a null source document) is an empty
          // one — real corpora contain them and a decode NPE would
          // abort the whole stage
          val bytes = if (r.bytes == null) Array.emptyByteArray else r.bytes
          val feats =
            (r.kind match {
              case "image" => decodeImageFeatures(bytes)
              case "audio" => decodeAudioFeatures(bytes)
              case _ => None // video: no in-JVM codec — stub below
            }).getOrElse(fakeDecode(bytes))
          MediaFeatures(r.media_id, r.kind, bytes.length.toLong, feats)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Harness-safe form of [[mediaFeatures]]: the driver's pandas-based
    * compare can't sort array-typed columns, so the 8-float feature
    * vector is posexploded to (media_id, feat_idx, feat_value) scalars.
    * Rounded to 6 decimals so the dump is stable across float printing.
    */
  def mediaFeaturesFlat(s: SparkSession, d: String): DataFrame =
    mediaFeatures(s, d)
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("feat_idx", "feat_value")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("feat_idx").cast("long").as("feat_idx"),
        round(col("feat_value").cast("double"), 6).as("feat_value"))
      .orderBy("media_id", "feat_idx")

  // ---- Real image codec (javax.imageio — bundled in every JVM) ----

  /** Real image decode: width, height, and EXACT per-channel (R, G, B)
    * pixel sums from an encoded PNG/JPEG/GIF/BMP payload. Returns None
    * when the payload is not a decodable image (ImageIO yields null),
    * so callers can route non-image bytes elsewhere. `getRGB`
    * normalizes every raster layout to packed sRGB ints, so the stats
    * are representation-independent; integer sums keep the result
    * float-free (means divide downstream, where rounding is explicit).
    */
  private[graft] def decodeImage(
      bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      (w, h, sr, sg, sb)
    }
  }

  /** [[decodeImage]] reshaped to the aHash block grid: decode, then
    * sum the exact ×1000 integer luma (299R + 587G + 114B — no
    * division, no float) over each `grid`×`grid` cell of a
    * `grid`-way downsample. Returns row-major cell sums; None on a
    * non-image payload.
    */
  private[graft] def decodeLumaBlocks(
      bytes: Array[Byte], grid: Int): Option[Array[Long]] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val (cw, ch) = (w / grid, h / grid)
      val blocks = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val luma = 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          blocks(math.min(y / ch, grid - 1) * grid +
            math.min(x / cw, grid - 1)) += luma
          x += 1
        }
        y += 1
      }
      blocks
    }
  }

  /** [[decodeImage]] reshaped to the 8-float feature contract of
    * [[mediaFeatures]]: (w, h, n_px, meanR, meanG, meanB, meanLuma, 0).
    */
  private[graft] def decodeImageFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeImage(bytes).map { case (w, h, sr, sg, sb) =>
      val n = w.toLong * h
      val (mr, mg, mb) = (sr.toFloat / n, sg.toFloat / n, sb.toFloat / n)
      Array(w.toFloat, h.toFloat, n.toFloat, mr, mg, mb,
        0.299f * mr + 0.587f * mg + 0.114f * mb, 0f)
    }

  /** Deterministic PNG payload: a w×h TYPE_INT_RGB image whose channel
    * values follow the closed form
    * `channel(x, y, c) = (id*37 + x*5 + y*11 + c*3) mod 256` (c = 0/1/2
    * for R/G/B), encoded with ImageIO. PNG is lossless and getRGB is
    * exact for TYPE_INT_RGB, so a decode recovers these values bit-for-
    * bit — which lets [[q_media_decode]]'s DuckDB oracle check a REAL
    * encode→decode round trip against pure arithmetic.
    */
  private[graft] def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def ch(c: Int): Int = ((id * 37 + x * 5 + y * 11 + c * 3) % 256).toInt
        im.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", out)
    out.toByteArray
  }

  final case class DecodedStats(
      media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Declared query: REAL image decode under the DuckDB oracle. Spark
    * synthesizes a deterministic 16×16 PNG per document id (bounded
    * window, the repo's standard oracle stance), round-trips it through
    * the actual ImageIO encoder+decoder executor-side, and emits the
    * decoded dimensions plus exact per-channel pixel sums; DuckDB
    * reproduces the same numbers from the closed form alone (it never
    * sees the bytes). A hash match therefore proves the codec path —
    * encode, decode, raster traversal — not just the plumbing. Integer
    * sums, so no float-parity caveats apply. Codec init is amortized
    * per PARTITION (the mapPartitions boundary), the shape a real
    * corpus decode needs.
    */
  def q_media_decode(s: SparkSession, d: String, maxDocs: Int = 64,
      w: Int = 16, h: Int = 16): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < maxDocs)
      .as[Long]
      .mapPartitions { ids =>
        // per-partition codec init lives here (ImageIO caches readers)
        ids.map { id =>
          val (dw, dh, sr, sg, sb) = decodeImage(encodePng(id, w, h))
            .getOrElse(sys.error(s"PNG round-trip failed for media_id=$id"))
          DecodedStats(id, dw, dh, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  final case class PhashRow(media_id: Long, phash: Long)

  /** Perceptual average-hash (aHash) over the REAL image codec — the
    * image-dedup primitive (pHash-family near-dup detection: two
    * crops/re-encodes of the same picture land within a few Hamming
    * bits; the multimodal counterpart of [[graft.queries.DedupOps]]'
    * SimHash): decode the PNG, downsample to the 8×8 luma-block grid,
    * and set bit b iff block b's luma is above the image mean —
    * expressed as the exact integer cross-multiplication
    * `64·block_b > total` on ×1000 integer luma (299R+587G+114B), so
    * no division or float touches the hash. 63 bits (block 63
    * dropped), keeping the hash a positive BIGINT — the
    * [[graft.queries.TextOps]] SimHash convention. Output per image:
    * the hash plus its nearest neighbor by Hamming distance
    * (tie → smallest id) — the decision readout an image-dedup pass
    * thresholds.
    *
    * Oracle stance: like [[q_media_decode]], Spark runs the ACTUAL
    * ImageIO encode→decode→raster path executor-side over the bounded
    * id window, while DuckDB reproduces hash and neighbors from the
    * closed-form pixels alone — a hash match proves codec + block
    * arithmetic, not just plumbing. Scale shape: the hash is one
    * mapPartitions decode pass (codec init amortized per partition);
    * the all-pairs neighbor scan is bounded by the oracle window, and
    * at corpus scale is replaced verbatim by the banded-LSH machinery
    * of q_dedup_simhash — which [[q_media_dedup]] actually RUNS over
    * these hashes (r15; maxHamming+1 bands → recall guaranteed by
    * pigeonhole). The hash column, not this report, is
    * the production surface.
    */
  def q_media_phash(s: SparkSession, d: String, maxDocs: Int = 64,
      w: Int = 16, h: Int = 16): DataFrame = {
    val hashes = phashTable(s, d, maxDocs, w, h)
    // broadcast the bounded hash table: BroadcastNestedLoopJoin, never
    // a shuffled cartesian (the all-pairs scan is oracle-window-sized
    // by contract; corpus scale goes through banded LSH instead)
    val pairs = hashes.as("x").join(broadcast(hashes.as("y")),
        col("x.media_id") =!= col("y.media_id"))
      .select(col("x.media_id").as("media_id"), col("x.phash").as("phash"),
        col("y.media_id").as("nn_id"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash")))
          .cast("long").as("nn_hamming"))
    val byImg = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy(col("nn_hamming"), col("nn_id"))
    pairs.withColumn("rn", row_number().over(byImg))
      .filter(col("rn") === 1)
      .select("media_id", "phash", "nn_id", "nn_hamming")
      .orderBy("media_id")
  }

  /** The materialized (media_id, phash) table both pHash keys consume:
    * one mapPartitions decode pass over the REAL PNG codec (init
    * amortized per partition), checkpointed — [[q_media_phash]] reads
    * it on both pair sides, [[q_media_dedup]] feeds it to the banded
    * candidate generator.
    */
  private def phashTable(s: SparkSession, d: String, maxDocs: Int,
      w: Int, h: Int): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < maxDocs)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val blocks = decodeLumaBlocks(encodePng(id, w, h), 8)
            .getOrElse(sys.error(s"PNG round-trip failed for media_id=$id"))
          val total = blocks.sum
          var hash = 0L
          var b = 0
          while (b < 63) { // bit 63 would sign the long
            if (64L * blocks(b) > total) hash |= (1L << b)
            b += 1
          }
          PhashRow(id, hash)
        }
      }
      .toDF().transform(graft.plans.Ckpt.maybe)
  }

  /** Image-corpus near-dup pairs — [[q_media_phash]]'s 63-bit aHash
    * run through the banded-Hamming candidate machinery of
    * q_dedup_simhash ([[graft.queries.DedupOps.bandedHammingPairs]]):
    * maxHamming+1 bands of the hash, per-band bucket equi-joins
    * generate candidates (pigeonhole: a pair within the threshold
    * agrees exactly on ≥1 band — NO false negatives), exact
    * bit_count(xor) confirms. This wires the scale path the r14
    * multimodal family documented but didn't run: at corpus scale the
    * only exchange moves (band, id, hash) triples — never an image
    * pair space — and the decode stays a single scan-stage
    * mapPartitions pass.
    *
    * Oracle stance: banding is pure pruning, so DuckDB takes ALL
    * pairs within the threshold over the closed-form pHash (the
    * q_dedup_simhash convention) — a hash match proves the banded
    * path loses no pairs AND reproves the codec arithmetic. Default
    * threshold 3 ≈ the aHash near-dup band (measured: 149 of 2016
    * possible pairs at the 64-image oracle window — structured, not
    * saturated).
    */
  def q_media_dedup(s: SparkSession, d: String, maxDocs: Int = 64,
      maxHamming: Int = 3, w: Int = 16, h: Int = 16): DataFrame =
    DedupOps.bandedHammingPairs(
        phashTable(s, d, maxDocs, w, h), "media_id", "phash", maxHamming)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))
      .orderBy("media_a", "media_b")

  // ---- Real audio codec (javax.sound.sampled — bundled in every JVM) ----

  /** Deterministic WAV payload: `nSamples` of 16-bit PCM mono at
    * `sampleRate`, sample values from the closed form
    * `sample(i) = ((id*31 + i*7) mod 65536) - 32768` (full int16
    * range), encoded little-endian through the actual
    * `javax.sound.sampled` WAV writer. PCM is lossless, so a decode
    * recovers the samples bit-for-bit — the audio analog of
    * [[encodePng]], letting [[q_media_audio]]'s DuckDB oracle verify a
    * REAL encode→decode round trip from arithmetic alone.
    */
  private[graft] def encodeWav(
      id: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false) // signed 16-bit mono LE
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (((id * 31 + i * 7) % 65536) - 32768).toInt
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Real WAV/PCM decode: (sampleRate, nSamples, sum, sumAbs, min,
    * max) over the int16 samples of a 16-bit mono little-endian WAV
    * payload. Returns None when the payload is not such a WAV (parse
    * failure or a format this reader doesn't handle), so callers can
    * route non-audio bytes elsewhere — the same contract as
    * [[decodeImage]]. Integer stats keep the result float-free.
    */
  private[graft] def decodeWav(
      bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
          f.isBigEndian ||
          f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val data = ais.readAllBytes()
          val n = data.length / 2
          var (sum, sumAbs) = (0L, 0L)
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var i = 0
          while (i < n) {
            // little-endian int16: the high byte is SIGNED (sign-extends)
            val v = (data(2 * i + 1).toInt << 8) | (data(2 * i) & 0xff)
            sum += v; sumAbs += math.abs(v.toLong)
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          if (n == 0) Some((f.getSampleRate.toInt, 0, 0L, 0L, 0L, 0L))
          else Some((f.getSampleRate.toInt, n, sum, sumAbs, mn, mx))
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[decodeWav]] reshaped to the 8-float feature contract of
    * [[mediaFeatures]]: (rate, n, meanAmp, meanAbsAmp, min, max, 0, 0).
    */
  private[graft] def decodeAudioFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeWav(bytes).map { case (sr, n, sum, sumAbs, mn, mx) =>
      val d = math.max(n, 1).toFloat
      Array(sr.toFloat, n.toFloat, sum / d, sumAbs / d,
        mn.toFloat, mx.toFloat, 0f, 0f)
    }

  final case class AudioStats(
      media_id: Long, sample_rate: Long, n_samples: Long,
      sum_samples: Long, sum_abs: Long, min_sample: Long, max_sample: Long)

  /** Declared query: REAL audio decode under the DuckDB oracle — the
    * audio twin of [[q_media_decode]], closing the round-8 verdict's
    * "audio half of the stub is removable" item. Spark synthesizes a
    * deterministic 256-sample WAV per document id (bounded window),
    * round-trips it through the actual javax.sound.sampled
    * encoder+decoder executor-side, and emits exact integer sample
    * stats; DuckDB reproduces the same numbers from the closed form
    * alone (it never sees the bytes). A hash match proves the codec
    * path — WAV header, PCM layout, endianness, sign extension — not
    * just the plumbing. Codec init amortizes per PARTITION.
    */
  def q_media_audio(s: SparkSession, d: String, maxDocs: Int = 64,
      nSamples: Int = 256, sampleRate: Int = 16000): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < maxDocs)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (sr, n, sum, sumAbs, mn, mx) =
            decodeWav(encodeWav(id, nSamples, sampleRate))
              .getOrElse(sys.error(s"WAV round-trip failed for media_id=$id"))
          AudioStats(id, sr.toLong, n.toLong, sum, sumAbs, mn, mx)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** STUB decoder (clearly marked — video has no in-JVM codec): 8
    * integer-valued floats, feature j = sum of unsigned byte values at
    * payload positions ≡ j (mod 8). Deterministic AND engine-portable
    * (round 11 — the previous rolling-hash float fold was unverifiable
    * outside the JVM; positional byte sums let DuckDB reproduce every
    * value with ascii(substr(...)) sums over the ASCII payloads, so
    * the whole mapPartitions surface now sits under the hash oracle).
    * Exact in float while a feature sum stays under 2²⁴ — payloads
    * ≤ ~100 KB keep sums ≲ 1.6·10⁶.
    */
  private[graft] def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) += (bytes(i) & 0xff).toFloat
      i += 1
    }
    out
  }

  /** Frame sampling: slice the payload into fixed-size pseudo-frames
    * and explode — the plan shape of video frame extraction (one input
    * row → N frame rows) without a codec. Pure expressions: the slicing
    * pipelines inside the scan stage.
    */
  def frameSample(s: SparkSession, d: String, frameBytes: Int = 64): DataFrame = {
    val nFrames = ceil(length(col("bytes")).cast("double") / frameBytes).cast("int")
    mediaTable(s, d)
      .filter(col("kind") === "video" && length(col("bytes")) > 0)
      .select(
        col("media_id"),
        posexplode(transform(sequence(lit(0), nFrames - 1),
          i => substring(col("bytes"), (i * frameBytes + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_no", "frame_bytes")))
      .orderBy("media_id", "frame_no")
  }

  /** [[frameSample]] under the oracle (round 11 — closes the
    * q_media_frames no_oracle row): the same slicing with the frame
    * payload surfaced as a STRING. The media payloads are ASCII
    * text-derived by construction (proven by [[q_media_frame_meta]]'s
    * md5 hash-match: DuckDB slices CHARS, Spark slices BYTES — they
    * agree only when every byte is one char), so the cast is lossless
    * and DuckDB verifies frame count, offsets, AND content with
    * substr. [[frameSample]] itself keeps the production binary
    * column for users; MediaCodecSpec pins the two stay in sync.
    */
  def q_media_frames(s: SparkSession, d: String, frameBytes: Int = 64): DataFrame =
    frameSample(s, d, frameBytes)
      .select(
        col("media_id"), col("frame_no").cast("long").as("frame_no"),
        length(col("frame_bytes")).cast("long").as("n_bytes"),
        col("frame_bytes").cast("string").as("frame_str"))
      .orderBy("media_id", "frame_no")

  /** Frame-sampling under the oracle: [[frameSample]]'s slicing with
    * the binary frames reduced to scalars (byte length, md5, first
    * byte) so DuckDB can verify the boundaries exactly. The media
    * payloads here are text-derived and ASCII by construction, so the
    * oracle slices the TEXT column with substr — one character per
    * byte — and md5s the same bytes; a hash match proves frame count,
    * offsets, and content agree. (The production frame payloads stay
    * binary in [[frameSample]]; DuckDB just can't slice BLOBs, so the
    * rows-only check remains there and the boundary math is proven
    * here.)
    */
  def q_media_frame_meta(s: SparkSession, d: String, frameBytes: Int = 64): DataFrame =
    frameSample(s, d, frameBytes)
      .select(
        col("media_id"), col("frame_no").cast("long").as("frame_no"),
        length(col("frame_bytes")).cast("long").as("n_bytes"),
        md5(col("frame_bytes")).as("frame_md5"),
        ascii(col("frame_bytes").cast("string")).cast("long").as("first_byte"))
      .orderBy("media_id", "frame_no")

  /** Metadata "resize": pure struct rewrite (the cheap half of an image
    * resize pipeline — the pixel work would live in mediaFeatures'
    * decode stage).
    */
  def resizeMeta(s: SparkSession, d: String, maxW: Int = 640): DataFrame =
    mediaTable(s, d).select(
      col("media_id"), col("kind"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      least(col("meta.width"), lit(maxW)).as("out_width"),
      (col("meta.height") * least(col("meta.width"), lit(maxW)) / col("meta.width"))
        .cast("int").as("out_height"))
      .orderBy("media_id")

  val keys: Seq[Key] = Seq(
    // media metadata derives arithmetically from doc_id (mediaTable);
    // floor() before the INT cast — DuckDB's cast-to-int ROUNDS while
    // Spark's truncates
    Key("q_media_resize", (s, d) => resizeMeta(s, d),
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |  CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
        |  CAST(doc_id % 4 * 90 + 180 AS INT) AS height,
        |  CAST(least(doc_id % 4 * 160 + 320, 640) AS INT) AS out_width,
        |  CAST(floor((doc_id % 4 * 90 + 180) * least(doc_id % 4 * 160 + 320, 640)
        |       / (doc_id % 4 * 160 + 320)) AS INT) AS out_height
        |FROM documents ORDER BY media_id""".stripMargin),
    // REAL codec round-trip (Multimodal.q_media_decode): Spark encodes
    // a deterministic 16x16 PNG per id with ImageIO, decodes it back,
    // and sums the raster channels; the oracle computes the closed form
    // channel(x,y,c) = (id*37 + x*5 + y*11 + c*3) % 256 directly —
    // DuckDB never sees bytes, so a hash match proves the codec path.
    // Integer sums: no float parity caveats.
    Key("q_media_decode", (s, d) => q_media_decode(s, d),
      """WITH px AS (
        |  SELECT doc_id AS media_id, g1.x, g2.y
        |  FROM documents, generate_series(0, 15) g1(x), generate_series(0, 15) g2(y)
        |  WHERE doc_id < 64)
        |SELECT media_id,
        |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(sum((media_id*37 + x*5 + y*11) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((media_id*37 + x*5 + y*11 + 3) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((media_id*37 + x*5 + y*11 + 6) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin),
    // Perceptual aHash over the REAL codec (Multimodal.q_media_phash):
    // the oracle rebuilds the 8x8 luma-block hash and the Hamming
    // nearest neighbor from the closed-form pixels alone — integer
    // cross-multiplied mean test, 63-bit hash, bit_count(xor) NN
    Key("q_media_phash", (s, d) => q_media_phash(s, d),
      """WITH px AS (
        |  SELECT doc_id AS media_id, g1.x, g2.y,
        |    299*((media_id*37 + x*5 + y*11) % 256)
        |    + 587*((media_id*37 + x*5 + y*11 + 3) % 256)
        |    + 114*((media_id*37 + x*5 + y*11 + 6) % 256) AS luma
        |  FROM documents, generate_series(0, 15) g1(x), generate_series(0, 15) g2(y)
        |  WHERE doc_id < 64),
        |bl AS (SELECT media_id, (y // 2) * 8 + (x // 2) AS b,
        |         CAST(sum(luma) AS BIGINT) AS bs
        |       FROM px GROUP BY 1, 2),
        |tt AS (SELECT media_id, CAST(sum(bs) AS BIGINT) AS total
        |       FROM bl GROUP BY 1),
        |ph AS (SELECT bl.media_id,
        |    CAST(sum(CASE WHEN b < 63 AND 64 * bs > total
        |             THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS phash
        |  FROM bl JOIN tt USING (media_id) GROUP BY 1),
        |pr AS (SELECT x.media_id, x.phash, y.media_id AS nn_id,
        |    CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS nn_hamming,
        |    row_number() OVER (PARTITION BY x.media_id
        |      ORDER BY bit_count(xor(x.phash, y.phash)), y.media_id) AS rn
        |  FROM ph x JOIN ph y ON x.media_id <> y.media_id)
        |SELECT media_id, phash, nn_id, nn_hamming
        |FROM pr WHERE rn = 1 ORDER BY media_id""".stripMargin),
    // Image near-dup pairs (Multimodal.q_media_dedup): banding is pure
    // pruning (pigeonhole: maxHamming+1 bands, a pair within the
    // threshold agrees exactly on >=1 band), so the oracle skips it
    // and takes ALL pairs within Hamming <= 3 over the closed-form
    // pHash — a hash match proves the banded path loses no pairs and
    // reproves the PNG codec arithmetic (the q_dedup_simhash stance).
    Key("q_media_dedup", (s, d) => q_media_dedup(s, d),
      """WITH px AS (
        |  SELECT doc_id AS media_id, g1.x, g2.y,
        |    299*((media_id*37 + x*5 + y*11) % 256)
        |    + 587*((media_id*37 + x*5 + y*11 + 3) % 256)
        |    + 114*((media_id*37 + x*5 + y*11 + 6) % 256) AS luma
        |  FROM documents, generate_series(0, 15) g1(x), generate_series(0, 15) g2(y)
        |  WHERE doc_id < 64),
        |bl AS (SELECT media_id, (y // 2) * 8 + (x // 2) AS b,
        |         CAST(sum(luma) AS BIGINT) AS bs
        |       FROM px GROUP BY 1, 2),
        |tt AS (SELECT media_id, CAST(sum(bs) AS BIGINT) AS total
        |       FROM bl GROUP BY 1),
        |ph AS (SELECT bl.media_id,
        |    CAST(sum(CASE WHEN b < 63 AND 64 * bs > total
        |             THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS phash
        |  FROM bl JOIN tt USING (media_id) GROUP BY 1)
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY media_a, media_b""".stripMargin),
    // REAL audio codec round-trip (Multimodal.q_media_audio): Spark
    // encodes a deterministic 256-sample 16-bit PCM mono WAV per id
    // with javax.sound.sampled, decodes it back, and emits integer
    // sample stats; the oracle computes the closed form
    // sample(i) = ((id*31 + i*7) % 65536) - 32768 directly — DuckDB
    // never sees bytes, so a hash match proves the WAV/PCM codec path
    // (header, endianness, sign extension). Integer stats throughout.
    Key("q_media_audio", (s, d) => q_media_audio(s, d),
      """WITH sm AS (
        |  SELECT doc_id AS media_id,
        |         ((doc_id*31 + i.i*7) % 65536) - 32768 AS v
        |  FROM documents, generate_series(0, 255) i(i)
        |  WHERE doc_id < 64)
        |SELECT media_id,
        |  CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(256 AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(min(v) AS BIGINT) AS min_sample,
        |  CAST(max(v) AS BIGINT) AS max_sample
        |FROM sm GROUP BY media_id ORDER BY media_id""".stripMargin),
    // round 11: the full media-features surface under the oracle —
    // the stub decoder is positional byte sums (feature j = sum of
    // byte values at positions ≡ j mod 8), which DuckDB reproduces
    // with ascii(substr(...)) sums over the ASCII payloads; the dense
    // 8-row spine keeps short/empty/null payloads at zero features
    // instead of missing rows
    Key("q_media_features", mediaFeaturesFlat _,
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    coalesce(text, '') AS t
        |  FROM documents),
        |sp AS (
        |  SELECT media_id, kind, length(t) AS n_bytes,
        |    unnest(range(8)) AS feat_idx
        |  FROM b),
        |ch AS (
        |  SELECT media_id, p % 8 AS fi,
        |    ascii(substr(t, CAST(p + 1 AS BIGINT), 1)) AS code
        |  FROM (SELECT media_id, t, unnest(range(length(t))) AS p FROM b)),
        |agg AS (SELECT media_id, fi, sum(code) AS sv FROM ch GROUP BY 1, 2)
        |SELECT sp.media_id, sp.kind, CAST(sp.n_bytes AS BIGINT) AS n_bytes,
        |  CAST(sp.feat_idx AS BIGINT) AS feat_idx,
        |  round(CAST(coalesce(agg.sv, 0) AS DOUBLE), 6) AS feat_value
        |FROM sp LEFT JOIN agg
        |  ON sp.media_id = agg.media_id AND sp.feat_idx = agg.fi
        |ORDER BY sp.media_id, sp.feat_idx""".stripMargin),
    // round 11: frame content verified as STRINGS (ASCII payloads —
    // proven by q_media_frame_meta's md5 match), so count, offsets,
    // and content are all under the hash
    Key("q_media_frames", (s, d) => q_media_frames(s, d),
      """WITH v AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n
        |  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |i AS (
        |  SELECT media_id, text,
        |         unnest(range(CAST(ceil(n / 64.0) AS BIGINT))) AS frame_no
        |  FROM v)
        |SELECT media_id, frame_no,
        |  length(substr(text, CAST(frame_no*64 + 1 AS BIGINT), 64)) AS n_bytes,
        |  substr(text, CAST(frame_no*64 + 1 AS BIGINT), 64) AS frame_str
        |FROM i ORDER BY media_id, frame_no""".stripMargin),
    // frame boundaries verified on the TEXT view of the ASCII payloads
    // (DuckDB can't slice BLOBs): substr chars == substring bytes here
    Key("q_media_frame_meta", (s, d) => q_media_frame_meta(s, d),
      """WITH v AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n
        |  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |i AS (
        |  SELECT media_id, text,
        |         unnest(range(CAST(ceil(n / 64.0) AS BIGINT))) AS frame_no
        |  FROM v),
        |f AS (
        |  SELECT media_id, frame_no,
        |         substr(text, CAST(frame_no*64 + 1 AS BIGINT), 64) AS frame
        |  FROM i)
        |SELECT media_id, frame_no,
        |  length(frame) AS n_bytes, md5(frame) AS frame_md5,
        |  CAST(ascii(frame) AS BIGINT) AS first_byte
        |FROM f ORDER BY media_id, frame_no""".stripMargin),
  )
}
