package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.{portableHash, portableHashSql}
import graft.tools.IndependentCodecs

/** Multimodal columns: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus the decode / feature-extract / frame-
  * sample plumbing of a multimodal training pipeline.
  *
  * The DECODE step is REAL for all three kinds — the JDK ships PNG
  * (javax.imageio, actual deflate) and WAV (javax.sound.sampled,
  * actual RIFF/PCM) codecs, and video is a length-prefixed
  * concatenated-PNG container ([[MediaCodecs.decodeVideo]]) whose
  * every frame runs the real PNG codec — all exercised end-to-end by
  * the `mm_decode` round-trip query and MultimodalSpec. The
  * Spark-side plumbing — binary schema, per-partition batched
  * decode, deterministic frame sampling, metadata struct — is the
  * same for all kinds.
  *
  * Scale shape: payloads never shuffle — features are computed in the
  * scan stage (map-side), and only the small feature rows move.
  * `mapPartitions` batches decoder calls per partition, the Scala
  * analogue of a Pandas-UDF `mapInPandas` batch.
  */
object Multimodal {

  /** Synthetic media table over `documents`: payload = UTF-8 bytes of
    * the text, kind assigned round-robin — a stand-in with real
    * binary-column mechanics.
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
                 (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text").cast("binary")).as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Decoded-media features; what a real decode yields. `frames` is 1
    * for stills and audio clips, the container frame count for video.
    */
  case class MediaFeatures(mediaId: Long, kind: String, nBytes: Int,
                           frames: Int, width: Int, height: Int,
                           digest: String)

  /** The decode seam. Real decoders plug in here. */
  trait MediaDecoder extends Serializable {
    def decode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeatures
  }

  object MediaDecoder {
    /** REAL codecs for every kind, zero external dependencies:
      * image → PNG via javax.imageio (actual deflate decompression);
      * audio → WAV via javax.sound.sampled (actual RIFF/PCM parse);
      * video → GFV1 length-prefixed concatenated-PNG container, every
      * frame through the real PNG codec. Feature fields per kind:
      * image → (1, width, height, md5 of decoded pixels); audio →
      * (1, sample count, sample rate Hz, md5 of PCM); video →
      * (frame count, width, height, md5 over per-frame pixel digests).
      */
    object Real extends MediaDecoder {
      def decode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeatures =
        kind match {
          case "image" =>
            val (w, h, dig) = MediaCodecs.decodePng(payload)
            MediaFeatures(mediaId, kind, payload.length, 1, w, h, dig)
          case "audio" =>
            val (n, rate, dig) = MediaCodecs.decodeWav(payload)
            MediaFeatures(mediaId, kind, payload.length, 1, n, rate, dig)
          case "video" =>
            val (n, w, h, dig) = MediaCodecs.decodeVideo(payload)
            MediaFeatures(mediaId, kind, payload.length, n, w, h, dig)
          case other =>
            throw new IllegalArgumentException(s"unknown media kind: $other")
        }
    }

    /** Deterministic fake: dimensions derived from the payload hash —
      * same idea as the SQL-expressible queries below, usable in tests.
      */
    object Deterministic extends MediaDecoder {
      def decode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeatures = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        MediaFeatures(mediaId, kind, payload.length, 1,
          (64 + h % 1217).toInt, (64 + h % 657).toInt, hex)
      }
    }
  }

  /** Batched decode over partitions — the mapInPandas-shaped seam:
    * one decoder instance per partition, payload bytes never leave
    * the scan stage.
    */
  def featurize(media: DataFrame, decoder: MediaDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload")
      .mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          decoder.decode(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2))
        }
      }
  }

  /** SQL-expressible feature extraction (the Deterministic decoder as
    * pure built-ins, oracle-checkable).
    */
  def features(s: SparkSession, d: String): DataFrame = {
    val m = mediaTable(s, d)
    val h = portableHash(col("payload"))
    m.select(col("media_id"), col("kind"),
             col("meta.n_bytes").as("n_bytes"),
             (lit(64) + h % 1217).cast("int").as("width"),
             (lit(64) + h % 657).cast("int").as("height"),
             md5(col("payload")).as("digest"))
      .orderBy(col("media_id"))
  }

  private val FrameLen = 50
  private val NumFrames = 4

  /** Frame sampling: fixed-offset slices of the payload (the shape of
    * video frame extraction; slicing is the stubbed decode).
    */
  def frames(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), col("text"),
              explode(sequence(lit(0), lit(NumFrames - 1))).as("frame_idx"))
      .withColumn("frame",
        expr(s"substring(text, frame_idx * $FrameLen + 1, $FrameLen)"))
      .filter(length(col("frame")) > 0)
      .select(col("media_id"), col("frame_idx"),
              md5(col("frame").cast("binary")).as("frame_md5"),
              length(col("frame")).as("frame_len"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** The in-plan cross-decoder equality guard — the `stats_hll_inc`
    * raise_error-guard precedent applied to the codec rows: the value
    * column passes through untouched when the JDK decode and the
    * from-scratch [[IndependentCodecs]] decode agree, and the QUERY
    * ITSELF fails loudly when they diverge — so the driver's
    * rows-only check on the `no_oracle` entries rides on a
    * cross-implementation equality proof evaluated on every row of
    * every run, not on a spec pin alone.
    */
  private[graft] def crossGuard(out: Column, ok: Column, id: Column,
                                what: String): Column =
    when(ok, out).otherwise(raise_error(concat(
      lit(s"cross-decoder mismatch [$what] media_id="), id.cast("string"))))

  /** [[decodeRoundTrip]]'s map-side body WITHOUT the guard applied:
    * each payload decoded TWICE in the scan stage — the JDK codec
    * ([[MediaDecoder.Real]]) and the from-scratch chunk-walk
    * ([[IndependentCodecs]]) — emitting both feature sets. Factored
    * out so MultimodalSpec can tamper one independent column and
    * prove [[crossGuard]] fires, through the exact frame the
    * registered query guards.
    */
  private[graft] def decodedBoth(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload")
      .mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val id = r.getLong(0)
          val kind = r.getString(1)
          val payload = r.getAs[Array[Byte]](2)
          val f = MediaDecoder.Real.decode(id, kind, payload)
          val (iFrames, iW, iH, iDig) = kind match {
            case "image" =>
              val (w, h, dig) = IndependentCodecs.pngFeatures(payload)
              (1, w, h, dig)
            case "audio" =>
              val (n, rate, dig) = IndependentCodecs.decodeWav(payload)
              (1, n, rate, dig)
            case _ =>
              IndependentCodecs.decodeVideo(payload)
          }
          (id, kind, f.nBytes, f.frames, f.width, f.height, f.digest,
            iFrames, iW, iH, iDig)
        }
      }.toDF("media_id", "kind", "n_bytes", "n_frames", "width", "height",
             "digest", "i_frames", "i_width", "i_height", "i_digest")
  }

  /** Guard leg of [[decodeRoundTrip]]: digest column passes only when
    * ALL four independent features match the JDK decode's.
    */
  private[graft] def applyCrossGuard(both: DataFrame): DataFrame =
    both.select(col("media_id"), col("kind"), col("n_bytes"),
        col("n_frames"), col("width"), col("height"),
        crossGuard(col("digest"),
          col("n_frames") === col("i_frames") &&
            col("width") === col("i_width") &&
            col("height") === col("i_height") &&
            col("digest") === col("i_digest"),
          col("media_id"), "decode").as("digest"))

  // ---- deterministic per-id payload synthesis for the four codec
  // queries. Factored out (round 13) so the SAME bytes can either be
  // born map-side inside the query (the gate-SF path — no fixture on
  // disk, ENCODE cost inside the query) or be read back from a
  // persisted fixture parquet (the scale-bench path — a real corpus
  // stores its media once; measuring per-query ENCODE at the 100×
  // rung charged the decode queries for work no production run pays).

  private[graft] def decodePayloadOf(id: Long): (String, Array[Byte]) =
    (id % 3) match {
      case 0 => ("image",
        MediaCodecs.pngBytes(16 + (id % 32).toInt, 8 + (id % 16).toInt, id))
      case 1 => ("audio", MediaCodecs.wavBytes(256 + (id % 512).toInt, id))
      case _ => ("video",
        MediaCodecs.videoBytes(8 + (id % 8).toInt, 4 + (id % 4).toInt,
                               2 + (id % 4).toInt, id))
    }

  private[graft] def resizePayloadOf(id: Long): Array[Byte] =
    MediaCodecs.pngBytes(16 + (id % 32).toInt, 8 + (id % 16).toInt, id)

  private[graft] def imagePayloadOf(id: Long): Array[Byte] = {
    val b = id - (id % 10) // decade base image
    val bw = 16 + (b % 32).toInt
    val bh = 8 + (b % 16).toInt
    def basePng = MediaCodecs.pngBytes(bw, bh, b)
    (id % 10) match {
      case 1 => basePng
      case 2 => MediaCodecs.reencodePng(basePng)
      case 3 => MediaCodecs.resizePng(basePng, bw * 2, bh * 2)._1
      case 4 => MediaCodecs.perturbPng(basePng)
      case _ => MediaCodecs.pngBytes(
        16 + (id % 32).toInt, 8 + (id % 16).toInt, id)
    }
  }

  private[graft] def audioPayloadOf(id: Long): Array[Byte] = {
    val b = id - (id % 10) // decade base clip
    def baseWav = MediaCodecs.wavBytes(256 + (b % 512).toInt, b)
    (id % 10) match {
      case 1 => baseWav
      case 2 => MediaCodecs.reencodeWav(baseWav)
      case 3 => MediaCodecs.gainWav(baseWav, 1, 2)
      case 4 => MediaCodecs.dropoutWav(baseWav)
      case _ => MediaCodecs.wavBytes(256 + (id % 512).toInt, id)
    }
  }

  /** Single-threaded JIT warm-up of EVERY codec hot path the four
    * codec queries execute — both the JDK legs and the from-scratch
    * independent legs, all three media kinds, decode and encode.
    *
    * Why this exists (round 14): launching 32 executor threads into
    * interpreted codec code starves the C2 compiler threads of CPU —
    * a positive feedback loop measured at 0.8 → 12 ms/payload (same
    * subtree, same JVM, 241 s vs 16 s stage time) that made the
    * codec rows' one-shot bench numbers swing 9-220 s depending on
    * which hot path happened to be compiled when the flood started.
    * One driver thread exercising the paths (~2-5 s) lets C2 compile
    * them with every other core idle. A production executor pays
    * this once per JVM and amortizes it over billions of rows; a
    * bench rung's 500k rows do not amortize, so the harness warms
    * explicitly.
    */
  private[graft] def warmCodecPaths(iters: Int = 1500): Unit = {
    var i = 0L
    while (i < iters) {
      val (k, p) = decodePayloadOf(i)
      MediaDecoder.Real.decode(i, k, p)
      k match {
        case "image" => graft.tools.IndependentCodecs.pngFeatures(p)
        case "audio" => graft.tools.IndependentCodecs.decodeWav(p)
        case _       => graft.tools.IndependentCodecs.decodeVideo(p)
      }
      val img = resizePayloadOf(i)
      MediaCodecs.resizePng(img, ThumbW, ThumbH)
      MediaCodecs.dHashPng(img)
      graft.tools.IndependentCodecs.pngDHash(img)
      val wav = audioPayloadOf(i)
      MediaCodecs.fpWav(wav)
      graft.tools.IndependentCodecs.wavFingerprint(wav)
      i += 1
    }
  }

  private def fixturePath(d: String, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$d/mmfix_$name.parquet")

  /** Pinned fixture schema — no per-call footer-inference job. */
  private val FixtureSchema = "media_id LONG, kind STRING, payload BINARY"

  /** (media_id, kind, payload) for one codec query: the persisted
    * fixture when the corpus dir carries one (scale-bench fixtures —
    * payload bytes identical by synthesis determinism, spec-pinned),
    * else synthesized map-side from doc ids. Payloads stay in the
    * scan stage either way; they never shuffle.
    *
    * The fixture read narrows `maxPartitionBytes` to 4 MB through a
    * CHILD session (the opsAggPushdown convention — never mutate the
    * caller's conf): codec cost is per ROW, not per byte, so the
    * default 128 MB split plans a handful of partitions over a
    * ~0.5 GB fixture and starves the cores on a CPU-bound scan
    * (measured: mm_decode blew the 240 s sweep budget at 5
    * partitions; ~150 splits keep all 32 cores decoding).
    */
  private def payloads(s: SparkSession, d: String, name: String,
                       make: Long => (String, Array[Byte])): DataFrame =
    if (java.nio.file.Files.exists(fixturePath(d, name))) {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.files.maxPartitionBytes",
        (4L * 1024 * 1024).toString)
      s2.read.schema(FixtureSchema).parquet(fixturePath(d, name).toString)
    } else synthPayloads(s, d, make)

  private def synthPayloads(s: SparkSession, d: String,
                            make: Long => (String, Array[Byte])): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.map { id =>
        val (k, p) = make(id); (id, k, p)
      })
      .toDF("media_id", "kind", "payload")
  }

  /** Materialize all four codec-query payload corpora as parquet
    * next to a (scaled) corpus dir — the ScaleBench fixture step, so
    * the 100× codec rows measure DECODE-only like a real corpus
    * whose media is stored, not re-encoded per query. Never called
    * on the read-only driver test dirs; the gate path stays
    * synthesized.
    */
  def writeCodecFixtures(s: SparkSession, d: String): Unit =
    Seq[(String, Long => (String, Array[Byte]))](
      ("decode", decodePayloadOf),
      ("resize", id => ("image", resizePayloadOf(id))),
      ("image", id => ("image", imagePayloadOf(id))),
      ("audio", id => ("audio", audioPayloadOf(id)))
    ).foreach { case (name, make) =>
      synthPayloads(s, d, make)
        .write.mode("overwrite").parquet(fixturePath(d, name).toString)
    }

  /** End-to-end REAL codec round trip: deterministic pixels/samples/
    * frames → actual PNG/WAV/GFV1 encode (map-side at the gate SFs;
    * read back from the persisted fixture on a scale-bench corpus) →
    * actual decode through [[MediaDecoder.Real]] → features. No SQL
    * oracle (DuckDB can't decode PNG) — the driver records the
    * rows-only check, which the [[crossGuard]] upgrades to a
    * self-verifying row: every feature row is decoded a SECOND time
    * by the from-scratch [[IndependentCodecs]] (shared-nothing with
    * javax.imageio/javax.sound) in the same scan stage, and the
    * query raises on any disagreement. MultimodalSpec still pins the
    * exact decoded values.
    */
  def decodeRoundTrip(s: SparkSession, d: String): DataFrame =
    applyCrossGuard(decodedBoth(payloads(s, d, "decode", decodePayloadOf)))
      // exchange BARRIER before the total-order sort (round 14): a
      // global orderBy directly above a narrow map stage makes the
      // range-partitioner's sample job RE-EXECUTE the child — here
      // the full codec scan, measured as 2 extra full-input stages
      // (~3× the decode work) at the 100× rung. One hash shuffle of
      // the SMALL feature rows (payloads never move) lets the sample
      // and the sort both read shuffle files instead; the codec scan
      // runs exactly once.
      .repartition(col("media_id"))
      .orderBy(col("media_id"))

  private[graft] val ThumbW = 8
  private[graft] val ThumbH = 8

  /** Real image RESIZE end-to-end: deterministic source PNG → decode
    * → nearest-neighbor downsample to a ThumbW×ThumbH thumbnail →
    * re-encode → decode again for the pixel digest. All codec and
    * pixel work happens map-side in the scan stage (mapPartitions);
    * only the small feature rows move. Like mm_decode this is
    * rows-only at the driver gate (DuckDB cannot resize PNGs); the
    * exact thumbnail digests are pinned differentially in
    * MultimodalSpec by re-sampling the decoded source with the same
    * integer formula.
    */
  def resizeThumbnails(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    payloads(s, d, "resize", id => ("image", resizePayloadOf(id)))
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val w = 16 + (id % 32).toInt
          val h = 8 + (id % 16).toInt
          val (thumb, digest) = MediaCodecs.resizePng(png, ThumbW, ThumbH)
          // independent leg: the re-encoded thumbnail PNG decoded by
          // the from-scratch chunk walk must yield the same pixel
          // digest the JDK resize path reported
          val iDigest = IndependentCodecs.pngFeatures(thumb)._3
          (id, w, h, ThumbW, ThumbH, thumb.length, digest, iDigest)
        }
      }
      .toDF("media_id", "src_w", "src_h", "thumb_w", "thumb_h",
            "thumb_bytes", "thumb_digest", "i_digest")
      .select(col("media_id"), col("src_w"), col("src_h"), col("thumb_w"),
        col("thumb_h"), col("thumb_bytes"),
        crossGuard(col("thumb_digest"),
          col("thumb_digest") === col("i_digest"),
          col("media_id"), "resize").as("thumb_digest"))
      // same sample-pass barrier as decodeRoundTrip: without it the
      // orderBy's sample job re-ran decode+resize+encode over the
      // whole corpus (mm_resize full-eval 83.8 s vs count 11.2 at
      // the 100× rung, all of it re-executed codec work)
      .repartition(col("media_id"))
      .orderBy(col("media_id"))
  }

  /** Perceptual image dedup end-to-end: a corpus of real PNGs with
    * PLANTED duplicates — per decade of ids, the base image (id%10=0)
    * plus an exact byte clone (1), a decode/re-encode copy (2), a 2×
    * nearest-neighbor rescale (3) and a one-pixel edit (4); ids 5-9
    * are unrelated images — hashed map-side with the integer dHash
    * ([[MediaCodecs.dHashPng]], real PNG decode per image) and paired
    * through the SAME Manku 4×16-bit blocked Hamming join the text
    * SimHash ships ([[Dedup.hammingPairs64]]). Exact/re-encoded/
    * rescaled copies hash identically (sample-grid invariance, see
    * dHashPng), the edit flips at most the bits its pixel is sampled
    * by, and unrelated images differ in ~32 bits — so the planted
    * C(5,2) pairs per decade are found and nothing else is
    * (MultimodalSpec pins the exact pair set). Rows-only at the
    * driver gate: DuckDB cannot decode PNGs.
    */
  def imageDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = payloads(s, d, "image", id => ("image", imagePayloadOf(id)))
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val jh = MediaCodecs.dHashPng(png)
          val ih = IndependentCodecs.pngDHash(png)
          (id, jh, ih)
        }
      }.toDF("doc_id", "simhash", "i_hash")
      // cross-decoder guard: the 64-bit dHash recomputed over the
      // INDEPENDENTLY decoded pixels must agree bit for bit before
      // any pairing happens — a decoder bug fails the query, not the
      // pair set
      .select(col("doc_id"),
        crossGuard(col("simhash"), col("simhash") === col("i_hash"),
          col("doc_id"), "dhash").as("simhash"))
    Dedup.hammingPairs64(hashes)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
              col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** Audio fingerprint dedup end-to-end — [[imageDedup]]'s design at
    * the audio seam: a corpus of real WAV clips with PLANTED
    * duplicates — per decade of ids, the base clip (id%10=0) plus an
    * exact byte clone (1), a decode/re-encode copy (2), a half-gain
    * copy (3) and a one-window dropout edit (4); ids 5-9 are
    * unrelated clips — fingerprinted map-side with the 64-bit
    * energy-contour hash ([[MediaCodecs.fpWav]], real RIFF/PCM decode
    * per clip) and paired through the SAME Manku 4×16-bit blocked
    * Hamming join as text SimHash and image dHash
    * ([[Dedup.hammingPairs64]]). Clone and re-encode hash identically
    * (PCM-exact), gain preserves every energy comparison, the
    * dropout flips ≤ 2 bits — so the planted C(5,2) pairs per decade
    * are found and nothing else is (MultimodalSpec pins the exact
    * pair set). Rows-only at the driver gate: DuckDB cannot parse
    * RIFF/PCM.
    */
  def audioDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = payloads(s, d, "audio", id => ("audio", audioPayloadOf(id)))
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, wav) =>
          val jh = MediaCodecs.fpWav(wav)
          val ih = IndependentCodecs.wavFingerprint(wav)
          (id, jh, ih)
        }
      }.toDF("doc_id", "simhash", "i_hash")
      // same guard at the audio seam: energy-contour fingerprint over
      // the from-scratch RIFF parse must equal the JDK-backed one
      .select(col("doc_id"),
        crossGuard(col("simhash"), col("simhash") === col("i_hash"),
          col("doc_id"), "wavfp").as("simhash"))
    Dedup.hammingPairs64(hashes)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
              col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> features _,
    "mm_frames"   -> frames _,
    "mm_decode"   -> decodeRoundTrip _,
    "mm_resize"   -> resizeThumbnails _,
    "dedup_image" -> imageDedup _,
    "dedup_audio" -> audioDedup _,
  )

  val oracles: Map[String, String] = Map(
    "mm_features" ->
      s"""SELECT doc_id AS media_id,
         |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         |  octet_length(encode(text)) AS n_bytes,
         |  CAST(64 + ${portableHashSql("text")} % 1217 AS INT) AS width,
         |  CAST(64 + ${portableHashSql("text")} % 657 AS INT) AS height,
         |  md5(text) AS digest
         |FROM documents
         |ORDER BY media_id""".stripMargin,
    "mm_frames" ->
      s"""SELECT doc_id AS media_id, frame_idx,
         |  md5(substr(text, frame_idx * $FrameLen + 1, $FrameLen)) AS frame_md5,
         |  length(substr(text, frame_idx * $FrameLen + 1, $FrameLen)) AS frame_len
         |FROM documents, range(0, $NumFrames) r(frame_idx)
         |WHERE length(substr(text, frame_idx * $FrameLen + 1, $FrameLen)) > 0
         |ORDER BY media_id, frame_idx""".stripMargin,
    // The four codec rows, formerly `no_oracle` (DuckDB cannot decode
    // PNG/WAV): the oracle reads the EXPECTED table
    // [[graft.tools.ExpectedMedia]] persists at Verify time, computed
    // from the same deterministic payloads by the from-scratch
    // independent decoders + plain-Scala pairing — so the driver's
    // rows+schema+hash gate now proves JDK-decode == independent-
    // decode through its own machinery (the in-plan crossGuard stays
    // as defense-in-depth).
    "mm_decode" ->
      s"""SELECT media_id, kind, n_bytes, n_frames, width, height, digest
         |FROM read_parquet('${graft.tools.ExpectedMedia.root}/mm_decode/*.parquet')
         |ORDER BY media_id""".stripMargin,
    "mm_resize" ->
      s"""SELECT media_id, src_w, src_h, thumb_w, thumb_h, thumb_bytes,
         |  thumb_digest
         |FROM read_parquet('${graft.tools.ExpectedMedia.root}/mm_resize/*.parquet')
         |ORDER BY media_id""".stripMargin,
    "dedup_image" ->
      s"""SELECT media_a, media_b, hamming
         |FROM read_parquet('${graft.tools.ExpectedMedia.root}/dedup_image/*.parquet')
         |ORDER BY media_a, media_b""".stripMargin,
    "dedup_audio" ->
      s"""SELECT media_a, media_b, hamming
         |FROM read_parquet('${graft.tools.ExpectedMedia.root}/dedup_audio/*.parquet')
         |ORDER BY media_a, media_b""".stripMargin,
  )
}
