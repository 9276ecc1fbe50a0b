package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches (the Scala analog of mapInPandas).
  *
  * All THREE modalities are REAL decodes, no extra dependency needed:
  * images (magic-byte sniff + decode via `javax.imageio`, part of
  * every JDK), audio (a pure-JVM RIFF/WAVE chunk-walk — PCM metadata
  * lives entirely in the container header), and video (a pure-JVM
  * ISO-BMFF/MP4 box walk — timing metadata lives in the `mvhd` box).
  * The gated metadata comes from the decoder/parser, not from the
  * payload generator. Payloads no path recognizes (and any byte
  * string a reader chokes on) fall back to a deterministic stub — the
  * honest swap-in point for compressed-FRAME decoding (pixel/sample
  * data), which does need codec libraries this container lacks.
  */
object Multimodal {

  // ImageIO's default ImageInputStream/ImageOutputStream cache spools
  // through temp FILES — per-image disk round-trips that dominate
  // small-image codec work. Memory caching is ~an order of magnitude
  // faster for payloads that already sit in executor memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** A decoded media asset's typed metadata. `px` is the top-left pixel
    * as a 24-bit RGB int — decoder-derived proof of a real decode; None
    * on the stub path.
    */
  case class MediaMeta(doc_id: Long, byte_len: Int, width: Int, height: Int,
      format: String, checksum: String, px: Option[Int])

  /** A sampled video frame reference. */
  case class FrameRef(doc_id: Long, frame_idx: Int, frame_key: String)

  /** Fixture image parameters, all pure functions of doc_id so the
    * DuckDB oracle can recompute the EXPECTED decode output without a
    * PNG codec: the gate then checks generator formulas == ImageIO's
    * decoded values.
    */
  def imgWidth(id: Long): Int = (id % 48 + 1).toInt
  def imgHeight(id: Long): Int = ((id * 7) % 32 + 1).toInt
  def imgRgb(id: Long): Int =
    ((id % 256) * 65536 + ((id * 7) % 256) * 256 + (id * 13) % 256).toInt

  /** Encode a solid-color PNG via the JDK's ImageIO — real compressed
    * PNG bytes, not a fake header.
    */
  def pngBytes(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic fake decode for non-image payloads: metadata derived
    * from payload size and id. Real deployment: replace the body with
    * an audio/video codec call (e.g. JavaCV) — the signature and batch
    * shape stay.
    */
  def stubDecode(docId: Long, payload: Array[Byte]): MediaMeta = {
    val fmt = (docId % 3) match {
      case 0 => "jpeg"
      case 1 => "png"
      case _ => "webp"
    }
    MediaMeta(docId, payload.length,
      width = (payload.length % 640) + 16,
      height = ((payload.length * 7) % 480) + 16,
      fmt,
      checksum = org.apache.commons.codec.digest.DigestUtils.md5Hex(payload),
      px = None)
  }

  /** Sniff + decode an image payload with ImageIO. None when no
    * installed reader recognizes the bytes OR a reader chokes mid-parse
    * (e.g. text that happens to start with a magic prefix like "BM") —
    * callers fall back to [[stubDecode]], so a poisoned payload can
    * never fail the batch.
    */
  def decodeImage(docId: Long, payload: Array[Byte]): Option[MediaMeta] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val img = r.read(0)
            Some(MediaMeta(docId, payload.length,
              img.getWidth, img.getHeight,
              r.getFormatName.toLowerCase(java.util.Locale.ROOT),
              org.apache.commons.codec.digest.DigestUtils.md5Hex(payload),
              px = Some(img.getRGB(0, 0) & 0xffffff)))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A parsed audio asset's typed metadata. `src` records which path
    * produced the row: "riff" = the real RIFF/WAVE header parse,
    * "stub" = the deterministic fallback for non-audio payloads.
    */
  case class AudioMeta(doc_id: Long, byte_len: Long, sample_rate: Int,
      channels: Int, bits: Int, n_samples: Long, duration_us: Long,
      src: String)

  /** Fixture audio parameters — pure functions of doc_id so the DuckDB
    * oracle recomputes the EXPECTED parse output without an audio
    * library: the gate then checks generator formulas == the RIFF
    * parser's decoded values.
    */
  def wavRate(id: Long): Int =
    Array(8000, 16000, 22050, 44100)((id % 4).toInt)
  def wavChannels(id: Long): Int = (id % 2 + 1).toInt
  def wavSamples(id: Long): Int = (id % 400 + 50).toInt

  /** Encode a real PCM WAV file: RIFF header, 16-byte PCM `fmt ` chunk,
    * and a `data` chunk of deterministic 16-bit samples — honest bytes
    * a desktop player would accept, not a fake header.
    */
  def wavBytes(sampleRate: Int, channels: Int, nSamples: Int,
      seed: Long): Array[Byte] = {
    val bits = 16
    val dataSize = nSamples * channels * (bits / 8)
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * (bits / 8))
      .putShort((channels * (bits / 8)).toShort).putShort(bits.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < dataSize / 2) {
      buf.putShort(((seed * 31 + i * 7) % 32768).toShort)
      i += 1
    }
    buf.array()
  }

  /** Pure-JVM RIFF/WAVE header parse — the second REAL modality (no
    * codec dependency needed: PCM metadata lives entirely in the
    * container header). Walks the word-aligned chunk list for `fmt ` and
    * `data`; returns (sampleRate, channels, bitsPerSample, nSamples) or
    * None for anything that isn't a well-formed WAV, so a poisoned
    * payload can never fail the batch — same discipline as
    * [[decodeImage]].
    */
  def parseRiffWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    try {
      if (b.length < 44) return None
      if (new String(b, 0, 4, "US-ASCII") != "RIFF" ||
        new String(b, 8, 4, "US-ASCII") != "WAVE") return None
      var off = 12
      var fmt: Option[(Int, Int, Int)] = None
      var dataSize: Option[Long] = None
      var corrupt = false
      while (!corrupt && off + 8 <= b.length &&
        (fmt.isEmpty || dataSize.isEmpty)) {
        val cid = new String(b, off, 4, "US-ASCII")
        val sz = u32(off + 4) // unsigned — may legitimately exceed Int.MaxValue
        if (cid == "fmt " && sz >= 16 && off + 24 <= b.length)
          fmt = Some((u16(off + 10), u32(off + 12).toInt, u16(off + 22)))
        else if (cid == "data") dataSize = Some(sz)
        // word-aligned advance, computed in Long: a corrupt size whose
        // Int truncation went negative would otherwise stall `off` and
        // spin this loop forever inside an executor task — the one
        // failure mode the NonFatal catch can't reach
        val step = 8L + sz + (sz & 1L)
        if (step <= 0 || off + step > Int.MaxValue) corrupt = true
        else off += step.toInt
      }
      for {
        (ch, rate, bits) <- fmt
        ds <- dataSize
        if ch > 0 && bits >= 8 && rate > 0
      } yield (rate, ch, bits, ds / (ch.toLong * (bits / 8)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic fallback metadata for payloads that don't parse as
    * WAV — the declared swap-in point for real compressed-audio codecs
    * (mp3/ogg frame headers) this container lacks.
    */
  def stubAudio(docId: Long, payload: Array[Byte]): AudioMeta =
    AudioMeta(docId, payload.length.toLong, 8000, 1, 8,
      payload.length.toLong, payload.length.toLong * 1000000L / 8000L,
      "stub")

  /** A parsed video container's typed metadata ([[parseIsoBmff]]). */
  case class VideoMeta(doc_id: Long, byte_len: Long, timescale: Int,
      dur_ticks: Long, duration_us: Long, src: String)

  /** Fixture video parameters — pure functions of doc_id, same pattern
    * as the image/audio fixtures; the three modality generators tile
    * the corpus by doc_id % 3 (1 = image, 2 = audio, 0 = video).
    */
  def mp4Timescale(id: Long): Int = Array(600, 1000, 90000, 24)((id % 4).toInt)
  def mp4DurTicks(id: Long): Long = id % 5000 + 100

  /** Encode a minimal but REAL ISO base-media (MP4) container: an
    * `ftyp` box and a `moov` box holding a version-0 `mvhd` with the
    * given timescale/duration — exactly the boxes a player reads for
    * container metadata.
    */
  def mp4Bytes(timescale: Int, durTicks: Long): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16 + 116) // BMFF is big-endian
    buf.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    buf.putInt(116).put("moov".getBytes("US-ASCII"))
    buf.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation, modification
      .putInt(timescale).putInt(durTicks.toInt)
      .putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
      .put(new Array[Byte](10)) // reserved
      .put(new Array[Byte](36)) // identity matrix slot (zeros fine for meta)
      .put(new Array[Byte](24)) // predefined
      .putInt(2) // next track id
    buf.array()
  }

  /** Pure-JVM ISO-BMFF box walk — the THIRD real modality: like WAV,
    * an MP4's timing metadata lives entirely in container boxes, so no
    * codec is needed to extract it. Walks top-level boxes for `moov`,
    * then its children for `mvhd` (version 0 and 1 layouts); returns
    * (timescale, durationTicks) or None for anything malformed. The
    * same corrupt-size discipline as [[parseRiffWav]]: a box size that
    * cannot advance the walk terminates it instead of spinning an
    * executor task forever (size < 8 — including 0 "to end of file"
    * and 1 "64-bit largesize", which this minimal walker treats as
    * unsupported — is a stop condition, not a loop).
    */
  def parseIsoBmff(b: Array[Byte]): Option[(Int, Long)] = {
    def u32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def boxType(o: Int): String = new String(b, o + 4, 4, "US-ASCII")
    try {
      if (b.length < 16 || boxType(0) != "ftyp") return None
      var off = 0
      var moov = -1
      var moovEnd = -1L
      while (moov < 0 && off + 8 <= b.length) {
        val sz = u32(off)
        if (sz < 8 || off + sz > Int.MaxValue) return None
        if (boxType(off) == "moov") { moov = off; moovEnd = off + sz }
        off += sz.toInt
      }
      if (moov < 0) return None
      var c = moov + 8
      while (c + 8 <= math.min(moovEnd, b.length.toLong)) {
        val sz = u32(c)
        if (sz < 8 || c + sz > Int.MaxValue) return None
        if (boxType(c) == "mvhd" && c + 8 + 4 <= b.length) {
          val version = b(c + 8) & 0xff
          return if (version == 0 && c + 8 + 20 + 4 <= b.length)
            Some((u32(c + 8 + 12).toInt, u32(c + 8 + 16)))
          else if (version == 1 && c + 8 + 28 + 8 <= b.length)
            Some((u32(c + 8 + 20).toInt, u64(c + 8 + 24)))
          else None
        }
        c += sz.toInt
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic fallback for payloads that don't parse as BMFF. */
  def stubVideo(docId: Long, payload: Array[Byte]): VideoMeta =
    VideoMeta(docId, payload.length.toLong, 1000, payload.length.toLong,
      payload.length.toLong * 1000L, "stub")

  /** Video fixture payloads: docs with doc_id % 3 == 0 carry real
    * minimal MP4 bytes; the rest exercise the stub fallback.
    */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 0) mp4Bytes(mp4Timescale(id), mp4DurTicks(id))
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** Batch-parse the video payload column per partition — same shape
    * as [[decodeMeta]]/[[decodeAudioMeta]]. duration_us is integer
    * arithmetic (ticks · 10⁶ div timescale) for cross-engine
    * exactness.
    */
  def decodeVideoMeta(spark: SparkSession, docs: DataFrame): Dataset[VideoMeta] = {
    import spark.implicits._
    withVideoPayload(docs.repartition(spark.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        parseIsoBmff(bytes) match {
          case Some((ts, ticks)) if ts > 0 =>
            VideoMeta(id, bytes.length.toLong, ts, ticks,
              ticks * 1000000L / ts, "bmff")
          case _ => stubVideo(id, bytes)
        }
      })
  }

  /** Attach the opaque binary payload column: every third doc
    * (doc_id % 3 == 1) carries REAL PNG bytes sized/colored by the
    * doc_id formulas above; the rest carry raw text bytes (the
    * non-image branch). A Scala UDF is justified here: PNG encoding is
    * codec work no Catalyst expression expresses, and this column is
    * the fixture boundary, not a hot query path.
    */
  def withPayload(docs: DataFrame): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 1) pngBytes(imgWidth(id), imgHeight(id), imgRgb(id))
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** Batch-decode the payload column per partition — the mapInPandas
    * analog: one JVM-side iterator pass per partition, no shuffle, and
    * the decode batch size is the parquet row-group/partition size.
    * Image payloads take the real ImageIO path; everything else stubs.
    */
  def decodeMeta(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    // Codec work is CPU-bound and embarrassingly parallel, but a small
    // corpus arrives as one parquet split — spread it across cores
    // first (at 100 TB the scan itself yields thousands of splits and
    // AQE keeps this repartition a cheap no-op-sized shuffle; the
    // alternative — one core grinding a whole file's images — is the
    // real cost).
    withPayload(docs.repartition(spark.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeImage(id, bytes).getOrElse(stubDecode(id, bytes)) })
  }

  /** Audio fixture payloads: docs with doc_id % 3 == 2 carry REAL WAV
    * bytes (rate/channels/samples from the doc_id formulas); the rest
    * carry raw text bytes and exercise the stub fallback.
    */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 2)
        wavBytes(wavRate(id), wavChannels(id), wavSamples(id), id)
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** Batch-parse the audio payload column per partition — same
    * mapInPandas-analog shape as [[decodeMeta]]: one iterator pass per
    * partition, no shuffle. WAV payloads take the real RIFF parse;
    * everything else stubs. duration_us is integer arithmetic
    * (n_samples · 10⁶ div rate) so any engine reproduces it exactly.
    */
  def decodeAudioMeta(spark: SparkSession, docs: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    withAudioPayload(docs.repartition(spark.sparkContext.defaultParallelism))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        parseRiffWav(bytes) match {
          case Some((rate, ch, bits, n)) =>
            AudioMeta(id, bytes.length.toLong, rate, ch, bits, n,
              n * 1000000L / rate, "riff")
          case None => stubAudio(id, bytes)
        }
      })
  }

  /** Frame sampling for "video" payloads: docs get doc_id%5 frames, each
    * with a deterministic content key — a generator (flatMap) pattern;
    * at scale this is the explode that fans one asset row into its
    * sampled frames without materializing the video twice.
    */
  def sampleFrames(spark: SparkSession, docs: DataFrame): Dataset[FrameRef] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].flatMap { id =>
      (0 until (id % 5).toInt).map { f =>
        FrameRef(id, f, org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"$id:$f"))
      }
    }
  }

  type Q = (SparkSession, String) => DataFrame

  /** m01 gates the decode-dependent columns (width/height/format/px are
    * ImageIO output on the image branch); byte_len/checksum stay in the
    * Dataset API but out of the gate — a compressed PNG's length/digest
    * isn't recomputable in an engine without the codec.
    */
  /** Content-addressed payload dedup — the binary-column counterpart
    * of d01, i.e. image dedup by content hash: group the multimodal
    * payload column by md5 of the RAW BYTES (real compressed PNGs on
    * the image branch), keep the min-id doc per group. One map-side
    * digest per payload, one groupBy on the 16-byte key — binary blobs
    * never shuffle, only (digest, doc_id) pairs do.
    *
    * Oracle note: the PNG bytes themselves aren't recomputable in SQL
    * (codec), but the group STRUCTURE is — the PNG generator is a pure
    * injective function of its (width, height, rgb) triple, so two
    * payloads collide iff their id-formula triples (or their raw text
    * bytes) match. The oracle groups by the derived key; MultimodalSpec
    * pins byte-level md5 grouping ≡ triple grouping on generated
    * params, which is what makes the equivalence oracle-hard.
    */
  def payloadDedupGroups(docs: DataFrame): DataFrame =
    withPayload(docs)
      .select(col("doc_id"), md5(col("payload")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_size"),
        concat_ws(",",
          array_sort(collect_list(col("doc_id").cast("string"))))
          .as("members"))
      .select(col("keeper"), col("group_size"), col("members"))

  // ---- m06: perceptual image near-dup (dHash) -----------------------

  /** Pattern-image fixture parameters — pure doc_id functions so the
    * DuckDB oracle recomputes the EXPECTED dHash without a PNG codec.
    * Families: image docs (doc_id % 3 == 1) sharing doc_id % 159 carry
    * the same seed pattern in three variants (doc_id / 159 mod 3):
    * v0 the base image, v1 a +25 global brightness shift (different
    * bytes, identical gradients → the perceptual collision m05's exact
    * byte-hash can never see), v2 a one-cell +60 perturbation (flips at
    * most the two adjacent gradient bits → a hamming-1..2 near match).
    * The cell value multiplies the cell index by a large odd constant
    * and double-mods (1000003, then 151): an affine-in-x formula would
    * keep adjacent-cell deltas constant and make unrelated seeds
    * collide in dHash; the double-mod breaks the linearity so
    * cross-family hamming<=3 collisions vanish (verified exhaustively
    * at sf0.1 fixture scale in MultimodalSpec).
    */
  /** Family-space size of the fixture (53 pattern families); the
    * scale probe passes `53 × copies` — see [[AudFamilies]].
    */
  val PatFamilies = 53
  def patSeed(id: Long): Int = patSeed(id, PatFamilies)
  def patSeed(id: Long, families: Int): Int = (id % families).toInt
  def patVariant(id: Long): Int = patVariant(id, PatFamilies)
  def patVariant(id: Long, families: Int): Int =
    ((id / (families * 3L)) % 3).toInt
  def patScale(id: Long): Int = ((id % 2) + 1).toInt

  /** Luma of logical cell (x, y) in [40, 250): base pattern + variant
    * perturbations. Mirrored verbatim by the m06 oracle SQL.
    */
  def patCell(id: Long, x: Int, y: Int): Int =
    patCell(id, x, y, PatFamilies, mixed = false)
  def patCell(id: Long, x: Int, y: Int, families: Int,
      mixed: Boolean): Int = {
    val s = patSeed(id, families)
    val base =
      if (!mixed) {
        // the GATE fixture's double-mod (oracle-mirrored verbatim)
        val i = (s * 73 + y * 9 + x + 1).toLong
        40 + ((i * 2654435761L % 1000003L) % 151L).toInt
      } else {
        // probe tier: full-avalanche per-(family, cell) mix — the
        // m07/m08 linear-family discipline
        var h = s.toLong * 0x9E3779B97F4A7C15L +
          (y * 9 + x + 1).toLong * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        40 + ((h & 0x7fffffffL) % 151L).toInt
      }
    base +
      (if (patVariant(id, families) == 2 && x == s % 8 && y == s % 8) 60
       else 0) +
      (if (patVariant(id, families) == 1) 25 else 0)
  }

  /** Encode the 9×8 logical pattern as a real gray PNG at block scale
    * k ∈ {1, 2} (9k×8k pixels) — the decoder's area-average over each
    * k×k block must recover the logical cell exactly, which is what
    * makes the resize step of [[dhash64]] testable.
    */
  def patternPngBytes(id: Long): Array[Byte] =
    patternPngBytes(id, PatFamilies, mixed = false)
  def patternPngBytes(id: Long, families: Int,
      mixed: Boolean): Array[Byte] = {
    val k = patScale(id)
    val img = new java.awt.image.BufferedImage(
      9 * k, 8 * k, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8 * k) {
      var x = 0
      while (x < 9 * k) {
        val v = patCell(id, x / k, y / k, families, mixed)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** m06 fixture attach: image-branch docs carry the pattern PNG, the
    * rest raw text bytes (exercising the no-hash path).
    */
  def withPatternPayload(docs: DataFrame,
      families: Int = PatFamilies,
      mixed: Boolean = false): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 1) patternPngBytes(id, families, mixed)
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** 64-bit difference hash (dHash, Krawetz 2013) over the DECODED
    * pixels: area-average the image onto a 9×8 integer-luma grid
    * (floor boundaries cx·W/9 — exact block means on the fixture),
    * then bit y·8+x = 1 iff cell(x,y) > cell(x+1,y). None for
    * payloads no ImageIO reader accepts or smaller than the grid.
    * Integer luma (299r+587g+114b)/1000 is exact on gray pixels, so
    * decoded-dHash ≡ formula-dHash is a strict equality, not a
    * tolerance check.
    */
  def dhash64(payload: Array[Byte]): Option[Long] =
    (try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
     catch { case scala.util.control.NonFatal(_) => None })
      .filter(img => img.getWidth >= 9 && img.getHeight >= 8)
      .map { img =>
        val w = img.getWidth
        val h = img.getHeight
        val cell = Array.ofDim[Long](8, 9)
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 9) {
            val x0 = cx * w / 9; val x1 = (cx + 1) * w / 9
            val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += (299L * ((rgb >> 16) & 0xff) +
                  587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
                x += 1
              }
              y += 1
            }
            cell(cy)(cx) = sum / ((x1 - x0).toLong * (y1 - y0))
            cx += 1
          }
          cy += 1
        }
        var hash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (cell(y)(x) > cell(y)(x + 1)) hash |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        hash
      }

  /** Map-side perceptual hash column: decode → dHash per partition,
    * same mapInPandas-analog shape as [[decodeMeta]] — blobs never
    * shuffle, only (doc_id, 8-byte hash) rows leave the scan stage.
    */
  def perceptualHashes(spark: SparkSession, docs: DataFrame,
      families: Int = PatFamilies, mixed: Boolean = false): DataFrame = {
    import spark.implicits._
    withPatternPayload(docs.repartition(spark.sparkContext.defaultParallelism),
        families, mixed)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        dhash64(bytes).map(h => (id, h)) })
      .toDF("doc_id", "dhash")
  }

  /** Perceptual near-dup pairs: dHash banded 4×16 exactly like the
    * d04 SimHash join (pigeonhole: full recall for hamming <= 3),
    * candidates verified by popcount of the XOR. Byte-different
    * brightness variants land at hamming 0 — the pairs m05's exact
    * content hash can never produce.
    */
  def perceptualNearDupPairs(spark: SparkSession, docs: DataFrame,
      maxHam: Int = 3,
      linearFamilies: Option[Int] = None): DataFrame = {
    // linearFamilies: the probe's scaled family space (see m07/m08);
    // like m08, the 64-bit dHash absorbs thousands of families with
    // no cross-family ham≤3 collisions — no resolution change needed
    val hashed = perceptualHashes(spark, docs,
      linearFamilies.getOrElse(PatFamilies), linearFamilies.isDefined)
    hammingPairs(hashed, "dhash", bands = 4, width = 16, maxHam)
  }

  /** m06–m08's banded hamming join: `h` (a long) split into `bands`
    * blocks of `width` bits, docs sharing any block become candidates
    * (`Dedup.bandedPairs`), verified by popcount of the XOR.
    * Returns (doc_a, doc_b, ham) with ham <= maxHam.
    */
  private def hammingPairs(hashed: DataFrame, h: String, bands: Int,
      width: Int, maxHam: Int): DataFrame = {
    // the band table feeds both sides of the self-join: scope-cache
    // it so the map-side decode runs once per doc
    val rows = Dedup.scopedCache(hashed
      .select(col("doc_id"), col(h),
        posexplode(array((0 until bands).map(j =>
          shiftrightunsigned(col(h), width * j)
            .bitwiseAND(lit((1L << width) - 1))): _*)).as(Seq("bpos", "bval"))))
    Dedup.bandedPairs(rows, "doc_id", Seq("bpos", "bval"),
      carry = Seq(bit_count(col(s"a.$h").bitwiseXOR(col(s"b.$h")))
        .cast("int").as("ham")),
      verify = col("ham") <= maxHam)
  }

  // ---- m07: perceptual audio near-dup (energy-gradient fingerprint) ----

  /** Audio-pattern fixture parameters — pure doc_id functions (m06's
    * discipline) so the oracle recomputes the EXPECTED fingerprint
    * without an audio library. Audio docs (doc_id % 3 == 2) sharing
    * doc_id % 47 carry the same 17-frame energy envelope in three
    * variants (doc_id / 141 mod 3): v0 the base signal, v1 a
    * polarity-inverted copy (every sample negated — different bytes,
    * identical magnitudes → the perceptual collision m05's byte hash
    * can never see), v2 a +1500 single-frame boost (flips at most the
    * two adjacent gradient bits → a hamming ≤ 2 near match). Frame
    * amplitudes use m06's double-mod construction so cross-family
    * low-hamming collisions don't arise by linear structure.
    */
  val AudFrames = 17

  /** Family-space size of the fixture (47 envelope families). The
    * gate/oracle pin this constant; the scale probe passes a LARGER
    * space (`47 × copies`) so a replicated corpus carries DISTINCT
    * families per copy — the duplicate structure then replicates
    * (true pairs ∝ corpus) instead of compounding (families fixed →
    * family sizes ∝ corpus → true pairs ∝ corpus², the property that
    * blocked an honest 100× row).
    */
  val AudFamilies = 47
  def audSeed(id: Long): Int = audSeed(id, AudFamilies)
  def audSeed(id: Long, families: Int): Int = (id % families).toInt
  def audVariant(id: Long): Int = audVariant(id, AudFamilies)
  def audVariant(id: Long, families: Int): Int =
    ((id / (families * 3L)) % 3).toInt
  def audSpf(id: Long): Int = audSpf(id, AudFamilies)
  def audSpf(id: Long, families: Int): Int = audSeed(id, families) % 23 + 30

  /** Frame amplitude in [100, 3550]: base double-mod pattern plus the
    * v2 single-frame boost. Mirrored verbatim by the m07 oracle SQL.
    */
  def audAmp(id: Long, f: Int): Int =
    audAmp(id, f, AudFamilies, AudFrames, mixed = false)
  def audAmp(id: Long, f: Int, families: Int, envSteps: Int,
      mixed: Boolean): Int = {
    val s = audSeed(id, families)
    val base =
      if (!mixed)
        // the GATE fixture's double-mod (oracle-mirrored verbatim).
        // Not used for scaled family spaces: its f-dependence is a
        // linear progression mod 151 (adjacent amps differ by a
        // constant −29 mod 151 except on wrap events), so gradient
        // bits are biased ~4:1 and the family→fingerprint map
        // saturates long before the bit width does (measured: 470
        // families → 158 distinct 33-frame fps)
        (((s * 73 + f * 9 + 1).toLong * 2654435761L % 1000003L) % 151L)
          .toInt
      else {
        // probe tier: a full-avalanche per-(s, f) mix, so distinct
        // families carry ~independent envelopes and the true pair
        // set really is linear in the family count
        var h = s.toLong * 0x9E3779B97F4A7C15L +
          (f + 1).toLong * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        ((h & 0x7fffffffL) % 151L).toInt
      }
    100 + base * 13 +
      (if (audVariant(id, families) == 2 && f == s % envSteps) 1500 else 0)
  }

  /** Encode the 17-frame envelope as a REAL mono 16-bit PCM WAV
    * (honest RIFF bytes, same chunk layout as [[wavBytes]]): each
    * frame holds `audSpf` samples of constant magnitude `audAmp`
    * with alternating sign (so the per-frame mean |s| recovers the
    * amplitude exactly), v1 globally inverted.
    */
  def audioPatternWav(id: Long): Array[Byte] =
    audioPatternWav(id, AudFamilies, AudFrames, mixed = false)

  /** @param envSteps intrinsic envelope resolution of the synthesized
    *   signal (17 for the gate fixture). The fingerprint can never
    *   extract more gradient entropy than the SIGNAL carries: at 33 FP
    *   frames over a 17-step envelope, ~half the adjacent-frame
    *   comparisons fall inside one step (equal means → dead bits) and
    *   the fp space saturates (measured: 470 families → 104 distinct
    *   33-frame fps). The linear-family probe tier therefore grows
    *   envSteps with the resolved FP frame count — the production
    *   analog: real audio carries full-bandwidth detail, and raising
    *   fingerprint frames extracts more of it.
    */
  def audioPatternWav(id: Long, families: Int, envSteps: Int,
      mixed: Boolean): Array[Byte] = {
    val spf = audSpf(id, families)
    val n = envSteps * spf
    val neg = if (audVariant(id, families) == 1) -1 else 1
    val buf = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1.toShort)
      .putInt(16000).putInt(16000 * 2)
      .putShort(2.toShort).putShort(16.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(n * 2)
    var i = 0
    while (i < n) {
      val a = audAmp(id, i / spf, families, envSteps, mixed)
      buf.putShort(((if (i % 2 == 0) a else -a) * neg).toShort)
      i += 1
    }
    buf.array()
  }

  /** m07 fixture attach: audio-branch docs carry the pattern WAV, the
    * rest raw text bytes (the no-fingerprint path).
    */
  def withAudioPattern(docs: DataFrame,
      families: Int = AudFamilies,
      envSteps: Int = AudFrames,
      mixed: Boolean = false): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 2) audioPatternWav(id, families, envSteps, mixed)
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** Energy-gradient fingerprint over the DECODED PCM (the audio
    * analog of [[dhash64]], in the spirit of Haitsma–Kalker
    * energy-band hashing): walk the RIFF chunks for a 16-bit mono PCM
    * stream, area-average |sample| onto `frames` frames (floor
    * boundaries f·n/frames — exact frame means on the fixture at the
    * default), bit f = 1 iff mean(f) > mean(f+1). None for anything
    * that isn't plain 16-bit mono PCM — a poisoned payload can never
    * fail the batch.
    *
    * `frames` is the RESOLUTION KNOB the scale probe's m07 finding
    * calls for (SCALE.md): collision-class sizes — and with them the
    * Σ bucket² banded-join cost and the true pair cardinality — are
    * set by fingerprint entropy, so a corpus grown 10× raises frames
    * by ~log₂10 bits (17 → 21+), exactly as d09 grows its hyperplane
    * count. Up to 64 frames → 63 gradient bits in a long.
    */
  def audioFp(b: Array[Byte], frames: Int = AudFrames): Option[Long] = {
    require(frames >= 2 && frames <= 64, s"frames out of range: $frames")
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    try {
      if (b.length < 44) return None
      if (new String(b, 0, 4, "US-ASCII") != "RIFF" ||
        new String(b, 8, 4, "US-ASCII") != "WAVE") return None
      var off = 12
      var fmtOk = false
      var data: Option[(Int, Int)] = None // (offset, nSamples)
      var corrupt = false
      while (!corrupt && off + 8 <= b.length && (!fmtOk || data.isEmpty)) {
        val cid = new String(b, off, 4, "US-ASCII")
        val sz = u32(off + 4)
        if (cid == "fmt " && sz >= 16 && off + 24 <= b.length)
          fmtOk = u16(off + 8) == 1 && u16(off + 10) == 1 &&
            u16(off + 22) == 16
        else if (cid == "data" && off + 8 + sz <= b.length)
          data = Some((off + 8, (sz / 2).toInt))
        val step = 8L + sz + (sz & 1L)
        if (step <= 0 || off + step > Int.MaxValue) corrupt = true
        else off += step.toInt
      }
      for ((o, n) <- data if fmtOk && !corrupt && n >= frames) yield {
        val mean = Array.ofDim[Long](frames)
        var f = 0
        while (f < frames) {
          val j0 = f * n / frames; val j1 = (f + 1) * n / frames
          var sum = 0L
          var j = j0
          while (j < j1) {
            sum += math.abs(u16(o + 2 * j).toShort.toLong)
            j += 1
          }
          mean(f) = sum / (j1 - j0)
          f += 1
        }
        var fp = 0L
        f = 0
        while (f < frames - 1) {
          if (mean(f) > mean(f + 1)) fp |= 1L << f
          f += 1
        }
        fp
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The gate-default 16-bit form ([[audioFp]] at 17 frames). */
  def audioFp16(b: Array[Byte]): Option[Int] = audioFp(b).map(_.toInt)

  /** Map-side fingerprint column — blobs never shuffle; only
    * (doc_id, 2-byte fingerprint) rows leave the scan stage.
    */
  def audioFingerprints(spark: SparkSession, docs: DataFrame,
      frames: graft.util.Resolution = graft.util.Resolution.Auto,
      families: Int = AudFamilies,
      envSteps: Option[Int] = None,
      mixed: Boolean = false): DataFrame = {
    import spark.implicits._
    val f = resolveAudFrames(frames, docs)
    withAudioPattern(docs.repartition(spark.sparkContext.defaultParallelism),
        families, envSteps.getOrElse(AudFrames), mixed)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        audioFp(bytes, f).map(h => (id, h)) })
      .toDF("doc_id", "afp")
  }

  /** Corpus size the 17-frame default is calibrated at (the sf0.1
    * documents table); [[graft.util.Resolution.autoBits]]'s n₀.
    */
  val M07CalibN = 5000L

  /** Auto-sized fingerprint resolution (Resolution scaladoc): frames
    * grow step·⌈log₂(n/n₀)⌉ past the 17-frame default calibrated at
    * the sf0.1 corpus. Capped at audioFp's 64-frame max.
    *
    * `step`: 1 for a standalone fingerprint column; the BANDED pair
    * join passes its band count (pigeonhole splits the bits across
    * maxHam+1 blocking keys, so per-band classes grow 2^(Δ/bands) —
    * the Resolution scaladoc's banded rule; raising banded width
    * costs no recall). At 10× with step 4 this derives 33 frames —
    * measured at the 1×-shaped cost where step 1's 21 frames had
    * already drifted super-linear (SCALE.md 100× rows).
    */
  private def resolveAudFrames(frames: graft.util.Resolution,
      docs: DataFrame, step: Int = 1): Int =
    graft.util.Resolution.resolve(frames, docs.count(), M07CalibN,
      base = AudFrames, hi = 64, step = step)

  /** Perceptual audio near-dup pairs: the 16-bit fingerprint banded
    * 4×4 (pigeonhole: full recall for hamming ≤ 3 — v2's ≤ 2-bit
    * perturbations always land inside), candidates verified by
    * popcount. Polarity-inverted copies collide at hamming 0 with
    * different bytes — pairs the exact m05 hash never finds.
    */
  def audioNearDupPairs(spark: SparkSession, docs: DataFrame,
      maxHam: Int = 3,
      frames: graft.util.Resolution = graft.util.Resolution.Auto,
      linearFamilies: Option[Int] = None): DataFrame = {
    // linear-family probe mode (linearFamilies = Some(n), the family
    // space scaled with the corpus): the
    // synthesized signal's envelope resolution tracks the resolved FP
    // frame count, so the fingerprint's extra bits are REAL — see
    // audioPatternWav's envSteps scaladoc. The gate fixture
    // (families = 47) keeps its pinned 17-step envelope.
    // maxHam+1 bands of ceil(bits/bands) fingerprint bits: pigeonhole
    // puts every hamming<=maxHam pair intact in some band, at ANY
    // resolution. Auto grows at the BANDED step (bits split across
    // bands, so per-band classes need bands× the growth to track n);
    // the trade is a TIGHTER near-dup band at higher resolution
    // (fixed maxHam over more bits), not lost members of a fixed band
    // — see the Resolution scaladoc
    val f = resolveAudFrames(frames, docs, step = maxHam + 1)
    val bits = f - 1
    val bands = maxHam + 1
    val width = (bits + bands - 1) / bands
    val hashed = audioFingerprints(spark, docs, f,
      families = linearFamilies.getOrElse(AudFamilies),
      envSteps = linearFamilies.map(_ => f),
      mixed = linearFamilies.isDefined)
    hammingPairs(hashed, "afp", bands, width, maxHam)
  }

  // ---- m08: perceptual video near-dup (temporal dHash signature) ----

  /** Video-pattern fixture parameters — pure doc_id functions (the
    * m06/m07 discipline) so the oracle recomputes the EXPECTED
    * signature without a video library. Video docs (doc_id % 3 == 0)
    * sharing doc_id % 43 carry the same 8-frame sequence in three
    * variants (doc_id / 129 mod 3): v0 the base encode, v1 a
    * RE-ENCODED copy (an extra `free` box between moov and mdat —
    * byte-different container, frame-identical pixels → the temporal
    * collision m05's byte hash can never see; the analog of a video
    * re-muxed or re-encoded losslessly), v2 a single-cell +60 boost in
    * ONE SAMPLED frame (flips at most the two adjacent gradient bits
    * of that frame's word → a hamming ≤ 2 near match). Frame cells use
    * m06's double-mod construction so cross-family low-hamming
    * collisions don't arise from linear structure.
    */
  val VidFramesStored = 8
  val VidFramesSampled = 4
  val VidW = 17
  val VidH = 8

  /** Family-space size of the fixture (43 frame-sequence families).
    * As with [[AudFamilies]], the scale probe passes `43 × copies` so
    * a replicated corpus carries DISTINCT families per copy and the
    * true pair set grows linearly instead of quadratically.
    */
  val VidFamilies = 43
  def vidSeed(id: Long): Int = vidSeed(id, VidFamilies)
  def vidSeed(id: Long, families: Int): Int = (id % families).toInt
  def vidVariant(id: Long): Int = vidVariant(id, VidFamilies)
  def vidVariant(id: Long, families: Int): Int =
    ((id / (families * 3L)) % 3).toInt

  /** Luma of column x in stored frame f, constant down the column (the
    * decoder's column mean recovers it exactly). Mirrored verbatim by
    * the m08 oracle SQL. The v2 boost targets stored frame
    * 2·(seed mod 4) — always one of the SAMPLED indices {0,2,4,6}.
    */
  def vidCell(id: Long, f: Int, x: Int): Int =
    vidCell(id, f, x, VidFamilies, mixed = false)
  def vidCell(id: Long, f: Int, x: Int, families: Int,
      mixed: Boolean): Int = {
    val s = vidSeed(id, families)
    val base =
      if (!mixed)
        // the GATE fixture's double-mod (oracle-mirrored verbatim);
        // like m07's amp, its x-progression is linear mod 151 — fine
        // for 43 pinned families, degenerate for a scaled space
        (((s * 73 + f * 19 + x * 9 + 1).toLong * 2654435761L % 1000003L)
          % 151L).toInt
      else {
        // probe tier: full-avalanche per-(family, frame, cell) mix so
        // scaled family spaces carry ~independent signatures
        var h = s.toLong * 0x9E3779B97F4A7C15L +
          (f * VidW + x + 1).toLong * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        ((h & 0x7fffffffL) % 151L).toInt
      }
    40 + base +
      (if (vidVariant(id, families) == 2 && f == 2 * (s % 4) &&
        x == s % VidW) 60
       else 0)
  }

  /** Encode the 8-frame sequence as a REAL ISO base-media container:
    * ftyp + moov/mvhd (timescale 1000, one tick per frame) + an `mdat`
    * box of raw 8-bit luma frames (17×8 bytes each, row-major) — the
    * uncompressed-video profile a codec-free pipeline can honestly
    * decode, exactly as m07's WAV carries uncompressed PCM. v1 inserts
    * a `free` box before mdat: a byte-different but frame-identical
    * re-encode.
    */
  def videoPatternMp4(id: Long): Array[Byte] =
    videoPatternMp4(id, VidFamilies, mixed = false)
  def videoPatternMp4(id: Long, families: Int,
      mixed: Boolean): Array[Byte] = {
    val frameBytes = VidW * VidH
    val free = if (vidVariant(id, families) == 1) 16 else 0
    val mdat = 8 + VidFramesStored * frameBytes
    val buf = java.nio.ByteBuffer.allocate(16 + 116 + free + mdat)
    buf.put(mp4Bytes(1000, VidFramesStored.toLong)) // ftyp + moov/mvhd
    if (free > 0)
      buf.putInt(free).put("free".getBytes("US-ASCII"))
        .put(new Array[Byte](free - 8))
    buf.putInt(mdat).put("mdat".getBytes("US-ASCII"))
    var f = 0
    while (f < VidFramesStored) {
      var y = 0
      while (y < VidH) {
        var x = 0
        while (x < VidW) {
          buf.put(vidCell(id, f, x, families, mixed).toByte); x += 1
        }
        y += 1
      }
      f += 1
    }
    buf.array()
  }

  /** m08 fixture attach: video-branch docs carry the pattern MP4, the
    * rest raw text bytes (the no-signature path).
    */
  def withVideoPattern(docs: DataFrame,
      families: Int = VidFamilies,
      mixed: Boolean = false): DataFrame = {
    val gen = udf { (id: Long, text: String) =>
      if (id % 3 == 0) videoPatternMp4(id, families, mixed)
      else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    docs.withColumn("payload", gen(col("doc_id"), col("text")))
  }

  /** Temporal dHash signature over the DECODED container (the video
    * analog of [[dhash64]]/[[audioFp]], the m02-sampler + m06-dHash
    * composition): box-walk to `mdat`, treat it as raw 17×8 luma
    * frames, SAMPLE `frames` of the stored frames at the m02-style
    * stride j·n/frames, and per sampled frame take the 16-bit
    * column-gradient word (bit x = 1 iff colMean(x) > colMean(x+1) —
    * a one-row dHash); the signature packs the per-frame words
    * LSB-first (frame j at bits 16j..16j+15). None for anything that
    * isn't a well-formed container with ≥ `frames` whole frames — a
    * poisoned payload can never fail the batch. A production decoder
    * reads frame geometry from the track boxes and dHashes real
    * decoded frames; the signature algebra — and everything downstream
    * — is unchanged.
    */
  def videoFp(b: Array[Byte], frames: Int = VidFramesSampled): Option[Long] = {
    require(frames >= 1 && frames <= 4, s"frames out of range: $frames")
    def u32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def boxType(o: Int): String = new String(b, o + 4, 4, "US-ASCII")
    try {
      if (b.length < 16 || boxType(0) != "ftyp") return None
      var off = 0
      var mdat = -1
      var mdatSz = 0L
      while (mdat < 0 && off + 8 <= b.length) {
        val sz = u32(off)
        if (sz < 8 || off + sz > b.length) return None
        if (boxType(off) == "mdat") { mdat = off + 8; mdatSz = sz - 8 }
        off += sz.toInt
      }
      if (mdat < 0) return None
      val frameBytes = VidW * VidH
      val nStored = (mdatSz / frameBytes).toInt
      if (nStored < frames) return None
      var sig = 0L
      var j = 0
      while (j < frames) {
        val f = j * nStored / frames // m02-style deterministic stride
        val base = mdat + f * frameBytes
        val colMean = Array.ofDim[Long](VidW)
        var x = 0
        while (x < VidW) {
          var sum = 0L
          var y = 0
          while (y < VidH) { sum += b(base + y * VidW + x) & 0xff; y += 1 }
          colMean(x) = sum / VidH
          x += 1
        }
        x = 0
        while (x < VidW - 1) {
          if (colMean(x) > colMean(x + 1)) sig |= 1L << (16 * j + x)
          x += 1
        }
        j += 1
      }
      Some(sig)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Map-side signature column — blobs never shuffle; only
    * (doc_id, 8-byte signature) rows leave the scan stage.
    */
  def videoSignatures(spark: SparkSession, docs: DataFrame,
      families: Int = VidFamilies, mixed: Boolean = false): DataFrame = {
    import spark.implicits._
    withVideoPattern(docs.repartition(spark.sparkContext.defaultParallelism),
        families, mixed)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        videoFp(bytes).map(h => (id, h)) })
      .toDF("doc_id", "vfp")
  }

  /** Perceptual video near-dup pairs: the 64-bit temporal signature
    * banded 4×16 — band j IS sampled frame j's gradient word, so the
    * banded join's blocking key is "some sampled frame perceptually
    * identical", the natural video analog of m06's bit bands
    * (pigeonhole still gives full recall for hamming ≤ 3 across the
    * whole signature). Re-encoded copies collide at hamming 0 with
    * different bytes; single-frame perturbations land at hamming ≤ 2.
    * The resolution lever at a grown corpus is more sampled frames /
    * cells per frame (the d09/m07 log-n rule).
    */
  def videoNearDupPairs(spark: SparkSession, docs: DataFrame,
      maxHam: Int = 3,
      linearFamilies: Option[Int] = None): DataFrame = {
    // linearFamilies = Some(n): the probe's scaled family space (see
    // m07) — mixed cells, family count ∝ corpus, true pairs linear;
    // the 64-bit signature space absorbs thousands of families without
    // cross-family ham≤3 collisions, so unlike m07 no resolution
    // growth is needed (the container profile's 4-frame cap stands)
    val hashed = videoSignatures(spark, docs,
      linearFamilies.getOrElse(VidFamilies), linearFamilies.isDefined)
    hammingPairs(hashed, "vfp", VidFramesSampled, width = 16, maxHam)
  }

  val queries: Map[String, Q] = Map(
    "m08_video_near_dup" -> ((s, d) =>
      videoNearDupPairs(s, Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),
    "m05_payload_dedup" -> ((s, d) =>
      payloadDedupGroups(Tables.documents(s, d)).orderBy(col("keeper"))),
    // frames pinned at the calibration base: the oracle SQL replays a
    // 17-frame fingerprint as a static string, so Auto on a corpus
    // above M07CalibN would derive more frames and diverge. Pinned-
    // resolution arithmetic is the gate's check; Auto's growth is
    // ScaleProbe's (the m07 cliff rows).
    "m07_audio_near_dup" -> ((s, d) =>
      audioNearDupPairs(s, Tables.documents(s, d),
          frames = graft.util.Resolution.Fixed(AudFrames))
        .orderBy(col("doc_a"), col("doc_b"))),
    "m01_decode_meta" -> ((s, d) =>
      decodeMeta(s, Tables.documents(s, d)).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("format"), col("px"))
        .orderBy(col("doc_id"))),
    "m02_frame_sample" -> ((s, d) =>
      sampleFrames(s, Tables.documents(s, d)).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))),
    // every column is parser output AND recomputable from the fixture
    // formulas (a WAV's byte length is header + PCM frames, unlike a
    // compressed PNG's), so the whole row is gated — including which
    // path (riff vs stub) produced it
    "m03_audio_meta" -> ((s, d) =>
      decodeAudioMeta(s, Tables.documents(s, d)).toDF()
        .orderBy(col("doc_id"))),
    "m04_video_meta" -> ((s, d) =>
      decodeVideoMeta(s, Tables.documents(s, d)).toDF()
        .orderBy(col("doc_id"))),
    "m06_image_near_dup" -> ((s, d) =>
      perceptualNearDupPairs(s, Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))))

  val oracle: Map[String, String] = Map(
    // group structure via the generator's injectivity: png payloads
    // collide iff their (width, height, rgb) formula triples match,
    // text payloads iff their bytes do — prefixed keys keep the two
    // branches disjoint (a PNG can never byte-equal UTF-8 text)
    "m05_payload_dedup" ->
      """WITH k AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1
        |   THEN 'png:' || CAST(doc_id % 48 + 1 AS VARCHAR) || ':' ||
        |        CAST((doc_id * 7) % 32 + 1 AS VARCHAR) || ':' ||
        |        CAST((doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256
        |             + (doc_id * 13) % 256 AS VARCHAR)
        |   ELSE 'txt:' || md5(text) END AS h
        | FROM documents)
        |SELECT min(doc_id) AS keeper, COUNT(*) AS group_size,
        | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS members
        |FROM k GROUP BY h ORDER BY keeper""".stripMargin,
    // expected decode output, recomputed from the fixture formulas
    "m01_decode_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 48 + 1 AS INT)
        |      ELSE CAST(octet_length(CAST(text AS BLOB)) % 640 + 16 AS INT) END AS width,
        | CASE WHEN doc_id % 3 = 1 THEN CAST((doc_id * 7) % 32 + 1 AS INT)
        |      ELSE CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 + 16 AS INT) END AS height,
        | CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
        | CASE WHEN doc_id % 3 = 1 THEN CAST((doc_id % 256) * 65536
        |      + ((doc_id * 7) % 256) * 256 + (doc_id * 13) % 256 AS INT) END AS px
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_frame_sample" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        | md5(CAST(doc_id AS VARCHAR)||':'||CAST(f AS VARCHAR)) AS frame_key
        |FROM documents, LATERAL (SELECT unnest(range(0, CAST(doc_id % 5 AS INT))) AS f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // expected RIFF parse output, recomputed from the fixture formulas:
    // audio rows (doc_id%3=2) from the WAV generator parameters, stub
    // rows from the raw text byte length
    "m03_audio_meta" ->
      """WITH r AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen,
        |  doc_id % 3 = 2 AS is_wav,
        |  doc_id % 400 + 50 AS ns,
        |  doc_id % 2 + 1 AS ch,
        |  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 ELSE 44100 END AS rate
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN is_wav THEN CAST(44 + ns * ch * 2 AS BIGINT)
        |      ELSE tlen END AS byte_len,
        | CAST(CASE WHEN is_wav THEN rate ELSE 8000 END AS INT) AS sample_rate,
        | CAST(CASE WHEN is_wav THEN ch ELSE 1 END AS INT) AS channels,
        | CAST(CASE WHEN is_wav THEN 16 ELSE 8 END AS INT) AS bits,
        | CASE WHEN is_wav THEN CAST(ns AS BIGINT) ELSE tlen END AS n_samples,
        | CASE WHEN is_wav THEN CAST(ns * 1000000 // rate AS BIGINT)
        |      ELSE tlen * 125 END AS duration_us,
        | CASE WHEN is_wav THEN 'riff' ELSE 'stub' END AS src
        |FROM r ORDER BY doc_id""".stripMargin,
    // expected ISO-BMFF parse output from the fixture formulas: video
    // rows (doc_id%3=0) from the mp4 generator parameters (132 bytes =
    // 16-byte ftyp + 116-byte moov/mvhd), stub rows from the text
    "m04_video_meta" ->
      """WITH r AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen,
        |  doc_id % 3 = 0 AS is_mp4,
        |  doc_id % 5000 + 100 AS ticks,
        |  CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |       WHEN 2 THEN 90000 ELSE 24 END AS ts
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN is_mp4 THEN CAST(132 AS BIGINT) ELSE tlen END AS byte_len,
        | CAST(CASE WHEN is_mp4 THEN ts ELSE 1000 END AS INT) AS timescale,
        | CASE WHEN is_mp4 THEN CAST(ticks AS BIGINT) ELSE tlen END AS dur_ticks,
        | CASE WHEN is_mp4 THEN CAST(ticks * 1000000 // ts AS BIGINT)
        |      ELSE tlen * 1000 END AS duration_us,
        | CASE WHEN is_mp4 THEN 'bmff' ELSE 'stub' END AS src
        |FROM r ORDER BY doc_id""".stripMargin,
    // expected dHash recomputed from the patCell formula (the spec pins
    // decoded-pixels dHash == formula dHash), as a 64-char bit string
    // ordered by bit index — band j of the 64-bit hash is exactly chars
    // 16j+1..16j+16, so the substring ORs replay the Spark band join
    // and hamming() replays bit_count(xor)
    "m07_audio_near_dup" ->
      """WITH aud AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        |amps AS (
        | SELECT doc_id, f,
        |  100 + ((((doc_id % 47) * 73 + f * 9 + 1) * 2654435761 % 1000003)
        |         % 151) * 13
        |   + CASE WHEN (doc_id // 141) % 3 = 2
        |          AND f = (doc_id % 47) % 17 THEN 1500 ELSE 0 END AS v
        | FROM aud, LATERAL (SELECT unnest(range(0,17)) AS f)),
        |bits AS (
        | SELECT l.doc_id, l.f AS i,
        |  CASE WHEN l.v > r.v THEN '1' ELSE '0' END AS b
        | FROM amps l JOIN amps r
        |  ON l.doc_id = r.doc_id AND r.f = l.f + 1
        | WHERE l.f < 16),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY i) AS hash
        |      FROM bits GROUP BY doc_id),
        |cand AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        a.hash AS ha, b.hash AS hb
        | FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  AND (substring(a.hash,1,4) = substring(b.hash,1,4)
        |    OR substring(a.hash,5,4) = substring(b.hash,5,4)
        |    OR substring(a.hash,9,4) = substring(b.hash,9,4)
        |    OR substring(a.hash,13,4) = substring(b.hash,13,4)))
        |SELECT doc_a, doc_b, CAST(hamming(ha, hb) AS INT) AS ham
        |FROM cand WHERE hamming(ha, hb) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // expected temporal signature recomputed from the vidCell formula
    // (the spec pins decoded-mdat signature == formula signature) as a
    // 64-char bit string — sampled frame j's 16-bit word is exactly
    // chars 16j+1..16j+16, so the substring ORs replay the Spark
    // frame-word band join; stored frame index = 2*j (stride 8/4)
    "m08_video_near_dup" ->
      """WITH vid AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |cells AS (
        | SELECT doc_id, j, x,
        |  40 + ((((doc_id % 43) * 73 + (2*j) * 19 + x * 9 + 1)
        |         * 2654435761 % 1000003) % 151)
        |   + CASE WHEN (doc_id // 129) % 3 = 2
        |          AND 2*j = 2 * ((doc_id % 43) % 4)
        |          AND x = (doc_id % 43) % 17 THEN 60 ELSE 0 END AS v
        | FROM vid, LATERAL (SELECT unnest(range(0,4)) AS j),
        |           LATERAL (SELECT unnest(range(0,17)) AS x)),
        |bits AS (
        | SELECT l.doc_id, l.j * 16 + l.x AS i,
        |  CASE WHEN l.v > r.v THEN '1' ELSE '0' END AS b
        | FROM cells l JOIN cells r
        |  ON l.doc_id = r.doc_id AND r.j = l.j AND r.x = l.x + 1
        | WHERE l.x < 16),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY i) AS hash
        |      FROM bits GROUP BY doc_id),
        |cand AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        a.hash AS ha, b.hash AS hb
        | FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  AND (substring(a.hash,1,16) = substring(b.hash,1,16)
        |    OR substring(a.hash,17,16) = substring(b.hash,17,16)
        |    OR substring(a.hash,33,16) = substring(b.hash,33,16)
        |    OR substring(a.hash,49,16) = substring(b.hash,49,16)))
        |SELECT doc_a, doc_b, CAST(hamming(ha, hb) AS INT) AS ham
        |FROM cand WHERE hamming(ha, hb) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "m06_image_near_dup" ->
      """WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |cells AS (
        | SELECT doc_id, x, y,
        |  40 + (((doc_id % 53) * 73 + y * 9 + x + 1) * 2654435761 % 1000003) % 151
        |   + CASE WHEN (doc_id // 159) % 3 = 2 AND x = (doc_id % 53) % 8
        |          AND y = (doc_id % 53) % 8 THEN 60 ELSE 0 END
        |   + CASE WHEN (doc_id // 159) % 3 = 1 THEN 25 ELSE 0 END AS v
        | FROM img, LATERAL (SELECT unnest(range(0,9)) AS x),
        |           LATERAL (SELECT unnest(range(0,8)) AS y)),
        |bits AS (
        | SELECT l.doc_id, l.y * 8 + l.x AS i,
        |  CASE WHEN l.v > r.v THEN '1' ELSE '0' END AS b
        | FROM cells l JOIN cells r
        |  ON l.doc_id = r.doc_id AND r.x = l.x + 1 AND r.y = l.y
        | WHERE l.x < 8),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY i) AS hash
        |      FROM bits GROUP BY doc_id),
        |cand AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        a.hash AS ha, b.hash AS hb
        | FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  AND (substring(a.hash,1,16) = substring(b.hash,1,16)
        |    OR substring(a.hash,17,16) = substring(b.hash,17,16)
        |    OR substring(a.hash,33,16) = substring(b.hash,33,16)
        |    OR substring(a.hash,49,16) = substring(b.hash,49,16)))
        |SELECT doc_a, doc_b, CAST(hamming(ha, hb) AS INT) AS ham
        |FROM cand WHERE hamming(ha, hb) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)
}
