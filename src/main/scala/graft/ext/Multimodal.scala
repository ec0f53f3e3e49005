package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media payloads
  * are opaque `binary` columns with typed metadata, processed
  * partition-wise through a typed `Dataset` + `mapPartitions` decode
  * stage — the Scala twin of the Python `mapInPandas` pattern. Extends
  * the reference per BASELINE.json's north-star.
  *
  * The container has no image/audio codecs, so the decoder is a
  * DELIBERATE DETERMINISTIC STUB (see [[decodeStub]]): it derives fake
  * width/height/frame-count from an md5 of the payload header. Everything
  * around it — binary schema, typed encoders, per-partition batch shape,
  * map-side execution with no shuffle — is the real plumbing a codec
  * would drop into.
  *
  * Scale: decode is embarrassingly parallel; the stage is a single
  * mapPartitions over the scan (no shuffle, no driver collect). Real
  * codecs batch within a partition exactly like this iterator does.
  * Payloads here are synthesized from `documents.text` bytes since the
  * fixtures carry no real media.
  */
object Multimodal {

  /** Opaque media payload + typed metadata. */
  final case class MediaRecord(
    doc_id: Long, payload: Array[Byte], kind: String, n_bytes: Long)

  /** Stubbed decode output; in production width/height/frames come from
    * the codec. `resized_*` demonstrate the resize stage (fit into a
    * [[ResizeMax]]² box preserving aspect, integer math); `frame_hashes`
    * demonstrate frame-sampling (md5 of every [[FrameStride]]-th
    * [[FrameBytes]]-byte frame).
    */
  final case class MediaFeatures(
    doc_id: Long, kind: String, n_bytes: Long, header_md5: String,
    n_frames: Long, fake_width: Long, fake_height: Long,
    resized_width: Long, resized_height: Long,
    n_sampled_frames: Long, frame_hashes: String)

  /** Pluggable decode seam: a production image/audio/video codec drops in
    * by implementing this trait — the Spark plan (typed scan →
    * one `mapPartitions`, no shuffle) is identical for every decoder.
    *
    * The iterator IS the per-partition batch: implementations allocate
    * any native context (libjpeg/ffmpeg handle, ONNX session) at call
    * time — once per partition, not per record — and stream records
    * through it. Must be `Serializable` (shipped to executors).
    */
  trait MediaDecoder extends Serializable {
    def decodePartition(records: Iterator[MediaRecord]): Iterator[MediaFeatures]
  }

  /** The default decoder: the deterministic stub (no codecs in this
    * container) — the oracle-verified path.
    */
  object StubDecoder extends MediaDecoder {
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[MediaFeatures] = records.map(decodeStub)
  }

  /** Bytes of payload header fed to the fingerprint. */
  val HeaderBytes = 16

  /** Fixed "frame" size for the frame-sampling stub. */
  val FrameBytes = 256

  /** Sample every Nth frame. */
  val FrameStride = 4

  /** Resize stub: fit the fake dimensions into this square box. */
  val ResizeMax = 256L

  /** documents → typed media records: payload = UTF-8 bytes of `text`,
    * metadata columns alongside. Pure projection (map-side).
    */
  def mediaRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("kind"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(
      md5Hex(s.getBytes("UTF-8")).substring(0, 8), 16)

  /** The stub decoder: one record in, one feature row out, deterministic
    * from the payload bytes alone (so the DuckDB oracle reproduces it
    * from `text`). A real image/audio decoder (`???` in spirit) would
    * replace the fake dimension derivation and keep the signature.
    */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val header = r.payload.take(HeaderBytes)
    val hm = md5Hex(header)
    val w = 320L + h32("w:" + hm) % 1600L
    val h = 240L + h32("h:" + hm) % 840L
    // integer-math "fit into box" resize preserving aspect ratio
    val longSide = math.max(w, h)
    val (rw, rh) =
      if (longSide <= ResizeMax) (w, h)
      else (w * ResizeMax / longSide, h * ResizeMax / longSide)
    // sample every FrameStride-th frame, hash its bytes
    val stride = FrameBytes * FrameStride
    val hashes = (0L until r.n_bytes by stride.toLong).map { off =>
      val end = math.min(off + FrameBytes, r.n_bytes).toInt
      md5Hex(java.util.Arrays.copyOfRange(r.payload, off.toInt, end))
    }
    MediaFeatures(
      doc_id = r.doc_id,
      kind = r.kind,
      n_bytes = r.n_bytes,
      header_md5 = hm,
      n_frames = (r.n_bytes + FrameBytes - 1) / FrameBytes,
      fake_width = w,
      fake_height = h,
      resized_width = rw,
      resized_height = rh,
      n_sampled_frames = hashes.size.toLong,
      frame_hashes = hashes.mkString(","))
  }

  /** Partition-wise decode through the pluggable [[MediaDecoder]] seam —
    * the plan is one `mapPartitions` over the scan for any decoder.
    */
  def extractFeatures(media: Dataset[MediaRecord],
      decoder: MediaDecoder = StubDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(decoder.decodePartition _)
  }

  /** End-to-end: documents → binary payloads → decode → features. */
  def features(documents: DataFrame,
      decoder: MediaDecoder = StubDecoder): DataFrame = {
    val spark = documents.sparkSession
    extractFeatures(mediaRecords(documents), decoder).toDF()
  }

  /** DuckDB oracle: reproduces the stub from `text` (payload == UTF-8
    * bytes of text; fixture text is ASCII so substr==byte-slice).
    */
  def featuresSql: String = {
    val stride = FrameBytes * FrameStride
    s"""SELECT doc_id, kind, n_bytes, header_md5, n_frames,
       |  fake_width, fake_height,
       |  CASE WHEN greatest(fake_width, fake_height) <= $ResizeMax
       |    THEN fake_width
       |    ELSE fake_width * $ResizeMax // greatest(fake_width, fake_height)
       |    END AS resized_width,
       |  CASE WHEN greatest(fake_width, fake_height) <= $ResizeMax
       |    THEN fake_height
       |    ELSE fake_height * $ResizeMax // greatest(fake_width, fake_height)
       |    END AS resized_height,
       |  len([1 for off in range(0, n_bytes, $stride)])
       |    AS n_sampled_frames,
       |  array_to_string(
       |    [md5(substr(text, off + 1, least($FrameBytes, n_bytes - off)))
       |     for off in range(0, n_bytes, $stride)], ',') AS frame_hashes
       |FROM (
       |  SELECT doc_id, text, 'text/plain' AS kind,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    md5(substr(text, 1, $HeaderBytes)) AS header_md5,
       |    CAST((octet_length(encode(text)) + ${FrameBytes - 1})
       |      // $FrameBytes AS BIGINT) AS n_frames,
       |    320 + ${Hashing.h32Sql(s"'w:' || md5(substr(text, 1, $HeaderBytes))")}
       |      % 1600 AS fake_width,
       |    240 + ${Hashing.h32Sql(s"'h:' || md5(substr(text, 1, $HeaderBytes))")}
       |      % 840 AS fake_height
       |  FROM documents)""".stripMargin
  }

  // ---- real codec path: javax.imageio PNG ---------------------------------

  /** Generic decode seam for codecs with their own feature schema —
    * same contract as [[MediaDecoder]] (iterator = the per-partition
    * batch; allocate native context once per partition), typed output.
    */
  trait MediaCodec[T] extends Serializable {
    def decodePartition(records: Iterator[MediaRecord]): Iterator[T]
  }

  /** Real-decode output: geometry + per-channel pixel sums + a
    * position-and-channel-weighted checksum, so a decode that flips
    * rows, swaps channels, or loses precision cannot match. `decoded`
    * is false (all stats zero) for payloads the codec rejects —
    * malformed media is reported, never silently dropped.
    */
  final case class ImageStats(
    doc_id: Long, decoded: Boolean, width: Long, height: Long,
    channels: Long, n_pixels: Long, sum_r: Long, sum_g: Long,
    sum_b: Long, checksum: Long)

  /** Deterministic tiny RGB image per doc_id: w = 8 + id % 9,
    * h = 8 + id % 7, channel value at (x, y) =
    * (id·31 + x·7 + y·13 + c·101) mod 256. Encoded through the REAL
    * `javax.imageio` PNG writer — the bytes on the wire are a genuine
    * PNG stream. Because PNG is lossless and the formula is closed-form,
    * the DuckDB oracle can verify the real decode arithmetically
    * without any codec.
    */
  def pngPayload(docId: Long): Array[Byte] = {
    // ImageIO's default stream cache spills through temp FILES; these
    // are in-memory byte arrays — per-record disk I/O would dominate
    javax.imageio.ImageIO.setUseCache(false)
    val w = (8 + docId % 9).toInt
    val h = (8 + docId % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def v(c: Int) = ((docId * 31 + x * 7 + y * 13 + c * 101) % 256).toInt
        img.setRGB(x, y, (v(0) << 16) | (v(1) << 8) | v(2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** documents → real PNG payload records (one mapPartitions encode;
    * id-spread first — see [[spreadIds]]: the fixture corpus is often
    * ONE parquet file, and inheriting its single partition serializes
    * the whole encode+decode chain on one core).
    */
  def pngRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spreadIds(documents).mapPartitions(_.map { id =>
      val p = pngPayload(id)
      MediaRecord(id, p, "image/png", p.length.toLong)
    })
  }

  /** The real codec behind the seam: `javax.imageio` PNG decode (no
    * external deps — the JDK ships the codec). Streams records through
    * one reader per partition; a payload ImageIO rejects yields a
    * `decoded = false` row.
    */
  object PngStatsDecoder extends MediaCodec[ImageStats] {
    private def failRow(id: Long) =
      ImageStats(id, decoded = false, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[ImageStats] = {
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams only
      records.map { r =>
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        if (img == null) failRow(r.doc_id)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val wh = w.toLong * h
          var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val vr = (rgb >> 16) & 0xff
              val vg = (rgb >> 8) & 0xff
              val vb = rgb & 0xff
              sr += vr; sg += vg; sb += vb
              val base = 1L + x + y.toLong * w
              ck += vr * base + vg * (base + wh) + vb * (base + 2 * wh)
              x += 1
            }
            y += 1
          }
          ImageStats(r.doc_id, decoded = true, w.toLong, h.toLong, 3L,
            wh, sr, sg, sb, ck)
        }
      } catch { case _: Exception => failRow(r.doc_id) }
      }
    }
  }

  /** End-to-end real-codec path: documents → PNG encode → `javax.imageio`
    * decode → pixel stats. Two chained mapPartitions, no shuffle —
    * identical plan shape to the stub path, proving the seam holds for
    * a genuine codec.
    */
  def imageStats(documents: DataFrame,
      codec: MediaCodec[ImageStats] = PngStatsDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    pngRecords(documents).mapPartitions(codec.decodePartition _).toDF()
  }

  // ---- real codec path: javax.sound.sampled WAV ---------------------------

  /** Real audio-decode output: format geometry + amplitude sums + a
    * frame-and-channel-weighted checksum (a decode that drops frames,
    * swaps channels, or mis-parses endianness cannot match). `decoded`
    * false for payloads the codec rejects.
    */
  final case class AudioStats(
    doc_id: Long, decoded: Boolean, sample_rate: Long, channels: Long,
    n_frames: Long, sum_amp: Long, sum_sq: Long, checksum: Long)

  /** Audio fixture sample rate (Hz). */
  val WavRate = 8000

  /** Deterministic tiny PCM16 WAV per doc_id: frames = 64 + id % 129,
    * channels = 1 + id % 2, sample(i, c) =
    * ((id·37 + i·11 + c·1009) mod 4001) − 2000. The RIFF/WAVE
    * container is written byte-for-byte (44-byte canonical header +
    * little-endian PCM16) — genuine WAV bytes on the wire; PCM is
    * lossless and the formula closed-form, so the DuckDB oracle
    * verifies the REAL `javax.sound.sampled` decode arithmetically.
    */
  def wavPayload(docId: Long): Array[Byte] = {
    val frames = (64 + docId % 129).toInt
    val channels = (1 + docId % 2).toInt
    val dataLen = frames * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)                     // PCM
      .putShort(channels.toShort)
      .putInt(WavRate)
      .putInt(WavRate * channels * 2)          // byte rate
      .putShort((channels * 2).toShort)        // block align
      .putShort(16.toShort)                    // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        bb.putShort(
          (((docId * 37 + i * 11 + c * 1009) % 4001) - 2000).toShort)
        c += 1
      }
      i += 1
    }
    bb.array()
  }

  /** documents → real WAV payload records (id-spread like
    * [[pngRecords]]).
    */
  def wavRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spreadIds(documents).mapPartitions(_.map { id =>
      val p = wavPayload(id)
      MediaRecord(id, p, "audio/wav", p.length.toLong)
    })
  }

  /** Per-partition audio-open context — the "allocate the codec
    * context once per partition" contract [[MediaCodec]] documents,
    * and a measured 75× decode-stage win at local[32]:
    *
    * `AudioSystem.getAudioInputStream` funnels EVERY call through
    * `JDK13Services.getProviders` — a `static synchronized` method —
    * and then offers the bytes to each SPI reader in registration
    * order (AIFF, AU, SoftMidi, … before WAV), so the hot path pays a
    * global monitor plus a ladder of fill-in-stack-trace rejections
    * per record. Measured: 32 decode threads through AudioSystem run
    * at ~10 k docs/s TOTAL (slower than ONE thread's 27 k/s — negative
    * scaling); dispatching straight to the accepting reader runs at
    * ~890 k docs/s (SCALING.md "Perceptual audio near-dup").
    *
    * The opener resolves the SPI list once, then remembers which
    * reader accepted the last payload and tries it first — partitions
    * are format-homogeneous in practice, so after the first record
    * every open is one direct, lock-free call. Rejects fall back to
    * the full scan and finally to `AudioSystem` (exotic-JRE safety),
    * paying the ladder only on the reject path where throughput is
    * moot.
    */
  private[ext] final class AudioOpener {
    private val readers: IndexedSeq[
        javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.toIndexedSeq
    }
    private var hint = -1
    def open(payload: Array[Byte])
        : javax.sound.sampled.AudioInputStream = {
      if (hint >= 0) {
        try return readers(hint).getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => hint = -1 }
      }
      var i = 0
      while (i < readers.length) {
        try {
          val in = readers(i).getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          hint = i
          return in
        } catch { case scala.util.control.NonFatal(_) => () }
        i += 1
      }
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
    }
  }

  /** The real audio codec behind the seam: `javax.sound.sampled` WAV
    * parse (JDK ships it — no external deps). One decode context per
    * partition; rejected payloads yield `decoded = false` rows.
    */
  object WavStatsDecoder extends MediaCodec[AudioStats] {
    private def failRow(id: Long) =
      AudioStats(id, decoded = false, 0L, 0L, 0L, 0L, 0L, 0L)
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[AudioStats] = {
      val opener = new AudioOpener // once per partition, not per record
      records.map { r =>
      try {
        val in = opener.open(r.payload)
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16 || f.isBigEndian) failRow(r.doc_id)
        else {
          val ch = f.getChannels
          val frames = in.getFrameLength
          val bytes = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var sum = 0L; var sq = 0L; var ck = 0L
          var i = 0L
          while (i < frames) {
            var c = 0
            while (c < ch) {
              val s = bb.getShort().toLong
              sum += s; sq += s * s
              ck += s * (1L + i + c * frames)
              c += 1
            }
            i += 1
          }
          AudioStats(r.doc_id, decoded = true,
            f.getSampleRate.toLong, ch.toLong, frames, sum, sq, ck)
        }
      } catch { case _: Exception => failRow(r.doc_id) }
      }
    }
  }

  /** End-to-end real-audio path: documents → WAV encode →
    * `javax.sound.sampled` decode → amplitude stats. Same
    * two-mapPartitions no-shuffle plan as [[imageStats]].
    */
  def audioStats(documents: DataFrame,
      codec: MediaCodec[AudioStats] = WavStatsDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wavRecords(documents).mapPartitions(codec.decodePartition _).toDF()
  }

  /** DuckDB oracle for [[audioStats]]: closed-form amplitude sums over
    * the (frame, channel) grid — matching forces the real WAV
    * encode→decode roundtrip to be bit-exact.
    */
  def audioStatsSql: String =
    s"""WITH wavs AS (
       |  SELECT doc_id, 64 + doc_id % 129 AS nf, 1 + doc_id % 2 AS nc
       |  FROM documents),
       |smp AS (
       |  SELECT doc_id, nf, nc, fi.i AS i, ci.c AS c,
       |    (doc_id * 37 + fi.i * 11 + ci.c * 1009) % 4001 - 2000 AS s
       |  FROM wavs, range(0, 193) fi(i), range(0, 2) ci(c)
       |  WHERE fi.i < nf AND ci.c < nc)
       |SELECT doc_id, true AS decoded,
       |  CAST($WavRate AS BIGINT) AS sample_rate, nc AS channels,
       |  nf AS n_frames,
       |  CAST(sum(s) AS BIGINT) AS sum_amp,
       |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
       |  CAST(sum(s * (1 + i + c * nf)) AS BIGINT) AS checksum
       |FROM smp GROUP BY doc_id, nf, nc
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[imageStats]]: the closed-form pixel sums —
    * matching forces the real PNG encode→decode roundtrip to be
    * bit-exact (geometry, channel order, row order, values).
    */
  // ---- perceptual image near-dup: aHash over REAL decoded pixels ----------

  /** aHash geometry: 8×8 grayscale (the classic average-hash grid),
    * already at target size so no resample step hides decode defects;
    * the 64 bits pack into TWO unsigned 32-bit halves because a
    * BIGINT `1 << 63` overflows differently across engines.
    */
  val AHashSide = 8

  /** Hamming radius for [[imageNearDups]]: with 4 disjoint 16-bit
    * bands, any pair within distance 3 shares at least one exact band
    * (pigeonhole) — the banding is LOSSLESS at this radius.
    */
  val AHashMaxHamming = 3L

  final case class ImageAHash(
    doc_id: Long, decoded: Boolean, ahash_lo: Long, ahash_hi: Long)

  /** Deterministic 8×8 RGB PNG per doc with PLANTED perceptual twins:
    * the pixel source is `h32("img|seed|x|y")` split into channel
    * bytes, where ids ≡ 7 (mod 10) reuse the seed of id − 7 and get a
    * SUM-NEUTRAL two-pixel nudge: pixel (0,0)'s red channel moves ±3
    * WITHOUT mod-wrap (253–255 step down; a wrap would be an ~84-step
    * gray jump) and pixel (1,0)'s red channel absorbs the OPPOSITE
    * delta — its base range is pinned to [3, 252] (`3 + h % 250`) so
    * the compensation can never wrap either. Because gray is
    * `(r+g+b) div 3` and 3 | 3, the two grays move by exactly +1/−1
    * and Σgray is PROVABLY unchanged, so only cells (0,0) and (1,0)
    * can cross the strict `64·gray > Σgray` threshold: the twin's
    * Hamming distance to its anchor is ≤ 2 DETERMINISTICALLY at any
    * fixture size (a one-pixel nudge alone shifts the mean, making a
    * third cell sitting exactly at the threshold flip
    * probabilistically — the round-11 flake hazard). A perceptual
    * near-duplicate, not a byte-duplicate. Encoded through the REAL
    * `javax.imageio` PNG writer; h32 is the cross-engine md5-prefix
    * hash, so the DuckDB oracle reproduces every pixel arithmetically.
    */
  def pngHashPayload(docId: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      AHashSide, AHashSide, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val twin = docId % 10 == 7
    val seed = if (twin) docId - 7 else docId
    // nudge sign, decided by pixel (0,0)'s headroom (same for anchor
    // and twin — both derive from the shared seed)
    val s = if (Hashing.jvmH32(s"img|$seed|0|0") % 256 >= 253) -3 else 3
    var y = 0
    while (y < AHashSide) {
      var x = 0
      while (x < AHashSide) {
        val hv = Hashing.jvmH32(s"img|$seed|$x|$y")
        var r = if (x == 1 && y == 0) (3 + hv % 250).toInt
                else (hv % 256).toInt
        val g = ((hv / 256) % 256).toInt
        val b = ((hv / 65536) % 256).toInt
        if (twin && y == 0) {
          if (x == 0) r += s else if (x == 1) r -= s
        }
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** documents → twin-planted PNG records (one mapPartitions encode). */
  def pngHashRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spreadIds(documents).mapPartitions(_.map { id =>
      val p = pngHashPayload(id)
      MediaRecord(id, p, "image/png", p.length.toLong)
    })
  }

  /** Round-robin-spread the doc_id projection across the executor
    * cores before a codec stage. Decode cost is per-PAYLOAD, not
    * per-byte of input, so inheriting the scan's partitioning — often
    * ONE small parquet file — serializes the whole codec chain on one
    * thread: measured at sf0.1 local[32], `video_near_dups` ran its
    * 60 k ImageIO ops in 2.76 s single-threaded vs ~0.4 s spread
    * (SCALING.md). The exchange moves 8-byte ids, never payloads; at
    * cluster scale the scan is already wide and the rebalance is a
    * cheap guard that also evens payload-size skew across cores. Only
    * EVERY id-projection generator spreads — the fingerprint paths
    * and the stats paths ([[pngRecords]], [[wavRecords]]) alike, since
    * all of them synthesize the payload AFTER the exchange. The one
    * path that keeps its pinned no-shuffle shape is [[mediaRecords]]:
    * its payload comes from the scanned rows themselves, and shuffling
    * real payload bytes is exactly what a production decode stage must
    * not do — there the partitioning lever is the scan's split sizing
    * (`spark.sql.files.maxPartitionBytes`), not an exchange.
    */
  private def spreadIds(documents: DataFrame): Dataset[Long] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Average-hash through the real decode: gray = (r+g+b) div 3 per
    * pixel, bit(x,y) = 64·gray > Σgray (strict, cross-multiplied — no
    * float mean), packed row-major into (lo: bits 0–31, hi: 32–63).
    * Rejected payloads yield `decoded = false`, never a silent drop.
    */
  object PngAHashDecoder extends MediaCodec[ImageAHash] {
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[ImageAHash] = {
      javax.imageio.ImageIO.setUseCache(false)
      records.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null || img.getWidth != AHashSide
              || img.getHeight != AHashSide)
            ImageAHash(r.doc_id, decoded = false, 0L, 0L)
          else {
            val gray = new Array[Long](AHashSide * AHashSide)
            var sum = 0L
            var y = 0
            while (y < AHashSide) {
              var x = 0
              while (x < AHashSide) {
                val rgb = img.getRGB(x, y)
                val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff)
                  + (rgb & 0xff)) / 3
                gray(y * AHashSide + x) = g.toLong
                sum += g
                x += 1
              }
              y += 1
            }
            var lo = 0L; var hi = 0L
            var i = 0
            while (i < 64) {
              if (gray(i) * 64 > sum) {
                if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              }
              i += 1
            }
            ImageAHash(r.doc_id, decoded = true, lo, hi)
          }
        } catch {
          case _: Exception => ImageAHash(r.doc_id, decoded = false, 0L, 0L)
        }
      }
    }
  }

  /** Per-doc perceptual hashes via the real codec path (encode →
    * `javax.imageio` decode → aHash; two chained mapPartitions, no
    * shuffle).
    */
  def imageAHashes(documents: DataFrame,
      codec: MediaCodec[ImageAHash] = PngAHashDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    pngHashRecords(documents).mapPartitions(codec.decodePartition _).toDF()
  }

  /** The ONE 64-bit-fingerprint near-dup screen shared by the image
    * and audio paths: pairs within Hamming `maxHamming`, found by a
    * 4×16-bit band self-join (pigeonhole-lossless for maxHamming ≤ 3)
    * — the SimHash discipline applied to media fingerprints. Never
    * all-pairs: the only shuffle is the band-bucket join, bucket
    * population n/2¹⁶ per band at n docs (unrelated fingerprints are
    * uniform — accidental 16-bit collisions get screened by the exact
    * Hamming check). Expects `(doc_id, fp_lo, fp_hi)` with the 64
    * bits split into two unsigned 32-bit halves.
    */
  /** The 4×16-bit band table of a `(doc_id, fp_lo, fp_hi)` frame —
    * shared by the batch screen and [[graft.streaming
    * .MediaDedupStream]]'s persisted index rows.
    */
  def fpBands(fingerprints: DataFrame): DataFrame =
    fingerprints.select(col("doc_id"), col("fp_lo"),
      col("fp_hi"), explode(array(
        struct(lit(0L).as("band_idx"),
          col("fp_lo").bitwiseAND(lit(65535L)).as("band_val")),
        struct(lit(1L).as("band_idx"),
          shiftright(col("fp_lo"), 16).as("band_val")),
        struct(lit(2L).as("band_idx"),
          col("fp_hi").bitwiseAND(lit(65535L)).as("band_val")),
        struct(lit(3L).as("band_idx"),
          shiftright(col("fp_hi"), 16).as("band_val")))).as("b"))
      .select(col("doc_id"), col("fp_lo"), col("fp_hi"),
        col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))

  /** Exact 64-bit Hamming distance between two (lo, hi) pairs. */
  def fpHamming(loA: Column, hiA: Column, loB: Column,
      hiB: Column): Column =
    (bit_count(loA.bitwiseXOR(loB))
      + bit_count(hiA.bitwiseXOR(hiB))).cast("long")

  private[graft] def bandedHamming64(fingerprints: DataFrame,
      maxHamming: Long): DataFrame = {
    // persist the fingerprint table: the band self-join's two sides
    // rename columns BEFORE their exchanges, so without a
    // materialization barrier the decode subtree would run once PER
    // SIDE — fingerprints are 3 longs/doc, decode is the expensive part
    val hashes = Scratch.track(fingerprints
      .select(col("doc_id"), col("fp_lo"), col("fp_hi")).persist())
    val bands = fpBands(hashes)
    val a = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("fp_lo").as("lo_a"),
      col("fp_hi").as("hi_a"))
    val b = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("fp_lo").as("lo_b"),
      col("fp_hi").as("hi_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
      .distinct() // a pair can collide in several bands
      .withColumn("hamming",
        fpHamming(col("lo_a"), col("hi_a"), col("lo_b"), col("hi_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin of [[bandedHamming64]]: given CTEs ending in
    * `hsh(doc_id, lo, hi)`, appends the identical band join + Hamming
    * screen. ONE definition for both media oracles.
    */
  private[ext] def bandedHamming64Sql(hshCtes: String,
      maxHamming: Long): String =
    s"""WITH $hshCtes,
       |bands AS (
       |  SELECT doc_id, lo, hi, 0 AS band_idx, lo % 65536 AS band_val
       |    FROM hsh
       |  UNION ALL SELECT doc_id, lo, hi, 1, lo // 65536 FROM hsh
       |  UNION ALL SELECT doc_id, lo, hi, 2, hi % 65536 FROM hsh
       |  UNION ALL SELECT doc_id, lo, hi, 3, hi // 65536 FROM hsh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |      AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
       |    AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
       |  <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Image fingerprints from REAL on-the-wire payload bytes — the
    * streaming-ingest shape (`(doc_id, payload)` rows; nothing is
    * re-synthesized from doc_id). Emits `(doc_id, decoded, fp_lo,
    * fp_hi)`.
    */
  def imageFpFromPayload(batch: DataFrame,
      codec: MediaCodec[ImageAHash] = PngAHashDecoder): DataFrame =
    fpFromPayload(batch, codec, "image/png", "ahash_lo", "ahash_hi")

  /** The one payload-decode step of the `*FpFromPayload` extractors:
    * `(doc_id, payload)` rows as `mime` media records through `codec`,
    * its `lo`/`hi` fingerprint columns renamed `fp_lo`/`fp_hi`.
    */
  private def fpFromPayload[
      T <: Product : scala.reflect.runtime.universe.TypeTag](
      batch: DataFrame, codec: MediaCodec[T], mime: String, lo: String,
      hi: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => codec.decodePartition(it.map { case (id, p) =>
        MediaRecord(id, p, mime, if (p == null) 0L else p.length.toLong)
      }))
      .toDF()
      .select(col("doc_id"), col("decoded"), col(lo).as("fp_lo"),
        col(hi).as("fp_hi"))
  }

  /** Perceptual image near-dup — see [[bandedHamming64]] for the
    * screen's shape and guarantees.
    */
  def imageNearDups(documents: DataFrame,
      codec: MediaCodec[ImageAHash] = PngAHashDecoder): DataFrame =
    bandedHamming64(
      imageAHashes(documents, codec).filter(col("decoded"))
        .select(col("doc_id"), col("ahash_lo").as("fp_lo"),
          col("ahash_hi").as("fp_hi")),
      AHashMaxHamming)

  /** DuckDB mirror of [[imageNearDups]] — every pixel, the aHash
    * packing, and the band join reproduced arithmetically from the
    * closed form (PNG is lossless, so the real decode must agree).
    */
  def imageNearDupsSql: String = {
    val h = Hashing.h32Sql(
      "'img|' || seed || '|' || xs.x || '|' || ys.y")
    val h00 = Hashing.h32Sql("'img|' || seed || '|0|0'")
    bandedHamming64Sql(
      s"""px AS (
         |  SELECT d.doc_id, xs.x, ys.y,
         |    CASE
         |      WHEN xs.x = 1 AND ys.y = 0 THEN 3 + hv % 250
         |        - CASE WHEN d.doc_id % 10 = 7 THEN d.s ELSE 0 END
         |      WHEN d.doc_id % 10 = 7 AND xs.x = 0 AND ys.y = 0
         |        THEN hv % 256 + d.s
         |      ELSE hv % 256 END AS vr,
         |    (hv // 256) % 256 AS vg, (hv // 65536) % 256 AS vb
         |  FROM (SELECT doc_id, seed,
         |          CASE WHEN $h00 % 256 >= 253 THEN -3 ELSE 3 END AS s
         |        FROM (SELECT doc_id,
         |          CASE WHEN doc_id % 10 = 7 THEN doc_id - 7
         |            ELSE doc_id END AS seed
         |        FROM documents)) d,
         |    range(0, 8) xs(x), range(0, 8) ys(y),
         |    LATERAL (SELECT $h AS hv) hh),
         |gray AS (
         |  SELECT doc_id, ys_y * 8 + xs_x AS idx, g FROM (
         |    SELECT doc_id, x AS xs_x, y AS ys_y,
         |      (vr + vg + vb) // 3 AS g FROM px)),
         |stats AS (
         |  SELECT doc_id, CAST(sum(g) AS BIGINT) AS s
         |  FROM gray GROUP BY 1),
         |hsh AS (
         |  SELECT gray.doc_id,
         |    CAST(coalesce(sum(CASE WHEN 64 * g > s AND idx < 32
         |      THEN CAST(1 AS BIGINT) << idx END), 0) AS BIGINT) AS lo,
         |    CAST(coalesce(sum(CASE WHEN 64 * g > s AND idx >= 32
         |      THEN CAST(1 AS BIGINT) << (idx - 32) END), 0) AS BIGINT)
         |      AS hi
         |  FROM gray JOIN stats ON gray.doc_id = stats.doc_id
         |  GROUP BY 1)""".stripMargin,
      AHashMaxHamming)
  }

  // ---- perceptual audio near-dup: energy-delta fingerprint ----------------

  /** Audio fingerprint geometry: 256 mono PCM16 frames → 64 windows of
    * 4 frames; bit w = energy(w) > energy((w+1) mod 64) — the circular
    * energy-delta fingerprint (a Chromaprint/Shazam-family shape with
    * the spectral stage simplified to window energy, keeping the
    * arithmetic closed-form for the cross-engine oracle).
    */
  /** Window count is pinned at 64: the fingerprint IS two 32-bit
    * halves ([[bandedHamming64]]); scale the resolution via
    * [[AFpFrames]] and the window size follows.
    */
  val AFpWindows = 64
  val AFpFrames = 256
  val AFpWindow: Int = AFpFrames / AFpWindows

  final case class AudioFp(
    doc_id: Long, decoded: Boolean, fp_lo: Long, fp_hi: Long)

  /** Deterministic mono PCM16 WAV per doc with PLANTED perceptual
    * twins: sample(i) = (h32("aud|seed|i") mod 4001) − 2000, ids ≡ 7
    * (mod 10) reuse the seed of id − 7 with sample 0 nudged +7 (mod
    * the same range) — byte-different, fingerprint-near. The RIFF
    * container is written byte-for-byte like [[wavPayload]].
    */
  def wavFpPayload(docId: Long): Array[Byte] = {
    val dataLen = AFpFrames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)                     // PCM
      .putShort(1.toShort)                     // mono
      .putInt(WavRate)
      .putInt(WavRate * 2)                     // byte rate
      .putShort(2.toShort)                     // block align
      .putShort(16.toShort)                    // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    val seed = if (docId % 10 == 7) docId - 7 else docId
    var i = 0
    while (i < AFpFrames) {
      val hv = Hashing.jvmH32(s"aud|$seed|$i")
      val s =
        if (docId % 10 == 7 && i == 0) ((hv % 4001 + 7) % 4001) - 2000
        else (hv % 4001) - 2000
      bb.putShort(s.toShort)
      i += 1
    }
    bb.array()
  }

  /** documents → twin-planted WAV records (one mapPartitions encode). */
  def wavFpRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spreadIds(documents).mapPartitions(_.map { id =>
      val p = wavFpPayload(id)
      MediaRecord(id, p, "audio/wav", p.length.toLong)
    })
  }

  /** Energy-delta fingerprint through the real `javax.sound.sampled`
    * decode: window energies as exact Σs², circular strict-> bits,
    * packed like the image aHash. Rejected or wrong-geometry payloads
    * yield `decoded = false`.
    */
  object WavFpDecoder extends MediaCodec[AudioFp] {
    private def fail(id: Long) = AudioFp(id, decoded = false, 0L, 0L)
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[AudioFp] = {
      val opener = new AudioOpener // once per partition — see its doc
      records.map { r =>
      try {
        val in = opener.open(r.payload)
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16 || f.isBigEndian
            || f.getChannels != 1 || in.getFrameLength != AFpFrames)
          fail(r.doc_id)
        else {
          val bb = java.nio.ByteBuffer.wrap(in.readAllBytes())
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nW = AFpWindows
          val e = new Array[Long](nW)
          var i = 0
          while (i < AFpFrames) {
            val s = bb.getShort().toLong
            e(i / AFpWindow) += s * s
            i += 1
          }
          var lo = 0L; var hi = 0L
          var w = 0
          while (w < nW) {
            if (e(w) > e((w + 1) % nW)) {
              if (w < 32) lo |= 1L << w else hi |= 1L << (w - 32)
            }
            w += 1
          }
          AudioFp(r.doc_id, decoded = true, lo, hi)
        }
      } catch { case _: Exception => fail(r.doc_id) }
      }
    }
  }

  /** Per-doc audio fingerprints via the real codec path. */
  def audioFingerprints(documents: DataFrame,
      codec: MediaCodec[AudioFp] = WavFpDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wavFpRecords(documents).mapPartitions(codec.decodePartition _).toDF()
  }

  /** Audio fingerprints from REAL on-the-wire payload bytes — the
    * streaming-ingest shape, column-compatible with
    * [[imageFpFromPayload]] / [[videoFpFromPayload]] so WAV streams
    * ride [[graft.streaming.MediaDedupStream]]'s exact-verified screen
    * through the same fpExtract seam.
    */
  def audioFpFromPayload(batch: DataFrame,
      codec: MediaCodec[AudioFp] = WavFpDecoder): DataFrame =
    fpFromPayload(batch, codec, "audio/wav", "fp_lo", "fp_hi")

  /** Perceptual audio near-dup — the [[bandedHamming64]] screen over
    * [[audioFingerprints]]; a one-sample nudge moves one window's
    * energy, which flips at most the two bits that window feeds
    * (circular neighbors), comfortably inside [[AHashMaxHamming]].
    */
  def audioNearDups(documents: DataFrame,
      codec: MediaCodec[AudioFp] = WavFpDecoder): DataFrame =
    bandedHamming64(
      audioFingerprints(documents, codec).filter(col("decoded"))
        .select(col("doc_id"), col("fp_lo"), col("fp_hi")),
      AHashMaxHamming)

  /** DuckDB mirror of [[audioNearDups]] — samples, window energies,
    * circular delta bits, and the shared band screen, all arithmetic.
    */
  def audioNearDupsSql: String = {
    val h = Hashing.h32Sql("'aud|' || seed || '|' || i.i")
    bandedHamming64Sql(
      s"""samples AS (
         |  SELECT d.doc_id, i.i,
         |    CASE WHEN d.doc_id % 10 = 7 AND i.i = 0
         |      THEN ((hv % 4001 + 7) % 4001) - 2000
         |      ELSE (hv % 4001) - 2000 END AS s
         |  FROM (SELECT doc_id,
         |          CASE WHEN doc_id % 10 = 7 THEN doc_id - 7
         |            ELSE doc_id END AS seed
         |        FROM documents) d,
         |    range(0, $AFpFrames) i(i),
         |    LATERAL (SELECT $h AS hv) hh),
         |energies AS (
         |  SELECT doc_id, i // $AFpWindow AS w,
         |    CAST(sum(s * s) AS BIGINT) AS e
         |  FROM samples GROUP BY 1, 2),
         |bits AS (
         |  SELECT a.doc_id, a.w AS idx
         |  FROM energies a JOIN energies b
         |    ON a.doc_id = b.doc_id AND b.w = (a.w + 1) % $AFpWindows
         |  WHERE a.e > b.e),
         |hsh AS (
         |  SELECT e.doc_id,
         |    CAST(coalesce(sum(CASE WHEN idx < 32
         |      THEN CAST(1 AS BIGINT) << idx END), 0) AS BIGINT) AS lo,
         |    CAST(coalesce(sum(CASE WHEN idx >= 32
         |      THEN CAST(1 AS BIGINT) << (idx - 32) END), 0) AS BIGINT)
         |      AS hi
         |  FROM (SELECT DISTINCT doc_id FROM energies) e
         |    LEFT JOIN bits ON e.doc_id = bits.doc_id
         |  GROUP BY 1)""".stripMargin,
      AHashMaxHamming)
  }

  // ---- perceptual video near-dup: temporal-delta fingerprint --------------

  /** Frames per GVID clip. Six real 8×8 PNG frames keep the decode cost
    * per doc bounded while giving the temporal pooling three full
    * even/odd periods to integrate over.
    */
  val VFpFrames = 6

  /** GVID container: `"GVID"` magic, int32-LE frame count, then per
    * frame int32-LE length + PNG bytes; NO trailing bytes. A
    * deliberately minimal demux seam — a production MP4/MKV demuxer
    * drops in behind [[MediaCodec]] with the same per-partition batch
    * shape, and the strictness (bad magic, wrong frame count, bad
    * frame geometry, trailing garbage → `decoded = false`) is the same
    * reject-don't-drop policy as the image/audio codecs.
    */
  val GvidMagic: Array[Byte] = "GVID".getBytes("US-ASCII")

  final case class VideoFp(
    doc_id: Long, decoded: Boolean, fp_lo: Long, fp_hi: Long)

  /** Per-frame pixel grid for [[videoPayload]] — the image generator's
    * hash grid extended with a frame axis; the twin nudge hits one
    * channel of one pixel of FRAME 0 only (±3, no wrap — the same
    * discipline as [[pngHashPayload]]), so a twin is a one-frame
    * flicker: byte-different in exactly one frame, and the temporal
    * delta of cell (0,0) moves by exactly 1.
    */
  private def vidFramePng(docId: Long, seed: Long, f: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      AHashSide, AHashSide, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < AHashSide) {
      var x = 0
      while (x < AHashSide) {
        val hv = Hashing.jvmH32(s"vid|$seed|$f|$x|$y")
        var r = (hv % 256).toInt
        val g = ((hv / 256) % 256).toInt
        val b = ((hv / 65536) % 256).toInt
        if (docId % 10 == 7 && f == 0 && x == 0 && y == 0)
          r = if (r >= 253) r - 3 else r + 3
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic [[VFpFrames]]-frame GVID clip per doc with PLANTED
    * perceptual twins (ids ≡ 7 mod 10 reuse the seed of id − 7, frame 0
    * nudged). Every frame goes through the REAL `javax.imageio` PNG
    * writer, then the frames are muxed into the length-prefixed
    * container.
    */
  def videoPayload(docId: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val seed = if (docId % 10 == 7) docId - 7 else docId
    gvidMux((0 until VFpFrames).map(vidFramePng(docId, seed, _)))
  }

  /** Mux frame byte arrays into a GVID container — the ONE place that
    * knows the byte layout (the decoder's demux walk mirrors it with
    * reject semantics; specs reuse these instead of hand-rolling the
    * format).
    */
  private[graft] def gvidMux(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer
      .allocate(8 + frames.map(4 + _.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(GvidMagic).putInt(frames.length)
    frames.foreach(f => bb.putInt(f.length).put(f))
    bb.array()
  }

  /** Demux a well-formed GVID container into its frames (throws on a
    * malformed one — tooling/test helper; the decoder rejects instead).
    */
  private[graft] def gvidDemux(payload: Array[Byte]): Seq[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(java.util.Arrays.equals(magic, GvidMagic), "not a GVID")
    (0 until bb.getInt()).map { _ =>
      val fb = new Array[Byte](bb.getInt()); bb.get(fb); fb
    }
  }

  /** documents → twin-planted GVID records (one mapPartitions encode). */
  def videoRecords(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spreadIds(documents).mapPartitions(_.map { id =>
      val p = videoPayload(id)
      MediaRecord(id, p, "video/x-gvid", p.length.toLong)
    })
  }

  /** Temporal-delta fingerprint through the real demux + per-frame
    * `javax.imageio` decode: per spatial cell,
    * `bit = Σ_f (−1)^f · gray_f(cell) > 0` (strict, integer-exact) —
    * the TMK-family periodic temporal pooling (Poullot et al., "LAMV";
    * reference stores no video path — north-star extension) at its
    * fastest frequency, which makes the fingerprint frame-ORDER
    * sensitive: reversing the clip negates every cell's delta, so a
    * re-cut is NOT a near-dup, unlike a temporal-mean hash. Packed
    * like the image aHash (row-major cell index, lo = bits 0–31).
    */
  object GvidFpDecoder extends MediaCodec[VideoFp] {
    private def fail(id: Long) = VideoFp(id, decoded = false, 0L, 0L)
    override def decodePartition(records: Iterator[MediaRecord])
        : Iterator[VideoFp] = {
      javax.imageio.ImageIO.setUseCache(false)
      records.map { r =>
        try {
          val bb = java.nio.ByteBuffer.wrap(r.payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val magic = new Array[Byte](4)
          bb.get(magic)
          if (!java.util.Arrays.equals(magic, GvidMagic)
              || bb.getInt() != VFpFrames) fail(r.doc_id)
          else {
            val delta = new Array[Long](AHashSide * AHashSide)
            var ok = true
            var f = 0
            while (f < VFpFrames && ok) {
              // bounds-check the wire-controlled length BEFORE the
              // allocation: a corrupt length must reject (decoded =
              // false), not throw OutOfMemoryError — an Error would
              // escape the Exception handler and kill the ingest task
              val len = if (bb.remaining() >= 4) bb.getInt() else -1
              if (len < 0 || len > bb.remaining()) ok = false
              else {
              val fb = new Array[Byte](len)
              bb.get(fb)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(fb))
              if (img == null || img.getWidth != AHashSide
                  || img.getHeight != AHashSide) ok = false
              else {
                val w = if (f % 2 == 0) 1L else -1L
                var y = 0
                while (y < AHashSide) {
                  var x = 0
                  while (x < AHashSide) {
                    val rgb = img.getRGB(x, y)
                    val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff)
                      + (rgb & 0xff)) / 3
                    delta(y * AHashSide + x) += w * g
                    x += 1
                  }
                  y += 1
                }
              }
              }
              f += 1
            }
            if (!ok || bb.hasRemaining) fail(r.doc_id)
            else {
              var lo = 0L; var hi = 0L
              var i = 0
              while (i < 64) {
                if (delta(i) > 0L) {
                  if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
                }
                i += 1
              }
              VideoFp(r.doc_id, decoded = true, lo, hi)
            }
          }
        } catch { case _: Exception => fail(r.doc_id) }
      }
    }
  }

  /** Per-doc video fingerprints via the real codec path (encode → demux
    * → per-frame decode → temporal pooling; two chained mapPartitions,
    * no shuffle).
    */
  def videoFingerprints(documents: DataFrame,
      codec: MediaCodec[VideoFp] = GvidFpDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    videoRecords(documents).mapPartitions(codec.decodePartition _).toDF()
  }

  /** Video fingerprints from REAL on-the-wire payload bytes — the
    * streaming-ingest shape, column-compatible with
    * [[imageFpFromPayload]] so [[graft.streaming.MediaDedupStream]]
    * ingests clips through the same exact-verified screen.
    */
  def videoFpFromPayload(batch: DataFrame,
      codec: MediaCodec[VideoFp] = GvidFpDecoder): DataFrame =
    fpFromPayload(batch, codec, "video/x-gvid", "fp_lo", "fp_hi")

  /** Perceptual video near-dup — the [[bandedHamming64]] screen over
    * [[videoFingerprints]]; the twin's one-frame flicker moves exactly
    * one cell's delta by 1, flipping at most that cell's bit,
    * comfortably inside [[AHashMaxHamming]].
    */
  def videoNearDups(documents: DataFrame,
      codec: MediaCodec[VideoFp] = GvidFpDecoder): DataFrame =
    bandedHamming64(
      videoFingerprints(documents, codec).filter(col("decoded"))
        .select(col("doc_id"), col("fp_lo"), col("fp_hi")),
      AHashMaxHamming)

  /** DuckDB mirror of [[videoNearDups]] — every pixel of every frame,
    * the signed temporal pooling, and the shared band screen reproduced
    * arithmetically (PNG is lossless, so the real demux+decode must
    * agree frame-by-frame).
    */
  def videoNearDupsSql: String = {
    val h = Hashing.h32Sql(
      "'vid|' || seed || '|' || fs.f || '|' || xs.x || '|' || ys.y")
    bandedHamming64Sql(
      s"""px AS (
         |  SELECT d.doc_id, fs.f, xs.x, ys.y,
         |    CASE WHEN d.doc_id % 10 = 7 AND fs.f = 0
         |        AND xs.x = 0 AND ys.y = 0
         |      THEN CASE WHEN hv % 256 >= 253 THEN hv % 256 - 3
         |        ELSE hv % 256 + 3 END
         |      ELSE hv % 256 END AS vr,
         |    (hv // 256) % 256 AS vg, (hv // 65536) % 256 AS vb
         |  FROM (SELECT doc_id,
         |          CASE WHEN doc_id % 10 = 7 THEN doc_id - 7
         |            ELSE doc_id END AS seed
         |        FROM documents) d,
         |    range(0, $VFpFrames) fs(f),
         |    range(0, $AHashSide) xs(x), range(0, $AHashSide) ys(y),
         |    LATERAL (SELECT $h AS hv) hh),
         |delta AS (
         |  SELECT doc_id, y * $AHashSide + x AS idx,
         |    CAST(sum(CASE WHEN f % 2 = 0 THEN (vr + vg + vb) // 3
         |      ELSE -((vr + vg + vb) // 3) END) AS BIGINT) AS d
         |  FROM px GROUP BY 1, 2),
         |hsh AS (
         |  SELECT doc_id,
         |    CAST(coalesce(sum(CASE WHEN d > 0 AND idx < 32
         |      THEN CAST(1 AS BIGINT) << idx END), 0) AS BIGINT) AS lo,
         |    CAST(coalesce(sum(CASE WHEN d > 0 AND idx >= 32
         |      THEN CAST(1 AS BIGINT) << (idx - 32) END), 0) AS BIGINT)
         |      AS hi
         |  FROM delta GROUP BY 1)""".stripMargin,
      AHashMaxHamming)
  }

  // ---- cross-modal dedup clustering ----------------------------------

  /** All media near-dup pairs with their modality tag — the evidence
    * table cross-modal clustering aggregates.
    */
  def mediaNearDupPairs(documents: DataFrame): DataFrame =
    imageNearDups(documents).withColumn("modality", lit("image"))
      .unionByName(
        audioNearDups(documents).withColumn("modality", lit("audio")))
      .unionByName(
        videoNearDups(documents).withColumn("modality", lit("video")))

  /** Cross-modal duplicate clusters: connected components over the
    * UNION of image/audio/video perceptual pairs (the
    * [[Dedup.clusterLabels]] machinery — driver union-find under the
    * cap, pointer-jumping label propagation above it), with per-cluster
    * evidence strength: `n_modalities` counts how many independent
    * perceptual channels agree the cluster is duplicated. A pair
    * flagged by ONE fingerprint can be a banding accident; a pair
    * flagged by three independent codecs is a duplicate — the
    * multi-evidence roll-up is how a production pipeline ranks which
    * clusters to collapse first.
    */
  def mediaDedupClusters(documents: DataFrame): DataFrame =
    clusterRollup(mediaNearDupPairs(documents))

  /** The shared cluster roll-up over any `(doc_a, doc_b, modality)`
    * pair stream — connected components + per-cluster evidence
    * strength; sourced from the in-flight pipelines by
    * [[mediaDedupClusters]] and from the persisted fingerprint index
    * by [[mediaDedupClustersServed]], so served ≡ in-flight by
    * construction.
    */
  private def clusterRollup(pairsSrc: DataFrame,
      storedLabels: Option[DataFrame] = None): DataFrame = {
    val pairs = Scratch.track(pairsSrc.persist())
    val labels = storedLabels.getOrElse(
      Dedup.clusterLabels(pairs.select("doc_a", "doc_b")))
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"))
    pairs
      .join(labels.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("label", "cluster_id"), Seq("doc_a"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("modality")).as("n_modalities"))
      .join(sizes.withColumnRenamed("label", "cluster_id"),
        Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("n_pairs"),
        col("n_modalities"))
      .orderBy(col("cluster_id"))
  }

  /** CORPUS-wide duplicate clusters: text near-dup evidence joins the
    * three perceptual channels as a FOURTH modality. A real multimodal
    * corpus carries text pairs (MinHash/SimHash) for the same doc_ids
    * the media screens flag — a text-identical pair whose images also
    * match is far stronger dedup evidence than either channel alone,
    * and a text pair bridging into a media-twin cluster merges them
    * into one component. `textPairs` is any `(doc_a, doc_b, …)` frame
    * ([[Dedup.minhashNearDups]] output has the right shape).
    */
  def corpusDedupClusters(documents: DataFrame,
      textPairs: DataFrame): DataFrame =
    corpusDedupClustersFromPairs(mediaNearDupPairs(documents), textPairs)

  /** The composition point for pre-computed pair streams (a production
    * pipeline serves both from persisted indexes —
    * [[mediaNearDupPairsServed]] + the stored band index).
    */
  def corpusDedupClustersFromPairs(mediaPairs: DataFrame,
      textPairs: DataFrame): DataFrame =
    clusterRollup(corpusPairs(mediaPairs, textPairs))

  /** The unified 4-channel pair stream (text normalized in as the
    * fourth modality) — also the frame a deployment PERSISTS at ingest
    * so the cluster/manifest consumers read it instead of re-deriving
    * it (the clusterLabelsFor economics; see `corpusGraphFor` in the
    * query wiring).
    */
  def corpusPairs(mediaPairs: DataFrame,
      textPairs: DataFrame): DataFrame =
    mediaPairs.select(col("doc_a"), col("doc_b"), col("modality"))
      .unionByName(textPairs.select(col("doc_a"), col("doc_b"))
        .withColumn("modality", lit("text")))

  /** [[corpusDedupClusters]] served from PERSISTED pairs + labels (both
    * ingest-time artifacts) — no pair generation, no labeling, just
    * the evidence roll-up over two bounded stored tables.
    */
  def corpusDedupClustersServedFrom(pairs: DataFrame,
      labels: DataFrame): DataFrame =
    clusterRollup(pairs, Some(labels))

  /** [[corpusDedupManifest]] served from persisted pairs + labels. */
  def corpusDedupManifestFrom(pairs: DataFrame,
      labels: DataFrame): DataFrame =
    manifestRollup(pairs, Some(labels))

  /** Cross-modal dedup provenance manifest — the artifact a curated
    * multimodal corpus ships with (the [[Dedup.dedupManifest]] shape
    * over the FOUR-channel pair graph): per surviving document, the
    * dropped near-dup ids plus the sorted set of evidence channels
    * that justified the merge ("audio,image,text,video" beats a
    * single-band accident — the reviewer triages drops by evidence
    * strength). Bounded by duplicate volume, never corpus-sized.
    */
  def corpusDedupManifest(mediaPairs: DataFrame,
      textPairs: DataFrame): DataFrame =
    manifestRollup(corpusPairs(mediaPairs, textPairs))

  private def manifestRollup(pairsSrc: DataFrame,
      storedLabels: Option[DataFrame] = None): DataFrame = {
    val pairs = Scratch.track(pairsSrc
      .persist()) // labels + evidence both read it
    val labels = storedLabels.getOrElse(
      Dedup.clusterLabels(pairs.select("doc_a", "doc_b")))
    val evidence = pairs
      .join(labels.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("label", "survivor"), Seq("doc_a"))
      .groupBy("survivor")
      .agg(array_join(array_sort(collect_set(col("modality"))), ",")
        .as("modalities"))
    labels.filter(col("doc_id") =!= col("label"))
      .groupBy(col("label").as("survivor"))
      .agg(count(lit(1)).as("n_dropped"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("dropped_ids"))
      .join(evidence, Seq("survivor"))
      .orderBy("survivor")
  }

  /** DuckDB mirror of [[corpusDedupManifest]]. */
  def corpusDedupManifestSql: String =
    s"""WITH RECURSIVE
       |${corpusPairCtesSql()},
       |${Dedup.labelsCtesSql(materializedLabels = true,
          pairsSql = "SELECT doc_a, doc_b FROM mpairs")},
       |drops AS (
       |  SELECT label AS survivor, CAST(count(*) AS BIGINT) AS n_dropped,
       |    list_aggr([CAST(x AS VARCHAR) for x in
       |               list_sort(list(doc_id))], 'string_agg', ',')
       |      AS dropped_ids
       |  FROM labels WHERE doc_id != label GROUP BY label),
       |ev AS (
       |  SELECT l.label AS survivor,
       |    list_aggr(list_sort(list(DISTINCT p.modality)),
       |      'string_agg', ',') AS modalities
       |  FROM mpairs p JOIN labels l ON p.doc_a = l.doc_id
       |  GROUP BY l.label)
       |SELECT d.survivor, d.n_dropped, d.dropped_ids, e.modalities
       |FROM drops d JOIN ev e ON d.survivor = e.survivor
       |ORDER BY d.survivor""".stripMargin

  /** The four pair-stream CTEs (image/audio/video/text → `mpairs`) —
    * shared by the cluster and manifest oracles. `pairPred` (over
    * `doc_a`/`doc_b`) restricts the pair set — the takedown oracle
    * drops every pair touching a purged doc and relabels from scratch.
    */
  private def corpusPairCtesSql(pairPred: Option[String] = None)
      : String = {
    val where = pairPred.map(p => s"\n  WHERE $p").getOrElse("")
    s"""ip AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'image' AS modality
       |  FROM ($imageNearDupsSql)),
       |ap AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'audio' AS modality
       |  FROM ($audioNearDupsSql)),
       |vp AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'video' AS modality
       |  FROM ($videoNearDupsSql)),
       |tp AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'text' AS modality
       |  FROM (${Dedup.minhashNearDupsSql})),
       |mpairs AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT * FROM ip UNION ALL SELECT * FROM ap
       |    UNION ALL SELECT * FROM vp UNION ALL SELECT * FROM tp)$where)""".stripMargin
  }

  /** DuckDB mirror of [[corpusDedupClusters]] — the media-cluster
    * oracle with the MinHash text pairs unioned in as the fourth
    * modality. With `pairPred`, the oracle for the PURGED graph:
    * surviving pairs relabeled from scratch (the ground truth
    * [[CorpusGraph.purge]]'s bounded relabel must reproduce,
    * including bridge-removal cluster splits).
    */
  def corpusDedupClustersSql: String = corpusDedupClustersSqlWhere(None)

  def corpusDedupClustersSqlWhere(pairPred: Option[String]): String =
    s"""WITH RECURSIVE
       |${corpusPairCtesSql(pairPred)},
       |${Dedup.labelsCtesSql(materializedLabels = true,
          pairsSql = "SELECT doc_a, doc_b FROM mpairs")},
       |sizes AS (
       |  SELECT label AS cluster_id, count(*) AS n_docs
       |  FROM labels GROUP BY label),
       |evidence AS (
       |  SELECT l.label AS cluster_id, count(*) AS n_pairs,
       |    count(DISTINCT p.modality) AS n_modalities
       |  FROM mpairs p JOIN labels l ON p.doc_a = l.doc_id
       |  GROUP BY l.label)
       |SELECT s.cluster_id, s.n_docs, e.n_pairs, e.n_modalities
       |FROM sizes s JOIN evidence e ON s.cluster_id = e.cluster_id
       |ORDER BY s.cluster_id""".stripMargin

  // ---- served perceptual screens: fingerprint once, serve many ----------

  /** Doc-id-bucket count for the fingerprint index's second partition
    * level: takedown discovery prunes to the affected (modality,
    * bucket) partitions, so a k-id purge rewrites ≤ 3·min(k, buckets)
    * of the 3·buckets partitions instead of the whole index. 16 at
    * fixture scale; a 100 TB deployment sizes this to its target
    * rewrite granularity (the IVF index's nlist plays the same role).
    */
  val MediaFpBuckets = 16L

  /** Band-bucket count for the fingerprint index's BAND sidecar
    * component (`<root>/bands/modality=<m>/band_bucket=<b>/
    * batch_id=<n>`, rows = [[fpBands]] output): the streaming screen
    * joins on `(band_idx, band_val)`, so each trigger's index read
    * prunes to the batch's hit band buckets instead of re-scanning
    * the whole modality slice — the [[graft.streaming.DedupStream
    * .BandBuckets]] rationale applied to media. Bands are a pure
    * projection of stored fingerprints (no second decode), but the
    * sidecar rows carry doc ids, so takedown purges data AND bands —
    * [[mediaFpTakedownArtifacts]] is the enumeration that cannot
    * forget one.
    */
  val MediaBandBuckets = 64L

  /** The band-bucket expression at bucket count `b` — sidecar writer
    * and every reader of ONE root must agree (deterministic, no
    * session state). The count lives in the root's layout metadata
    * ([[mediaBandBucketCountOf]]): flat stream indexes re-bucket in
    * place ([[graft.streaming.BatchIndex.rebucket]]); this VERSIONED
    * artifact re-buckets through its staged rebuild
    * ([[rebuildMediaFpIndex]] re-derives the sidecar at the current
    * default and stamps the new root's metadata).
    */
  def mediaBandBucketAt(b: Long): Column =
    pmod(xxhash64(col("band_idx"), col("band_val")), lit(b))

  /** The expression at the configured default (new roots/fixtures). */
  def mediaBandBucket: Column = mediaBandBucketAt(MediaBandBuckets)

  /** The bucket count a RESOLVED root's sidecar was written with
    * (its `bands/_graft_buckets` metadata; default for pre-metadata
    * roots).
    */
  def mediaBandBucketCountOf(spark: org.apache.spark.sql.SparkSession,
      root: String): Long =
    graft.streaming.BatchIndex.bucketCountOf(spark, s"$root/bands",
      MediaBandBuckets)

  /** The three perceptual modalities the unified index stores. */
  val MediaFpModalities: Seq[String] = Seq("image", "audio", "video")

  /** Per-doc fingerprints for one modality via the REAL codec path —
    * the one decode step, shared verbatim with the in-flight screens
    * ([[imageNearDups]]/[[audioNearDups]]/[[videoNearDups]] run the
    * same functions), so index-served answers are the in-flight
    * answers bit for bit.
    */
  def mediaFingerprints(documents: DataFrame,
      modality: String): DataFrame = modality match {
    case "image" => imageAHashes(documents)
      .select(col("doc_id"), col("decoded"),
        col("ahash_lo").as("fp_lo"), col("ahash_hi").as("fp_hi"))
    case "audio" => audioFingerprints(documents)
      .select(col("doc_id"), col("decoded"), col("fp_lo"), col("fp_hi"))
    case "video" => videoFingerprints(documents)
      .select(col("doc_id"), col("decoded"), col("fp_lo"), col("fp_hi"))
    case other =>
      throw new IllegalArgumentException(s"unknown modality: $other")
  }

  /** Build + persist the unified perceptual fingerprint index: ONE
    * decode pass per modality writes `(doc_id, decoded, fp_lo, fp_hi)`
    * under (modality, bucket) partitions. This is the batch twin of
    * [[graft.streaming.MediaDedupStream]]'s band index and the
    * `bm25_served` economics applied to media: the per-query screens
    * and the cluster roll-up all serve from this table at
    * index-read cost — payload decode (the expensive step; 30.7 M
    * frame decodes at the 5.12 M-doc probe) happens once per corpus,
    * not once per query. Undecodable docs keep their flagged row
    * (reject-don't-drop), filtered at serve time exactly like the
    * in-flight screens filter them.
    */
  def writeMediaFpIndex(documents: DataFrame, path: String): Unit =
    Versioned.writeBase(documents.sparkSession, path)(
      writeMediaFpSnapshot(documents, _))

  private def writeMediaFpSnapshot(documents: DataFrame,
      root: String): Unit = {
    val spark = documents.sparkSession
    mediaFpRows(documents)
      // batch_id=0 is the base build; incremental appends land under
      // higher ids (the idempotent-overwrite unit, the BatchIndex
      // discipline every growing index here uses)
      .withColumn("batch_id", lit(0L))
      // one shuffle of 3-longs-per-doc rows (post-decode, so the codec
      // work stays spread): one file per partition dir instead of
      // every decode task spraying all 3·buckets dirs
      .repartition(col("modality"), col("bucket"))
      .write.mode("overwrite")
      .partitionBy("modality", "bucket", "batch_id")
      // under data/: version dirs are SIBLINGS of the partition tree,
      // so flat-layout partition discovery never sees a v-<n> dir
      // (CONFLICTING_DIRECTORY_STRUCTURES — the IVF layout's lesson)
      .parquet(s"$root/data")
    // band sidecar, derived from the JUST-WRITTEN fingerprints (3
    // longs/doc read back — never a second decode). Static overwrite:
    // a snapshot replaces the whole component, including any stale
    // higher-batch band partitions from a previous life of this root.
    bandSidecarRows(readMediaFpData(spark, root))
      .withColumn("batch_id", lit(0L))
      .repartition(col("band_bucket"))
      .write.mode("overwrite")
      .partitionBy("modality", "band_bucket", "batch_id")
      .parquet(s"$root/bands")
    // layout record AFTER the static overwrite (which clears the dir):
    // appends and pruned readers resolve the root's bucket count from
    // this, so a future default change cannot strand them at the old B
    graft.streaming.BatchIndex.ensureBucketMeta(spark, s"$root/bands",
      MediaBandBuckets)
  }

  /** The band-sidecar rows of a fingerprint frame carrying `modality`
    * and `decoded` columns: [[fpBands]] per modality + the sidecar's
    * band-bucket column. Undecodable rows have no bands (they never
    * screen); callers append `batch_id` and partition the write.
    */
  private def bandSidecarRows(fps: DataFrame,
      b: Long = MediaBandBuckets): DataFrame =
    MediaFpModalities.map { m =>
      fpBands(fps
          .filter(col("modality") === lit(m) && col("decoded"))
          .select("doc_id", "fp_lo", "fp_hi"))
        .withColumn("modality", lit(m))
    }.reduce(_.unionByName(_))
      .withColumn("band_bucket", mediaBandBucketAt(b))

  /** All three modalities' fingerprints for a document frame, bucketed
    * — the decode step shared by the base build and the incremental
    * append.
    */
  private def mediaFpRows(documents: DataFrame): DataFrame =
    MediaFpModalities
      .map(m => mediaFingerprints(documents, m)
        .withColumn("modality", lit(m)))
      .reduce(_.unionByName(_))
      .withColumn("bucket", pmod(col("doc_id"), lit(MediaFpBuckets)))

  /** Incremental fingerprint ingest — the corpus grows WITHOUT
    * re-decoding anything already indexed (the
    * [[Similarity.appendToIvfIndex]] discipline): decode ONLY the
    * batch, land its rows under (modality, bucket, batch_id=<id>) with
    * dynamic partition overwrite so an at-least-once replay rewrites
    * exactly its own partitions, and every served screen sees old +
    * new fingerprints transparently (readers scan all batch levels
    * under each modality). Appends land in the CURRENT snapshot; a
    * rebuild folds them into its staged batch_id=0.
    */
  def appendToMediaFpIndex(batch: DataFrame, path: String,
      batchId: Long): Unit =
    appendFpRows(mediaFpRows(batch), path, batchId)

  /** The one append step of both fingerprint ingests: persist the
    * batch's bucketed fp `rows` (decoded once, they derive the band
    * sidecar partition AND land in data), land the sidecar's
    * (modality, band_bucket, batch_id=<id>) partitions, then the
    * root's (modality, bucket, batch_id=<id>) data partitions, then
    * check the append landed in the served snapshot. Sidecar first: a
    * crash between the two writes leaves band rows that readers
    * exclude (`batch_id < storedId`) and the replay rewrites, never
    * fingerprints without their bands — the state [[mediaBandsBefore]]
    * refuses. A root already in that state is refused here too: an
    * append would start a sidecar missing every stored fingerprint.
    */
  private def appendFpRows(rows: DataFrame, path: String,
      batchId: Long): Unit = {
    require(batchId > 0, "batch_id 0 is the base build")
    val spark = rows.sparkSession
    val root = Versioned.resolve(spark, path)
    checkSidecar(spark, root)
    val b = mediaBandBucketCountOf(spark, root)
    rows.persist()
    try {
      bandSidecarRows(rows, b)
        .withColumn("batch_id", lit(batchId))
        .repartition(col("band_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("modality", "band_bucket", "batch_id")
        .parquet(s"$root/bands")
      graft.streaming.BatchIndex.ensureBucketMeta(spark, s"$root/bands", b)
      rows
        .withColumn("batch_id", lit(batchId))
        .repartition(col("modality"), col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("modality", "bucket", "batch_id")
        .parquet(s"$root/data")
    } finally { rows.unpersist(); () }
    // append-vs-rebuild race: fail loudly if a rebuild committed while
    // this batch was writing (re-running the append recovers)
    Versioned.assertAppendLanded(spark, path, root, "media fp")
  }

  /** Whether a RESOLVED root has its band sidecar; fails on a root
    * holding fingerprint data without one (written by an engine from
    * before the sidecar, or a torn base build), naming the remedy:
    * screening it, or starting its sidecar with one batch, would miss
    * every stored fingerprint.
    */
  private def checkSidecar(spark: org.apache.spark.sql.SparkSession,
      root: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/bands")) || {
      val data = new org.apache.hadoop.fs.Path(s"$root/data")
      val files = if (fs.exists(data)) Some(fs.listFiles(data, true))
        else None
      var holdsRows = false
      while (!holdsRows && files.exists(_.hasNext))
        holdsRows = files.get.next().getPath.getName.endsWith(".parquet")
      require(!holdsRows,
        s"media fp index at $root holds fingerprints but no band " +
          "sidecar — run Multimodal.rebuildMediaFpIndex, whose staged " +
          "rewrite derives it")
      false
    }
  }

  /** Land one modality's ALREADY-DECODED fingerprints under the
    * unified index's (modality, bucket, batch_id) layout — the
    * STREAMING ingest seam ([[graft.streaming.MediaDedupStream]]):
    * each micro-batch decodes its payloads exactly once (the stream's
    * `fpExtract`), and the SAME rows both screen the batch and grow
    * the served index, so a stream-ingested corpus serves every batch
    * screen ([[mediaNearDupsServed]] and friends) with zero re-decode
    * and the takedown story has ONE fingerprint artifact, not a
    * stream-side band copy. Same dynamic-overwrite idempotence and
    * append-race guard as [[appendToMediaFpIndex]] (which decodes; this
    * one trusts the caller's decode).
    */
  def appendFingerprintsToMediaFpIndex(fps: DataFrame, modality: String,
      path: String, batchId: Long): Unit = {
    require(MediaFpModalities.contains(modality),
      s"unknown modality: $modality")
    appendFpRows(fps.select(col("doc_id"), col("decoded"), col("fp_lo"),
        col("fp_hi"))
      .withColumn("modality", lit(modality))
      .withColumn("bucket", pmod(col("doc_id"), lit(MediaFpBuckets))),
      path, batchId)
  }

  /** The unified media fp index as [[graft.streaming.BatchIndex
    * .maintain]] sees it: the data component under (modality, bucket)
    * and the band sidecar under (modality, band_bucket), both in the
    * served root (a root without a sidecar has no bands to fold;
    * screens refuse it until [[rebuildMediaFpIndex]]) and both
    * distinct-folded. The bucket counts are the observed level
    * combinations.
    */
  val MediaFpIndex: graft.streaming.BatchIndex.Index = {
    import graft.streaming.BatchIndex.{Buckets, Component, Fold, Index}
    Index(Seq(
        Component("data", Seq("modality", "bucket"),
          Fold.Distinct(Seq("doc_id", "decoded", "fp_lo", "fp_hi")),
          Buckets.Observed(MediaFpBuckets)),
        Component("bands", Seq("modality", "band_bucket"),
          Fold.Distinct(
            Seq("doc_id", "fp_lo", "fp_hi", "band_idx", "band_val")),
          Buckets.Observed(MediaBandBuckets))),
      resizable = true)
  }

  /** Rebuild the fingerprint index with atomic swap — the
    * [[Versioned]] lifecycle applied to the media artifact (the
    * trigger here is a FINGERPRINT-ALGORITHM upgrade rather than
    * drift: aHash geometry, band layout, a new codec — anything that
    * invalidates stored bits corpus-wide). The in-place overwrite of
    * [[writeMediaFpIndex]] has a serving gap while its partitions
    * rewrite; the staged rebuild re-decodes into `v-<n>`, validates,
    * and promotes via the atomic `_COMMITTED` marker, so served
    * screens straddling the swap read one snapshot throughout.
    *
    * Unlike [[Similarity.rebuildIvfIndex]] (which re-clusters the
    * SERVED index's own vectors), this rebuild must re-decode from
    * `documents` — a fingerprint upgrade needs raw payloads, which the
    * index does not hold — so the caller must pass the FULL grown
    * corpus (base + every appended batch). Validation enforces it:
    * the staged snapshot must cover every doc_id the serving index
    * holds, so a corpus frame missing previously appended batches
    * fails here instead of silently shrinking the index. A DELIBERATE
    * shrink (re-curation dropped docs; takedown uses the purge path,
    * not a rebuild) must say so with `allowShrink = true`.
    */
  def rebuildMediaFpIndex(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, path: String,
      allowShrink: Boolean = false): Long =
    rebuildMediaFpIndexHooked(spark, documents, path, allowShrink)

  /** [[rebuildMediaFpIndex]] with the test seam before the commit
    * ([[Versioned.rebuild]]).
    */
  private[graft] def rebuildMediaFpIndexHooked(
      spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, path: String,
      allowShrink: Boolean = false,
      beforeCommit: () => Unit = () => ()): Long =
    Versioned.rebuild(spark, path, MediaFpArtifact, allowShrink,
        beforeCommit) { (_, stage) =>
      writeMediaFpSnapshot(documents, stage)
      val staged = readMediaFpData(spark, stage)
      val want = documents.count() * MediaFpModalities.size
      val built = staged.count()
      require(built == want,
        s"staged media fp rebuild has $built rows, corpus implies $want")
      // two-component consistency: the band sidecar must cover exactly
      // the staged decoded fingerprints (4 bands each)
      val wantBands = staged.filter(col("decoded")).count() * 4L
      val builtBands = spark.read.schema(MediaBandSchema)
        .parquet(s"$stage/bands").count()
      require(builtBands == wantBands,
        s"staged band sidecar has $builtBands rows, " +
          s"fingerprints imply $wantBands")
    }

  private def readMediaFpData(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    spark.read.schema(MediaFpSchema).parquet(s"$root/data")

  /** The media fp index to [[Versioned]]: a root serves its `data`
    * rows, and a rebuild keeps every doc_id.
    */
  private val MediaFpArtifact = Versioned.Artifact("media fp index",
    Seq("data", "bands"),
    rowsOf = readMediaFpData(_, _).count(),
    keysOf = Some(readMediaFpData(_, _).select("doc_id")))

  /** Every root still holding fingerprint data — the takedown
    * enumeration for this artifact (see
    * [[Similarity.ivfRetainedRoots]]).
    */
  def mediaFpRetainedRoots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] =
    Versioned.retainedRoots(spark, path, MediaFpArtifact.components)

  /** Index schema, declared at read time (data-less index safety +
    * no footer sniffing — the [[graft.ext.Search.PostingsSchema]]
    * discipline).
    */
  val MediaFpSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("decoded", BooleanType),
      StructField("fp_lo", LongType),
      StructField("fp_hi", LongType),
      StructField("modality", StringType),
      StructField("bucket", LongType),
      StructField("batch_id", LongType)))
  }

  /** Band-sidecar schema (see [[MediaBandBuckets]]). */
  val MediaBandSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fp_lo", LongType),
      StructField("fp_hi", LongType),
      StructField("band_idx", LongType),
      StructField("band_val", LongType),
      StructField("modality", StringType),
      StructField("band_bucket", LongType),
      StructField("batch_id", LongType)))
  }

  def readMediaFpIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    // resolve once per query — a screen straddling a rebuild's swap
    // reads one snapshot throughout (see [[Versioned]])
    readMediaFpData(spark, Versioned.resolve(spark, path))

  /** The stored side of the media screen: ONE modality's band-sidecar
    * rows of a RESOLVED root, pruned to the band buckets `batchBands`
    * hits at the ROOT's bucket count ([[mediaBandBucketCountOf]]) and
    * to batches strictly before `storedId`. A Hamming-≤
    * [[AHashMaxHamming]] neighbour shares ≥1 band (pigeonhole), so
    * rows in other buckets cannot match. The read is
    * [[graft.streaming.BatchIndex.readBeforeBuckets]]' direct-path
    * listing and replay exclusion. A root with no fingerprints yet
    * reads empty; one with fingerprints but no sidecar fails, naming
    * [[rebuildMediaFpIndex]].
    */
  def mediaBandsBefore(spark: org.apache.spark.sql.SparkSession,
      root: String, modality: String, batchBands: DataFrame,
      storedId: Long): DataFrame = {
    def empty = batchBands.select(BandCols.map(col): _*).limit(0)
    if (!checkSidecar(spark, root)) empty
    else {
      val b = mediaBandBucketCountOf(spark, root)
      val hit = batchBands.select(mediaBandBucketAt(b)).distinct()
        .collect().map(_.getLong(0)).toSeq
      graft.streaming.BatchIndex.readBeforeBuckets(spark,
        s"$root/bands/modality=$modality", storedId, BandCols, empty,
        "band_bucket", hit)
    }
  }

  /** The columns of a band row ([[fpBands]]' output). */
  private val BandCols = Seq("doc_id", "fp_lo", "fp_hi", "band_idx",
    "band_val")

  /** The one incremental media screen: each batch fingerprint's
    * neighbours within [[AHashMaxHamming]] among the `stored` band rows
    * (any id — a re-sent doc finds its own stored fingerprint) and
    * among batch-mates with a smaller doc_id, as `(doc_s, doc_b,
    * hamming)`. One join: stored ∪ batch band rows, flagged by origin,
    * against `bc(batchBands)`, so the stored side never shuffles when
    * `bc` broadcasts. Both inputs are [[fpBands]] rows; banding is
    * lossless at this radius (pigeonhole), and the exact Hamming check
    * screens accidental 16-bit collisions. Subset-exact: a full
    * re-screen's pairs that touch a batch doc are exactly these.
    */
  def nearEarlier(stored: DataFrame, batchBands: DataFrame,
      bc: DataFrame => DataFrame): DataFrame = {
    def rows(df: DataFrame) = df.select(BandCols.map(col): _*)
    rows(stored).withColumn("stored", lit(true))
      .unionByName(rows(batchBands).withColumn("stored", lit(false)))
      .as("s")
      .join(bc(rows(batchBands)).as("b"),
        col("s.band_idx") === col("b.band_idx")
          && col("s.band_val") === col("b.band_val")
          && (col("s.stored") || col("s.doc_id") < col("b.doc_id")))
      .select(col("s.doc_id").as("doc_s"), col("b.doc_id").as("doc_b"),
        fpHamming(col("s.fp_lo"), col("s.fp_hi"), col("b.fp_lo"),
          col("b.fp_hi")).as("hamming"))
      .filter(col("hamming") <= AHashMaxHamming)
      .distinct() // a pair can collide in several bands
  }

  /** The takedown artifact entries for the media fp artifact: BOTH
    * components of EVERY retained root (retained snapshots are real
    * copies; the band sidecar carries doc ids just like the data
    * component — an enumeration that lists only `data` leaves purged
    * ids serving from `bands`). A root without a sidecar (an engine
    * from before it, or a torn base build — screens refuse it until
    * [[rebuildMediaFpIndex]]) still holds ids in its data component.
    */
  def mediaFpTakedownArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Takedown.Artifact] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    mediaFpRetainedRoots(spark, path).flatMap { r =>
      Seq(Takedown.PartitionedIndex(s"mediafp:$r", s"$r/data",
        "doc_id", Seq("modality", "bucket", "batch_id"))) ++
        (if (fs.exists(new org.apache.hadoop.fs.Path(s"$r/bands")))
          Seq(Takedown.PartitionedIndex(s"mediafp_bands:$r",
            s"$r/bands", "doc_id",
            Seq("modality", "band_bucket", "batch_id")))
        else Seq.empty)
    }
  }

  /** One modality's near-dup screen served from the persisted index —
    * the modality filter prunes to that modality's partitions, the
    * screen is [[bandedHamming64]] over stored fingerprints: identical
    * plan to the in-flight screen downstream of the fingerprint table,
    * so it checks against the same oracle.
    */
  def mediaNearDupsServed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, modality: String): DataFrame = {
    require(MediaFpModalities.contains(modality),
      s"unknown modality: $modality")
    bandedHamming64(decodedFps(spark, indexPath, modality),
      AHashMaxHamming)
  }

  /** One modality's decoded `(doc_id, fp_lo, fp_hi)` rows of the index. */
  private def decodedFps(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, modality: String): DataFrame =
    readMediaFpIndex(spark, indexPath)
      .filter(col("modality") === lit(modality) && col("decoded"))
      .select("doc_id", "fp_lo", "fp_hi")

  /** All three modalities' pair streams of ONE snapshot, each tagged
    * with its `modality`: the root resolves once, so a rebuild
    * committing between two modality reads cannot mix snapshots inside
    * one roll-up. `screen` gets the resolved root and a modality.
    */
  private def perModality(spark: org.apache.spark.sql.SparkSession,
      indexPath: String)(screen: (String, String) => DataFrame)
      : DataFrame = {
    val root = Versioned.resolve(spark, indexPath)
    MediaFpModalities
      .map(m => screen(root, m).withColumn("modality", lit(m)))
      .reduce(_.unionByName(_))
  }

  /** All three modalities' pair streams from the index — the served
    * twin of [[mediaNearDupPairs]].
    */
  def mediaNearDupPairsServed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    perModality(spark, indexPath)(mediaNearDupsServed(spark, _, _))

  /** All three modalities' INCREMENTAL pair streams from the persisted
    * index: the new-batch slice of the grown index screens against the
    * whole index through [[nearEarlier]]. `isBatch` marks the batch
    * docs (fingerprints are per-doc, so slicing the one index is exact
    * — no second decode of anything). Emits (doc_a, doc_b, hamming,
    * modality) for exactly the pairs [[mediaNearDupPairsServed]] would
    * emit that touch a batch doc — the media feed of
    * [[CorpusGraph.append]].
    */
  def mediaNearDupPairsIncremental(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      isBatch: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    perModality(spark, indexPath) { (root, m) =>
      val batch = Scratch.keep(fpBands(decodedFps(spark, root, m)
        .filter(isBatch(col("doc_id")))))
      // the batch docs are in the index already: every stored batch,
      // minus the batch docs themselves
      val stored = mediaBandsBefore(spark, root, m, batch, Long.MaxValue)
        .filter(!isBatch(col("doc_id")))
      nearEarlier(stored, batch, broadcast(_))
        .select(least(col("doc_s"), col("doc_b")).as("doc_a"),
          greatest(col("doc_s"), col("doc_b")).as("doc_b"),
          col("hamming"))
    }

  /** [[mediaNearDupPairsServed]] restricted to docs matching `pred` on
    * both endpoints — the corpus-only slice an incremental-ingest
    * split serves from the ONE persisted index (per-doc fingerprints
    * make any doc-set slice exact; no second decode of anything).
    */
  def mediaNearDupPairsServedWhere(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    perModality(spark, indexPath) { (root, m) =>
      bandedHamming64(decodedFps(spark, root, m)
        .filter(pred(col("doc_id"))), AHashMaxHamming)
    }

  /** Cross-modal duplicate clusters served from the fingerprint index
    * — [[mediaDedupClusters]]' roll-up at index-read cost (the
    * in-flight version re-runs all three codec pipelines; this one
    * re-reads 3 longs per doc).
    */
  def mediaDedupClustersServed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    clusterRollup(mediaNearDupPairsServed(spark, indexPath))

  /** DuckDB mirror of [[mediaDedupClusters]] — re-runs all three media
    * pipelines arithmetically, then the recursive-closure labeling
    * (the [[Dedup]] labels discipline) and the evidence roll-up.
    */
  def mediaDedupClustersSql: String =
    s"""WITH RECURSIVE
       |ip AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'image' AS modality
       |  FROM ($imageNearDupsSql)),
       |ap AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'audio' AS modality
       |  FROM ($audioNearDupsSql)),
       |vp AS MATERIALIZED (
       |  SELECT doc_a, doc_b, 'video' AS modality
       |  FROM ($videoNearDupsSql)),
       |mpairs AS MATERIALIZED (
       |  SELECT * FROM ip UNION ALL SELECT * FROM ap
       |  UNION ALL SELECT * FROM vp),
       |${Dedup.labelsCtesSql(materializedLabels = true,
          pairsSql = "SELECT doc_a, doc_b FROM mpairs")},
       |sizes AS (
       |  SELECT label AS cluster_id, count(*) AS n_docs
       |  FROM labels GROUP BY label),
       |evidence AS (
       |  SELECT l.label AS cluster_id, count(*) AS n_pairs,
       |    count(DISTINCT p.modality) AS n_modalities
       |  FROM mpairs p JOIN labels l ON p.doc_a = l.doc_id
       |  GROUP BY l.label)
       |SELECT s.cluster_id, s.n_docs, e.n_pairs, e.n_modalities
       |FROM sizes s JOIN evidence e ON s.cluster_id = e.cluster_id
       |ORDER BY s.cluster_id""".stripMargin

  /** DuckDB mirror of graph-aware keep-best survivor selection: the
    * [[Dedup.keepBestSurvivorsSql]] tail over the FOUR-channel corpus
    * graph's labels instead of text pairs alone — a media twin whose
    * text differs still collapses to its best-quality member, because
    * the evidence graph defines the cluster (the Spark side is
    * [[Dedup.keepBestSurvivors]] fed the persisted graph labels).
    */
  def corpusGraphSurvivorsSql: String =
    s"""WITH RECURSIVE
       |${corpusPairCtesSql()},
       |${Dedup.labelsCtesSql(materializedLabels = true,
          pairsSql = "SELECT doc_a, doc_b FROM mpairs")},
       |${Dedup.keepBestTailSql}""".stripMargin

  def imageStatsSql: String =
    """WITH imgs AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, xs.x AS x, ys.y AS y,
      |    (doc_id * 31 + xs.x * 7 + ys.y * 13) % 256 AS vr,
      |    (doc_id * 31 + xs.x * 7 + ys.y * 13 + 101) % 256 AS vg,
      |    (doc_id * 31 + xs.x * 7 + ys.y * 13 + 202) % 256 AS vb
      |  FROM imgs, range(0, 17) xs(x), range(0, 15) ys(y)
      |  WHERE xs.x < w AND ys.y < h)
      |SELECT doc_id, true AS decoded, w AS width, h AS height,
      |  CAST(3 AS BIGINT) AS channels, w * h AS n_pixels,
      |  CAST(sum(vr) AS BIGINT) AS sum_r,
      |  CAST(sum(vg) AS BIGINT) AS sum_g,
      |  CAST(sum(vb) AS BIGINT) AS sum_b,
      |  CAST(sum(vr * (1 + x + y * w)
      |    + vg * (1 + x + y * w + w * h)
      |    + vb * (1 + x + y * w + 2 * w * h)) AS BIGINT) AS checksum
      |FROM px
      |GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin
}
