package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract stages (BASELINE.json north
  * star).
  *
  * IMAGE decode is real: [[decodeImage]] uses the JDK's own ImageIO
  * codecs (PNG/BMP/GIF/JPEG) and falls back to the deterministic
  * byte-stat STUB kernel for blobs no codec accepts, so dirty corpora
  * never fail the job. AUDIO decode is real too: [[decodeAudio]] parses
  * WAV/AIFF/AU containers with the JDK's `javax.sound.sampled` and
  * emits sample-domain features ([[buildWav]] is the matching real
  * encoder). VIDEO decode is real for the two containers pure JDK can
  * handle: [[sampleGifFrames]] (animated GIF via ImageIO's multi-frame
  * reader) and [[sampleAviFrames]] (RIFF/AVI chunk demux + per-frame
  * MJPEG decode); [[frameSample]] keeps the byte-window shape for
  * opaque codecs. Undecodable blobs everywhere fall back to
  * the deterministic byte-stat kernel — everything around the codecs —
  * schema (binary + metadata struct), partition-sized batch iteration
  * via `mapPartitions`, fixed-width feature output with a real
  * Encoder — is the production plumbing and is tested.
  *
  * Scale notes: blobs never pass through a shuffle here (all stages are
  * narrow maps); at 100 TB you'd store blobs in parquet binary columns
  * (or pointers to object storage) partitioned so `maxPartitionBytes`
  * keeps task inputs bounded, and feature extraction stays embarrassingly
  * parallel.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("data", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = true),
      StructField("kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))), nullable = true)))

  /** Wrap a text column as a fake media blob (UTF-8 bytes) with metadata —
    * stands in for image/audio bytes in tests. */
  def attachBlob(df: DataFrame, idCol: String, textCol: String,
      kind: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("data"),
      struct(
        octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"),
        lit(kind).as("kind"),
        lit(64).as("width"),
        lit(64).as("height")).as("meta"))

  /** Deterministic byte-stat features (the decode STUB's kernel, and the
    * fallback for undecodable blobs): f_i = mean of bytes ≡ i (mod 8),
    * normalized to [0,1]. Exact integer-sum math → DuckDB-oracle-equal. */
  private[operators] def byteStatFeatures(bytes: Array[Byte]): Array[Double] =
    if (bytes == null) null
    else {
      val sums = new Array[Long](8)
      val counts = new Array[Long](8)
      var i = 0
      while (i < bytes.length) {
        sums(i % 8) += bytes(i) & 0xff
        counts(i % 8) += 1
        i += 1
      }
      Array.tabulate(8)(j =>
        if (counts(j) == 0) 0.0
        else sums(j).toDouble / counts(j) / 255.0)
    }

  private def withFeatures(df: DataFrame)(
      f: Array[Byte] => Array[Double]): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(DoubleType), nullable = true))
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      // per-partition (batch) codec init would go here
      it.map(r => Row.fromSeq(r.toSeq :+ f(r.getAs[Array[Byte]](dataIdx))))
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** STUB decode: derives the deterministic byte-stat "feature vector"
    * from the raw bytes so the downstream plumbing (batching, schema,
    * joins with embeddings) is exercised with stable values; a real
    * codec would emit float32 — swap the element type with the codec.
    *
    * Dataset-typed `mapPartitions` (Encoders.row), not `df.rdd`: rows stay
    * in Tungsten binary format end-to-end, no RDD round-trip. The
    * partition is the batch unit (the mapInPandas analog).
    */
  def decodeStub(df: DataFrame): DataFrame =
    withFeatures(df)(byteStatFeatures)

  /** REAL image decode via the JDK's own ImageIO codecs (PNG/BMP/GIF/
    * JPEG — no external libraries): decodes the blob to pixels and emits
    * an 8-value feature vector
    * `[width, height, meanR, meanG, meanB, meanLuma, stdLuma, aspect]`
    * (channel means normalized to [0,1], Rec.601 luma, aspect = w/h).
    * PNG/BMP/GIF are lossless so the features are bit-deterministic
    * across JVMs. Blobs ImageIO cannot decode (wrong magic, truncated
    * file, or a non-image payload) fall back to [[byteStatFeatures]],
    * so a mixed or dirty corpus never fails the job — the production
    * posture for crawled data.
    *
    * Same scale shape as the stub: a narrow Dataset-typed
    * `mapPartitions`, blobs never shuffle, the partition is the decode
    * batch; `ImageIO.read` selects a reader by magic bytes and rejects
    * non-images cheaply. */
  def decodeImage(df: DataFrame): DataFrame =
    withFeatures(df) { bytes =>
      if (bytes == null) null
      else {
        val img = tryReadImage(bytes)
        if (img == null) byteStatFeatures(bytes) else pixelFeatures(img)
      }
    }

  /** Pixel feature kernel shared by [[decodeImage]] and
    * [[sampleGifFrames]]:
    * `[width, height, meanR, meanG, meanB, meanLuma, stdLuma, aspect]`. */
  private[operators] def pixelFeatures(
      img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0.0; var sg = 0.0; var sb = 0.0
    var sy = 0.0; var syy = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        sr += r; sg += g; sb += b; sy += luma; syy += luma * luma
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val meanLuma = sy / n
    val varLuma = math.max(0.0, syy / n - meanLuma * meanLuma)
    Array(w.toDouble, h.toDouble, sr / n / 255.0, sg / n / 255.0,
      sb / n / 255.0, meanLuma / 255.0, math.sqrt(varLuma) / 255.0,
      w.toDouble / h)
  }

  /** Shared dHash comparison kernel: 72 block means laid out 8 rows ×
    * 9 columns; bit (r,c) = m[r][c+1] > m[r][c] — the classic
    * difference hash (64 bits from 8×9 samples; see e.g. the public
    * dHash description, Krawetz "Kind of Like That"). */
  private[graft] def dHashBlocks(means: Array[Double]): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (means(r * 9 + c + 1) > means(r * 9 + c))
          h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** Byte-domain dHash (the decode-fallback analog of
    * [[byteStatFeatures]]): the blob's byte stream is block-averaged
    * into the 8×9 grid (block(i) = i·72/n — integer math, empty blocks
    * mean 0) and difference-hashed. Deterministic pure-integer sums →
    * DuckDB-oracle-equal, so undecodable blobs hash stably instead of
    * failing a dirty corpus. */
  private[graft] def byteDHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](72)
    val counts = new Array[Long](72)
    var i = 0
    while (i < n) {
      val b = (i.toLong * 72 / n).toInt
      sums(b) += bytes(i) & 0xff
      counts(b) += 1
      i += 1
    }
    dHashBlocks(Array.tabulate(72)(j =>
      if (counts(j) == 0) 0.0 else sums(j).toDouble / counts(j)))
  }

  /** [[byteDHash]] over an INT value stream (the audio sample-space
    * hash: values are canonical unsigned-16-bit samples). Same block
    * layout, exact Long sums. Because block means scale exactly under
    * a positive constant factor (×256 is a float-exact power of two),
    * `intDHash(bytes.map(b => (b & 0xff) << 8)) == byteDHash(bytes)` —
    * the 8-bit-PCM hash is unchanged by sample-space canonicalization
    * and the byte-stream oracle replay stays valid. */
  private[graft] def intDHash(vals: Array[Int]): Long = {
    val n = vals.length
    if (n == 0) return 0L
    val sums = new Array[Long](72)
    val counts = new Array[Long](72)
    var i = 0
    while (i < n) {
      val b = (i.toLong * 72 / n).toInt
      sums(b) += vals(i)
      counts(b) += 1
      i += 1
    }
    dHashBlocks(Array.tabulate(72)(j =>
      if (counts(j) == 0) 0.0 else sums(j).toDouble / counts(j)))
  }

  /** Pixel-domain dHash: Rec.601 luma (the [[pixelFeatures]]
    * constants), block-averaged onto the 9×8 grid (pixel (x,y) lands
    * in column x·9/w, row y·8/h — integer math, no resampling
    * filter, so the hash is bit-deterministic across JVMs for
    * lossless formats), then difference-hashed. Robust to re-encode,
    * mild noise and rescale — the LAION/DataComp-style near-dup
    * image key. */
  private[graft] def pixelDHash(
      img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](72)
    val counts = new Array[Long](72)
    var y = 0
    while (y < h) {
      val r8 = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val c9 = (x.toLong * 9 / w).toInt
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        sums(r8 * 9 + c9) += 0.299 * r + 0.587 * g + 0.114 * b
        counts(r8 * 9 + c9) += 1
        x += 1
      }
      y += 1
    }
    dHashBlocks(Array.tabulate(72)(j =>
      if (counts(j) == 0) 0.0 else sums(j) / counts(j)))
  }

  /** Shared perceptual-hash stage: one narrow `mapPartitions` adding
    * `phash` (64-bit) and — only when `withBits` — `phash_bits` (the
    * 64-char MSB-first bit string, the engine-neutral presentation
    * the driver oracle compares). The pair tiers call this with
    * `withBits = false`: the bit string is a per-row Range→map→
    * mkString allocation built INSIDE the kernel where Catalyst
    * column pruning cannot reach, so a consumer that immediately
    * prunes to `phash` must not pay for it. */
  private def hashStage(df: DataFrame, hashOf: Array[Byte] => Long,
      withBits: Boolean): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      (StructField("phash", LongType, nullable = true) +:
        (if (withBits)
          Seq(StructField("phash_bits", StringType, nullable = true))
        else Nil)))
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        if (bytes == null)
          Row.fromSeq(r.toSeq ++ (if (withBits) Seq(null, null) else Seq(null)))
        else {
          val h = hashOf(bytes)
          if (withBits) {
            val bits = (63 to 0 by -1)
              .map(k => if ((h >>> k & 1L) == 1L) '1' else '0').mkString
            Row.fromSeq(r.toSeq ++ Seq(h, bits))
          } else Row.fromSeq(r.toSeq :+ h)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Per-blob image hash kernel: decodable images hash in PIXEL space
    * ([[pixelDHash]]), everything else falls back to [[byteDHash]]. */
  private[operators] def imageHashOf(bytes: Array[Byte]): Long = {
    val img = tryReadImage(bytes)
    if (img == null) byteDHash(bytes) else pixelDHash(img)
  }

  /** Perceptual hash column for a media frame: decodable images hash
    * in PIXEL space ([[pixelDHash]] — stable under re-encode/rescale),
    * everything else falls back to the BYTE-domain hash. Adds
    * `phash` (the 64-bit hash) and `phash_bits` (its 64-char
    * MSB-first bit string); pass `withBits = false` to skip the bit
    * string (the near-dup tiers do — they consume only `phash`).
    * Narrow `mapPartitions`, blobs never shuffle — the zero-shuffle
    * signature shape of the text MinHash/SimHash kernels. */
  def mediaHash(df: DataFrame, withBits: Boolean = true): DataFrame =
    hashStage(df, imageHashOf, withBits)

  /** Near-duplicate media pairs by perceptual hash — the adaptive
    * Hamming band join of [[graft.operators.Dedup.hammingNearDups]]
    * (exact pigeonhole recall for `maxHamming ≤ 7`, `maxBucket` +
    * `maxCandidatePairs` anti-quadratic guards; full reasoning there)
    * over [[mediaHash]]. A dHash over a DIVERSE natural-image corpus
    * approximates uniform hashes — exactly the regime the kernel's
    * guards are sized for. The decode kernel runs ONCE: the (id, hash)
    * projection is localCheckpointed before the band fan-out, so
    * neither the guard job nor the two join sides re-run the codecs —
    * and it is the hash-only kernel (`withBits = false`): the bit
    * string is presentation, the pair tier never pays for it.
    * Returns `(id_a, id_b, hamming)`, `id_a < id_b`.
    *
    * DEFAULTS ARE DELIBERATELY CONSERVATIVE (since r13): `maxHamming`
    * is 3 (4×16-bit bands — the near-dup radius; radius-7 callers
    * opt in explicitly and get 8×8-bit bands with 256× the bucket
    * collision rate), and the `maxBucket`/`maxCandidatePairs` guards
    * FAIL FAST with a remedy message instead of silently launching a
    * quadratic plan — a caller upgrading from a pre-r13 build may see
    * fewer pairs (tighter radius) or an `IllegalStateException`
    * (guard trip) where the old code always returned. */
  def mediaNearDups(df: DataFrame, idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000,
      maxCandidatePairs: Long = 100000000L): DataFrame =
    Dedup.hammingNearDups(
      mediaHash(df, withBits = false)
        .select(col(idCol).as("__mid"), col("phash"))
        .filter(col("phash").isNotNull)
        .localCheckpoint(true),
      "__mid", "phash", maxHamming, maxBucket, maxCandidatePairs)

  /** [[mediaNearDups]] for AUDIO blobs: pairs within `maxHamming` of
    * the container-invariant [[audioHash]]. Same adaptive banding,
    * guards and conservative defaults
    * ([[graft.operators.Dedup.hammingNearDups]], [[mediaNearDups]]);
    * the decode kernel runs once (checkpointed hash-only (id, hash)
    * projection — no `phash_bits` allocation on this path). */
  def audioNearDups(df: DataFrame, idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000,
      maxCandidatePairs: Long = 100000000L): DataFrame =
    Dedup.hammingNearDups(
      audioHash(df, withBits = false)
        .select(col(idCol).as("__mid"), col("phash"))
        .filter(col("phash").isNotNull)
        .localCheckpoint(true),
      "__mid", "phash", maxHamming, maxBucket, maxCandidatePairs)

  /** REAL image encode via ImageIO's own PNG writer (the image analog
    * of [[buildWav]]): renders an 18×16 grayscale frame per row whose
    * pixels are CONSTANT within each 2×2 block of the dHash grid —
    * block (bx, by) has value v = (id·37 + by·17 + bx·23) mod 199 + 1
    * (horizontally adjacent blocks differ by 23 mod 199, never 0, so
    * no comparison in [[pixelDHash]] can tie) — then PNG-encodes it.
    * Because PNG is lossless and the grid mapping (x·9/18 = x/2,
    * y·8/16 = y/2) is exact, the decoded hash is EXACTLY the integer
    * comparison v(bx+1) > v(bx): an arithmetic oracle can replay the
    * full encode → ImageIO decode → Rec.601 luma → block-mean → dHash
    * journey without touching a codec. Output: (media_id, data).
    * Narrow `mapPartitions`; blobs never shuffle. */
  def buildBlockPng(df: DataFrame, idCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("data", BinaryType, nullable = true)))
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val img = new java.awt.image.BufferedImage(
          18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 18) {
            // floorMod, not %: a negative id must still land in
            // [1, 199] — truncating % would smear sign bits across
            // the RGB channels and break the arithmetic oracle
            val v = (math.floorMod(
              id * 37 + (y / 2) * 17 + (x / 2) * 23, 199) + 1).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** REAL audio encode via the JDK's own `javax.sound.sampled` writer:
    * wraps the blob's bytes as the PCM payload of a genuine WAV
    * container (8-bit unsigned mono by default — every byte is one
    * sample/frame). The container is produced by `AudioSystem.write`,
    * not hand-rolled header bytes, so [[decodeAudio]] exercises a true
    * encoder↔decoder roundtrip. Narrow `mapPartitions`; blobs never
    * shuffle. */
  def buildWav(df: DataFrame, sampleRate: Float = 8000f): DataFrame =
    buildWavAs(df,
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED, sampleRate)

  /** [[buildWav]] with a G.711 μ-law payload: each blob byte is one
    * ULAW code (format tag 7 in the WAV header — the JDK's own
    * `WaveFileWriter` muxes non-PCM encodings natively). The decode
    * side must EXPAND the codes through [[ulawToLinear]] — reading
    * them as linear samples would be confidently wrong — which is
    * exactly what the q_audio_hash_ulaw driver row proves. */
  def buildWavUlaw(df: DataFrame, sampleRate: Float = 8000f): DataFrame =
    buildWavAs(df,
      javax.sound.sampled.AudioFormat.Encoding.ULAW, sampleRate)

  private def buildWavAs(df: DataFrame,
      encoding: javax.sound.sampled.AudioFormat.Encoding,
      sampleRate: Float): DataFrame = {
    val dataIdx = df.schema.fieldIndex("data")
    val encName = encoding.toString
    df.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(
        new javax.sound.sampled.AudioFormat.Encoding(encName),
        sampleRate, 8, 1, 1, sampleRate, false)
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        val out =
          if (bytes == null) null
          else {
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(bytes), fmt, bytes.length.toLong)
            val baos = new java.io.ByteArrayOutputStream(bytes.length + 64)
            javax.sound.sampled.AudioSystem.write(
              ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
            baos.toByteArray
          }
        Row.fromSeq(r.toSeq.updated(dataIdx, out))
      }
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  /** REAL audio decode via the JDK's own `javax.sound.sampled`
    * (WAV/AIFF/AU PCM — no external libraries): parses the container,
    * streams the sample frames, and emits an 8-value feature vector
    * `[sampleRate, channels, nFrames, durationSec, meanAmp, rmsAmp,
    * peakAmp, zeroCrossRate]` with amplitudes normalized to [-1,1]
    * (channel-interleaved samples all contribute). Handles 8-bit
    * unsigned and 16-bit signed PCM, either endianness. Blobs the codec
    * rejects (wrong magic, truncated header, non-audio payload) fall
    * back to [[byteStatFeatures]] — the same dirty-corpus posture as
    * [[decodeImage]]. Narrow `mapPartitions`; the partition is the
    * decode batch. */
  def decodeAudio(df: DataFrame): DataFrame =
    withFeatures(df) { bytes =>
      if (bytes == null) null
      else audioFeatures(bytes).getOrElse(byteStatFeatures(bytes))
    }

  /** Per-blob audio hash kernel: decodable containers hash in SAMPLE
    * space ([[intDHash]] over canonical samples), everything else
    * falls back to [[byteDHash]] over the raw bytes. */
  private[graft] def audioHashOf(bytes: Array[Byte]): Long =
    audioSamples(bytes) match {
      case Some((_, samples)) => intDHash(samples)
      case None => byteDHash(bytes)
    }

  /** Perceptual hash column for an AUDIO corpus — the audio analog of
    * [[mediaHash]]: decodable containers hash in SAMPLE space —
    * [[intDHash]] over the CANONICAL sample stream of
    * [[audioSamples]] — so the hash is ENCODING-invariant, not just
    * container-invariant: the same samples re-wrapped in another
    * container (WAV↔AIFF↔AU), stored at the other endianness or
    * signedness, re-labeled at another sample rate, or widened from
    * 8-bit to the exact 16-bit embedding `(b−128)·256`, all hash
    * identically (the robustness the image tier gets from pixel
    * space). Lossy re-encodes (e.g. through G.711 companding) are
    * NOT bit-invariant — they perturb sample values — which is
    * precisely what the Hamming pair tier ([[audioNearDups]])
    * absorbs. Undecodable blobs fall back to the byte-domain hash
    * over the raw bytes, so a dirty corpus hashes stably instead of
    * failing. Adds `phash` / `phash_bits` like [[mediaHash]];
    * `withBits = false` skips the bit-string allocation. Narrow
    * `mapPartitions`; blobs never shuffle. */
  def audioHash(df: DataFrame, withBits: Boolean = true): DataFrame =
    hashStage(df, audioHashOf, withBits)

  /** G.711 μ-law byte → linear 16-bit sample, the standard CCITT
    * expansion (a fixed 256-entry table; pinned ≡ the JDK codec's own
    * conversion by unit test, but computed HERE so the decode is a
    * documented closed-form arithmetic the DuckDB oracle can replay
    * as a literal array — no dependence on JDK internals). */
  private[graft] val ulawToLinear: Array[Int] = Array.tabulate(256) { i =>
    val u = ~i & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → linear 16-bit sample (same posture as
    * [[ulawToLinear]]: the fixed standard table, oracle-replayable). */
  private[graft] val alawToLinear: Array[Int] = Array.tabulate(256) { i =>
    val a = i ^ 0x55
    val seg = (a & 0x70) >> 4
    val base = (a & 0x0f) << 4
    val t = seg match {
      case 0 => base + 8
      case 1 => base + 0x108
      case _ => (base + 0x108) << (seg - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  /** Container parse + decode to the CANONICAL sample stream shared by
    * [[audioFeatures]] and [[audioHash]]: unsigned-16-bit sample
    * values (0..65535 = signed sample + 32768), channel-interleaved,
    * in frame order — one representation for every supported source
    * encoding, converted DETERMINISTICALLY sample-by-sample:
    *
    *   - 8-bit unsigned PCM:  `b · 256`         (= (b−128)·256 + 32768)
    *   - 8-bit signed PCM:    `b · 256 + 32768`
    *   - 16-bit PCM:          byte pair read at the container's own
    *                          endianness; unsigned passes through,
    *                          signed shifts by +32768
    *   - G.711 ULAW / ALAW:   the fixed expansion tables
    *                          [[ulawToLinear]] / [[alawToLinear]]
    *
    * None when the bytes aren't a parseable audio container or the
    * encoding is outside that set (e.g. 24-bit or float PCM). Every
    * branch is exact integer arithmetic — no codec-internal float
    * resampling — so features and hashes built on it are
    * engine-reproducible and the driver oracle can replay them. */
  private[graft] def audioSamples(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Int])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val ais =
      try AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (ais == null) None
    else {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      val raw =
        try ais.readAllBytes()
        catch { case _: Exception => return None }
      val out: Array[Int] =
        if (enc == AudioFormat.Encoding.ULAW && bits == 8)
          Array.tabulate(raw.length)(i =>
            ulawToLinear(raw(i) & 0xff) + 32768)
        else if (enc == AudioFormat.Encoding.ALAW && bits == 8)
          Array.tabulate(raw.length)(i =>
            alawToLinear(raw(i) & 0xff) + 32768)
        else if (enc == AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
          Array.tabulate(raw.length)(i => (raw(i) & 0xff) << 8)
        else if (enc == AudioFormat.Encoding.PCM_SIGNED && bits == 8)
          Array.tabulate(raw.length)(i => (raw(i).toInt << 8) + 32768)
        else if ((enc == AudioFormat.Encoding.PCM_SIGNED ||
            enc == AudioFormat.Encoding.PCM_UNSIGNED) && bits == 16) {
          val n = raw.length / 2
          val big = fmt.isBigEndian
          val signed = enc == AudioFormat.Encoding.PCM_SIGNED
          Array.tabulate(n) { i =>
            val off = i * 2
            val (lo, hi) =
              if (big) (raw(off + 1), raw(off)) else (raw(off), raw(off + 1))
            val u = ((hi & 0xff) << 8) | (lo & 0xff)
            if (signed) ((u.toShort).toInt + 32768) else u
          }
        } else return None
      Some((fmt, out))
    }
  }

  /** Audio feature kernel shared by [[decodeAudio]] and [[decodeMedia]]:
    * None when the bytes aren't a parseable audio container. Runs over
    * the canonical sample stream of [[audioSamples]] — amplitude
    * `v = (u16 − 32768) / 32768`, identical values to reading each
    * source encoding natively, and companded ULAW/ALAW are true
    * expanded sample statistics. */
  private[operators] def audioFeatures(
      bytes: Array[Byte]): Option[Array[Double]] =
    audioSamples(bytes).map { case (fmt, samples) =>
      val n = samples.length
      var sum = 0.0; var sumSq = 0.0; var peak = 0.0
      var crossings = 0L; var prevNeg = false
      var i = 0
      while (i < n) {
        val v = (samples(i) - 32768).toDouble / 32768.0
        sum += v; sumSq += v * v
        val a = math.abs(v)
        if (a > peak) peak = a
        val neg = v < 0
        if (i > 0 && neg != prevNeg) crossings += 1
        prevNeg = neg
        i += 1
      }
      val nd = n.toDouble
      Array(
        fmt.getSampleRate.toDouble,
        fmt.getChannels.toDouble,
        n.toDouble / fmt.getChannels,
        n.toDouble / fmt.getChannels / fmt.getSampleRate,
        if (n == 0) 0.0 else sum / nd,
        if (n == 0) 0.0 else math.sqrt(sumSq / nd),
        peak,
        if (n < 2) 0.0 else crossings.toDouble / (n - 1))
    }

  /** Shared output schema of the frame samplers: one row per sampled
    * frame with its sample ordinal, the frame index actually decoded,
    * the container's total frame count, and [[pixelFeatures]]. */
  private val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("frame_index", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("features", ArrayType(DoubleType), nullable = true)))

  /** `n` evenly-spaced frame indices out of `total` (all of them when
    * total ≤ n) — the one pick formula both samplers share. The product
    * is taken in Long: a crafted AVI can declare hundreds of thousands
    * of frame chunks, and `i * total` in Int would overflow to a
    * negative index and kill the task on an untrusted blob. */
  private[graft] def pickIndices(n: Int, total: Int): Seq[Int] =
    if (total <= 0) Seq.empty
    else {
      val k = math.min(n, total)
      (0 until k).map(i => (i.toLong * total / k).toInt)
    }

  /** ImageIO decode that never throws: null for anything the codecs
    * reject (wrong magic, truncated payload, non-image bytes). */
  private[operators] def tryReadImage(
      bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: Exception => null }

  /** REAL multi-frame sampling (the video-frame-sample surface with the
    * one multi-frame codec the JDK ships — animated GIF): opens an
    * ImageIO reader on the blob, counts frames, decodes `n`
    * evenly-spaced ones, and emits one row per sampled frame with
    * `frame_no`, the frame index actually decoded, total frame count,
    * and the same pixel features as [[decodeImage]]. Single-frame
    * formats (PNG/BMP/JPEG) sample as one frame; undecodable blobs —
    * including ones whose SIGNATURE a reader accepts but whose block
    * data then fails the frame scan — yield zero rows (route those
    * through [[frameSample]]'s byte windows). Narrow per-row flatMap —
    * blobs never shuffle, and only the sampled frames are decoded
    * (`ImageReader.read(i)` seeks by index). */
  def sampleGifFrames(df: DataFrame, n: Int): DataFrame = {
    val idIdx = df.schema.fieldIndex("media_id")
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        if (bytes == null) Iterator.empty
        else {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) { iis.close(); Iterator.empty }
          else {
            val reader = readers.next()
            try {
              // setInput/getNumImages scan the stream and throw on
              // corrupt block data even when the signature matched —
              // a dirty corpus must yield zero rows, not a dead job
              reader.setInput(iis, false, true)
              val total = reader.getNumImages(true)
              pickIndices(n, total).zipWithIndex.flatMap { case (fi, no) =>
                val img =
                  try reader.read(fi) catch { case _: Exception => null }
                if (img == null) None
                else Some(Row(r.getLong(idIdx), no, fi, total,
                  pixelFeatures(img).toSeq))
              }.iterator
            } catch { case _: Exception => Iterator.empty }
            finally {
              try { reader.dispose(); iis.close() }
              catch { case _: Exception => () }
            }
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(frameSchema))
  }

  /** Production entry point for a MIXED media corpus: sniffs each blob
    * and routes it to the right real codec — AVI → middle-frame video
    * decode, parseable PCM audio → [[audioFeatures]], anything ImageIO
    * accepts → [[pixelFeatures]], everything else → the byte-stat
    * fallback. Adds `media_kind` (`"video"`/`"audio"`/`"image"`/
    * `"binary"`) next to the 8-wide `features` column; a dirty corpus
    * never fails the job. The AVI fourcc gate and audio magic both
    * reject cheaply, so the cascade costs one header inspection per
    * miss. Narrow `mapPartitions` — same zero-shuffle shape as every
    * decode stage here. */
  def decodeMedia(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("media_kind", StringType, nullable = true),
      StructField("features", ArrayType(DoubleType), nullable = true)))
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        val (kind, feats): (String, Array[Double]) =
          if (bytes == null) (null, null)
          else {
            val spans = demuxAviSpans(bytes)
            if (spans.nonEmpty) {
              // only the middle frame is copied out and decoded
              val (o, l) = spans(spans.length / 2)
              val img = decodeAviFrame(bytes, o, l, aviVideoFormat(bytes))
              ("video",
                if (img == null) byteStatFeatures(bytes) else pixelFeatures(img))
            } else audioFeatures(bytes) match {
              case Some(f) => ("audio", f)
              case None =>
                val img = tryReadImage(bytes)
                if (img != null) ("image", pixelFeatures(img))
                else ("binary", byteStatFeatures(bytes))
            }
          }
        Row.fromSeq(r.toSeq ++ Seq(kind, if (feats == null) null else feats.toSeq))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Minimal RIFF/AVI demuxer (pure JDK, the container format is public
    * and trivially chunk-structured): walks the chunk tree, recurses
    * into `movi`/`rec ` LISTs, and returns every video-frame chunk's
    * payload (`##dc` compressed / `##db` uncompressed fourcc). For
    * MJPEG AVIs — the overwhelmingly common self-contained case — each
    * payload is a complete JPEG that ImageIO decodes. Non-AVI bytes
    * (including RIFF/WAVE) return no frames. Returns (offset, length)
    * spans into the input so callers copy only the frames they use. */
  private[graft] def demuxAviSpans(b: Array[Byte]): Array[(Int, Int)] = {
    def cc(off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    if (b.length < 12 || cc(0) != "RIFF" || cc(8) != "AVI ")
      return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // Truncation posture: a LIST whose declared extent runs past the
    // available bytes is walked CLAMPED (frames that survived the cut
    // still harvest); an individual frame chunk cut mid-payload stops
    // that level cleanly. Crawled media is routinely truncated — the
    // demuxer salvages what's complete instead of discarding the blob.
    // ALL offset math is in Long: chunk sizes are unsigned 32-bit, so a
    // size ≥ 2^31 (crafted, or a >2 GB AVI's RIFF header surviving a
    // crawler cut) must neither wrap negative (a stuck or backwards
    // cursor — an unkillable task) nor zero out the walk extent.
    def walk(start: Long, end: Long): Unit = {
      var off = start
      val lim = math.min(end, b.length.toLong)
      while (off + 8 <= lim) {
        val fourcc = cc(off.toInt)
        val size = u32(off.toInt + 4) // unsigned, 0..2^32-1
        val data = off + 8
        if (fourcc == "LIST" && size >= 4 && data + 4 <= lim) {
          val listType = cc(data.toInt)
          if (listType == "movi" || listType == "rec ")
            walk(data + 4, data + size)
        } else if (size > 0 && fourcc.length == 4 &&
            fourcc.charAt(2) == 'd' &&
            (fourcc.charAt(3) == 'c' || fourcc.charAt(3) == 'b')) {
          if (data + size > lim) return // frame cut mid-payload
          out += ((data.toInt, size.toInt))
        }
        off = data + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12L, 8L + u32(4))
    out.toArray
  }

  /** BITMAPINFOHEADER (+ palette) of the first `vids` stream in an
    * AVI's header LIST, or null when absent/truncated. Raw-DIB `##db`
    * frames carry no per-frame header — the stream-format (`strf`)
    * chunk is the only place their geometry lives; [[dibToBmp]]
    * prepends it (plus a BITMAPFILEHEADER) to rebuild a BMP the JDK's
    * own reader decodes. Same Long offset math and clamping posture as
    * [[demuxAviSpans]] — this walks untrusted crawled bytes. */
  private[graft] def aviVideoFormat(b: Array[Byte]): Array[Byte] = {
    def cc(off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    if (b.length < 12 || cc(0) != "RIFF" || cc(8) != "AVI ")
      return null
    var result: Array[Byte] = null
    def walk(start: Long, end: Long, ctx: String): Unit = {
      var off = start
      var vids = false // set by strh, consumed by the following strf
      val lim = math.min(end, b.length.toLong)
      while (off + 8 <= lim && result == null) {
        val fourcc = cc(off.toInt)
        val size = u32(off.toInt + 4)
        val data = off + 8
        if (fourcc == "LIST" && size >= 4 && data + 4 <= lim) {
          val lt = cc(data.toInt)
          if (lt == "hdrl" || lt == "strl")
            walk(data + 4, data + size, lt)
        } else if (ctx == "strl" && fourcc == "strh" && data + 4 <= lim) {
          vids = cc(data.toInt) == "vids"
        } else if (ctx == "strl" && fourcc == "strf" && vids &&
            size >= 40 && data + size <= lim) {
          result = java.util.Arrays.copyOfRange(
            b, data.toInt, (data + size).toInt)
        }
        off = data + size + (size & 1)
      }
    }
    walk(12L, 8L + u32(4), "")
    result
  }

  /** Rebuild a standalone BMP from a raw DIB frame payload + the
    * stream's BITMAPINFOHEADER(+palette): 14-byte BITMAPFILEHEADER with
    * the pixel-data offset pointing past the copied header block. */
  private[operators] def dibToBmp(
      dib: Array[Byte], frame: Array[Byte]): Array[Byte] = {
    val dataOff = 14 + dib.length
    val total = dataOff + frame.length
    val out = new Array[Byte](total)
    out(0) = 'B'; out(1) = 'M'
    def le32(v: Int, at: Int): Unit = {
      out(at) = (v & 0xff).toByte
      out(at + 1) = ((v >> 8) & 0xff).toByte
      out(at + 2) = ((v >> 16) & 0xff).toByte
      out(at + 3) = ((v >> 24) & 0xff).toByte
    }
    le32(total, 2)
    le32(dataOff, 10)
    System.arraycopy(dib, 0, out, 14, dib.length)
    System.arraycopy(frame, 0, out, dataOff, frame.length)
    out
  }

  /** Decode one demuxed frame span: self-contained payloads (MJPEG
    * JPEGs, muxed BMPs) read directly; a payload ImageIO rejects is
    * retried as a raw DIB against the stream's `strf` header (`##db`
    * frames from real capture tools are bare pixel arrays). Null when
    * neither form decodes. */
  private[operators] def decodeAviFrame(bytes: Array[Byte], o: Int,
      l: Int, dib: Array[Byte]): java.awt.image.BufferedImage = {
    val payload = java.util.Arrays.copyOfRange(bytes, o, o + l)
    val img = tryReadImage(payload)
    if (img != null || dib == null) img
    else tryReadImage(dibToBmp(dib, payload))
  }

  /** Payload-copying variant of [[demuxAviSpans]] for callers that want
    * every frame's bytes (tests, eager pipelines). The samplers use the
    * span form and copy only the frames they decode. */
  private[graft] def demuxAvi(b: Array[Byte]): Array[Array[Byte]] =
    demuxAviSpans(b).map { case (o, l) =>
      java.util.Arrays.copyOfRange(b, o, o + l)
    }

  /** REAL video encode for the oracle-gated roundtrip: splits the
    * blob's bytes into `frames` near-equal slices (slice f =
    * bytes[⌊L·f/K⌋, ⌊L·(f+1)/K⌋)), renders each non-empty slice as a
    * W×1 grayscale image (pixel value = byte value — lossless by
    * construction) through the JDK's own BMP writer, and muxes the
    * frames into a RIFF/AVI container with `00db` (uncompressed-fourcc)
    * chunks. [[sampleAviFrames]] demuxes and decodes it back, so
    * encode→mux→demux→decode roundtrips entirely through real codec
    * code. Empty slices (blob shorter than K) emit no frame; a null
    * blob stays null (no container is fabricated for absent data).
    * Narrow `mapPartitions`. */
  def buildAviBmp(df: DataFrame, frames: Int = 3): DataFrame = {
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        val out =
          if (bytes == null) null
          else {
            val L = bytes.length
            val frameBufs = (0 until frames).flatMap { f =>
              val lo = (L.toLong * f / frames).toInt
              val hi = (L.toLong * (f + 1) / frames).toInt
              if (hi <= lo) None
              else {
                val w = hi - lo
                val img = new java.awt.image.BufferedImage(
                  w, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
                var x = 0
                while (x < w) {
                  val v = bytes(lo + x) & 0xff
                  img.setRGB(x, 0, (v << 16) | (v << 8) | v)
                  x += 1
                }
                val bmp = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "bmp", bmp)
                Some(bmp.toByteArray)
              }
            }
            muxAvi00db(frameBufs)
          }
        Row.fromSeq(r.toSeq.updated(dataIdx, out))
      }
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  /** Mux self-contained frame payloads into a RIFF/AVI container with
    * `00db` (uncompressed-fourcc) chunks — the minimal movi-only form
    * both test encoders emit and [[demuxAviSpans]] walks back. */
  private def muxAvi00db(frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int) = Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val movi = new java.io.ByteArrayOutputStream()
    movi.write("movi".getBytes(ascii))
    frames.foreach { fb =>
      movi.write("00db".getBytes(ascii))
      movi.write(le32(fb.length)); movi.write(fb)
      if ((fb.length & 1) == 1) movi.write(0)
    }
    val mb = movi.toByteArray
    val body = new java.io.ByteArrayOutputStream()
    body.write("AVI ".getBytes(ascii))
    body.write("LIST".getBytes(ascii))
    body.write(le32(mb.length)); body.write(mb)
    val bb = body.toByteArray
    "RIFF".getBytes(ascii) ++ le32(bb.length) ++ bb
  }

  /** First 48 bits of MD5 over an ASCII key — the block-value mixer
    * [[buildAviBlocks]] and its oracle share. MD5, not a modular
    * formula: every linear-congruential scheme tried collapses the
    * per-content hash space (the grid is additive in (content, k), so
    * the whole signature ends up a function of one small residue and
    * a 600k-id corpus piles thousands of ids onto each hash — a
    * quadratic pair blowup the guards would trip on). A cryptographic
    * mix gives pairwise-independent 64-bit signatures (zero accidental
    * radius-3 pairs, measured on 1.8k ids), and DuckDB replays it
    * exactly: `CAST('0x' || substr(md5(key), 1, 12) AS BIGINT)`. */
  private[graft] def md5Hex12(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** The block gray level of [[buildAviBlocks]] (and of its Scala/SQL
    * replays): block k = by·9+bx of frame f for a given content id,
    * `v = floorMod(md5_48("v|content|k") + 53·f·[by=7]
    *      + jit·[by=0 ∧ bx=floorMod(content,9)], 199) + 1`.
    * Frames are IDENTICAL except row 7 (so majority pooling over the
    * sampled frames has a stable body plus a genuinely-voted row) and
    * `jit` perturbs the single block (0, content mod 9) — moving at
    * most the two hash bits that compare against it, so near-dup
    * corpora with known small Hamming distances are built
    * arithmetically. */
  private[graft] def blockVideoLevel(content: Long, f: Int, by: Int,
      bx: Int, jitter: Long): Int = {
    val k = by * 9 + bx
    val jit =
      if (by == 0 && bx == math.floorMod(content, 9L).toInt) jitter else 0L
    val ft = if (by == 7) 53L * f else 0L
    (math.floorMod(md5Hex12(s"v|$content|$k") + ft + jit, 199L) + 1L).toInt
  }

  /** Test-pattern AVI encoder for the oracle-gated VIDEO roundtrip —
    * the video sibling of [[buildBlockPng]]: renders `frames` 18×16
    * grayscale BMP frames whose 2×2 pixel blocks are constant at
    * [[blockVideoLevel]]. BMP is lossless and the 18×16 grid maps
    * exactly onto the 9×8 dHash blocks, so the decoded per-frame hash
    * is a pure integer comparison pattern: the full encode → mux →
    * demux → decode → luma → block-mean → dHash → majority-pool
    * journey replays codec-free in the DuckDB oracle (a byte-domain
    * fallback cannot match it). Output `(media_id, data)`. Narrow
    * `mapPartitions`; blobs never shuffle. */
  def buildAviBlocks(df: DataFrame, idCol: String, contentCol: String,
      jitterCol: String, frames: Int = 3): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val contentIdx = df.schema.fieldIndex(contentCol)
    val jitterIdx = df.schema.fieldIndex(jitterCol)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("data", BinaryType, nullable = true)))
    df.mapPartitions { it =>
      it.map { r =>
        val content = r.getAs[Number](contentIdx).longValue
        val jitter = r.getAs[Number](jitterIdx).longValue
        val frameBufs = (0 until frames).map { f =>
          val img = new java.awt.image.BufferedImage(
            18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 18) {
              val v = blockVideoLevel(content, f, y / 2, x / 2, jitter)
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bmp = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "bmp", bmp)
          bmp.toByteArray
        }
        Row(r.getLong(idIdx), muxAvi00db(frameBufs))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** REAL video demux + frame decode for AVI/MJPEG — the one video
    * container walkable in pure JDK: [[demuxAvi]] extracts the frame
    * chunks, `n` evenly-spaced ones are decoded with ImageIO (each
    * MJPEG frame is a standalone JPEG) and emitted with the shared
    * [[pixelFeatures]] kernel — same output schema as
    * [[sampleGifFrames]]. Raw-DIB `##db` payloads decode through the
    * stream's `strf` header ([[decodeAviFrame]]); frames neither form
    * can decode are skipped;
    * non-AVI blobs yield zero rows. Narrow per-row flatMap — blobs
    * never shuffle, only sampled frames decode. */
  def sampleAviFrames(df: DataFrame, n: Int): DataFrame = {
    val idIdx = df.schema.fieldIndex("media_id")
    val dataIdx = df.schema.fieldIndex("data")
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](dataIdx)
        val spans = if (bytes == null) Array.empty[(Int, Int)]
          else demuxAviSpans(bytes)
        val total = spans.length
        val dib = if (total == 0) null else aviVideoFormat(bytes)
        // spans, not payload copies: a 10k-frame container sampled at
        // n=3 copies 3 frames' bytes, not the whole movi payload
        pickIndices(n, total).zipWithIndex.flatMap { case (fi, no) =>
          val (o, l) = spans(fi)
          val img = decodeAviFrame(bytes, o, l, dib)
          if (img == null) None
          else Some(Row(r.getLong(idIdx), no, fi, total,
            pixelFeatures(img).toSeq))
        }.iterator
      }
    }(org.apache.spark.sql.Encoders.row(frameSchema))
  }

  /** Per-blob VIDEO hash kernel: demux the container, decode `n`
    * evenly-spaced frames ([[pickIndices]] — only sampled frames are
    * decoded), [[pixelDHash]] each, and MAJORITY-POOL the per-frame
    * hashes bitwise into one 64-bit signature: bit j is set iff at
    * least half the decoded frames set it (ties round UP — with k
    * even and a j split k/2:k/2 the bit is 1, documented so the
    * oracle replays it). Pooling, not min-selection: a re-encode
    * perturbs each frame hash by a few bits, and a per-bit vote
    * across frames stays within a small Hamming radius of the
    * original, whereas picking any single frame's hash can jump
    * arbitrarily when the selection flips. Non-AVI blobs and
    * containers whose every sampled frame fails to decode fall back
    * to [[byteDHash]] (the dirty-corpus posture shared by the image
    * and audio tiers). */
  private[graft] def videoHashOf(n: Int)(bytes: Array[Byte]): Long = {
    val spans = demuxAviSpans(bytes)
    if (spans.isEmpty) return byteDHash(bytes)
    val dib = aviVideoFormat(bytes)
    val hashes = pickIndices(n, spans.length).flatMap { fi =>
      val (o, l) = spans(fi)
      val img = decodeAviFrame(bytes, o, l, dib)
      if (img == null) None else Some(pixelDHash(img))
    }
    if (hashes.isEmpty) byteDHash(bytes)
    else {
      val k = hashes.length
      var h = 0L
      var j = 0
      while (j < 64) {
        var c = 0
        hashes.foreach(fh => if ((fh >>> j & 1L) == 1L) c += 1)
        if (2 * c >= k) h |= 1L << j
        j += 1
      }
      h
    }
  }

  /** Perceptual hash column for a VIDEO corpus — the video analog of
    * [[mediaHash]]/[[audioHash]]: [[videoHashOf]] majority-pools the
    * [[pixelDHash]] of `n` sampled frames, so the signature is stable
    * under per-frame re-encode noise and container rewraps that keep
    * the frame content. Adds `phash` / `phash_bits`; `withBits =
    * false` skips the bit-string allocation (the pair tier does).
    * Narrow `mapPartitions`; blobs never shuffle, only sampled frames
    * decode. */
  def videoHash(df: DataFrame, n: Int = 3,
      withBits: Boolean = true): DataFrame =
    hashStage(df, videoHashOf(n), withBits)

  /** [[mediaNearDups]] for VIDEO blobs: pairs within `maxHamming` of
    * the majority-pooled [[videoHash]]. Same adaptive banding, guards
    * and conservative defaults
    * ([[graft.operators.Dedup.hammingNearDups]], [[mediaNearDups]]);
    * the demux+decode kernel runs once (checkpointed hash-only
    * (id, hash) projection). */
  def videoNearDups(df: DataFrame, idCol: String, n: Int = 3,
      maxHamming: Int = 3,
      maxBucket: Int = 100000,
      maxCandidatePairs: Long = 100000000L): DataFrame =
    Dedup.hammingNearDups(
      videoHash(df, n, withBits = false)
        .select(col(idCol).as("__mid"), col("phash"))
        .filter(col("phash").isNotNull)
        .localCheckpoint(true),
      "__mid", "phash", maxHamming, maxBucket, maxCandidatePairs)

  /** Decode-budget gate — the 100 TB cost knob for the media family.
    * Codec CPU is this pipeline's honest dominant cost (q_video_features
    * is a linear narrow map: ~42 s at sf1 with zero shuffles), and it is
    * linear in decoded BLOBS × frames-per-blob — so the budget caps the
    * blob count BEFORE any decode runs, deterministically:
    * `rowFraction` of rows survive by id-hash ([[Sampling.hashUniform]]
    * — append- and partitioning-stable, so re-running a crawl stage
    * decodes the SAME subset, and a grown corpus keeps its previously
    * decoded ids). The frames-per-blob half of the budget is the `n`
    * the samplers already take ([[sampleGifFrames]]/[[sampleAviFrames]]
    * decode only the picked indices — `pickIndices` seeks, it never
    * decodes the rest). Compose: `decodeMedia(decodeBudget(df, "media_id",
    * 0.01))` costs 1% of the full crawl's codec CPU. */
  def decodeBudget(df: DataFrame, idCol: String, rowFraction: Double,
      salt: String = "decode-budget"): DataFrame =
    Sampling.hashSample(df, idCol, rowFraction, salt)

  /** Frame sampling: cut `n` evenly-spaced fixed-width byte windows from
    * the blob (video-frame-sampling shape; windows of real codecs would
    * be keyframes). Pure Column ops — `substring` on binary is codegen'd. */
  def frameSample(df: DataFrame, n: Int, frameBytes: Int = 16): DataFrame = {
    val frames = (0 until n).map { i =>
      struct(lit(i).as("frame_no"),
        expr(s"substring(data, cast(meta.n_bytes * $i / $n as int) + 1, $frameBytes)")
          .as("frame"))
    }
    df.select(col("media_id"), explode(array(frames: _*)).as("f"))
      .select(col("media_id"), col("f.frame_no").as("frame_no"),
        col("f.frame").as("frame"))
  }
}
