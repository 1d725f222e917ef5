package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL audio decode for the multimodal family — the third modality next
  * to [[Images]] (pixels) and [[Binary]] (opaque bytes), built on the
  * JDK's own codec: `javax.sound.sampled` reads and writes RIFF/WAVE PCM
  * with zero external dependencies, so the sample path (decode → window
  * features → fingerprint) runs for real, not as a stub.
  *
  * PCM is LOSSLESS, which is what makes the whole path oracle-checkable
  * (the [[Images.patternPayload]] discipline on the time axis): a
  * procedurally generated 16-bit pattern survives encode+decode
  * bit-exactly, so an engine that recomputes the pattern arithmetically
  * (DuckDB, pure SQL) must agree with features computed from the decoded
  * samples — proving the codec round-trip, not just the arithmetic.
  *
  * Shape: every per-payload pass is a fused `mapPartitions` (payloads
  * stream through, sample buffers never enter a row or a shuffle), and
  * feature arithmetic is INTEGER throughout (|v| ≤ 32768, window sums
  * bounded well inside a Long), so results are bit-portable across
  * engines. Streams are closed explicitly — the q144 fd-leak lesson.
  */
object Audio {

  /** Mono 16-bit signed little-endian PCM at 8 kHz — the one WAV shape
    * every [[wavPayload]] fixture ships and [[decodeSamples]] requires. */
  private def pcmFormat: AudioFormat =
    new AudioFormat(8000f, 16, 1, true, false)

  // The REAL JDK codec providers, loaded ONCE per JVM: every
  // AudioSystem.getAudioInputStream / AudioSystem.write call re-resolves
  // its providers through the JDK's SYNCHRONIZED JDK13Services registry,
  // so 32 decode threads serialize on one global lock — measured round
  // 10: distributing q152's codec pass across 32 cores made it SLOWER
  // (13.5 → 39.7 s) until the per-call lookup went away. The SPI is
  // public; these are the same WaveFileReader/Writer classes AudioSystem
  // would pick.
  private lazy val wavReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }
  private lazy val wavWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private def openWav(in: java.io.InputStream, where: String): AudioInputStream = {
    wavReaders.foreach { r =>
      try return r.getAudioInputStream(in)
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => in.reset()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      s"$where: no provider decodes this payload")
  }

  private def writeWav(ais: AudioInputStream, out: ByteArrayOutputStream): Unit = {
    wavWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais)) match {
      case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, out); ()
      case None => throw new IllegalStateException("JDK WAVE writer unavailable")
    }
  }

  /** Deterministic procedural WAV (the fixture generator and the SQL
    * oracle share this DEFINITION, not code): with s2 = (seed div 65536)
    * mod 256, sample i of pattern `seed` is
    * v(i) = (((31 + 2·s2)·i + (1777·seed mod 65536)) mod 65536) − 32768 —
    * a full-swing 16-bit sawtooth whose PHASE walks ~0.9 of a 64-sample
    * window per seed step (adjacent seeds are near-dups) and whose
    * FREQUENCY the s2 block selects (31 + 2·s2 is odd, so every slope is
    * full-period). The phase is BIJECTIVE in seed mod 65536 (1777 is odd,
    * hence a unit mod 2^16) — the round-12 fix: the round-10 form
    * (phase = 1777·(seed mod 256), slope from seed div 256) realized only
    * 256 slopes × 256 phases = 65536 distinct profiles despite its
    * docstring's 16.7M claim, so past ~65k·5 docs the q153 DIV-5 clusters
    * silently merged across seeds and pair volume densified quadratically
    * (the sf30 probe read 4.7× sf10's wall for 3× data with a fresh
    * 6.4 GB spill — §15 trap 1 at a deeper threshold). Now 256 slopes ×
    * 65536 phases ≈ 16.7M profiles; seeds below 256 stay bit-identical to
    * the old pattern (slope word 0 either way, and the sample's outer
    * mod 65536 absorbs the phase reduction), so consumers whose seeds
    * stay below 256 — q141/q152 and every spec fixture — are unchanged.
    * q153's seeds (doc_id DIV 5) exceed 255 above ~1280 docs, so its
    * gate-SF payloads and pair set DID change with this fix, and its
    * oracle SQL was rewritten in the same diff to match (r12). Encoded
    * through the REAL JDK WAVE writer. */
  def wavPayload(seed: Long, nSamples: Int): Array[Byte] = {
    require(nSamples >= 1, s"wavPayload: need nSamples >= 1, got $nSamples")
    val pcm = new Array[Byte](nSamples * 2)
    val slope = 31L + 2L * ((seed / 65536) % 256)
    val phase = (1777L * seed) % 65536
    var i = 0
    while (i < nSamples) {
      val v = (((slope * i + phase) % 65536) - 32768).toInt
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), pcmFormat, nSamples.toLong)
    // presized: RIFF header (44 B) + 2 B/sample. The default 32-byte
    // buffer doubles-and-copies ~log2(n) times per payload — at sf10 the
    // encode pass writes ~10 GB of WAV, so the copies were a measurable
    // slice of q152's 12.7× decade ratio.
    val out = new ByteArrayOutputStream(nSamples * 2 + 64)
    try writeWav(ais, out)
    finally ais.close()
    out.toByteArray
  }

  /** (idCol, payload) per row — WAV ingest stand-in; seed and length come
    * from columns so controlled cross-payload duplicates exist. */
  def withWavPayload(
      df: DataFrame, idCol: String, seedCol: String, samplesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // spread the CPU-bound codec pass across every core BEFORE the
    // fused mapPartitions: a small-file corpus arrives as one parquet
    // split, which pinned the whole encode+decode family to a single
    // core (the round-10 sf10 audit's 25× wall on q152) — three slim
    // columns shuffle, payloads are born distributed
    graft.core.Par.fanOut(df.select(col(idCol).cast("long").as(idCol),
        col(seedCol).cast("long"), col(samplesCol).cast("int")))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (id, seed, n) => (id, wavPayload(seed, n)) })
      .toDF(idCol, "payload")
  }

  /** Decode a WAV payload through the REAL JDK reader into exact signed
    * 16-bit samples (+ the codec-reported sample rate — surfaced so the
    * oracle proves the header round-trip too, not just the samples). */
  private def decodeSamples(
      payload: Array[Byte], where: String): (Array[Int], Int) = {
    val ais = openWav(new ByteArrayInputStream(payload), where)
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"$where: need mono 16-bit signed PCM, got $fmt")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 2
      val out = new Array[Int](n)
      val be = fmt.isBigEndian
      var i = 0
      while (i < n) {
        out(i) =
          if (be) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xFF)
          else (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xFF)
        i += 1
      }
      (out, math.round(fmt.getSampleRate))
    } finally ais.close()
  }

  private val featureSchema = StructType(Seq(
    StructField("_id", LongType, nullable = false),
    StructField("window_idx", IntegerType, nullable = false),
    StructField("n_windows", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("window_fp", LongType, nullable = false)))

  /** Decode + per-window features in ONE fused pass, one row per
    * `windowSamples`-sample window with exact INTEGER features:
    * `sum_abs` = Σ|v| (loudness), `energy` = Σv² (the RMS numerator —
    * ≤ 6.9e10 per 64-sample window, well inside a Long), and
    * `window_fp` = Σ v·(j+1)² — the position-weighted fingerprint
    * [[Images.gifFrames]] uses on luma, here over the window's samples
    * (j = offset in window), a plain SUM in SQL so window identity joins
    * cross engines exactly. Requires the payload length divisible by the
    * window (the [[Images.imageFeatures]] dims-divisible-by-8 bargain). */
  def wavFeatures(
      df: DataFrame, idCol: String, payloadCol: String,
      windowSamples: Int): DataFrame = {
    require(windowSamples >= 1, s"need windowSamples >= 1, got $windowSamples")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val (v, rate) = decodeSamples(payload, s"wavFeatures(id=$id)")
          require(v.length % windowSamples == 0 && v.length > 0,
            s"wavFeatures(id=$id): need length % $windowSamples == 0, got ${v.length}")
          val nw = v.length / windowSamples
          (0 until nw).map { w =>
            var sa = 0L; var en = 0L; var fp = 0L
            var j = 0
            while (j < windowSamples) {
              val s = v(w * windowSamples + j).toLong
              sa += math.abs(s)
              en += s * s
              fp += s * (j + 1L) * (j + 1L)
              j += 1
            }
            Row(id, w, nw, rate, sa, en, fp)
          }
        }
      }(org.apache.spark.sql.Encoders.row(featureSchema))
      .withColumnRenamed("_id", idCol)
  }

  /** 64-bit audio fingerprint — the sign-of-energy-delta bit the
    * landmark/robust-hashing literature standardized (Haitsma & Kalker
    * 2002's energy-difference sign, mono-band): bit w = 1 iff
    * E(w+1) > E(w) over the first 65 `windowSamples`-sample windows.
    * Deltas discard absolute gain (the audio analogue of pHash dropping
    * the DC term) and every intermediate is an integer, so the
    * fingerprint is BIT-PORTABLE across engines. Output `(_id, simhash)`
    * feeds [[graft.operators.SimHash.hammingPairs]] directly — the SAME
    * banded machinery as text simhash and the image hashes. */
  def audioFingerprint(
      df: DataFrame, idCol: String, payloadCol: String,
      windowSamples: Int): DataFrame = {
    require(windowSamples >= 1, s"need windowSamples >= 1, got $windowSamples")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (v, _) = decodeSamples(payload, s"audioFingerprint(id=$id)")
          require(v.length >= 65 * windowSamples,
            s"audioFingerprint(id=$id): need >= ${65 * windowSamples} samples " +
              s"for 64 delta bits, got ${v.length}")
          val e = new Array[Long](65)
          var w = 0
          while (w < 65) {
            var en = 0L
            var j = 0
            while (j < windowSamples) {
              val s = v(w * windowSamples + j).toLong
              en += s * s
              j += 1
            }
            e(w) = en
            w += 1
          }
          var h = 0L
          var b = 0
          while (b < 64) {
            if (e(b + 1) > e(b)) h |= (1L << b)
            b += 1
          }
          (id, h)
        }
      }
      .toDF("_id", "simhash")
  }

  /** Near-dup audio pairs under the delta-energy fingerprint — the
    * [[Images.nearDups]] twin for the time axis: fingerprints off the
    * REAL WAV decode, candidates via the shared pigeonhole banding
    * (never all-pairs), exact bit_count verify. (a, b, hamming), a < b. */
  def nearDupAudio(
      df: DataFrame, idCol: String, payloadCol: String,
      windowSamples: Int, maxHamming: Int = 3): DataFrame =
    graft.operators.SimHash.hammingPairs(
      audioFingerprint(df, idCol, payloadCol, windowSamples), maxHamming)
}
