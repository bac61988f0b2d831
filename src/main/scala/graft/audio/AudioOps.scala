package graft.audio

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.GoldenConfig.{P, LcgMul, LcgAddA}

/** Audio modality plumbing (builder-prompt multimodal surface: "image/
  * audio/video as opaque binary columns with typed metadata ... STUB the
  * decode step behind a deterministic fake when the codec libs aren't in
  * the container").
  *
  * REAL here: the schema contract (audio_id, bytes, duration_ms), the
  * hop-window sampler, the per-window feature table (energy / zero
  * crossings / window hash), the majority-vote 64-bit fingerprint
  * (Chromaprint-style: bit b of the fingerprint is the majority of bit b
  * over the clip's window hashes, so clips sharing most windows land at
  * small Hamming distance), and the composition — fingerprints feed the
  * existing [[graft.operators.SimHashNearDup.nearDupPairs]] Hamming path
  * unchanged.
  *
  * STUBBED here: the actual MP3/AAC/PCM decode — no audio codec ships in
  * /opt/spark/jars or the JDK. `decodePcmStub` synthesizes deterministic
  * pseudo-PCM from the CONTENT BYTES OF THE WINDOW'S TIME SLICE (not the
  * whole clip), so a clip edited near its end still shares its early
  * windows with the original — the property every downstream test
  * exercises. Swap `decodePcmStub` for a JavaSound/ffmpeg binding on a
  * real deployment; nothing else changes.
  */
object AudioOps {

  /** Window start offsets: 0, hopMs, 2·hopMs, ... while a full window fits
    * in [0, durationMs). At least one window for any positive duration. */
  def sampleWindowsMs(durationMs: Long, windowMs: Long, hopMs: Long): Seq[Long] = {
    require(windowMs > 0 && hopMs > 0 && durationMs > 0,
      "need positive duration, window and hop")
    val starts = 0L to (durationMs - windowMs) by hopMs
    if (starts.isEmpty) Seq(0L) else starts
  }

  /** STUB PCM decode (see scaladoc): `nSamples` deterministic pseudo-PCM
    * samples in [-32768, 32768) from the byte slice that the window's time
    * range maps onto. */
  def decodePcmStub(bytes: Array[Byte], offsetMs: Long, windowMs: Long,
                    durationMs: Long, nSamples: Int = 256): Array[Int] = {
    val from = (bytes.length * offsetMs / durationMs).toInt
    val until = math.min(bytes.length,
      math.max(from + 1, (bytes.length * (offsetMs + windowMs) / durationMs).toInt))
    var seed = 1125899906842597L // content hash of the slice (FNV-ish)
    var i = from
    while (i < until) { seed = seed * 31 + bytes(i); i += 1 }
    val out = new Array[Int](nSamples)
    var s = seed
    var j = 0
    while (j < nSamples) {
      s = s * 6364136223846793005L + 1442695040888963407L // splitmix-style LCG
      out(j) = (s >>> 40).toInt - 8388608 >> 8              // 16-bit-ish sample
      j += 1
    }
    out
  }

  /** Energy (mean |sample| to keep magnitudes long-safe), zero crossings,
    * and a 64-bit window hash mixing the quantized features with the
    * pinned LCG — the per-window acoustic signature. */
  def windowFeatures(pcm: Array[Int]): (Long, Long, Long) = {
    var sumAbs = 0L
    var zc = 0L
    var i = 0
    while (i < pcm.length) {
      sumAbs += math.abs(pcm(i).toLong)
      if (i > 0 && ((pcm(i) >= 0) != (pcm(i - 1) >= 0))) zc += 1
      i += 1
    }
    val energy = if (pcm.isEmpty) 0L else sumAbs / pcm.length
    var h = 0L
    i = 0
    while (i < pcm.length) { // full-resolution content hash, not just moments
      h = h * LcgMul + pcm(i) + LcgAddA
      i += 1
    }
    (energy, zc, h)
  }

  /** (audio_id, window_idx, offset_ms, energy, zero_crossings, window_hash):
    * one row per hop window per clip. Input: (idCol, bytesCol,
    * durationMsCol). The explode factor is duration/hop — bounded by the
    * clip length, never by corpus size. */
  def featureTable(df: DataFrame, idCol: String, bytesCol: String,
                   durationMsCol: String, windowMs: Long = 1000L,
                   hopMs: Long = 1000L): DataFrame = {
    val winUdf = udf((b: Array[Byte], durMs: Long) =>
      if (b == null || b.isEmpty || durMs <= 0) Seq.empty[(Long, Long, Long, Long, Long)]
      else sampleWindowsMs(durMs, math.min(windowMs, durMs), hopMs).zipWithIndex.map {
        case (off, idx) =>
          val (e, zc, h) = windowFeatures(
            decodePcmStub(b, off, math.min(windowMs, durMs), durMs))
          (idx.toLong, off, e, zc, h)
      })
    df.select(col(idCol).as("audio_id"),
        explode(winUdf(col(bytesCol), col(durationMsCol))).as("w"))
      .select(col("audio_id"), col("w._1").as("window_idx"),
        col("w._2").as("offset_ms"), col("w._3").as("energy"),
        col("w._4").as("zero_crossings"), col("w._5").as("window_hash"))
  }

  /** 64-bit clip fingerprint: bit b is set iff the majority of the clip's
    * window hashes have bit b set (ties → 0) — delegates to the shared
    * [[graft.operators.SimHashNearDup.majorityFingerprint]]; the output
    * (id, simhash) feeds its `nearDupPairs` Hamming path directly. */
  def fingerprints(features: DataFrame): DataFrame =
    graft.operators.SimHashNearDup.majorityFingerprint(
      features, "audio_id", "window_hash")
}
