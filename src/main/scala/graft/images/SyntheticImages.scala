package graft.images

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.config.GoldenConfig

/** Deterministic synthetic input_hint table (BASELINE.json):
  * (image_id string, bytes binary, w int, h int, fmt string, caption string,
  * phash long) plus a planted-truth pair table — FIXTURES.md §2.
  *
  * Generation is a pure function of (seed, id): duplicates regenerate their
  * base row's caption/pixels locally, so the generator is embarrassingly
  * parallel (spark.range → map, no shuffle, no driver loop) and scales to
  * any n. Layout per 20-id block (m = id % 20):
  *   m == 8  → D1 near-caption dup of base id-8 (1 token edit, same bytes)
  *   m == 9  → D3 near-image dup of base id-9 (same caption, JPEG re-encode)
  *   m == 18 → D2 substring dup of base id-18 (long shared token run)
  *   m == 19 → D0 exact dup of base id-19
  *   m == 7 && block % 5 == 0 → "viral" row: caption "photo" with fresh
  *     pixels (~1% of rows) — identical captions, NON-duplicates; forces a
  *     mega LSH bucket to exercise salting + the image-verify precision guard
  *   otherwise → independent base/negative row
  */
object SyntheticImages {

  case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                      fmt: String, caption: String, phash: Long)
  case class TruthPair(a: String, b: String, cls: String)

  val W = 32
  val H = 32

  private val words: Array[String] = Array(
    "sunset", "harbor", "mountain", "forest", "river", "skyline", "meadow",
    "lantern", "bridge", "garden", "temple", "market", "desert", "glacier",
    "island", "canyon", "village", "lighthouse", "orchard", "waterfall",
    "autumn", "winter", "spring", "summer", "golden", "misty", "quiet",
    "ancient", "vivid", "gentle", "crimson", "azure", "amber", "silver",
    "hidden", "distant", "frozen", "blooming", "twilight", "dawn")

  def imageId(id: Long): String = f"img_$id%09d"

  private def rng(seed: Long, id: Long, salt: Long): java.util.Random =
    new java.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L) ^ (salt * 0xC2B2AE3D27D4EB4FL))

  private def baseCaption(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, id, 1)
    // 30..45 tokens: a single token edit keeps 3-shingle Jaccard
    // J = (s-3)/(s+3) >= (28-3)/(28+3) ≈ 0.81 >= τ = 0.8
    val n = 30 + r.nextInt(16)
    Array.fill(n)(words(r.nextInt(words.length)))
  }

  /** Pure row generator. */
  def genRow(seed: Long, id: Long): ImageRow = {
    val m = id % 20
    val block = id / 20
    val baseId = id - m
    m match {
      case 8 => // D1: near-caption (single token edit), identical pixels
        val cap = baseCaption(seed, baseId)
        val r = rng(seed, id, 2)
        val edited = cap.clone()
        edited(r.nextInt(cap.length)) = "edited" // token outside the wordlist
        fromPixels(seed, baseId, id, edited.mkString(" "), "png")
      case 9 => // D3: same caption, JPEG re-encode of base pixels
        val cap = baseCaption(seed, baseId).mkString(" ")
        fromPixels(seed, baseId, id, cap, "jpg")
      case 18 => // D2: long common token run, different prefix/suffix
        val cap = baseCaption(seed, baseId)
        val r = rng(seed, id, 3)
        val runLen = math.min(cap.length, GoldenConfig.SubstringL + 2 + r.nextInt(4))
        val run = cap.take(runLen)
        val pre = Array.fill(4)(words(r.nextInt(words.length)))
        val post = Array.fill(4)(words(r.nextInt(words.length)))
        fromPixels(seed, baseId, id, (pre ++ run ++ post).mkString(" "), "png")
      case 19 => // D0: exact duplicate row (same caption, same bytes)
        val cap = baseCaption(seed, baseId).mkString(" ")
        fromPixels(seed, baseId, id, cap, "png")
      case 7 if block % 5 == 0 =>
        // viral caption, fresh pixels — NOT a dup. 4 tokens ⇒ 2 shingles ⇒
        // every viral row lands in the same LSH band buckets (identical
        // signatures) — the mega-bucket that exercises salting; the image
        // verify (Hamming prefilter) must keep precision.
        fromPixels(seed, id, id, "photo of a photo", "png")
      case _ => // independent row
        fromPixels(seed, id, id, baseCaption(seed, id).mkString(" "), "png")
    }
  }

  private def fromPixels(seed: Long, pixelId: Long, rowId: Long,
                         caption: String, fmt: String): ImageRow = {
    val px = ImageCodec.proceduralPixels(seed, pixelId, W, H)
    val bytes = fmt match {
      case "jpg" => ImageCodec.encodeJpeg(px, W, H, 0.97f)
      case _     => ImageCodec.encodePng(px, W, H)
    }
    // phash over the pixels as DECODED from bytes (what a consumer sees)
    val ph = if (fmt == "jpg") ImageCodec.phashOfBytes(bytes)
             else ImageCodec.phash(px, W, H)
    ImageRow(imageId(rowId), bytes, W, H, fmt, caption, ph)
  }

  /** Distributed generation: n rows, no shuffle, no driver loop. */
  def generate(spark: SparkSession, n: Long, seed: Long = GoldenConfig.Seed): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, math.max(1, math.min(256, n / 500)).toInt)
      .map(id => genRow(seed, id))
  }

  /** Planted truth pairs (a < b lexicographically = numerically here). */
  def truth(spark: SparkSession, n: Long): Dataset[TruthPair] = {
    import spark.implicits._
    spark.range(0L, n).flatMap { id =>
      val m = id % 20
      val baseId = id - m
      if ((m == 8 || m == 9 || m == 18 || m == 19) && baseId < id)
        Some(TruthPair(imageId(baseId), imageId(id),
          m match { case 8 => "D1"; case 9 => "D3"; case 18 => "D2"; case _ => "D0" }))
      else None
    }
  }
}
