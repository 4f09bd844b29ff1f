package graft.functions

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}

/** Image decode → fixed-width feature vector, through `javax.imageio`
  * (ships with the JDK and decodes PNG/JPEG/GIF/BMP/WBMP with no extra
  * dependency).
  *
  * Input: BINARY payload. Output: `array<double>` of length
  * [[ImageFeaturesExpr.Dim]] —
  *   [width, height, aspect (w/h),
  *    r_mean, g_mean, b_mean,          (channel means, normalized to [0,1])
  *    lum_mean, lum_std,               (Rec.601 luminance, [0,1])
  *    lum_min, lum_max]
  * or NULL when the payload is not decodable by any registered ImageIO
  * reader (corrupt bytes, or a format with no JDK codec — flac/matroska
  * payloads still go through `Multimodal.fakeEmbedding`, the documented
  * stand-in for decoder-less modalities and ML-model embeddings).
  *
  * No built-in expression family can run a codec, so the expression is
  * replaced by a `StaticInvoke` of [[ImageFeaturesExpr.compute]]: the
  * surrounding operators stay inside whole-stage codegen around one static
  * call. Decode is per-row, allocation-bounded (one int[] of w·h per
  * payload), driver-free and state-free: a pure map stage with no shuffle.
  *
  * Determinism: PNG/GIF/BMP are lossless — identical bytes decode to
  * identical pixels on any compliant JVM, so the features are exact and
  * spec-pinned (MultimodalSpec synthesizes known-pixel PNGs with
  * `ImageIO.write` and asserts bit-exact doubles). JPEG decode is
  * implementation-defined at the pixel level; the spec asserts shape and
  * bounds, not exact values, for that format.
  */
case class ImageFeaturesExpr(child: Expression)
  extends RuntimeReplaceable with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes = Seq(BinaryType)

  /** Nullable even over non-null input: undecodable bytes yield NULL (the
    * row survives, the feature column is absent) — the same contract as
    * built-in best-effort parsers like try_cast / from_json.
    */
  override lazy val replacement: Expression =
    StaticInvoke(ImageFeaturesExpr.getClass, ArrayType(DoubleType, containsNull = false),
      "compute", Seq(child), returnNullable = true)

  override protected def withNewChildInternal(newChild: Expression): ImageFeaturesExpr =
    copy(child = newChild)
}

object ImageFeaturesExpr {
  val Dim = 10

  /** Decode-bomb bound: a few-KB payload can DECLARE an
    * enormous raster (a classic decompression bomb) and make the decoder
    * allocate w·h·4 bytes before any pixel is read — with many codegen
    * lanes decoding concurrently that is an executor OOM, not a bad row.
    * 16.7M pixels (≈ 4096×4096) caps the per-lane transient at ~64 MB
    * (raster) + ~64 MB (packed int[]); larger declared images return NULL
    * like any other undecodable payload. Readers expose the declared size
    * BEFORE raster allocation, so the bound costs nothing on good rows.
    */
  val MaxPixels: Long = 1L << 24

  /** The kernel: features of one payload, or null for anything no
    * registered reader can decode. The WHOLE body is guarded (not just the
    * read): a post-read raster/color-model exception must also yield NULL,
    * never a task failure.
    */
  def compute(bytes: Array[Byte]): ArrayData = try {
    // A per-call MemoryCacheImageInputStream rather than the process-wide
    // ImageIO.setUseCache(false) flag: the global setter
    // would silently change decode caching for every other ImageIO user in
    // the JVM; the explicit stream scopes "no temp-file spill per row" to
    // this expression alone.
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))
    // The no-registered-reader check lives INSIDE the try whose finally
    // closes iis, so a non-image payload does not leak the stream.
    val img = try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) null
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          // Declared dimensions come from the header — checked BEFORE the
          // raster is allocated (see MaxPixels).
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) null
          else reader.read(0)
        } finally reader.dispose()
      }
    } finally iis.close()
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return null
    // One bulk getRGB: per-pixel calls go through the color model per call;
    // the bulk form converts the raster once into packed ARGB.
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val n = px.length.toDouble
    var rS = 0.0; var gS = 0.0; var bS = 0.0
    var lS = 0.0; var l2S = 0.0
    var lMin = Double.MaxValue; var lMax = Double.MinValue
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val r = ((p >> 16) & 0xff) / 255.0
      val g = ((p >> 8) & 0xff) / 255.0
      val b = (p & 0xff) / 255.0
      val l = 0.299 * r + 0.587 * g + 0.114 * b // Rec.601 luminance
      rS += r; gS += g; bS += b
      lS += l; l2S += l * l
      if (l < lMin) lMin = l
      if (l > lMax) lMax = l
      i += 1
    }
    val lMean = lS / n
    val lVar = math.max(0.0, l2S / n - lMean * lMean)
    new GenericArrayData(Array[Double](
      w.toDouble, h.toDouble, w.toDouble / h.toDouble,
      rS / n, gS / n, bS / n,
      lMean, math.sqrt(lVar), lMin, lMax))
  } catch { case _: Exception => null }
}
