package graft.functions

import java.io.ByteArrayInputStream

import javax.sound.sampled.AudioSystem
import javax.sound.sampled.AudioFormat.{Encoding => E}

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}

/** Audio decode → fixed-width feature vector, through
  * `javax.sound.sampled` (ships with the JDK and decodes RIFF/WAVE — PCM,
  * and a-law/µ-law via conversion — AIFF and AU with no extra dependency).
  *
  * Input: BINARY payload. Output: `array<double>` of length
  * [[AudioFeaturesExpr.Dim]] —
  *   [n_channels, sample_rate_hz, n_frames, duration_s,
  *    mean, rms, peak, zero_crossing_rate]
  * where the four signal moments are computed over channel-averaged
  * samples normalized to [-1, 1]; NULL when no JDK codec decodes the
  * payload (mp3/flac/ogg payloads keep `Multimodal.fakeEmbedding` as
  * their documented stand-in).
  *
  * Same shape as [[ImageFeaturesExpr]]: a codec cannot be expressed with
  * built-ins, so the expression is replaced by a `StaticInvoke` of
  * [[AudioFeaturesExpr.compute]] inside whole-stage codegen, and the work
  * is a per-row, state-free, driver-free map with no shuffle.
  *
  * Determinism: PCM WAV decode is bit-exact (integer samples read from the
  * container), so the features are exact and spec-pinned — MultimodalSpec
  * synthesizes known-sample WAVs with `AudioSystem.write` and asserts
  * bit-exact doubles against the same arithmetic.
  */
case class AudioFeaturesExpr(child: Expression)
  extends RuntimeReplaceable with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes = Seq(BinaryType)

  /** Nullable over non-null input: undecodable payloads yield NULL, the
    * try_cast / from_json best-effort contract.
    */
  override lazy val replacement: Expression =
    StaticInvoke(AudioFeaturesExpr.getClass, ArrayType(DoubleType, containsNull = false),
      "compute", Seq(child), returnNullable = true)

  override protected def withNewChildInternal(newChild: Expression): AudioFeaturesExpr =
    copy(child = newChild)
}

object AudioFeaturesExpr {
  val Dim = 8

  /** The kernel: features of one payload, or null when undecodable.
    *
    * Samples are decoded from the container's own PCM frames, not through
    * the JDK's PCM-to-PCM converter: that converter only handles 8↔16-bit
    * sign/endian swaps, so a valid 24-bit, 32-bit or IEEE-float WAV would
    * throw in it and read as "no JDK codec". Signed/unsigned 8/16/24/32-bit
    * integers and 32/64-bit floats are decoded directly and exactly; only
    * a-law/µ-law go through the JDK converter (to 16-bit signed, which it
    * supports).
    */
  def compute(bytes: Array[Byte]): ArrayData = {
    val in =
      try AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: Exception => return null }
    try {
      val enc0 = in.getFormat.getEncoding
      val pcm =
        if (enc0 == E.ALAW || enc0 == E.ULAW) {
          val f0 = in.getFormat
          AudioSystem.getAudioInputStream(
            new javax.sound.sampled.AudioFormat(
              E.PCM_SIGNED, f0.getSampleRate, 16, f0.getChannels,
              2 * f0.getChannels, f0.getSampleRate, false), in)
        } else in
      val fmt = pcm.getFormat
      val enc = fmt.getEncoding
      val ch = fmt.getChannels
      val bits = fmt.getSampleSizeInBits
      val bytesPer = (bits + 7) / 8
      val big = fmt.isBigEndian
      val ok =
        (enc == E.PCM_SIGNED || enc == E.PCM_UNSIGNED) &&
          (bits == 8 || bits == 16 || bits == 24 || bits == 32) ||
          enc == E.PCM_FLOAT && (bits == 32 || bits == 64)
      // A crafted header can declare rate 0 or the AudioSystem
      // NOT_SPECIFIED sentinel (-1); duration and the rate feature would
      // then be Infinity/garbage instead of NULL for undecodable input.
      if (!ok || ch <= 0 || !(fmt.getSampleRate > 0)) return null
      val frameBytes =
        if (fmt.getFrameSize > 0) fmt.getFrameSize else bytesPer * ch
      if (frameBytes < bytesPer * ch) return null
      val data = pcm.readAllBytes()
      val nFrames = data.length / frameBytes
      if (nFrames == 0) return null
      // Raw |bits|-bit word at offset o, assembled per container
      // endianness, sign handling applied by the caller.
      def word(o: Int): Long = {
        var v = 0L
        var i = 0
        while (i < bytesPer) {
          val b = data(o + (if (big) bytesPer - 1 - i else i)) & 0xffL
          v |= b << (8 * i)
          i += 1
        }
        v
      }
      val half = 1L << (bits - 1) // integer full-scale divisor
      def sample(o: Int): Double = enc match {
        case E.PCM_SIGNED =>
          ((word(o) << (64 - bits)) >> (64 - bits)).toDouble / half
        case E.PCM_UNSIGNED =>
          (word(o) - half).toDouble / half
        case _ => // PCM_FLOAT, 32 or 64 bit
          if (bits == 32) java.lang.Float.intBitsToFloat(word(o).toInt).toDouble
          else java.lang.Double.longBitsToDouble(word(o))
      }
      var sum = 0.0; var sum2 = 0.0; var peak = 0.0
      var zc = 0L; var prevSign = 0
      var f = 0
      while (f < nFrames) {
        // Channel-average the frame.
        var acc = 0.0
        var c = 0
        while (c < ch) {
          acc += sample(f * frameBytes + bytesPer * c)
          c += 1
        }
        val x = acc / ch
        sum += x; sum2 += x * x
        val ax = math.abs(x)
        if (ax > peak) peak = ax
        val sign = if (x > 0.0) 1 else if (x < 0.0) -1 else 0
        if (sign != 0) {
          if (prevSign != 0 && sign != prevSign) zc += 1
          prevSign = sign
        }
        f += 1
      }
      new GenericArrayData(Array[Double](
        ch.toDouble, fmt.getSampleRate.toDouble, nFrames.toDouble,
        nFrames / fmt.getSampleRate.toDouble,
        sum / nFrames, math.sqrt(sum2 / nFrames), peak,
        if (nFrames > 1) zc.toDouble / (nFrames - 1) else 0.0))
    } catch { case _: Exception => null }
    finally in.close()
  }
}
