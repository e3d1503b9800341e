package graft.functions

import graft.operators.{Flac, MediaFixtures, WavPcm}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** flac_wav(bytes) -> binary: REAL FLAC decode ([[Flac.decode]] —
  * prediction, Rice residuals, stereo decorrelation, CRC-8/16, MD5)
  * re-wrapped as a canonical RIFF/WAVE via [[WavPcm.wavFromSamples]].
  * The bridge pattern of `avi_audio_wav`: EVERY existing audio kernel
  * (`wav_stats`, `wav_windows`, `wav_spectral`, `wav_resample`,
  * `wav_pcm_bytes` dedup) serves compressed FLAC content unchanged,
  * with no second audio-analysis path to keep consistent. Dirty or
  * out-of-subset bytes → null, never an exception — per-row codegen'd
  * kernel riding the scan, the 100 TB shape shared by all codecs. */
case class FlacWav(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "flac_wav"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(FlacWav, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object FlacWav {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte]): Array[Byte] =
    Flac.decode(bytes) match {
      case Some(d) => WavPcm.wavFromSamples(d.channels, d.sampleRate, d.samples)
      case None => null
    }
}

/** flac_media_for_id(id) -> binary: the FLAC fixture bytes
  * ([[MediaFixtures.flacMediaFor]] — WAV-contract samples through the
  * real FLAC encoder). */
case class FlacMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "flac_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "flacMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
