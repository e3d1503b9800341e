package graft.functions

import graft.operators.{Vorbis, VorbisEnc, WavPcm}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** vorbis_wav(bytes) -> binary: REAL Ogg/Vorbis packet decode
  * ([[Vorbis.decodeOgg]] — verified-CRC page walk, packet
  * reassembly, codebooks, floor1 curve synthesis, residue, IMDCT,
  * lapped overlap-add) re-wrapped as canonical RIFF/WAVE via
  * [[WavPcm.wavFromSamples]] — the same bridge pattern as `mp3_wav`
  * and `flac_wav`, so every existing audio kernel (`wav_stats`,
  * `wav_windows`, `wav_vad`, `wav_spectral`, resample, fingerprint
  * dedup) serves Ogg/Vorbis crawl audio unchanged. Dirty, truncated
  * or out-of-honest-subset bytes (floor0, two block sizes, Opus) →
  * null, never a throw. */
case class VorbisWav(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "vorbis_wav"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(VorbisWav, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VorbisWav {
  def compute(bytes: Array[Byte]): Array[Byte] =
    Vorbis.decodeOgg(bytes) match {
      case Some(d) if d.pcm.nonEmpty =>
        WavPcm.wavFromSamples(d.channels, d.sampleRate.toInt,
          d.pcm.map(_.toShort))
      case _ => null
    }
}

/** ogg_vorbis_media_for_id(id) -> binary: deterministic Ogg/Vorbis
  * fixture streams ([[VorbisEnc.fixture]] — real headers, codebooks,
  * floor/residue packets; rate and packet count closed-form in the
  * id so the oracle can state the stream dimensions). */
case class OggVorbisMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "ogg_vorbis_media_for_id"
  override def kernel: Kernel = Kernel(OggVorbisMediaBytes, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object OggVorbisMediaBytes {
  def compute(id: Long): Array[Byte] =
    VorbisEnc.fixture(
      rate = 8000L * (1 + id % 3),
      nPackets = (3 + id % 4).toInt,
      seed = id)
}

/** webm_vorbis_wav(bytes) -> binary: [[Vorbis.decodeWebm]] — the
  * SAME synthesis loop as `vorbis_wav`, headers from the Matroska
  * CodecPrivate Xiph lacing, packets from the audio track's
  * SimpleBlocks — through the RIFF bridge. */
case class WebmVorbisWav(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webm_vorbis_wav"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WebmVorbisWav, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebmVorbisWav {
  def compute(bytes: Array[Byte]): Array[Byte] =
    Vorbis.decodeWebm(bytes) match {
      case Some(d) if d.pcm.nonEmpty =>
        WavPcm.wavFromSamples(d.channels, d.sampleRate.toInt,
          d.pcm.map(_.toShort))
      case _ => null
    }
}

/** webm_vorbis_media_for_id(id) -> binary: [[VorbisEnc.webmFixture]]
  * with the SAME (rate, packets, seed) closed forms as
  * `ogg_vorbis_media_for_id` — one stream, two containers, so the
  * decoded PCM must be identical and the two declared stats queries
  * share one oracle. */
case class WebmVorbisMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webm_vorbis_media_for_id"
  override def kernel: Kernel = Kernel(WebmVorbisMediaBytes, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebmVorbisMediaBytes {
  def compute(id: Long): Array[Byte] =
    VorbisEnc.webmFixture(
      rate = 8000L * (1 + id % 3),
      nPackets = (3 + id % 4).toInt,
      seed = id)
}
