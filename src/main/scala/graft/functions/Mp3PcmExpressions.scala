package graft.functions

import graft.operators.{Mp3Fixtures, Mp3Pcm, WavPcm}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** mp3_wav(bytes) -> binary: REAL Layer III payload decode
  * ([[Mp3Pcm.decode]] — reservoir, scalefactors, Huffman with exact
  * bit accounting, requantize, stereo, alias, hybrid IMDCT, polyphase
  * synthesis) re-wrapped as canonical RIFF/WAVE via
  * [[WavPcm.wavFromSamples]] — the same bridge pattern as `flac_wav`
  * and `avi_audio_wav`, so every existing audio kernel (`wav_stats`,
  * `wav_windows`, `wav_vad`, `wav_spectral`, resample, fingerprint
  * dedup) serves MP3 crawl audio unchanged. Dirty, truncated or
  * out-of-honest-subset bytes (unshipped Huffman table, Layer I/II,
  * free format) → null, never a throw. */
case class Mp3Wav(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp3_wav"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp3Wav, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp3Wav {
  def compute(bytes: Array[Byte]): Array[Byte] =
    Mp3Pcm.decode(bytes) match {
      case Some(d) if d.pcm.nonEmpty =>
        WavPcm.wavFromSamples(d.channels, d.sampleRate, d.pcm)
      case _ => null
    }
}

/** mp3_conformance(bytes) -> struct: the decoder's per-file
  * accounting ([[Mp3Pcm.stats]]) as columns, so the declared queries
  * pin the conformance invariants (granule bit-exactness, reservoir
  * behavior, sample math) in the oracle hash — a decode regression
  * anywhere in the chain changes these values. */
case class Mp3Conformance(child: Expression) extends KernelExpression {

  override def dataType: DataType = Mp3Conformance.schema
  override def prettyName: String = "mp3_conformance"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp3Conformance, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp3Conformance {
  val schema: StructType = StructType(Seq(
    StructField("frames", IntegerType),
    StructField("granules", IntegerType),
    StructField("bits_exact", IntegerType),
    StructField("reservoir_silent", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_samples", LongType)))

  def compute(bytes: Array[Byte]): InternalRow =
    Mp3Pcm.stats(bytes) match {
      case Some(s) => InternalRow(s.frames, s.granules, s.bitsExact,
        s.reservoirSilent, s.sampleRate, s.channels, s.nSamples)
      case None => null
    }
}

/** mp3_coverage(bytes) -> struct: side-info-only Huffman-table TRIAGE
  * ([[Mp3Pcm.coverage]]) — per file, how many granule-channels the
  * shipped table subset decodes and how many each unshipped family
  * (11-15, 16-23/24-31 linbits, reserved 4/14) blocks. This is the
  * measured answer to "how much of a real crawl's MP3 audio decodes
  * today" (FIXTURES.md §5): the decoder REJECTS unshipped selections
  * rather than guessing, and this expression turns that honest
  * boundary into a per-file number a curation pipeline can filter and
  * aggregate on. */
case class Mp3CoverageExpr(child: Expression) extends KernelExpression {

  override def dataType: DataType = Mp3CoverageExpr.schema
  override def prettyName: String = "mp3_coverage"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp3CoverageExpr, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp3CoverageExpr {
  val schema: StructType = StructType(Seq(
    StructField("frames", IntegerType),
    StructField("granule_channels", IntegerType),
    StructField("shipped", IntegerType),
    StructField("fam11_15", IntegerType),
    StructField("fam16_23", IntegerType),
    StructField("fam24_31", IntegerType),
    StructField("invalid", IntegerType)))

  def compute(bytes: Array[Byte]): InternalRow =
    Mp3Pcm.coverage(bytes) match {
      case Some(c) => InternalRow(c.frames, c.granuleChannels, c.shipped,
        c.fam11_15, c.fam16_23, c.fam24_31, c.invalid)
      case None => null
    }
}

/** mp3_coverage_media_for_id(id) -> binary: the triage fixture set —
  * ids 0-4 are the payload-conformance fixtures (all-shipped
  * selections), 5-7 are writer-assembled streams whose side info
  * SELECTS the unshipped families (13/16/24, the reserved 4/14, and
  * the LSF code-sharing aliases 17/22/25) with claimed-but-unemitted
  * big values — parseable side info, deliberately undecodable
  * payload. */
case class Mp3CoverageMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp3_coverage_media_for_id"
  override def kernel: Kernel = Kernel(Mp3Fixtures, "mp3CoverageMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** mp3_pcm_media_for_id(id) -> binary: the MP3 PAYLOAD-conformance
  * fixtures — id%5==0 is the FOREIGN LAME silence encode, 1-4 are the
  * writer-assembled content streams ([[Mp3Fixtures]]). Distinct from
  * `mp3_media_for_id` (the header-triage filler fixtures of
  * [[Mp3Expressions]], whose payloads are not decodable). */
case class Mp3PcmMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp3_pcm_media_for_id"
  override def kernel: Kernel = Kernel(Mp3Fixtures, "mp3MediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
