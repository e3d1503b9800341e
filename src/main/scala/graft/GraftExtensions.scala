package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

import graft.functions._

/** Session-extension deployment of the engine's native functions — the
  * idiomatic way to ship Catalyst extensions to a cluster:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * `Graft.init(spark)` registers the same functions imperatively for
  * sessions created without extensions.
  *
  * `similar(vec, queryVec)` is the engine's rendition of the txtai SQL
  * dialect's `similar('query text')` predicate (SURVEY §2.3 L1-L4,
  * §3.3): text→vector encoding happens outside the engine (SURVEY S6),
  * so in SQL the query arrives as a vector literal/column and `similar`
  * evaluates to the cosine *similarity* score (1 − cosine distance,
  * weaviate.py:17-20). Standard usage:
  *
  * {{{
  * SELECT text, similar(vector, array(...)) AS score FROM docs
  * WHERE similar(vector, array(...)) >= 0.0
  * ORDER BY score DESC LIMIT 10
  * }}}
  *
  * Catalyst's common-subexpression elimination computes the score once,
  * and the ORDER BY/LIMIT shape lowers to TakeOrderedAndProject.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (es: Seq[Expression]) => builder(es)))
    }
    // opt-in ANN + keyword auto-routing (fire only under
    // spark.graft.ann.autoRoute)
    ext.injectOptimizerRule(session => graft.plans.AnnRouteRule(session))
    ext.injectOptimizerRule(session => graft.plans.KeywordRouteRule(session))
  }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(k: Int, _) => k
    case other => throw new IllegalArgumentException(
      s"$fn: expected an int literal argument, got $other")
  }

  /** Name → expression builder for every native function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "similar" -> (es => Similar.build(es)),
    "keyword_score" -> (es => Keyword.build(es)),
    "fingerprint" -> (es => Fingerprint(es.head)),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "l2_norm" -> (es => L2Norm(es.head)),
    "minhash_signature" -> (es =>
      MinHashSignature(es(0), intLit(es(1), "minhash_signature"))),
    "simhash64" -> (es => SimHash64(es.head)),
    "ngram_shingles" -> (es => NgramShingles(es(0), intLit(es(1), "ngram_shingles"))),
    "shingle_hashes" -> (es => ShingleHashes(es(0), intLit(es(1), "shingle_hashes"))),
    "band_keys" -> (es => BandKeys(es(0), intLit(es(1), "band_keys"))),
    "token_bigrams" -> (es => TokenBigrams(es.head)),
    "normalize_text" -> (es => NormalizeText(es.head)),
    "html_text" -> (es => HtmlText(es.head)),
    "mp3_meta" -> (es => Mp3Meta(es.head)),
    "mp3_media_for_id" -> (es => Mp3MediaBytes(es.head)),
    "ulaw_media_for_id" -> (es => UlawMediaBytes(es.head)),
    "webp_media_for_id" -> (es => WebpMediaBytes(es.head)),
    "webp_pixel_media_for_id" -> (es => WebpPixelMediaBytes(es.head)),
    "vp8_media_for_id" -> (es => Vp8MediaBytes(es.head)),
    "webp_yuv" -> (es => WebpYuv(es.head)),
    "vp8_ivf_media_for_id" -> (es => Vp8IvfMediaBytes(es.head)),
    "vp8_ivf_frames" -> (es => Vp8IvfFrames(es.head)),
    "ivf_meta" -> (es => IvfMeta(es.head)),
    "webm_media_for_id" -> (es => WebmMediaBytes(es.head)),
    "webm_meta" -> (es => WebmMeta(es.head)),
    "webm_frames" -> (es => WebmFrames(es.head)),
    "webm_subs_media_for_id" -> (es => WebmSubsMediaBytes(es.head)),
    "webm_subtitles" -> (es => WebmSubtitles(es.head)),
    "anim_media_for_id" -> (es => AnimMediaBytes(es.head)),
    "webp_anim" -> (es => WebpAnim(es.head)),
    "gunzip" -> (es => Gunzip(es.head)),
    "warc_records" -> (es => WarcRecords(es.head)),
    "warc_media_for_id" -> (es => WarcMediaBytes(es.head)),
    "warczst_media_for_id" -> (es => WarcZstMediaBytes(es.head)),
    "jpeg_exif" -> (es => JpegExif(es.head)),
    "zip_entries" -> (es => ZipEntries(es.head)),
    "tar_entries" -> (es => TarEntries(es.head)),
    "pdf_text" -> (es => PdfText(es.head)),
    "robots_allowed" -> (es => RobotsAllowed(es(0), es(1))),
    "contains_any" -> (es => ContainsAny(es(0), es(1))),
    "ogg_meta" -> (es => OggMeta(es.head)),
    "mime_message" -> (es => MimeMessage(es.head)),
    "subtitle_cues" -> (es => SubtitleCues(es.head)),
    "parquet_meta" -> (es => ParquetMetaExpr(es.head)),
    "zstd_meta" -> (es => ZstdMeta(es.head)),
    "media_kind" -> (es => MediaKind(es.head)),
    "zst_media_for_id" -> (es => ZstMediaBytes(es.head)),
    "unzstd" -> (es => Unzstd(es.head)),
    "zstfull_media_for_id" -> (es => ZstFullMediaBytes(es.head)),
    "sitemap_entries" -> (es => SitemapEntries(es.head)),
    "sitemap_media_for_id" -> (es => SitemapMediaText(es.head)),
    "parquet_media_for_id" -> (es => ParquetMediaBytes(es.head)),
    "subtitle_media_for_id" -> (es => SubtitleMediaText(es.head)),
    "eml_media_for_id" -> (es => EmlMediaBytes(es.head)),
    "ogg_media_for_id" -> (es => OggMediaBytes(es.head)),
    "ogg_vorbis_media_for_id" -> (es => OggVorbisMediaBytes(es.head)),
    "vorbis_wav" -> (es => VorbisWav(es.head)),
    "webm_vorbis_media_for_id" -> (es => WebmVorbisMediaBytes(es.head)),
    "webm_vorbis_wav" -> (es => WebmVorbisWav(es.head)),
    "pdf_media_for_id" -> (es => PdfMediaBytes(es.head)),
    "pdf_images" -> (es => PdfImages(es.head)),
    "byte_sum" -> (es => ByteSum(es.head)),
    "pdfimg_media_for_id" -> (es => PdfImgMediaBytes(es.head)),
    "tar_extract" -> (es => TarExtract(es(0), es(1))),
    "targz_media_for_id" -> (es => TarGzMediaBytes(es.head)),
    "zip_extract" -> (es => ZipExtract(es(0), es(1))),
    "zip_media_for_id" -> (es => ZipMediaBytes(es.head)),
    "tiff_media_for_id" -> (es => TiffMediaBytes(es.head)),
    "tiffext_media_for_id" -> (es => TiffExtMediaBytes(es.head)),
    "g4_media_for_id" -> (es => G4MediaBytes(es.head)),
    "tiffpx_media_for_id" -> (es => TiffPixelMediaBytes(es.head)),
    "tiffjpeg_media_for_id" -> (es => TiffJpegMediaBytes(es.head)),
    "jpeg_exif_media_for_id" -> (es => JpegExifMediaBytes(es.head)),
    "url_normalize" -> (es => UrlNormalize(es.head)),
    "url_domain" -> (es => UrlDomain(es.head)),
    "hash_embed" -> (es => HashEmbed(es(0), intLit(es(1), "hash_embed"))),
    "topk_by_score" -> (es =>
      TopKByScore(es(0), es(1), es(2)).toAggregateExpression()),
    "kmv_distinct" -> (es =>
      KmvDistinct(es(0), es(1)).toAggregateExpression()),
    "hll_distinct" -> (es =>
      HllDistinct(es(0), es(1)).toAggregateExpression()),
    "bloom_build" -> (es =>
      BloomBuild(es(0), es(1), es(2)).toAggregateExpression()),
    "bloom_contains" -> (es => BloomContains(es(0), es(1))),
    "heavy_hitters" -> (es =>
      HeavyHitters(es(0), es(1)).toAggregateExpression()),
    "vector_avg" -> (es => VectorAvg(es.head).toAggregateExpression()),
    "pack_vector" -> (es => PackVector(es.head)),
    "unpack_vector" -> (es => UnpackVector(es.head)),
    "cosine_sim_packed" -> (es => CosineSimPacked(es(0), es(1))),
    // multimodal kernels for SQL-text users: real header parse, real
    // pixel decodes, feature extraction, and the fixture writers
    "parse_media" -> (es => ParseMedia(es.head)),
    "png_stats" -> (es => PngStats(es.head)),
    "jpeg_stats" -> (es => JpegStats(es.head)),
    "png_histogram" -> (es =>
      PngHistogram(es(0), intLit(es(1), "png_histogram"))),
    "media_features" -> (es =>
      MediaFeatures(es(0), intLit(es(1), "media_features"))),
    "pixel_stats" -> (es => PixelStats(es.head)),
    "decoded_pixels" -> (es => DecodedPixels(es.head)),
    "image_dhash" -> (es => ImageDhash(es.head)),
    "image_resize" -> (es => ImageResize(es(0),
      intLit(es(1), "image_resize"), intLit(es(2), "image_resize"))),
    "wav_stats" -> (es => WavStats(es.head)),
    "wav_windows" -> (es => WavWindows(es(0), intLit(es(1), "wav_windows"))),
    "wav_vad" -> (es => WavVad(es(0), intLit(es(1), "wav_vad"),
      intLit(es(2), "wav_vad"))),
    "wav_normalize" -> (es => WavNormalize(es(0),
      intLit(es(1), "wav_normalize"))),
    "wav_spectral" -> (es =>
      WavSpectral(es(0), intLit(es(1), "wav_spectral"))),
    "wav_gain_media_for_id" -> (es => WavGainMediaBytes(es.head)),
    "bmp_media_for_id" -> (es => BmpMediaBytes(es.head)),
    "wav_spectral_flux" -> (es =>
      WavSpectralFlux(es(0), intLit(es(1), "wav_spectral_flux"))),
    "wav_resample" -> (es =>
      WavResample(es(0), intLit(es(1), "wav_resample"))),
    "flac_wav" -> (es => FlacWav(es.head)),
    "mp3_wav" -> (es => Mp3Wav(es.head)),
    "mp3_conformance" -> (es => Mp3Conformance(es.head)),
    "mp3_pcm_media_for_id" -> (es => Mp3PcmMediaBytes(es.head)),
    "mp3_coverage" -> (es => Mp3CoverageExpr(es.head)),
    "mp3_coverage_media_for_id" -> (es => Mp3CoverageMediaBytes(es.head)),
    "flac_media_for_id" -> (es => FlacMediaBytes(es.head)),
    "wav_pcm_bytes" -> (es => WavPcmBytes(es.head)),
    "gif_frame_stats" -> (es => GifFrameStats(es.head)),
    "gif_composite_stats" -> (es => GifCompositeStats(es.head)),
    "gif_delta_media_for_id" -> (es => GifDeltaMediaBytes(es.head)),
    "gif_frame_diffs" -> (es => GifFrameDiffs(es.head)),
    "gif_frame_bytes" -> (es => GifFrameBytes(es.head)),
    "avi_frame_stats" -> (es => AviFrameStats(es.head)),
    "mp4_frame_stats" -> (es => Mp4FrameStats(es.head)),
    "mp4_meta" -> (es => Mp4Meta(es.head)),
    "mp4_media_for_id" -> (es => Mp4MediaBytes(es.head)),
    "mp4_multi_media_for_id" -> (es => Mp4MultiMediaBytes(es.head)),
    "avi_frame_diffs" -> (es => AviFrameDiffs(es.head)),
    "avi_av_features" -> (es => AviAvFeatures(es.head)),
    "avi_meta" -> (es => AviMetaExpr(es.head)),
    "avi_audio_wav" -> (es => AviAudioWav(es.head)),
    "media_for_id" -> (es => MediaBytes(es.head)),
    "image_quality" -> (es => ImageQuality(es.head)),
    "wavvad_media_for_id" -> (es => WavVadMediaBytes(es.head)),
    "cdc_chunks" -> (es => CdcChunks(es(0), intLit(es(1), "cdc_chunks"),
      intLit(es(2), "cdc_chunks"), intLit(es(3), "cdc_chunks"))),
    "cdc_media_for_id" -> (es => CdcMediaBytes(es.head)),
    "sniff_charset" -> (es => SniffCharset(es.head)),
    "decode_charset" -> (es => DecodeCharset(es.head)),
    "fix_mojibake" -> (es => FixMojibake(es.head)),
    "sentence_split" -> (es => SentenceSplit(es.head)),
    "winnow" -> (es => WinnowFp(es(0), intLit(es(1), "winnow"),
      intLit(es(2), "winnow"))),
    "enc_media_for_id" -> (es => EncMediaBytes(es.head)),
    "pixel_media_for_id" -> (es => PixelMediaBytes(es.head)),
    "web_pixel_media_for_id" -> (es => WebPixelMediaBytes(es.head)),
    "jpeg_pixel_media_for_id" -> (es => JpegPixelMediaBytes(es.head)),
    "jpeg_ac_media_for_id" -> (es => JpegAcMediaBytes(es.head)),
    "jpeg_sub_media_for_id" -> (es => JpegSubMediaBytes(es.head)),
    "jpeg_rst_media_for_id" -> (es => JpegRstMediaBytes(es.head)),
    "jpeg_prog_media_for_id" -> (es => JpegProgMediaBytes(es.head)),
    "mixed_pixel_media_for_id" -> (es => MixedPixelMediaBytes(es.head)),
    "wav_media_for_id" -> (es => WavMediaBytes(es.head)),
    "wav_tagged_media_for_id" -> (es => WavTaggedMediaBytes(es.head)),
    "gif_media_for_id" -> (es => GifMediaBytes(es.head)),
    "avi_media_for_id" -> (es => AviMediaBytes(es.head)),
    "avi_av_media_for_id" -> (es => AviAvMediaBytes(es.head)))
}

/** The txtai SQL dialect's `similar` in all its forms
  * (examples/01_simple.ipynb:446,468,490,550):
  *
  *  - `similar('query text')` — the notebook's verbatim form: the string
  *    literal is encoded driver-side via [[TextEncoder]] (pluggable;
  *    defaults to the deterministic hashing encoder) and the score binds
  *    to the `vector` column of the FROM relation (the registered
  *    [[Txtai.register]] virtual table exposes one);
  *  - `similar(vecCol, 'query text')` — explicit vector column, encoded
  *    literal;
  *  - `similar(vecCol, textCol)` — non-literal string argument: encoded
  *    in-engine with `hash_embed` (a driver-side encoder function cannot
  *    run per row; swap in a real model via [[TextEncoder.encodeColumn]]
  *    upstream instead);
  *  - `similar(vecCol, vecCol)` — the engine form (cosine similarity,
  *    round-1 surface), unchanged.
  */
object Similar {
  def build(es: Seq[Expression]): Expression = es match {
    case Seq(q) =>
      CosineSimilarity(UnresolvedAttribute("vector"), encoded(q))
    case Seq(v, q) => CosineSimilarity(v, encoded(q))
    case other => throw new IllegalArgumentException(
      s"similar expects 1 or 2 arguments, got ${other.size}")
  }

  private def encoded(q: Expression): Expression =
    Txtai.literalText(q) match {
      case Some(text) => Txtai.encodedLiteral(text)
      case None if q.resolved && q.dataType == StringType =>
        // Per-row text must be encoded IN-ENGINE; that is only sound
        // when the registered encoder IS the hash kernel (then the dim
        // is plumbed through, not hardcoded). With a custom model
        // registered, a hash fallback would emit vectors in a different
        // space/dimension — rows would silently score NULL and vanish
        // from top-k — so fail analysis loudly instead.
        TextEncoder.registered match {
          case HashingEncoder(d) => HashEmbed(q, d)
          case _ => throw new IllegalArgumentException(
            "similar(vec, textCol): a custom encoder is registered via " +
            "TextEncoder.set, and a driver-side encoder cannot run per " +
            "row — pre-encode the column with TextEncoder.encodeColumn " +
            "and pass the vector column instead")
        }
      case None => q
    }
}
