package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.Multimodal

/** Media decode throughput soak (suite `media`, r8): the multimodal
  * faces' scale measurement. Per format, a distributed fixture table of REAL encoded
  * payloads (deflated+filtered PNGs, LZW GIFs, Huffman-coded baseline
  * JPEGs, PCM WAV tones — the same builders the oracle queries use, at
  * 100× their fixture count) is materialized first, then the
  * corresponding decode face runs end to end — so the timed number is
  * decode + stats, not generation. A 100 TB media pipeline is
  * decode-bound; these are the map-only per-core numbers that scale
  * linearly with executors (no shuffle anywhere in the faces before the
  * final orderBy).
  *
  * Planted correctness carried by the soak: every payload must decode
  * (decoded rows == nPerFormat for images; channels summed for WAV) —
  * a quarantine regression at scale fails loudly here.
  *
  * Prints one JSON line with per-format decode seconds, MB and
  * payloads/sec. Usage: graft.Soak media [nPerFormat]
  */
object MediaSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val nPerFormat = if (args.length > 0) args(0).toInt else 50000

    def ids: DataFrame = spark.range(0, nPerFormat, 1, cpus(spark))
      .select(col("id").as("doc_id"))

    def soakFormat(
        name: String,
        table: DataFrame => DataFrame,
        face: (SparkSession, DataFrame) => DataFrame,
        expectRows: Long): (String, Double, Double, Long) = {
      val media = CacheTracker.pin(table(ids))
      val bytes = media.agg(sum(length(col("content")))).head().getLong(0)
      val (decoded, sec) = timed(face(spark, media).count())
      CacheTracker.releaseAll()
      require(decoded == expectRows,
        s"$name: decoded $decoded of expected $expectRows — quarantine regression")
      (name, sec, bytes / 1e6, decoded)
    }

    val results = Seq(
      soakFormat("png", Multimodal.synthesizePixelImageTable(spark, _),
        Multimodal.extractPixelStats, nPerFormat.toLong),
      soakFormat("gif", Multimodal.synthesizePixelGifTable(spark, _),
        Multimodal.extractGifPixelStats, nPerFormat.toLong),
      soakFormat("jpeg", Multimodal.synthesizePixelJpegTable(spark, _),
        Multimodal.extractJpegPixelStats, nPerFormat.toLong),
      // WAV: one output row per channel — channels = 1 + doc_id % 2
      soakFormat("wav", Multimodal.synthesizeToneAudioTable(spark, _),
        Multimodal.extractAudioSampleStats,
        (0L until nPerFormat).map(id => 1 + id % 2).sum),
      // H.264 SPS: every 13th payload truncated -> quarantined by absence
      soakFormat("sps", graft.operators.H264.synthesizeAvcTable(spark, _),
        graft.operators.H264.extractCodecInfo,
        (0L until nPerFormat).count(_ % 13 != 0).toLong),
      // PPS: same payloads, same quarantine channel
      soakFormat("pps", graft.operators.H264.synthesizeAvcTable(spark, _),
        graft.operators.H264.extractPpsInfo,
        (0L until nPerFormat).count(_ % 13 != 0).toLong),
      // SEI: one recovery row per surviving doc + a UUID row on id % 3
      soakFormat("sei", graft.operators.H264.synthesizeAvcTable(spark, _),
        graft.operators.H264.extractSeiInfo,
        (0L until nPerFormat).filter(_ % 13 != 0)
          .map(id => if (id % 3 == 0) 2L else 1L).sum),
      // slice headers: 3 + id % 4 rows per surviving doc (the GOP rule)
      soakFormat("slices", graft.operators.H264.synthesizeAvcTable(spark, _),
        graft.operators.H264.extractSliceInfo,
        (0L until nPerFormat).filter(_ % 13 != 0)
          .map(id => 3L + id % 4).sum),
      // ADTS: 2 + id % 5 frames per surviving doc, every 13th truncated
      soakFormat("adts", graft.operators.Adts.synthesizeAdtsTable(spark, _),
        graft.operators.Adts.extractAdtsInfo,
        (0L until nPerFormat).filter(_ % 13 != 0)
          .map(id => 2L + id % 5).sum),
      // fMP4: 2 + id % 4 movie fragments per surviving doc
      soakFormat("fmp4", graft.operators.Fmp4.synthesizeFmp4Table(spark, _),
        graft.operators.Fmp4.extractFragments,
        (0L until nPerFormat).filter(_ % 13 != 0)
          .map(id => 2L + id % 4).sum),
      // MP3: 3 + id % 5 frames per surviving doc
      soakFormat("mp3", graft.operators.Mp3.synthesizeMp3Table(spark, _),
        graft.operators.Mp3.extractMp3Info,
        (0L until nPerFormat).filter(_ % 13 != 0)
          .map(id => 3L + id % 5).sum))

    emit(Seq("soak" -> "media_decode", "n_per_format" -> nPerFormat) ++
      results.flatMap { case (name, sec, mb, rows) =>
        Seq(s"${name}_sec" -> fixed(sec, 1), s"${name}_mb" -> fixed(mb, 1),
          s"${name}_per_sec" -> (rows / sec).toLong)
      }: _*)
  }
}
