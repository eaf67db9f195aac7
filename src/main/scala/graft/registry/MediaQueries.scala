package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Multimodal plumbing rows: image and video decode, features, resize. */
object MediaQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("media_stats", (s, dir) =>
      Multimodal.mediaStats(Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("kind"), col("n_assets"), col("total_bytes"),
          round(col("avg_bytes"), 4).as("avg_bytes")),
      oracle = """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       count(*) AS n_assets,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       round(avg(octet_length(encode(text))), 4) AS avg_bytes
        |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("media_frames", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.sampleFrames(media, 30).groupBy("media_id")
        .agg(count("*").as("n_sampled"))
    },
      oracle = """SELECT doc_id AS media_id,
        |       CAST((doc_id % 300) // 30 + 1 AS BIGINT) AS n_sampled
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin),
    QuerySpec("media_features", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.extractFeatures(media, 64, 64)
        .select(col("media_id"), col("kind"), col("byte_len"))
    },
      oracle = """SELECT doc_id AS media_id,
        |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS INT) AS byte_len
        |FROM documents""".stripMargin),
    // REAL container-level video indexing (closes the r5 video stub):
    // each video-kind row is serialized into a structurally valid
    // MJPEG-AVI (RIFF writer) with n_frames frames of deterministic
    // sizes 10 + (id+i) % 50, then AviContainer.frameIndex WALKS the
    // RIFF chunk tree (movi LIST, ##dc chunks, WORD padding) — no pixel
    // decode — and the oracle independently predicts per-media frame
    // count + total frame bytes. A wrong size field, missed pad byte,
    // or mis-nested LIST shifts every later offset and breaks the sums.
    QuerySpec("media_video_frames", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val mkAvi = udf { (id: Long, n: Int, w: Int, h: Int) =>
        val frames = (0 until n).map { i =>
          val len = 10 + ((id + i) % 50).toInt
          Array.tabulate[Byte](len)(j => ((id + i + j) & 0xff).toByte)
        }
        Multimodal.AviContainer.write(frames, w, h)
      }
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .filter(col("kind") === "video")
        .withColumn("payload",
          mkAvi(col("media_id"), col("n_frames"), col("width"), col("height")))
        .as[Multimodal.MediaRecord]
      Multimodal.videoFrameIndex(media)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum("byte_len").as("total_frame_bytes"))
    },
      // predicts the AVI round trip in closed form: the container walk
      // must surface exactly n_frames chunks whose sizes are the writer's
      // deterministic 10 + (id+i) % 50 — wrong padding/nesting breaks it
      oracle = """SELECT d.doc_id AS media_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(10 + (d.doc_id + g.i) % 50) AS BIGINT) AS total_frame_bytes
        |FROM documents d, generate_series(0, 299) g(i)
        |WHERE d.doc_id % 3 = 2 AND g.i <= d.doc_id % 300
        |GROUP BY 1""".stripMargin),
    // REAL per-frame PIXEL decode (closes the r6 "no JDK video codec"
    // stub for MJPEG): each video row becomes an MJPEG-AVI whose
    // SAMPLED frames (every 30th) are real JPEGs of deterministic dims
    // 16+(id+i)%16 x 16+(id+i)%12 (unsampled frames are junk bytes the
    // decoder must never touch), then videoFrameDecode walks the
    // container and ImageIO-decodes just the sampled byte ranges. The
    // oracle predicts the DECODED dimensions — a stub echoing metadata
    // or a decode of the wrong byte range cannot match.
    QuerySpec("media_video_decode", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val mkAvi = udf { (id: Long, n: Int, w: Int, h: Int) =>
        val frames = (0 until n).map { i =>
          if (i % 30 == 0)
            Multimodal.MediaCodec.syntheticJpegFrame(
              16 + ((id + i) % 16).toInt, 16 + ((id + i) % 12).toInt, id + i)
          else Array.tabulate[Byte](4)(j => ((id + i + j) & 0xff).toByte)
        }
        Multimodal.AviContainer.write(frames, w, h)
      }
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .filter(col("kind") === "video")
        .withColumn("payload",
          mkAvi(col("media_id"), col("n_frames"), col("width"), col("height")))
        .as[Multimodal.MediaRecord]
      Multimodal.videoFrameDecode(media, 30)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_decoded"),
          sum("width").as("sum_width"),
          sum("height").as("sum_height"))
    },
      // predicts the PIXEL-decoded dims of every sampled MJPEG frame in
      // closed form — only a real JPEG decode of the correctly-sliced
      // chunk bytes reproduces them
      oracle = """SELECT d.doc_id AS media_id,
        |       CAST(count(*) AS BIGINT) AS n_decoded,
        |       CAST(sum(16 + (d.doc_id + g.i) % 16) AS BIGINT) AS sum_width,
        |       CAST(sum(16 + (d.doc_id + g.i) % 12) AS BIGINT) AS sum_height
        |FROM documents d, generate_series(0, 299, 30) g(i)
        |WHERE d.doc_id % 3 = 2 AND g.i <= d.doc_id % 300
        |GROUP BY 1""".stripMargin),
    // resize stage end-to-end: synthetic payloads are not decodable
    // images, so the metadata-scaling stub path runs (the real ImageIO
    // path is pinned by RoundTwoSpec's PNG round-trip tests) — its
    // output dims/byte counts are pure arithmetic, hence oracle-checkable
    QuerySpec("media_resize", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = Multimodal.syntheticMedia(t(s, dir, "documents"))
        .as[Multimodal.MediaRecord]
      Multimodal.resizeImages(media, 64, 64)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          length(col("payload")).as("byte_len"))
    },
      // stub-path arithmetic: aspect-preserving scale into a 64x64 box
      // applied to image-kind metadata and payload length (Scala .toInt
      // truncates -> trunc)
      oracle = """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(text)) AS INT) AS len,
        |    CAST(doc_id % 640 + 16 AS INT) AS w,
        |    CAST(doc_id % 480 + 16 AS INT) AS h
        |  FROM documents),
        |s AS (
        |  SELECT *, least(64.0 / greatest(w, 1), 64.0 / greatest(h, 1)) AS scale
        |  FROM m)
        |SELECT media_id, kind,
        |  CASE WHEN kind = 'image'
        |       THEN GREATEST(1, CAST(trunc(w * scale) AS INT)) ELSE w END AS width,
        |  CASE WHEN kind = 'image'
        |       THEN GREATEST(1, CAST(trunc(h * scale) AS INT)) ELSE h END AS height,
        |  CASE WHEN kind = 'image'
        |       THEN LEAST(len, GREATEST(1, CAST(trunc(len * scale) AS INT)))
        |       ELSE len END AS byte_len
        |FROM s""".stripMargin)
  )
}
