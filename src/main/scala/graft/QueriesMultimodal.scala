package graft

import graft.Queries.Q
import graft.functions.HalfUp.r4
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-plumbing queries under the CORRECTNESS gate: even with the
  * decode stubbed (no media libs in-container), the payload schema, the
  * feature projection, and the frame-sampling arithmetic are real and
  * oracle-verified byte-for-byte. */
object QueriesMultimodal {

  val entries: Seq[(String, Q)] = Seq(

    "mm_features" -> Q(
      (s, d) => {
        val p = Multimodal.payloads(Tables.documents(s, d))
        p.withColumn("fv", Multimodal.featureStub(col("bytes")))
          .select(col("doc_id"),
            col("meta.n_bytes").cast("long").as("n_bytes"),
            r4(element_at(col("fv"), 1)).as("f0"),
            r4(aggregate(col("fv"), lit(0.0), (a, x) => a + x) / Multimodal.FeatureDim).as("f_mean"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, md5(text) AS h,
             |    octet_length(encode(text)) AS n_bytes FROM documents),
             |f AS (SELECT doc_id, n_bytes,
             |    list_transform(range(8), i ->
             |      ('0x' || substr(md5(i::VARCHAR || ':' || h),1,15))::BIGINT
             |        / 1152921504606846976.0) AS fv
             |  FROM p)
             |SELECT doc_id, n_bytes, round(1e-9 + fv[1],4) AS f0,
             |  round(1e-9 + list_sum(fv)/8.0,4) AS f_mean
             |FROM f ORDER BY 1""".stripMargin)),

    // REAL image codec round-trip (round 12): per doc, a REAL PNG is
    // encoded on the executor (JDK javax.imageio — pixels planted by a
    // closed form of (doc_id, x, y)), decoded back with a REAL
    // ImageIO.read through decodeBatched's record-batch shape, and the
    // features are measured from the DECODED pixels. PNG is lossless, so
    // the oracle computes the expected dims + channel means from the
    // SAME closed form without any codec — a hash mismatch here means
    // the codec path corrupted a pixel. Scale shape: encode+decode are
    // per-row bounded work inside one mapPartitions (no shuffle, no
    // driver involvement); a vectorized/GPU decoder drops into the same
    // decodeBatched slot.
    "mm_png_decode" -> Q(
      (s, d) => {
        import s.implicits._
        val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
        val dec = Multimodal.decodeBatched(
          ids.map(id => (id, Multimodal.pngEncode(id))),
          decode = Multimodal.imageFeatures)
        dec.toDF("doc_id", "f")
          .select(col("doc_id"),
            element_at(col("f"), 1).cast("long").as("width"),
            element_at(col("f"), 2).cast("long").as("height"),
            r4(element_at(col("f"), 3)).as("mean_r"),
            r4(element_at(col("f"), 4)).as("mean_g"),
            r4(element_at(col("f"), 5)).as("mean_b"))
          .orderBy("doc_id")
      },
      Some(s"""WITH px AS (SELECT doc_id, x, y FROM (SELECT doc_id FROM documents),
              |    (SELECT unnest(range(${Multimodal.ImgW})) AS x),
              |    (SELECT unnest(range(${Multimodal.ImgH})) AS y)),
              |s AS (SELECT doc_id,
              |    sum(((doc_id*31 + x*7 + y*13) % 256 + 256) % 256) AS sr,
              |    sum(((doc_id*17 + x*11 + y*5) % 256 + 256) % 256) AS sg,
              |    sum(((doc_id*29 + x*3 + y*19) % 256 + 256) % 256) AS sb
              |  FROM px GROUP BY 1)
              |SELECT doc_id, ${Multimodal.ImgW}::BIGINT AS width,
              |  ${Multimodal.ImgH}::BIGINT AS height,
              |  round(1e-9 + sr / ${Multimodal.ImgW * Multimodal.ImgH}.0, 4) AS mean_r,
              |  round(1e-9 + sg / ${Multimodal.ImgW * Multimodal.ImgH}.0, 4) AS mean_g,
              |  round(1e-9 + sb / ${Multimodal.ImgW * Multimodal.ImgH}.0, 4) AS mean_b
              |FROM s ORDER BY 1""".stripMargin)),

    // REAL audio codec round-trip: per doc, a genuine WAV file (RIFF +
    // 16-bit mono PCM, planted samples) encoded by the JDK's WAVE
    // writer, decoded back with a REAL AudioSystem parse through the
    // same decodeBatched batch shape; features measured from the DECODED
    // samples. PCM is lossless, so the oracle computes expected stats
    // from the planted closed form without any codec.
    "mm_wav_decode" -> Q(
      (s, d) => {
        import s.implicits._
        val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
        val dec = Multimodal.decodeBatched(
          ids.map(id => (id, Multimodal.wavEncode(id))),
          decode = Multimodal.audioFeatures)
        dec.toDF("doc_id", "f")
          .select(col("doc_id"),
            element_at(col("f"), 1).cast("long").as("rate"),
            element_at(col("f"), 2).cast("long").as("n_samples"),
            r4(element_at(col("f"), 3)).as("mean_abs"),
            element_at(col("f"), 4).cast("long").as("max_abs"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sm AS (SELECT doc_id, i,
              |    abs(((doc_id*73 + i*37) % 4096 + 4096) % 4096 - 2048) AS a
              |  FROM (SELECT doc_id FROM documents),
              |    (SELECT unnest(range(${Multimodal.WavN})) AS i)),
              |st AS (SELECT doc_id, sum(a) AS sa, max(a) AS ma FROM sm GROUP BY 1)
              |SELECT doc_id, ${Multimodal.WavRate}::BIGINT AS rate,
              |  ${Multimodal.WavN}::BIGINT AS n_samples,
              |  round(1e-9 + sa / ${Multimodal.WavN}.0, 4) AS mean_abs,
              |  ma::BIGINT AS max_abs
              |FROM st ORDER BY 1""".stripMargin)),

    "mm_frame_sample" -> Q(
      (s, d) => Multimodal.frameSample(
        Multimodal.payloads(Tables.documents(s, d)), n = 4, frameBytes = 16)
        .orderBy("doc_id", "frame"),
      Some("""WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
             |    octet_length(encode(text)) AS n_bytes FROM documents),
             |f AS (SELECT doc_id, greatest((n_bytes - 16) // 3, 1) AS step, hx
             |  FROM p WHERE n_bytes >= 16),
             |x AS (SELECT doc_id, j AS frame,
             |    substring(hx, (j*step*2+1)::INT, 32) AS frame_hex
             |  FROM f, (SELECT unnest(range(4)) AS j))
             |SELECT doc_id, frame, frame_hex FROM x ORDER BY 1,2""".stripMargin))
  )
}
