package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One media record: opaque binary payload + typed metadata (the
  * multimodal data model — image/audio/video as `binary` columns).
  * `n_bytes` is ingest-time metadata: the CONTENT size (decoded buffer
  * for images, raw buffer for audio/video), as a media catalog records
  * it — container sizes are codec-dependent storage stats, not logical
  * metadata. */
final case class MediaRecord(media_id: Long, kind: String,
    width: Int, height: Int, n_bytes: Int, payload: Array[Byte])

/** Decoded-feature row emitted by the (stubbed) decoder. */
final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
    mean_byte: Double, histogram: Seq[Long])

/** Sampled frame row. */
final case class FrameSample(media_id: Long, frame_idx: Int, frame_bytes: Int,
    frame_hash: String)

/** Resized-image row: nearest-neighbour downsample of the decoded
  * pixel buffer, fingerprinted portably (rolling hash over pixel
  * values — md5 of raw bytes is not reconstructable engine-neutrally,
  * arithmetic is). */
final case class MediaResize(media_id: Long, kind: String, src_w: Int,
    src_h: Int, rw: Int, rh: Int, px_hash: Long, mean_px: Double)

/** Multimodal columns (brief north star): image/audio/video as opaque
  * `binary` payloads with typed metadata, processed in partition-sized
  * batches — the Scala analogue of `mapInPandas` batch processing is a
  * `mapPartitions` over a typed Dataset: one iterator per partition,
  * vectorizable per-batch work, typed output schema.
  *
  * The payloads are synthesized deterministically from `documents`
  * (the container ships no media, FIXTURES pattern): image records
  * carry a REAL PNG — an 8-bit grayscale image whose pixel buffer is
  * the UTF-8 text zero-padded to width·height, encoded with
  * `javax.imageio` — and are decoded back through `ImageIO.read` in
  * the feature/resize operators, so the codec boundary runs real
  * compressed bytes end-to-end (PNG is lossless, which is what keeps
  * the byte-math DuckDB oracles exact). Audio/video records carry the
  * raw buffer itself, decoded by the raw-PCM / frame-buffer
  * interpretation (1 byte per sample/pixel) — honest for uncompressed
  * media; compressed audio/video codecs are out of scope for this
  * container.
  *
  * 100 TB posture: payload bytes never leave the executors (no
  * collect); catalog metadata queries never synthesize or read the
  * payload at all ([[mediaMeta]] — against a stored parquet catalog
  * this is columnar pruning); per-partition batch processing keeps
  * decoder state (ImageIO's buffers) amortized across a partition,
  * exactly like a Pandas-UDF batch.
  */
object Multimodal extends QueryModule {

  /** Frame-sampling stride for the fake video payloads. */
  val FRAME_STRIDE = 3
  val HIST_BINS = 16

  /** The real codec boundary: 8-bit grayscale PNG encode/decode via
    * `javax.imageio`. Lossless round-trip (asserted in MultimodalSpec),
    * deterministic within a JVM — the properties the oracles rely on. */
  object MediaCodec {
    /** Row-major 8-bit grayscale buffer → PNG container bytes. */
    def encodePng(px: Array[Byte], width: Int, height: Int): Array[Byte] = {
      require(px.length == width * height, s"buffer ${px.length} != ${width}x$height")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, width, height, px)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** PNG container bytes → (width, height, row-major gray buffer). */
    def decodePng(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val gray =
        if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) img
        else { // normalize exotic color models before raster extraction
          val g = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          g.getGraphics.drawImage(img, 0, 0, null)
          g
        }
      val px = new Array[Byte](w * h)
      gray.getRaster.getDataElements(0, 0, w, h, px)
      (w, h, px)
    }
  }

  /** Decode a record's payload into its row-major byte buffer: real
    * PNG decode for images; the raw-buffer interpretation (zero-padded
    * to width·height) for uncompressed audio/video. */
  private def decode(m: MediaRecord): Array[Byte] = m.kind match {
    case "image" =>
      val (w, h, px) = MediaCodec.decodePng(m.payload)
      require(w == m.width && h == m.height,
        s"media ${m.media_id}: decoded ${w}x$h != catalog ${m.width}x${m.height}")
      px
    case _ => java.util.Arrays.copyOf(m.payload, m.width * m.height)
  }

  private val KINDS = Array("image", "audio", "video")

  /** Metadata-only synthesis (no payload): what a catalog scan reads.
    * Pure column work — the payload is never built, the scan prunes to
    * (doc_id, n_chars, text-length). */
  private def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(typedlit(KINDS), (col("doc_id") % 3).cast("int") + 1).as("kind"),
      (col("n_chars") % 16 + 4).cast("int").as("width"),
      (col("n_chars") % 8 + 4).cast("int").as("height"),
      octet_length(encode(col("text"), "utf-8")).as("n_bytes"))

  /** Full media synthesis with payloads: a real PNG for image records
    * (pixel buffer = text bytes zero-padded to width·height), the raw
    * buffer for audio/video. Typed mapPartitions because PNG encoding
    * is imperative byte work — the same batch shape the decoders use. */
  private def mediaDs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val kind = KINDS((id % 3).toInt)
        val w = (nChars % 16 + 4).toInt
        val h = (nChars % 8 + 4).toInt
        val raw = text.getBytes("UTF-8")
        val payload =
          if (kind == "image")
            MediaCodec.encodePng(java.util.Arrays.copyOf(raw, w * h), w, h)
          else raw
        MediaRecord(id, kind, w, h, raw.length, payload)
      })
  }

  /** The synthesized media table STAGED as parquet once per (session,
    * dataset) — INPUT staging, not memoized compute (the
    * `StreamingOps.stageOnce` posture; deliberately not registered
    * with [[graft.Caches]]): a production media pipeline reads stored
    * media bytes, it does not re-synthesize its fixture per query, and
    * the PNG ENCODE in [[mediaDs]] is fixture scaffolding, not the
    * operator under test. Staging once makes the three decode queries
    * bench what production pays — payload scan + decode + feature
    * math — and gives the catalog columns a real columnar layout, so
    * `frame_sample`'s kind filter prunes at the parquet scan instead
    * of discarding records the synthesis had already PNG-encoded
    * (measured 3× on the trio when the codec landed in round 11). */
  private val mediaStaged = new graft.SessionMemo[String, String]

  private def mediaTable(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    import spark.implicits._
    val p = mediaStaged.getOrElseUpdate(spark, dir) {
      val dest = graft.Scratch.dir("graft_media_stage_").toString
      mediaDs(spark, dir).write.mode("overwrite").parquet(dest)
      dest
    }
    spark.read.schema(org.apache.spark.sql.Encoders.product[MediaRecord].schema)
      .parquet(p).as[MediaRecord]
  }

  // --- media_catalog: metadata-only scan (payload never built) -----------
  def mediaCatalog(spark: SparkSession, dir: String): DataFrame =
    mediaMeta(spark, dir)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_bytes"),
        format_string("media/%05d.%s", col("media_id"), col("kind")).as("media_uri"))
      .orderBy(col("media_id"))

  val mediaCatalogSql =
    """SELECT doc_id AS media_id,
      |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |  CAST(n_chars % 16 + 4 AS INT) AS width,
      |  CAST(n_chars % 8 + 4 AS INT) AS height,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  printf('media/%05d.%s', doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]) AS media_uri
      |FROM documents ORDER BY media_id""".stripMargin

  // --- media_features: batched decode + feature extraction ---------------
  /** Decode (real PNG for images, raw buffer otherwise) + byte-histogram
    * feature extraction, one partition batch at a time — the mapInPandas
    * shape. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .repartition(col("media_id"))
      .mapPartitions { batch =>
        batch.map { m =>
          val px = decode(m)
          val hist = new Array[Long](HIST_BINS)
          var sum = 0L
          px.foreach { b =>
            val v = b & 0xff
            hist(v * HIST_BINS / 256) += 1
            sum += v
          }
          MediaFeatures(m.media_id, m.kind, m.n_bytes,
            if (px.isEmpty) 0.0 else sum.toDouble / px.length,
            hist.toSeq)
        }
      }
      .toDF()
      .withColumn("mean_byte", round(col("mean_byte"), 6))
      .orderBy(col("media_id"))
  }

  /** Gate projection of [[mediaFeatures]]: histogram as a csv string —
    * nested types crash generic row-comparison harnesses, so the
    * registered entry is scalar-only. */
  def mediaFeaturesGate(spark: SparkSession, dir: String): DataFrame =
    mediaFeatures(spark, dir)
      .withColumn("histogram", array_join(col("histogram").cast("array<string>"), ","))

  /** media_features oracle: the decoded buffer is deterministic byte
    * math — pixel i = content byte i, zero-padded to width·height
    * (exactly what the PNG round-trip reproduces losslessly for
    * images, and what the raw interpretation is for audio/video) — so
    * the whole decode+histogram is SQL-expressible over the ASCII
    * text: `ascii(substr(…))` replays the byte buffer (same ASCII
    * assumption the frame_sample oracle already asserts via md5
    * parity). */
  val mediaFeaturesSql =
    s"""WITH m AS (SELECT doc_id AS media_id,
       |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
       |  CAST(n_chars % 16 + 4 AS INT) * CAST(n_chars % 8 + 4 AS INT) AS n_px,
       |  CAST(octet_length(encode(text)) AS INT) AS n_bytes, text
       |  FROM documents),
       |p AS (SELECT media_id, kind, n_bytes, n_px,
       |  list_transform(range(0, n_px), i ->
       |    CASE WHEN i < n_bytes THEN ascii(substr(text, CAST(i + 1 AS INT), 1)) ELSE 0 END) AS px
       |  FROM m)
       |SELECT media_id, kind, n_bytes,
       |  round(CAST(list_sum(px) AS DOUBLE) / n_px, 6) AS mean_byte,
       |  array_to_string(list_transform(range(0, $HIST_BINS),
       |    b -> CAST(len(list_filter(px, v -> v // ${256 / HIST_BINS} = b)) AS VARCHAR)), ',') AS histogram
       |FROM p ORDER BY media_id""".stripMargin

  // --- media_resize: nearest-neighbour downsample ------------------------
  /** Target thumbnail dims. */
  val RESIZE_W = 8
  val RESIZE_H = 8

  /** Decode + nearest-neighbour resize to a fixed thumbnail,
    * in the same partition-batch shape as [[mediaFeatures]] — the
    * resize step of the decode/extract/resize/sample quartet. The
    * source pixel for output (x, y) is (x·w/RW, y·h/RH) with integer
    * math, so the whole path is deterministic and SQL-oracled. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .repartition(col("media_id"))
      .mapPartitions { batch =>
        batch.map { m =>
          val px = decode(m)
          val out = new Array[Long](RESIZE_W * RESIZE_H)
          var y = 0
          while (y < RESIZE_H) {
            var x = 0
            while (x < RESIZE_W) {
              val sy = y * m.height / RESIZE_H
              val sx = x * m.width / RESIZE_W
              out(y * RESIZE_W + x) = (px(sy * m.width + sx) & 0xff).toLong
              x += 1
            }
            y += 1
          }
          var hsh = 0L
          out.foreach(v => hsh = (hsh * Pipeline.FP_BASE + v) % Pipeline.FP_MOD)
          MediaResize(m.media_id, m.kind, m.width, m.height,
            RESIZE_W, RESIZE_H, hsh, out.sum.toDouble / out.length)
        }
      }
      .toDF()
      .withColumn("mean_px", round(col("mean_px"), 6))
      .orderBy(col("media_id"))
  }

  val mediaResizeSql =
    s"""WITH m AS (SELECT doc_id AS media_id,
       |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
       |  CAST(n_chars % 16 + 4 AS INT) AS w, CAST(n_chars % 8 + 4 AS INT) AS h,
       |  CAST(octet_length(encode(text)) AS INT) AS n_bytes, text
       |  FROM documents),
       |p AS (SELECT media_id, kind, w, h,
       |  list_transform(range(0, w * h), i ->
       |    CASE WHEN i < n_bytes THEN ascii(substr(text, CAST(i + 1 AS INT), 1)) ELSE 0 END) AS px
       |  FROM m),
       |r AS (SELECT media_id, kind, w AS src_w, h AS src_h,
       |  list_transform(range(0, ${RESIZE_W * RESIZE_H}), i ->
       |    px[CAST(((i // $RESIZE_W) * src_h) // $RESIZE_H AS INT) * src_w
       |       + CAST(((i % $RESIZE_W) * src_w) // $RESIZE_W AS INT) + 1]) AS rp
       |  FROM p)
       |SELECT media_id, kind, src_w, src_h,
       |  $RESIZE_W AS rw, $RESIZE_H AS rh,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(rp, v -> CAST(v AS BIGINT))),
       |    (acc, v) -> (acc * ${Pipeline.FP_BASE} + v) % ${Pipeline.FP_MOD}) AS px_hash,
       |  round(CAST(list_sum(rp) AS DOUBLE) / ${RESIZE_W * RESIZE_H}, 6) AS mean_px
       |FROM r ORDER BY media_id""".stripMargin

  // --- frame_sample: every k-th frame of the video payloads --------------
  /** Frame = width·height bytes of the payload; emit every
    * [[FRAME_STRIDE]]-th frame with its md5 (the frame-sampling shape:
    * per-record fan-out inside a partition batch, no shuffle until the
    * final order). */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(col("kind") === "video")
      .repartition(col("media_id"))
      .mapPartitions { batch =>
        batch.flatMap { m =>
          val frameSize = m.width * m.height
          val nFrames = m.payload.length / frameSize
          (0 until nFrames).filter(_ % FRAME_STRIDE == 0).map { i =>
            val frame = m.payload.slice(i * frameSize, (i + 1) * frameSize)
            val md = java.security.MessageDigest.getInstance("MD5")
            FrameSample(m.media_id, i, frame.length,
              md.digest(frame).map(b => f"$b%02x").mkString)
          }
        }
      }
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Frame-sample oracle: md5 over the same slices in SQL. DuckDB
    * cannot slice BLOBs, so the oracle slices the source VARCHAR by
    * character — byte-equivalent because the fixture text is ASCII
    * (any non-ASCII byte would fail the md5 compare, so the gate
    * itself asserts the assumption). */
  val frameSampleSql =
    s"""WITH m AS (SELECT doc_id AS media_id,
       |  CAST(n_chars % 16 + 4 AS INT) * CAST(n_chars % 8 + 4 AS INT) AS frame_size,
       |  text
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (SELECT media_id, frame_size,
       |  CAST(floor(octet_length(encode(text)) / frame_size) AS INT) AS n_frames, text
       |  FROM m),
       |s AS (SELECT media_id, i AS frame_idx, frame_size,
       |  substr(text, CAST(i * frame_size + 1 AS INT), frame_size) AS frame
       |  FROM f, unnest(range(0, n_frames)) AS u(i)
       |  WHERE i % $FRAME_STRIDE = 0)
       |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(frame_size AS INT) AS frame_bytes, md5(frame) AS frame_hash
       |FROM s ORDER BY media_id, frame_idx""".stripMargin

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("media_catalog", mediaCatalog, Some(mediaCatalogSql),
      "typed metadata over synthesized binary media (payload pruned)"),
    QueryDef("media_features", mediaFeaturesGate, Some(mediaFeaturesSql),
      "PNG-decoded byte-histogram features via partition batches"),
    QueryDef("frame_sample", frameSample, Some(frameSampleSql),
      "every k-th frame of video payloads with md5 fingerprints"),
    QueryDef("media_resize", mediaResize, Some(mediaResizeSql),
      "nearest-neighbour thumbnail resize via partition batches"))
}
