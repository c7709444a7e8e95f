package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CutOps
import graft.{Entry, Registered, Tables}

/** Multimodal column plumbing (SURVEY §2.J): media as opaque binary
  * columns with typed metadata, and a batched decode/feature-extract
  * stage.
  *
  * The decode itself is a STUB (image/audio codecs are not in this
  * environment): a deterministic fake that derives per-chunk byte
  * statistics. Everything around it is the real production shape —
  * binary column + metadata struct schema, partition-friendly layout,
  * mapPartitions with explicit batching (the Scala analogue of a
  * batched pandas-UDF decode: amortizes per-batch codec init, keeps
  * memory bounded by batch size, preserves partition parallelism).
  */
object Multimodal extends Registered {

  case class MediaFeatures(doc_id: Long, n_bytes: Int, batch_size: Int,
      features: Array[Float])

  /** J1 — the media table schema: opaque binary + typed metadata.
    * Synth: the document text bytes stand in for an image payload. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(
        col("n_chars").as("width"),
        lit(1).as("height"),
        lit("text/fake").as("format"),
        col("source").as("origin")).as("meta"))

  private val BatchSize = 32
  private val NChunks = 8

  /** The stubbed decoder: deterministic per-chunk byte means. A real
    * deployment swaps decodeOne's body for an image/audio codec; the
    * batching contract stays identical. */
  private def decodeOne(docId: Long, media: Array[Byte], batchSize: Int): MediaFeatures = {
    val n = media.length
    val feats = Array.tabulate(NChunks) { c =>
      val lo = (n.toLong * c / NChunks).toInt
      val hi = (n.toLong * (c + 1) / NChunks).toInt
      if (hi <= lo) 0.0f
      else {
        var s = 0L; var i = lo
        while (i < hi) { s += media(i) & 0xff; i += 1 }
        (s.toDouble / (hi - lo)).toFloat
      }
    }
    MediaFeatures(docId, n, batchSize, feats)
  }

  /** Batched decode over the binary column: mapPartitions +
    * grouped(BatchSize), so each "codec call" sees a bounded batch and
    * partitions stream without materializing. Carries the raw
    * features array + observed batch size for the spec's batching
    * assertions; the driver-checked query is the flattened
    * [[featureStub]]. */
  def featureStubRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[(Long, Array[Byte])] = mediaTable(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { case (id, bytes) => decodeOne(id, bytes, batch.size) }
      }
    }.toDF()
  }

  /** J2 `multimodal_feature_stub` — the decode output with the 8
    * chunk features as scalar columns f0..f7 (an Array column is not
    * canonicalizable by the driver harness; same information, and the
    * chunked byte means become DuckDB-expressible → full oracle). */
  def featureStub(spark: SparkSession, dir: String): DataFrame = {
    val feats = (0 until NChunks).map(i => col("features")(i).as(s"f$i"))
    featureStubRaw(spark, dir)
      .select((col("doc_id") +: col("n_bytes") +: feats): _*)
  }

  /** Chunk c covers byte indices [n*c/8, n*(c+1)/8) — 1-based slice
    * [lo+1, hi] in DuckDB. The documents table is ASCII-only (checked
    * at every SF), so ascii(char) == byte value; the mean is an exact
    * integer sum divided as DOUBLE then cast FLOAT — bit-identical to
    * the Scala `(s.toDouble / (hi - lo)).toFloat`. */
  def featureStubSql: String = {
    val chunks = (0 until NChunks).map { c =>
      val lo = s"(n_bytes * $c) // $NChunks"
      val hi = s"(n_bytes * ${c + 1}) // $NChunks"
      s"""  CAST(CASE WHEN $hi <= $lo THEN 0.0
         |    ELSE CAST(list_sum(bytes[$lo + 1 : $hi]) AS DOUBLE) / ($hi - $lo)
         |    END AS FLOAT) AS f$c""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT doc_id, length(text) AS n_bytes,
       |    list_transform(str_split(text, ''), c -> ascii(c)) AS bytes
       |  FROM documents
       |)
       |SELECT doc_id, n_bytes,
       |$chunks
       |FROM b""".stripMargin
  }

  case class FrameFeature(doc_id: Long, frame_idx: Int, n_frame_bytes: Int,
      frame_mean: Float)

  private val FrameBytes = 16
  private val FrameStride = 4

  /** The stubbed frame sampler: fixed-size frames (a video/audio
    * stand-in), every FrameStride-th full frame kept, per-frame byte
    * mean as the "feature". A real deployment swaps the body for a
    * codec's keyframe extraction; the one-to-many batched contract is
    * the production shape. */
  private def sampleFrames(docId: Long, media: Array[Byte]): Seq[FrameFeature] = {
    val nFrames = media.length / FrameBytes // full frames only
    (0 until nFrames by FrameStride).map { f =>
      val lo = f * FrameBytes
      var s = 0L
      var i = lo
      while (i < lo + FrameBytes) { s += media(i) & 0xff; i += 1 }
      FrameFeature(docId, f, FrameBytes, (s.toDouble / FrameBytes).toFloat)
    }
  }

  /** J3 `multimodal_frame_sample` — deterministic frame sampling over
    * the binary column: same mapPartitions + grouped(BatchSize)
    * batching as J2, but one-to-many (each media blob yields a row
    * per sampled frame). */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[(Long, Array[Byte])] = mediaTable(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.flatMap { case (id, bytes) => sampleFrames(id, bytes) }
      }
    }.toDF()
  }

  /** Frame f covers bytes [f*16, f*16+16); docs shorter than one
    * frame produce no rows in either engine. */
  def frameSampleSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, length(text) AS n,
       |    list_transform(str_split(text, ''), c -> ascii(c)) AS bytes
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, bytes,
       |    unnest(range(0, n // $FrameBytes)) AS frame_idx
       |  FROM b
       |)
       |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |  $FrameBytes AS n_frame_bytes,
       |  CAST(CAST(list_sum(
       |      bytes[frame_idx * $FrameBytes + 1 : frame_idx * $FrameBytes + $FrameBytes])
       |    AS DOUBLE) / $FrameBytes AS FLOAT) AS frame_mean
       |FROM f WHERE frame_idx % $FrameStride = 0""".stripMargin

  case class ResizedPixel(doc_id: Long, out_idx: Int, pix: Int)

  private val ResizeW = 32

  /** The stubbed resizer: nearest-neighbor resample of the 1xN "image"
    * to a fixed 1x32 — out pixel i reads source byte floor(i*n/32).
    * A real deployment swaps the body for an image library's resize;
    * the fixed-output-shape batched contract is what a training
    * pipeline needs (constant tensor shapes downstream). */
  private def resizeOne(docId: Long, media: Array[Byte]): Seq[ResizedPixel] =
    if (media.isEmpty) Seq.empty
    else (0 until ResizeW).map { i =>
      ResizedPixel(docId, i,
        media(((i.toLong * media.length) / ResizeW).toInt) & 0xff)
    }

  /** J4 `multimodal_resize_stub` — deterministic nearest-neighbor
    * resize over the binary column, long format (one row per output
    * pixel), through the same mapPartitions batching seam. */
  def resizeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[(Long, Array[Byte])] = mediaTable(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.flatMap { case (id, bytes) => resizeOne(id, bytes) }
      }
    }.toDF()
  }

  def resizeStubSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, length(text) AS n,
       |    list_transform(str_split(text, ''), c -> ascii(c)) AS bytes
       |  FROM documents WHERE length(text) > 0
       |), px AS (
       |  SELECT doc_id, n, bytes, unnest(range(0, $ResizeW)) AS i
       |  FROM b
       |)
       |SELECT doc_id, CAST(i AS INTEGER) AS out_idx,
       |  CAST(bytes[(i * n) // $ResizeW + 1] AS INTEGER) AS pix
       |FROM px""".stripMargin

  // ---- J5: REAL codec behind the same batching seam ----------------

  private val ImgW = 8
  private val ImgH = 8

  /** Deterministic synthetic image: pixel channels are pure functions
    * of (doc_id, x, y), so the decode output is reproducible in plain
    * SQL without any codec — which is what lets a real PNG round-trip
    * be driver-oracle-checked. */
  private def synthPng(docId: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      ImgW, ImgH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW) {
        val r = ((docId * 7 + x * 3 + y * 5) % 256).toInt
        val g = ((docId * 11 + x * 13 + y * 17) % 256).toInt
        val b = ((docId * 19 + x * 23 + y * 29) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** J5 media table: real PNG bytes in the binary column (media is
    * synthesized per doc_id on the executors — nothing driver-side). */
  def pngTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // no tmp-file cache on executors
        it.map(id => (id, synthPng(id)))
      }.toDF("doc_id", "media")
  }

  case class DecodedImage(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** The real decoder: javax.imageio PNG decode (lossless, so pixels
    * recover exactly), per-channel integer SUMS — integers, not float
    * means, so the oracle compare is bit-exact. Non-decodable media
    * in a production feed would route to the C2-style reject channel;
    * here the synth PNGs always decode, so a null decode is a hard
    * error rather than a silent drop. */
  private def decodeImage(docId: Long, png: Array[Byte]): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    require(img != null, s"undecodable image for doc $docId")
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(docId, img.getWidth, img.getHeight, sr, sg, sb)
  }

  /** J5 `multimodal_decode_real` — a REAL image decode through the
    * identical mapPartitions + grouped(BatchSize) seam the stubs use:
    * encode a deterministic 8x8 PNG per doc, decode it back with
    * javax.imageio, emit per-channel pixel sums. Proves the batching
    * contract carries an actual codec (J2-J4's remaining gap), and
    * because the pixels are a pure function of (doc_id,x,y) the
    * result is fully driver-oracle-checked — rare for codec code. */
  def decodeReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[(Long, Array[Byte])] = pngTable(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { case (id, bytes) => decodeImage(id, bytes) }
      }
    }.toDF()
  }

  def decodeRealSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, unnest(range(0, $ImgW)) AS x FROM documents
       |), pxy AS (
       |  SELECT doc_id, x, unnest(range(0, $ImgH)) AS y FROM px
       |)
       |SELECT doc_id,
       |  CAST($ImgW AS INTEGER) AS width,
       |  CAST($ImgH AS INTEGER) AS height,
       |  CAST(SUM((doc_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
       |  CAST(SUM((doc_id * 11 + x * 13 + y * 17) % 256) AS BIGINT) AS sum_g,
       |  CAST(SUM((doc_id * 19 + x * 23 + y * 29) % 256) AS BIGINT) AS sum_b
       |FROM pxy GROUP BY doc_id""".stripMargin

  private val ImgGroups = 100

  /** J6 `multimodal_image_dedup` — dedup of a multimodal corpus by
    * DECODED content, not raw bytes (the point of perceptual dedup:
    * re-encoded copies differ byte-wise but decode identically).
    * Media synth deliberately reuses images across docs (image id =
    * doc_id % [[ImgGroups]], ~5 copies each), each PNG is REALLY
    * decoded through the J5 codec seam, and the dedup key is a
    * fingerprint of the decoded channel statistics — the stand-in for
    * a perceptual hash (pHash/dHash would drop into the same
    * fingerprint column; channel sums keep it exactly
    * oracle-checkable). Downstream is G1's shape: one shuffle on the
    * fingerprint, keeper = min doc_id. */
  def imageDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[(Long, Array[Byte])] =
      Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map(id => (id, synthPng(id % ImgGroups)))
        }.toDF("doc_id", "media").as[(Long, Array[Byte])]
    val decoded = media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { case (id, bytes) => decodeImage(id, bytes) }
      }
    }.toDF()
    decoded
      .groupBy(md5(concat_ws(":", col("width"), col("height"), col("sum_r"),
        col("sum_g"), col("sum_b")).cast("binary")).as("img_fingerprint"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
  }

  def imageDedupSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, doc_id % $ImgGroups AS gid,
       |    unnest(range(0, $ImgW)) AS x
       |  FROM documents
       |), pxy AS (
       |  SELECT doc_id, gid, x, unnest(range(0, $ImgH)) AS y FROM px
       |), dec AS (
       |  SELECT doc_id,
       |    CAST(SUM((gid * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
       |    CAST(SUM((gid * 11 + x * 13 + y * 17) % 256) AS BIGINT) AS sum_g,
       |    CAST(SUM((gid * 19 + x * 23 + y * 29) % 256) AS BIGINT) AS sum_b
       |  FROM pxy GROUP BY 1
       |)
       |SELECT md5($ImgW || ':' || $ImgH || ':' || sum_r || ':' || sum_g
       |    || ':' || sum_b) AS img_fingerprint,
       |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
       |FROM dec GROUP BY 1""".stripMargin

  case class AhashRow(doc_id: Long, ahash_hi: Long, ahash_lo: Long)

  /** J7 `multimodal_ahash` — perceptual average-hash over REALLY
    * decoded pixels: the 64-bit aHash (bit i=y·8+x set iff pixel
    * luminance exceeds the image mean — the classic
    * downsample-and-threshold perceptual fingerprint; the 8×8 synth
    * images ARE the aHash grid, so no resample step). Luminance is
    * the integer channel sum and the threshold is the exact integer
    * cross-multiply 64·lum > Σlum (F14 discipline — no float mean,
    * boundaries can't drift), the hash splits into two 32-bit BIGINT
    * halves so neither engine touches the sign bit. The decode runs
    * through the same mapPartitions + grouped(BatchSize) codec seam
    * as J5; the oracle replays the procedural pixel formula in SQL.
    * Downstream, near-dup grouping on the hash is G18's
    * bit_count(xor) hamming mechanic; here identical images (synth
    * reuses ~5 copies per image group) collapse to identical hashes
    * — keeper = min doc id, G1's shape. */
  def ahash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed: Dataset[AhashRow] =
      Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.grouped(BatchSize).flatMap { batch =>
            batch.map { id =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(synthPng(id % ImgGroups)))
              val lum = new Array[Long](ImgW * ImgH)
              var total = 0L
              var y = 0
              while (y < ImgH) {
                var x = 0
                while (x < ImgW) {
                  val rgb = img.getRGB(x, y)
                  val l = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  lum(y * ImgW + x) = l
                  total += l
                  x += 1
                }
                y += 1
              }
              var hi = 0L
              var lo = 0L
              var i = 0
              while (i < 64) {
                if (64L * lum(i) > total) {
                  if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
                }
                i += 1
              }
              AhashRow(id, hi, lo)
            }
          }
        }
    hashed.toDF()
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("ahash_hi"), col("ahash_lo"))
  }

  def ahashSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, doc_id % $ImgGroups AS gid,
       |    unnest(range(0, $ImgW)) AS x
       |  FROM documents
       |), pxy AS (
       |  SELECT doc_id, gid, x, unnest(range(0, $ImgH)) AS y FROM px
       |), lum AS (
       |  SELECT doc_id, CAST(y * $ImgW + x AS BIGINT) AS idx,
       |    CAST((gid * 7 + x * 3 + y * 5) % 256
       |       + (gid * 11 + x * 13 + y * 17) % 256
       |       + (gid * 19 + x * 23 + y * 29) % 256 AS BIGINT) AS l
       |  FROM pxy
       |), tot AS (
       |  SELECT doc_id, idx, l, SUM(l) OVER (PARTITION BY doc_id) AS t
       |  FROM lum
       |), bits AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN 64 * l > t AND idx >= 32
       |                  THEN CAST(1 AS BIGINT) << CAST(idx - 32 AS INTEGER)
       |                  ELSE 0 END) AS BIGINT) AS ahash_hi,
       |    CAST(SUM(CASE WHEN 64 * l > t AND idx < 32
       |                  THEN CAST(1 AS BIGINT) << CAST(idx AS INTEGER)
       |                  ELSE 0 END) AS BIGINT) AS ahash_lo
       |  FROM tot GROUP BY 1
       |)
       |SELECT ahash_hi, ahash_lo, MIN(doc_id) AS keeper_doc_id,
       |  COUNT(*) AS n_docs
       |FROM bits GROUP BY 1, 2
       |ORDER BY ahash_hi, ahash_lo""".stripMargin

  case class DhashRow(doc_id: Long, dhash: Long)

  /** J8 `multimodal_dhash` — perceptual DIFFERENCE hash over really
    * decoded pixels: bit (y·7+x) set iff luminance INCREASES left to
    * right, lum(x+1,y) > lum(x,y) — the gradient-structure
    * fingerprint that survives global brightness shifts aHash (J7)
    * is sensitive to (the standard dHash tradeoff; production dedup
    * runs both and ANDs the matches). 8 rows × 7 horizontal
    * comparisons = 56 bits, packed into ONE sign-safe BIGINT.
    * Pure integer comparisons — no mean, no threshold drift. Same
    * mapPartitions + grouped(BatchSize) codec seam as J5/J7; the
    * oracle replays the procedural pixel formula with an idx+1
    * self-alignment inside each row. Downstream is G1's shape on the
    * hash (synth reuses ~5 copies per image group). */
  def dhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed: Dataset[DhashRow] =
      Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.grouped(BatchSize).flatMap { batch =>
            batch.map { id =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(synthPng(id % ImgGroups)))
              def lum(x: Int, y: Int): Long = {
                val rgb = img.getRGB(x, y)
                ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              }
              var h = 0L
              var y = 0
              while (y < ImgH) {
                var x = 0
                while (x < ImgW - 1) {
                  if (lum(x + 1, y) > lum(x, y)) h |= 1L << (y * 7 + x)
                  x += 1
                }
                y += 1
              }
              DhashRow(id, h)
            }
          }
        }
    hashed.toDF()
      .groupBy(col("dhash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("dhash"))
  }

  def dhashSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, doc_id % $ImgGroups AS gid,
       |    unnest(range(0, ${ImgW - 1})) AS x
       |  FROM documents
       |), pxy AS (
       |  SELECT doc_id, gid, x, unnest(range(0, $ImgH)) AS y FROM px
       |), cmp AS (
       |  SELECT doc_id, x, y,
       |    CAST((gid * 7 + (x+1) * 3 + y * 5) % 256
       |       + (gid * 11 + (x+1) * 13 + y * 17) % 256
       |       + (gid * 19 + (x+1) * 23 + y * 29) % 256 AS BIGINT)
       |    > CAST((gid * 7 + x * 3 + y * 5) % 256
       |       + (gid * 11 + x * 13 + y * 17) % 256
       |       + (gid * 19 + x * 23 + y * 29) % 256 AS BIGINT) AS up
       |  FROM pxy
       |), bits AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN up
       |                  THEN CAST(1 AS BIGINT) << CAST(y * 7 + x AS INTEGER)
       |                  ELSE 0 END) AS BIGINT) AS dhash
       |  FROM cmp GROUP BY 1
       |)
       |SELECT dhash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
       |FROM bits GROUP BY 1 ORDER BY dhash""".stripMargin

  case class PhashRow(doc_id: Long, phash: Long)

  /** The fixed-point DCT-II basis, scaled by [[PhScale]]:
    * Ct(u)(x) = round(cos(π·(2x+1)·u / 16) · 10⁶). Computed once on
    * the driver and embedded as literals in BOTH engines (the oracle
    * SQL is generated from this same array), so the transform is
    * bit-identical by construction — no transcendental ever runs
    * inside either engine. */
  private val PhScale = 1000000L
  private val PhCos: Array[Array[Long]] = Array.tabulate(ImgH, ImgW)(
    (u, x) => math.round(
      math.cos(math.Pi * (2 * x + 1) * u / (2.0 * ImgW)) * PhScale))

  /** J9 `multimodal_phash` — perceptual DCT hash, completing the
    * aHash/dHash/pHash trio production image dedup actually ANDs
    * (pHash keys on the low-frequency SPECTRUM, so it survives the
    * rescaling/blur that move J7's mean bits and J8's local
    * gradients). Standard pHash resamples to 32×32 then keeps the
    * top-left 8×8 DCT block; the 8×8 synth images here are already
    * at grid size (J7's convention), so the transform is a direct
    * 8×8 DCT-II and the hash keeps the top-left 4×4 low-frequency
    * block. Integer-exact route (the r10 verdict's prescription):
    * luminance is the integer channel sum (0..765), the DCT is an
    * exact integer bilinear form over the [[PhCos]] fixed-point
    * cosine table (|coef| ≤ 765·10¹²·64 ≈ 4.9·10¹⁶ — comfortably in
    * a BIGINT), and the bit threshold is the EXACT MEDIAN of the 15
    * AC coefficients (DC excluded as in every production pHash — it
    * only encodes brightness): with an odd count the median is an
    * actual data point (the F21 exact-median trick), so bit
    * boundaries cannot drift between engines. Bit (u·4+v) set iff
    * coef > median; 15 bits, one sign-safe BIGINT. Same
    * mapPartitions + grouped(BatchSize) codec seam as J5/J7/J8;
    * downstream is G1's shape (synth reuses ~5 copies per image
    * group) and G18's bit_count(xor) hamming mechanic applies. */
  def phash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ct = PhCos // avoid capturing `this` in the task closure
    val hashed: Dataset[PhashRow] =
      Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.grouped(BatchSize).flatMap { batch =>
            batch.map { id =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(synthPng(id % ImgGroups)))
              val lum = Array.tabulate(ImgH, ImgW) { (y, x) =>
                val rgb = img.getRGB(x, y)
                (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toLong
              }
              // 15 AC coefficients of the top-left 4x4 block
              val coefs = for {
                u <- 0 until 4; v <- 0 until 4 if u != 0 || v != 0
              } yield {
                var c = 0L
                var y = 0
                while (y < ImgH) {
                  var x = 0
                  while (x < ImgW) {
                    c += lum(y)(x) * ct(u)(x) * ct(v)(y)
                    x += 1
                  }
                  y += 1
                }
                (u * 4 + v, c)
              }
              val median = coefs.map(_._2).sorted.apply(coefs.size / 2)
              var h = 0L
              coefs.foreach { case (bit, c) =>
                if (c > median) h |= 1L << bit
              }
              PhashRow(id, h)
            }
          }
        }
    hashed.toDF()
      .groupBy(col("phash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("phash"))
  }

  def phashSql: String = {
    // the SAME fixed-point cosine table, as a VALUES relation — the
    // oracle's transform is literal-identical to the engine's
    val ctRows = (for (u <- 0 until 4; x <- 0 until ImgW)
      yield s"($u, $x, ${PhCos(u)(x)})").mkString(", ")
    s"""WITH px AS (
       |  SELECT doc_id, doc_id % $ImgGroups AS gid,
       |    unnest(range(0, $ImgW)) AS x
       |  FROM documents
       |), pxy AS (
       |  SELECT doc_id, gid, x, unnest(range(0, $ImgH)) AS y FROM px
       |), lum AS (
       |  SELECT doc_id, x, y,
       |    CAST((gid * 7 + x * 3 + y * 5) % 256
       |       + (gid * 11 + x * 13 + y * 17) % 256
       |       + (gid * 19 + x * 23 + y * 29) % 256 AS BIGINT) AS l
       |  FROM pxy
       |), ct(u, x, c) AS (VALUES $ctRows),
       |coef AS (
       |  SELECT l.doc_id, tu.u, tv.u AS v,
       |    CAST(SUM(l.l * tu.c * tv.c) AS BIGINT) AS cval
       |  FROM lum l
       |  JOIN ct tu ON tu.x = l.x
       |  JOIN ct tv ON tv.x = l.y
       |  WHERE NOT (tu.u = 0 AND tv.u = 0)
       |  GROUP BY 1, 2, 3
       |), med AS (
       |  SELECT doc_id, quantile_disc(cval, 0.5) AS m FROM coef GROUP BY 1
       |), bits AS (
       |  SELECT c.doc_id,
       |    CAST(SUM(CASE WHEN c.cval > m.m
       |                  THEN CAST(1 AS BIGINT) << CAST(c.u * 4 + c.v AS INTEGER)
       |                  ELSE 0 END) AS BIGINT) AS phash
       |  FROM coef c JOIN med m ON c.doc_id = m.doc_id GROUP BY 1
       |)
       |SELECT phash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
       |FROM bits GROUP BY 1 ORDER BY phash""".stripMargin
  }

  // ---- J10: the ANDed perceptual near-dup verdict -------------------

  /** J10 hamming thresholds: a pair is a near-dup iff ALL THREE hash
    * distances are under threshold (the imagededup-style ensemble —
    * each hash family has disjoint blind spots, so production image
    * dedup ANDs them; J9's design note). Sum 2+1+3 = 6 < [[NdBands]],
    * which is what makes the pigeonhole band join complete. */
  private val NdMaxA = 2 // aHash (64 bits): brightness-threshold bits
  private val NdMaxD = 1 // dHash (56 bits): local gradient bits
  private val NdMaxP = 3 // pHash (15 bits): low-frequency spectrum bits
  private val NdBands = 7

  /** Near-dup media synth: copy c of image group g perturbs ONE pixel
    * (c%8, (c/8)%8) of the base image by ±4 on the green channel —
    * re-encodes of the "same" image that no longer match byte-wise OR
    * hash-exactly, so the three hamming distances are genuinely
    * nonzero within a group (measured: aHash ≤ 2, dHash 0, pHash ≤ 6
    * across 10 copies — the thresholds sit inside that envelope). */
  private def synthPngNear(docId: Long): Array[Byte] = {
    val gid = docId % ImgGroups
    val copy = docId / ImgGroups
    val (px, py) = ((copy % 8).toInt, ((copy / 8) % 8).toInt)
    val img = new java.awt.image.BufferedImage(
      ImgW, ImgH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW) {
        val r = ((gid * 7 + x * 3 + y * 5) % 256).toInt
        val g0 = ((gid * 11 + x * 13 + y * 17) % 256).toInt
        val g = if (x == px && y == py) { if (g0 < 128) g0 + 4 else g0 - 4 }
                else g0
        val b = ((gid * 19 + x * 23 + y * 29) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  case class TriHash(doc_id: Long, ahash_hi: Long, ahash_lo: Long,
      dhash: Long, phash: Long)

  /** All three perceptual hashes from one real decode — J7's exact
    * integer mean threshold, J8's gradient comparisons, J9's
    * fixed-point DCT with the exact-median AC threshold, verbatim. */
  private def triHashOf(docId: Long, png: Array[Byte]): TriHash = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    require(img != null, s"undecodable image for doc $docId")
    val lum = Array.tabulate(ImgH, ImgW) { (y, x) =>
      val rgb = img.getRGB(x, y)
      ((((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff))).toLong
    }
    var total = 0L
    var y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW) { total += lum(y)(x); x += 1 }
      y += 1
    }
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 64) {
      if (64L * lum(i / 8)(i % 8) > total) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    var dh = 0L
    y = 0
    while (y < ImgH) {
      var x = 0
      while (x < ImgW - 1) {
        if (lum(y)(x + 1) > lum(y)(x)) dh |= 1L << (y * 7 + x)
        x += 1
      }
      y += 1
    }
    val ct = PhCos
    val coefs = for {
      u <- 0 until 4; v <- 0 until 4 if u != 0 || v != 0
    } yield {
      var c = 0L
      var yy = 0
      while (yy < ImgH) {
        var xx = 0
        while (xx < ImgW) { c += lum(yy)(xx) * ct(u)(xx) * ct(v)(yy); xx += 1 }
        yy += 1
      }
      (u * 4 + v, c)
    }
    val median = coefs.map(_._2).sorted.apply(coefs.size / 2)
    var ph = 0L
    coefs.foreach { case (bit, c) => if (c > median) ph |= 1L << bit }
    TriHash(docId, hi, lo, dh, ph)
  }

  /** J10 `multimodal_neardup_verdict` — the ANDed perceptual near-dup
    * verdict over the full aHash∧dHash∧pHash trio, served as the pair
    * table WITH its cluster structure (the imagededup/perceptual-
    * ensemble shape production image dedup actually runs; J9's design
    * note says the trio is ANDed — this operator serves that AND).
    *
    * Stages, all bounded or linear:
    * 1. EXACT COLLAPSE — the corpus (perturbed re-encodes, see
    *    [[synthPngNear]]) decodes through the J5 codec seam into the
    *    three hashes, then collapses to DISTINCT hash triples
    *    (variant rep = min doc_id, member count): exact dedup before
    *    near-dup, the standard staging, and the only corpus-sized
    *    shuffle in the plan.
    * 2. PIGEONHOLE BAND JOIN (G18's discipline, widened to the
    *    135-bit concatenated fingerprint): the triple splits into
    *    [[NdBands]] = 7 bands (4×16 aHash, 2×28 dHash, 1×15 pHash);
    *    any pair within the ANDed thresholds has total hamming ≤
    *    [[NdMaxA]]+[[NdMaxD]]+[[NdMaxP]] = 6 < 7, so it MUST agree
    *    exactly on some band — the equi-join on (band, bval) is
    *    complete with zero false negatives, and never all-pairs. A
    *    degenerate hot band value is an AQE skew-join split.
    * 3. EXACT RECHECK — bit_count(xor) per family, verdict = all
    *    three under threshold.
    * 4. CLUSTERS — the G6 min-label-propagation seam
    *    (Dedup.minLabelPropagate) over the verdict edges labels each
    *    verdict pair with its component rep (min variant rep).
    * Serve: one row per CANDIDATE variant pair — the three distances,
    * member counts, the verdict, and the cluster rep (NULL for
    * band-colliding pairs the recheck rejected). */
  def neardupVerdict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed: Dataset[TriHash] =
      Tables.documents(spark, dir, fan = true).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.grouped(BatchSize).flatMap { batch =>
            batch.map(id => triHashOf(id, synthPngNear(id)))
          }
        }
    val variants = hashed.toDF()
      .groupBy(col("ahash_hi"), col("ahash_lo"), col("dhash"), col("phash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
      .cutLineage() // one decode pass; both band-join sides reuse it
    val bandCols = Seq(
      col("ahash_lo").bitwiseAND(lit(0xffffL)),
      shiftright(col("ahash_lo"), 16).bitwiseAND(lit(0xffffL)),
      col("ahash_hi").bitwiseAND(lit(0xffffL)),
      shiftright(col("ahash_hi"), 16).bitwiseAND(lit(0xffffL)),
      col("dhash").bitwiseAND(lit(0xfffffffL)),
      shiftright(col("dhash"), 28).bitwiseAND(lit(0xfffffffL)),
      col("phash"))
    val banded = variants.select(col("rep"), col("n_docs"), col("ahash_hi"),
      col("ahash_lo"), col("dhash"), col("phash"),
      explode(array(bandCols.zipWithIndex.map { case (c, j) =>
        struct(lit(j).as("band"), c.as("bval"))
      }: _*)).as("b"))
      .select(col("rep"), col("n_docs"), col("ahash_hi"), col("ahash_lo"),
        col("dhash"), col("phash"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    val lhs = banded.select(col("band"), col("bval"), col("rep").as("doc_a"),
      col("n_docs").as("n_docs_a"), col("ahash_hi").as("ha"),
      col("ahash_lo").as("la"), col("dhash").as("da"), col("phash").as("pa"))
    val rhs = banded.select(col("band"), col("bval"), col("rep").as("doc_b"),
      col("n_docs").as("n_docs_b"), col("ahash_hi").as("hb"),
      col("ahash_lo").as("lb"), col("dhash").as("db"), col("phash").as("pb"))
    val pairs = lhs.join(rhs, Seq("band", "bval"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_docs_a"), col("n_docs_b"),
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long").as("h_ahash"),
        bit_count(col("da").bitwiseXOR(col("db"))).cast("long").as("h_dhash"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long").as("h_phash"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("n_docs_a")).as("n_docs_a"),
        min(col("n_docs_b")).as("n_docs_b"),
        min(col("h_ahash")).as("h_ahash"), min(col("h_dhash")).as("h_dhash"),
        min(col("h_phash")).as("h_phash"))
      .withColumn("is_neardup", col("h_ahash") <= NdMaxA &&
        col("h_dhash") <= NdMaxD && col("h_phash") <= NdMaxP)
      .cutLineage() // consumed twice: edges + serve
    val verdictEdges = pairs.filter(col("is_neardup"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = verdictEdges.unionAll(
      verdictEdges.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Dedup.minLabelPropagate(edges)
    pairs.join(labels, col("doc_a") === col("node") && col("is_neardup"),
        "left_outer")
      .select(col("doc_a"), col("doc_b"), col("n_docs_a"), col("n_docs_b"),
        col("h_ahash"), col("h_dhash"), col("h_phash"), col("is_neardup"),
        col("label").as("cluster_rep"))
  }

  def neardupVerdictSql: String = {
    val ctRows = (for (u <- 0 until 4; x <- 0 until ImgW)
      yield s"($u, $x, ${PhCos(u)(x)})").mkString(", ")
    s"""WITH RECURSIVE px AS (
       |  SELECT doc_id, doc_id % $ImgGroups AS gid, doc_id // $ImgGroups
       |    AS copy, unnest(range(0, $ImgW)) AS x
       |  FROM documents
       |), pxy AS (
       |  SELECT doc_id, gid, copy, x, unnest(range(0, $ImgH)) AS y FROM px
       |), lum AS (
       |  SELECT doc_id, x, y,
       |    CAST((gid * 7 + x * 3 + y * 5) % 256
       |      + CASE WHEN x = copy % 8 AND y = (copy // 8) % 8 THEN
       |          CASE WHEN (gid * 11 + x * 13 + y * 17) % 256 < 128
       |               THEN (gid * 11 + x * 13 + y * 17) % 256 + 4
       |               ELSE (gid * 11 + x * 13 + y * 17) % 256 - 4 END
       |        ELSE (gid * 11 + x * 13 + y * 17) % 256 END
       |      + (gid * 19 + x * 23 + y * 29) % 256 AS BIGINT) AS l
       |  FROM pxy
       |), tot AS (SELECT doc_id, SUM(l) AS t FROM lum GROUP BY 1),
       |abits AS (
       |  SELECT l.doc_id,
       |    CAST(SUM(CASE WHEN 64 * l > t AND (y * 8 + x) >= 32
       |      THEN CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS ahash_hi,
       |    CAST(SUM(CASE WHEN 64 * l > t AND (y * 8 + x) < 32
       |      THEN CAST(1 AS BIGINT) << CAST(y * 8 + x AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS ahash_lo
       |  FROM lum l JOIN tot USING (doc_id) GROUP BY 1
       |), dbits AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN b.l > a.l
       |      THEN CAST(1 AS BIGINT) << CAST(a.y * 7 + a.x AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS dhash
       |  FROM lum a JOIN lum b
       |    ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
       |  WHERE a.x < ${ImgW - 1} GROUP BY 1
       |), ct(u, x, c) AS (VALUES $ctRows),
       |coef AS (
       |  SELECT l.doc_id, tu.u, tv.u AS v,
       |    CAST(SUM(l.l * tu.c * tv.c) AS BIGINT) AS cval
       |  FROM lum l JOIN ct tu ON tu.x = l.x JOIN ct tv ON tv.x = l.y
       |  WHERE NOT (tu.u = 0 AND tv.u = 0) GROUP BY 1, 2, 3
       |), med AS (
       |  SELECT doc_id, quantile_disc(cval, 0.5) AS m FROM coef GROUP BY 1
       |), pbits AS (
       |  SELECT c.doc_id,
       |    CAST(SUM(CASE WHEN c.cval > m.m
       |      THEN CAST(1 AS BIGINT) << CAST(c.u * 4 + c.v AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM coef c JOIN med m ON c.doc_id = m.doc_id GROUP BY 1
       |), tri AS (
       |  SELECT doc_id, ahash_hi, ahash_lo, dhash, phash
       |  FROM abits JOIN dbits USING (doc_id) JOIN pbits USING (doc_id)
       |), vr AS (
       |  SELECT ahash_hi, ahash_lo, dhash, phash,
       |    MIN(doc_id) AS rep, COUNT(*) AS n_docs
       |  FROM tri GROUP BY 1, 2, 3, 4
       |), bands AS (
       |  SELECT rep, n_docs, ahash_hi, ahash_lo, dhash, phash, j AS band,
       |    CASE j WHEN 0 THEN ahash_lo & 65535
       |           WHEN 1 THEN (ahash_lo >> 16) & 65535
       |           WHEN 2 THEN ahash_hi & 65535
       |           WHEN 3 THEN (ahash_hi >> 16) & 65535
       |           WHEN 4 THEN dhash & 268435455
       |           WHEN 5 THEN (dhash >> 28) & 268435455
       |           ELSE phash END AS bval
       |  FROM vr CROSS JOIN range(0, $NdBands) r(j)
       |), cand AS (
       |  SELECT a.rep AS doc_a, b.rep AS doc_b,
       |    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |    CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
       |      + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS h_ahash,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS h_dhash,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS h_phash
       |  FROM bands a JOIN bands b USING (band, bval)
       |  WHERE a.rep < b.rep
       |), prs AS (
       |  SELECT doc_a, doc_b, MIN(n_docs_a) AS n_docs_a,
       |    MIN(n_docs_b) AS n_docs_b, MIN(h_ahash) AS h_ahash,
       |    MIN(h_dhash) AS h_dhash, MIN(h_phash) AS h_phash,
       |    MIN(h_ahash) <= $NdMaxA AND MIN(h_dhash) <= $NdMaxD
       |      AND MIN(h_phash) <= $NdMaxP AS is_neardup
       |  FROM cand GROUP BY 1, 2
       |), vedges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM prs WHERE is_neardup
       |  UNION SELECT doc_b, doc_a FROM prs WHERE is_neardup
       |), reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM vedges
       |  UNION
       |  SELECT e.a, r.b FROM vedges e JOIN reach r ON e.b = r.a
       |), comp AS (
       |  SELECT a AS node, MIN(b) AS cluster_rep FROM reach GROUP BY a
       |)
       |SELECT p.doc_a, p.doc_b, p.n_docs_a, p.n_docs_b, p.h_ahash,
       |  p.h_dhash, p.h_phash, p.is_neardup, c.cluster_rep
       |FROM prs p LEFT JOIN comp c ON p.is_neardup AND p.doc_a = c.node"""
      .stripMargin
  }

  val registry: Seq[(String, Entry)] = Seq(
    "multimodal_neardup_verdict" -> Entry(neardupVerdict _, neardupVerdictSql, shuffles = 2),
    "multimodal_phash" -> Entry(phash _, phashSql, shuffles = 2),
    "multimodal_dhash" -> Entry(dhash _, dhashSql, shuffles = 2),
    "multimodal_ahash" -> Entry(ahash _, ahashSql, shuffles = 2),
    "multimodal_feature_stub" -> Entry(featureStub _, featureStubSql, shuffles = 0),
    "multimodal_frame_sample" -> Entry(frameSample _, frameSampleSql, shuffles = 0),
    "multimodal_resize_stub" -> Entry(resizeStub _, resizeStubSql, shuffles = 0),
    "multimodal_decode_real" -> Entry(decodeReal _, decodeRealSql, shuffles = 0),
    "multimodal_image_dedup" -> Entry(imageDedup _, imageDedupSql, shuffles = 1))
}
