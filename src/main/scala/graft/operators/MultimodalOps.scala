package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Multimodal column plumbing (north-star extension — SURVEY.md §2.3):
  * image/audio/video travel as opaque `binary` columns with typed
  * metadata alongside. Every tier decodes REAL bytes:
  *
  *  - `image_meta` / `image_resize`: synthesized valid PNG/JPEG bytes
  *    ([[synthPng]]/[[synthJpeg]]/[[synthPngPixels]]) parsed back by a
  *    pure-JVM header parser or javax.imageio pixel decode.
  *  - `audio_meta` / `audio_frame_sample`: valid PCM WAV bytes walked as
  *    RIFF chunks ([[synthWav]]/[[decodeWavMeta]]).
  *  - `video_meta`: a minimal valid AVI — RIFF(AVI ) with real `hdrl`
  *    headers and uncompressed DIB frames in `movi` — parsed back by the
  *    same RIFF discipline ([[synthAvi]]/[[decodeAvi]]).
  *  - `multimodal_meta`: the unified dispatcher — payloads of all three
  *    types in one binary column, the decoder SNIFFS the container magic
  *    (never trusts a label) and routes to the matching real parser.
  *
  * Why mapPartitions: a decoder has per-call setup (codec init, model
  * load). Batching it per partition amortizes that setup exactly like a
  * vectorized/Arrow-batched UDF would, while keeping the rest of the plan
  * in Tungsten.
  */
object MultimodalOps {

  /** One media row: opaque payload + the metadata a real pipeline carries. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Decoder output: deterministic metadata extracted from the payload.
    * Unified across tiers: images have n_frames = 1, audio reports
    * sample frames with no raster dims, video reports raster dims and
    * its frame count. */
  case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int)

  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec); f.delete(); ()
  }

  /** Materialize-once parquet cache for the synthesized payload tables.
    * The driver data carries no binary column, so payloads are
    * synthesized — but synthesis must not be charged to the decode path
    * these operators exist to exercise (the round-8 SCALING
    * bench-fidelity caveat): each payload table is written to parquet
    * ONCE per (sf, table) under `java.io.tmpdir`, and every query reads
    * the parquet back — binary column in, decode in `mapPartitions` —
    * the exact shape of a production media table. `/tmp` is volatile and
    * that is fine: a missing `_SUCCESS` marker rebuilds on demand, and
    * the bench warm-up ([[warmPayloads]]) builds them outside the timed
    * window. The cache directory carries the documents table's version
    * key ([[Tables.versionTag]]: total file length + newest mtime), so
    * test data REGENERATED at the same path rebuilds the payloads — a
    * /tmp cache keyed on path alone would silently serve payloads for a
    * doc_id set that no longer exists. The key is one file listing, no
    * Spark job. */
  private def payloadCached(spark: SparkSession, sfDir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_") + "_" +
      Tables.versionTag(spark, sfDir, "documents")
    val dir = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), s"graft_media_$tag"), name)
    if (!new java.io.File(dir, "_SUCCESS").isFile) {
      // Concurrent JVMs (bench + verify) warming the same (sf, table)
      // must not interleave `mode("overwrite")` writes into one shared
      // directory — a reader could observe the window between the
      // overwrite's delete and its _SUCCESS. Build into a process-unique
      // temp sibling and rename into place: POSIX directory rename is
      // atomic, so readers see either nothing (→ they build their own)
      // or a complete table. If a sibling process renamed first, keep
      // theirs and drop ours.
      val tmp = new java.io.File(dir.getParentFile,
        s".$name.tmp.${ProcessHandle.current().pid()}.${System.nanoTime()}")
      build.write.mode("overwrite").parquet(tmp.toString)
      try java.nio.file.Files.move(tmp.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case scala.util.control.NonFatal(e) =>
          deleteRec(tmp)
          if (!new java.io.File(dir, "_SUCCESS").isFile) throw e
      }
    }
    spark.read.parquet(dir.toString)
  }

  /** Harness warm-up hook: build (if absent) every payload table for
    * `sfDir` so the one-time synthesis write never lands inside a timed
    * query window. */
  def warmPayloads(spark: SparkSession, sfDir: String): Unit = {
    mediaTable(spark, sfDir).count()
    imageTable(spark, sfDir).count()
    audioTable(spark, sfDir).count()
    videoTable(spark, sfDir).count()
    pixelTable(spark, sfDir).count()
    ()
  }

  /** The media table, synthesized from `documents` (the driver data has
    * no binary column): one REAL encoded payload per row, the container
    * chosen by doc_id so the oracle can re-derive what the decoder must
    * parse — PNG for the image tier, PCM WAV for audio, AVI for video. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    payloadCached(spark, sfDir, "media") {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id % 3) match {
            case 0 => MediaRow(id, "image",
              synthPng(((id % 640) + 1).toInt, ((id % 480) + 1).toInt))
            case 1 => MediaRow(id, "audio",
              synthWav(WavRates((id % 4).toInt), (id % 2).toInt + 1,
                (id % 100).toInt + 1))
            case _ => MediaRow(id, "video",
              synthAvi(((id % 16) + 2).toInt, ((id % 12) + 2).toInt,
                ((id % 8) + 1).toInt))
          }
        }).toDF()
    }.as[MediaRow]
  }

  /** REAL dispatch decode: sniff the container magic — PNG signature,
    * RIFF/WAVE, RIFF/AVI — and run the matching parser. The media_type
    * column is re-DERIVED from the bytes, never copied from a label, so
    * a mislabeled or corrupt payload is hash-visible. Throws on bytes no
    * parser claims: quarantine, not pass. */
  private[graft] def decodeMedia(row: MediaRow): MediaMeta = {
    val p = row.payload
    if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte) {
      val (_, w, h) = decodeImageMeta(p)
      MediaMeta(row.doc_id, "image", p.length, w, h, 1)
    } else if (p.length >= 12 && new String(p, 0, 4, "US-ASCII") == "RIFF") {
      new String(p, 8, 4, "US-ASCII") match {
        case "WAVE" =>
          val (rate, channels, bits, dataLen) = decodeWavMeta(p)
          MediaMeta(row.doc_id, "audio", p.length, 0, 0,
            dataLen / (channels * bits / 8))
        case "AVI " =>
          val (w, h, frames, _, _) = decodeAvi(p)
          MediaMeta(row.doc_id, "video", p.length, w, h, frames)
        case other =>
          throw new IllegalArgumentException(s"unrecognized RIFF form $other")
      }
    } else throw new IllegalArgumentException("unrecognized media payload")
  }

  /** Batched decode over partitions of binary payloads — the real
    * multimodal execution shape. Decoder setup happens once per
    * partition (iterator construction), then streams. */
  def decodeAll(spark: SparkSession, sfDir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions { rows =>
      // per-partition decoder init would go here (codec/model handles)
      rows.map(decodeMedia)
    }
  }

  /** Oracle-checkable rendition of the dispatch decode: the oracle
    * re-derives each tier's metadata arithmetically from doc_id, so the
    * sniff, the parser routing, and every parsed field must all agree
    * with independently computed values. */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodeAll(spark, sfDir).toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- real image decode
  /** One decoded image row: real metadata parsed from real header bytes. */
  case class ImageMeta(doc_id: Long, format: String, width: Int, height: Int,
      n_bytes: Int)

  case class ImageBytes(doc_id: Long, payload: Array[Byte])

  /** Minimal VALID PNG: signature + IHDR (with real CRC32) + IEND. A
    * header-reading decoder — this one, javax.imageio, `file` — sees a
    * well-formed wxh 8-bit RGB image. */
  private[graft] def synthPng(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val body = typ.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** Minimal VALID JPEG header stream: SOI + JFIF APP0 + SOF0 (which
    * carries the dimensions) + SOS (required by strict readers before
    * they report metadata) + EOI. */
  private[graft] def synthJpeg(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(Array(0xff, 0xe0, 0x00, 0x10,    // APP0, len 16
      'J', 'F', 'I', 'F', 0x00, 0x01, 0x01, 0x00,
      0x00, 0x01, 0x00, 0x01, 0x00, 0x00).map(_.toByte))
    val sof = java.nio.ByteBuffer.allocate(13)
      .put(0xff.toByte).put(0xc0.toByte)       // SOF0 (baseline)
      .putShort(11.toShort)                    // segment length
      .put(8.toByte)                           // precision
      .putShort(h.toShort).putShort(w.toShort) // lines, samples/line
      .put(1.toByte)                           // 1 component (grayscale)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    out.write(sof.array())
    out.write(Array(0xff, 0xda, 0x00, 0x08,    // SOS, len 8, 1 component
      0x01, 0x01, 0x00, 0x00, 0x3f, 0x00).map(_.toByte))
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** REAL pure-JVM header parse — PNG IHDR / JPEG SOF marker walk (the
    * same reads javax.imageio does; no codec library needed for
    * metadata). Returns (format, width, height); throws on bytes that
    * are neither — a malformed payload must quarantine, not pass. */
  private[graft] def decodeImageMeta(payload: Array[Byte]): (String, Int, Int) = {
    val buf = java.nio.ByteBuffer.wrap(payload)
    if (payload.length >= 24 &&
        (payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte &&
        payload(2) == 'N'.toByte && payload(3) == 'G'.toByte) {
      // bytes 8-15 are the IHDR length+type; 16-23 its width/height
      require(new String(payload, 12, 4, "US-ASCII") == "IHDR", "PNG without IHDR first")
      ("png", buf.getInt(16), buf.getInt(20))
    } else if (payload.length >= 4 &&
        (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      // walk segments: marker(2) + big-endian length(2) covering payload
      var i = 2
      while (i + 4 <= payload.length) {
        require((payload(i) & 0xff) == 0xff, f"bad JPEG marker at $i")
        val marker = payload(i + 1) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) { // a SOF
          val h = ((payload(i + 5) & 0xff) << 8) | (payload(i + 6) & 0xff)
          val w = ((payload(i + 7) & 0xff) << 8) | (payload(i + 8) & 0xff)
          return ("jpeg", w, h)
        }
        i += 2 + (((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff))
      }
      throw new IllegalArgumentException("JPEG without SOF")
    } else throw new IllegalArgumentException("unrecognized image payload")
  }

  /** Synthesized-image table: real PNG/JPEG bytes (alternating by
    * doc_id) with data-derived dimensions — the binary-column shape a
    * production pipeline carries, built without any image library. */
  def imageTable(spark: SparkSession, sfDir: String): Dataset[ImageBytes] = {
    import spark.implicits._
    payloadCached(spark, sfDir, "image") {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val (w, h) = (((id % 640) + 1).toInt, ((id % 480) + 1).toInt)
          ImageBytes(id, if (id % 2 == 0) synthPng(w, h) else synthJpeg(w, h))
        }).toDF()
    }.as[ImageBytes]
  }

  /** Batched REAL decode over image payloads: mapPartitions parses each
    * header (decoder init amortized per partition), yielding metadata the
    * oracle can independently derive from doc_id — so a parser bug
    * (endianness, offset, marker walk) fails the hash check. */
  def imageMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, sfDir).mapPartitions(_.map { row =>
      val (fmt, w, h) = decodeImageMeta(row.payload)
      ImageMeta(row.doc_id, fmt, w, h, row.payload.length)
    }).toDF().orderBy("doc_id")
  }

  // ------------------------------------------------- real pixel pipeline
  /** Fully decodable PNG: IHDR + IDAT carrying real deflated truecolor
    * scanlines (filter None) + IEND. Pixel (x, y) channels follow a
    * deterministic formula — (x+y, 2x+y, x+2y) mod 251 — so downstream
    * pixel arithmetic is independently derivable by the oracle. Any
    * conformant reader (javax.imageio included) decodes these bytes. */
  private[graft] def synthPngPixels(w: Int, h: Int): Array[Byte] = {
    val raw = new Array[Byte]((w * 3 + 1) * h)
    var idx = 0
    (0 until h).foreach { y =>
      raw(idx) = 0; idx += 1 // per-scanline filter byte: None
      (0 until w).foreach { x =>
        raw(idx) = ((x + y) % 251).toByte
        raw(idx + 1) = ((2 * x + y) % 251).toByte
        raw(idx + 2) = ((x + 2 * y) % 251).toByte
        idx += 3
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) comp.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      val body = typ.getBytes("US-ASCII") ++ data
      out.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte) // 8-bit truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  case class ResizedImage(doc_id: Long, in_w: Int, in_h: Int,
      out_w: Int, out_h: Int, pix_sum: Long)

  /** Fully-decodable-PNG table for the pixel pipeline (dims ≤33×25 so
    * the oracle's per-pixel arithmetic stays cheap at every SF). */
  private[operators] def pixelTable(spark: SparkSession, sfDir: String): Dataset[ImageBytes] = {
    import spark.implicits._
    payloadCached(spark, sfDir, "image_px") {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val (w, h) = (((id % 32) + 2).toInt, ((id % 24) + 2).toInt)
          ImageBytes(id, synthPngPixels(w, h))
        }).toDF()
    }.as[ImageBytes]
  }

  /** REAL image decode + nearest-neighbor 2× downsample: javax.imageio
    * inflates and unfilters the PNG, then the resize picks pixel
    * (2i, 2j) for output (i, j) — explicit NN, not getScaledInstance,
    * because the oracle must reproduce every kept pixel. `pix_sum` is
    * the exact channel sum over the RESIZED image: a wrong inflate,
    * unfilter, stride, or channel order changes it. Dimensions are kept
    * small (≤33×25) so the oracle's per-pixel arithmetic stays cheap at
    * every SF; the Spark-side shape (binary column → mapPartitions
    * decode, decoder init amortized per partition, map-only until the
    * presentation sort) is the one a real 100 TB media pipeline runs. */
  def imageResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pixelTable(spark, sfDir)
      .mapPartitions { it =>
        // ImageIO's default stream cache backs every read with a temp
        // FILE (create/write/delete per image) — per-row filesystem I/O
        // that would be charged to "decode", and a hard failure on a
        // host with an unwritable tmpdir. Decode from memory (the
        // per-partition init this mapPartitions exists to amortize).
        javax.imageio.ImageIO.setUseCache(false)
        it.map { row =>
        val id = row.doc_id
        val (w, h) = (((id % 32) + 2).toInt, ((id % 24) + 2).toInt)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null && img.getWidth == w && img.getHeight == h,
          s"decode failed for doc $id")
        val (ow, oh) = ((w + 1) / 2, (h + 1) / 2)
        var sum = 0L
        var j = 0
        while (j < oh) {
          var i = 0
          while (i < ow) {
            val rgb = img.getRGB(2 * i, 2 * j)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            i += 1
          }
          j += 1
        }
        ResizedImage(id, w, h, ow, oh, sum)
      }
    }.toDF().orderBy("doc_id")
  }

  case class ImagePhash(doc_id: Long, phash: Long)

  /** Perceptual-hash grid side (6×6 samples → 30 horizontal + 30
    * vertical difference bits = a 60-bit hash, BIGINT-safe like the
    * 60-bit SimHash). */
  private val PhashGrid = 6

  /** Perceptual image hash (difference hash, H+V variant) from REAL
    * decoded pixels: javax.imageio inflates the PNG, a nearest-neighbor
    * 6×6 downsample picks pixel (i·w/6, j·h/6), gray = r+g+b (integer —
    * no luma weights, no division), and each bit records whether gray
    * increases to the right (30 bits) / downward (30 bits) — the
    * standard dHash construction, both orientations so the hash sees
    * vertical structure too. The oracle re-derives every bit from the
    * synthetic pixel formula by pure integer SQL, so a wrong inflate,
    * stride, channel order, or grid index breaks the hash match.
    *
    * HONEST COARSENESS NOTE: these synthetic images are monotone
    * gradients, and a difference hash cannot distinguish two monotone
    * gradients with the same sample-repeat pattern — phash classes here
    * are coarser than pixel-identity classes (the spec pins both
    * directions: identical images never split; classes only merge).
    * That is dHash behaving as designed (it is a perceptual sketch);
    * the deliverable is the 100 TB media-dedup machinery — binary
    * column → amortized decode → constant-size hash → hash-groupBy. */
  def imagePhash(spark: SparkSession, sfDir: String): DataFrame =
    phashOf(pixelTable(spark, sfDir)).orderBy("doc_id")

  /** [[imagePhash]]'s kernel over ANY decodable image table — grid
    * indices come from the DECODED dimensions, not the synthetic
    * formula, so the same kernel hashes arriving stream payloads
    * (graft.streaming.StreamingImageDedup). */
  private[graft] def phashOf(images: Dataset[ImageBytes]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { row =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.payload))
        require(img != null, s"decode failed for doc ${row.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val g = PhashGrid
        val gray = Array.tabulate(g, g) { (j, i) =>
          val rgb = img.getRGB(i * w / g, j * h / g)
          ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        }
        var hash = 0L
        for (j <- 0 until g; i <- 0 until g - 1)
          if (gray(j)(i + 1) > gray(j)(i)) hash |= 1L << (j * (g - 1) + i)
        for (i <- 0 until g; j <- 0 until g - 1)
          if (gray(j + 1)(i) > gray(j)(i))
            hash |= 1L << (g * (g - 1) + i * (g - 1) + j)
        ImagePhash(row.doc_id, hash)
      }
    }.toDF()
  }

  /** The offline phash index of an existing media corpus: one row per
    * distinct hash with its min-id canonical — the static side of the
    * streaming media dedup (8 bytes + id per DISTINCT perceptual class,
    * far smaller than the corpus). */
  private[graft] def phashIndex(images: Dataset[ImageBytes]): DataFrame =
    phashOf(images).groupBy(col("phash"))
      .agg(min(col("doc_id")).as("canonical_id"))

  /** One micro-batch's dedup verdicts against the index: arriving
    * images hashed (real decode) and left-joined on the hash —
    * (doc_id, phash, matched_old, kept). Per-batch stream-static join,
    * no cross-batch state (a batch's hash is self-contained). */
  private[graft] def phashVerdicts(batch: DataFrame, index: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    phashOf(batch.select(col("doc_id"), col("payload")).as[ImageBytes])
      .join(index, Seq("phash"), "left_outer")
      .select(col("doc_id"), col("phash"),
        col("canonical_id").as("matched_old"),
        col("canonical_id").isNull.as("kept"))
  }

  /** Image dedup by perceptual hash: the hash-groupBy dedup shape over
    * the multimodal column — one shuffle on the 60-bit hash, per-class
    * window (partitioned by hash, never global), min-id canonical. The
    * media twin of the text `dedup_exact` family: decode once, keep a
    * constant-size sketch per asset, dedup on the sketch — the only
    * shape that survives 100 TB of binary payloads (no pixel data ever
    * shuffles; the hash table is 8 bytes a row). */
  def imageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("phash")).orderBy(col("doc_id"))
    val cw = Window.partitionBy(col("phash"))
    imagePhash(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("class_size", count(lit(1)).over(cw))
      .select(col("doc_id"), col("phash"),
        (col("rn") === 1).as("is_canonical"), col("class_size"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- real audio decode
  /** One decoded audio row: real metadata parsed from real WAV bytes. */
  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Int, duration_ms: Int, n_bytes: Int)

  case class AudioBytes(doc_id: Long, payload: Array[Byte])

  /** Minimal VALID 16-bit PCM WAV: RIFF header + fmt chunk + data chunk
    * with deterministic sample bytes. Any RIFF-walking reader (this one,
    * javax.sound.sampled, `file`) sees a well-formed wave file. */
  private[graft] def synthWav(sampleRate: Int, channels: Int, nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                        // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)  // byte rate
      .putShort((channels * 2).toShort)   // block align
      .putShort(16)                       // bits/sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until dataLen).foreach(i => buf.put((i % 251).toByte))
    buf.array()
  }

  /** REAL RIFF chunk walk (what javax.sound.sampled does for metadata):
    * verify RIFF/WAVE magic, then scan word-aligned chunks for `fmt ` and
    * `data`. Returns (sampleRate, channels, bits, dataLen); throws on
    * malformed bytes — quarantine, not pass. */
  private[graft] def decodeWavMeta(payload: Array[Byte]): (Int, Int, Int, Int) = {
    val (rate, channels, bits, dataLen, _) = decodeWav(payload)
    (rate, channels, bits, dataLen)
  }

  /** The single RIFF walk behind both the metadata and frame-sampling
    * paths: (sampleRate, channels, bits, dataLen, dataOffset). One walk
    * per payload — callers needing several fields destructure once. */
  private def decodeWav(payload: Array[Byte]): (Int, Int, Int, Int, Int) = {
    require(payload.length >= 44 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE stream")
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var (i, rate, channels, bits, dataLen, dataOff) = (12, -1, -1, -1, -1, -1)
    while (i + 8 <= payload.length) {
      val id = new String(payload, i, 4, "US-ASCII")
      val sz = buf.getInt(i + 4)
      // malformed sizes must fail through require, not overflow the
      // cursor: sz near Int.MaxValue would wrap `i + 8 + sz` negative
      // and the next 4-byte read would throw a raw bounds exception
      // instead of quarantining
      require(sz >= 0 && sz <= payload.length - i - 8, "bad RIFF chunk size")
      if (id == "fmt ") {
        require(buf.getShort(i + 8) == 1, "not PCM")
        channels = buf.getShort(i + 10)
        rate = buf.getInt(i + 12)
        bits = buf.getShort(i + 22)
      } else if (id == "data") { dataLen = sz; dataOff = i + 8 }
      i += 8 + sz + (sz % 2) // RIFF chunks are word-aligned
    }
    require(rate > 0 && channels > 0 && bits > 0 && dataLen >= 0,
      "WAV without fmt/data chunks")
    (rate, channels, bits, dataLen, dataOff)
  }

  private[graft] val WavRates = Seq(8000, 16000, 22050, 44100)

  /** Synthesized-audio table: real WAV bytes with data-derived
    * parameters — rate/channels/length are pure functions of doc_id so
    * the oracle can independently derive what the parser must recover. */
  def audioTable(spark: SparkSession, sfDir: String): Dataset[AudioBytes] = {
    import spark.implicits._
    payloadCached(spark, sfDir, "audio") {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          AudioBytes(id, synthWav(WavRates((id % 4).toInt),
            (id % 2).toInt + 1, (id % 100).toInt + 1))
        }).toDF()
    }.as[AudioBytes]
  }

  /** Batched REAL decode over WAV payloads: mapPartitions walks each
    * RIFF stream (decoder init amortized per partition). n_samples and
    * duration are DERIVED from the parsed chunks — an offset, endianness,
    * or alignment bug in the walker fails the hash check. */
  def audioMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, sfDir).mapPartitions(_.map { row =>
      val (rate, channels, bits, dataLen) = decodeWavMeta(row.payload)
      val nSamples = dataLen / (channels * bits / 8)
      AudioMeta(row.doc_id, rate, channels, bits, nSamples,
        nSamples * 1000 / rate, row.payload.length)
    }).toDF().orderBy("doc_id")
  }

  /** The `data` chunk's payload offset, found by the shared RIFF walk —
    * frame sampling must find the bytes by parsing, never by assuming
    * the canonical 44-byte layout. */
  private[graft] def wavDataOffset(payload: Array[Byte]): Int =
    decodeWav(payload)._5

  case class AudioFrames(doc_id: Long, n_frames: Long, n_sampled: Long,
      sum_amp: Long)

  private[graft] val FrameStride = 10

  /** Frame sampling over REAL decoded PCM: walk to the data chunk, read
    * every [[FrameStride]]-th frame's channel-0 16-bit LE sample, and
    * aggregate count + exact amplitude sum — the media tier's
    * feature-extraction shape (strided decode inside mapPartitions, a
    * local byte scan per document; nothing shuffles until the
    * presentation sort). The oracle re-derives the sampled amplitudes
    * arithmetically from the synthesis formula, so an offset, stride,
    * or endianness bug in the sampler breaks the hash match. */
  def audioFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, sfDir).mapPartitions(_.map { row =>
      val (rate, channels, bits, dataLen, off) = decodeWav(row.payload)
      val block = channels * bits / 8
      val nFrames = dataLen / block
      val buf = java.nio.ByteBuffer.wrap(row.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var f = 0; var sampled = 0L; var sum = 0L
      while (f < nFrames) {
        sum += buf.getShort(off + f * block).toLong
        sampled += 1
        f += FrameStride
      }
      AudioFrames(row.doc_id, nFrames.toLong, sampled, sum)
    }).toDF().orderBy("doc_id")
  }

  case class AudioFp(doc_id: Long, fingerprint: Long)

  /** Windows in the audio energy fingerprint (63 bits total: 32 aHash
    * energy-vs-mean bits + 31 window-to-window difference bits —
    * BIGINT-safe like the 60-bit SimHash/phash). */
  private val AfpWindows = 32

  /** Acoustic fingerprint from REAL decoded PCM — the chromaprint-style
    * construction at its core: the RIFF walk locates the sample stream,
    * channel-0 samples split into [[AfpWindows]] equal windows, each
    * window's absolute-amplitude energy is an exact integer sum, and
    * the bits record (a) energy above the track mean (compared by
    * integer cross-multiply — no division) and (b) energy rising into
    * the next window. The oracle re-derives every sample value — LE
    * byte pairs, two's-complement sign, window boundaries — by pure
    * integer SQL, so a wrong offset, stride, endianness, or sign
    * extension breaks the hash match. Like [[imagePhash]], the
    * fingerprint is a perceptual sketch: identical tracks never split,
    * distinct tracks may merge (spec-pinned both ways). */
  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    audioTable(spark, sfDir).mapPartitions(_.map { row =>
      val (_, channels, bits, dataLen, off) = decodeWav(row.payload)
      val block = channels * bits / 8
      val nFrames = dataLen / block
      val buf = java.nio.ByteBuffer.wrap(row.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val energy = Array.tabulate(AfpWindows) { w =>
        val s = w * nFrames / AfpWindows
        val e = (w + 1) * nFrames / AfpWindows
        var f = s; var sum = 0L
        while (f < e) {
          sum += math.abs(buf.getShort(off + f * block).toLong)
          f += 1
        }
        sum
      }
      val total = energy.sum
      var hash = 0L
      for (w <- 0 until AfpWindows)
        if (AfpWindows.toLong * energy(w) > total) hash |= 1L << w
      for (w <- 0 until AfpWindows - 1)
        if (energy(w + 1) > energy(w)) hash |= 1L << (AfpWindows + w)
      AudioFp(row.doc_id, hash)
    }).toDF().orderBy("doc_id")
  }

  /** Audio dedup by acoustic fingerprint — identical shape to
    * [[imageDedup]]: one shuffle of (id, 63-bit hash), per-class window
    * partitioned by the hash, min-id canonical; no PCM ever shuffles. */
  def audioDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    val cw = Window.partitionBy(col("fingerprint"))
    audioFingerprint(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("class_size", count(lit(1)).over(cw))
      .select(col("doc_id"), col("fingerprint"),
        (col("rn") === 1).as("is_canonical"), col("class_size"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- real video decode
  /** One decoded video row: real metadata parsed from real AVI bytes,
    * plus a per-frame byte probe proving the movi payloads were read at
    * the parsed offsets. */
  case class VideoMeta(doc_id: Long, width: Int, height: Int, n_frames: Int,
      n_bytes: Int, sum_probe: Long)

  /** Minimal VALID AVI: RIFF(AVI ) ▸ LIST(hdrl){avih, LIST(strl){strh
    * 'vids'/'DIB ', strf BITMAPINFOHEADER bi_compression=BI_RGB}} ▸
    * LIST(movi){n × '00db' uncompressed DIB frames}. DIB rows pad to
    * 4-byte boundaries (so frame chunks are word-aligned by
    * construction); frame k's byte j is (k + j) % 251 — a pure function
    * the oracle re-derives. Any RIFF-walking reader sees a well-formed
    * uncompressed AVI. */
  private[graft] def synthAvi(w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val fb = rowBytes * h
    val moviChildren = nFrames * (8 + fb)
    val total = 224 + moviChildren // 12 RIFF + 200 hdrl + 12 movi header
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); buf.putInt(total - 8); fourcc("AVI ")
    fourcc("LIST"); buf.putInt(192); fourcc("hdrl")
    fourcc("avih"); buf.putInt(56)
    buf.putInt(33333).putInt(0).putInt(0).putInt(0) // µs/frame, bps, pad, flags
      .putInt(nFrames).putInt(0).putInt(1).putInt(fb) // total, initial, streams, bufsize
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0) // dims + reserved
    fourcc("LIST"); buf.putInt(116); fourcc("strl")
    fourcc("strh"); buf.putInt(56)
    fourcc("vids"); fourcc("DIB ")
    buf.putInt(0).putShort(0).putShort(0).putInt(0) // flags, priority, language, initial
      .putInt(1).putInt(30).putInt(0).putInt(nFrames) // scale, rate, start, length
      .putInt(fb).putInt(0).putInt(0) // bufsize, quality, samplesize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    fourcc("strf"); buf.putInt(40)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24) // BITMAPINFOHEADER, BI_RGB
      .putInt(0).putInt(fb).putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); buf.putInt(4 + moviChildren); fourcc("movi")
    (0 until nFrames).foreach { k =>
      fourcc("00db"); buf.putInt(fb)
      (0 until fb).foreach(j => buf.put(((k + j) % 251).toByte))
    }
    buf.array()
  }

  /** REAL AVI parse — the same RIFF walk as [[decodeWavMeta]], with LIST
    * recursion: verify RIFF/AVI magic, read dims + declared frame count
    * from `avih`, count `00db` frame chunks in `movi` and probe each
    * frame's first and last payload byte (so the walker must land on the
    * true chunk offsets, not assume a fixed layout). Returns (width,
    * height, nFrames, nBytes, sumProbe); throws on malformed bytes or a
    * header/stream frame-count mismatch — quarantine, not pass. */
  private[graft] def decodeAvi(payload: Array[Byte]): (Int, Int, Int, Int, Long) = {
    var probe = 0L
    val (w, h, frames) = walkAvi(payload) { (_, off, sz) =>
      probe += (payload(off) & 0xff).toLong +
        (payload(off + sz - 1) & 0xff).toLong
    }
    (w, h, frames, payload.length, probe)
  }

  /** The single RIFF-tree walk behind every AVI consumer: validates the
    * container, reads `avih`, visits each `00db` frame chunk through
    * `onFrame(frameIdx, payloadOffset, size)`, and enforces the
    * declared-vs-counted frame invariant. Returns (width, height,
    * nFrames). */
  private def walkAvi(payload: Array[Byte])(
      onFrame: (Int, Int, Int) => Unit): (Int, Int, Int) = {
    require(payload.length >= 12 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "AVI ", "not a RIFF/AVI stream")
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var (w, h, declared, frames) = (-1, -1, -1, 0)
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val id = new String(payload, i, 4, "US-ASCII")
        val sz = buf.getInt(i + 4)
        require(sz >= 0 && sz <= end - i - 8, "bad RIFF chunk size")
        id match {
          case "LIST" =>
            require(sz >= 4, "LIST without a form type")
            walk(i + 12, i + 8 + sz)
          case "avih" =>
            require(sz >= 40, "truncated avih")
            declared = buf.getInt(i + 8 + 16)
            w = buf.getInt(i + 8 + 32)
            h = buf.getInt(i + 8 + 36)
          case "00db" =>
            require(sz > 0, "empty frame chunk")
            onFrame(frames, i + 8, sz)
            frames += 1
          case _ => () // strh/strf and friends: sized, skipped
        }
        i += 8 + sz + (sz % 2) // RIFF chunks are word-aligned
      }
    }
    walk(12, payload.length)
    require(w > 0 && h > 0, "AVI without avih dimensions")
    require(declared == frames,
      s"avih declares $declared frames, movi carries $frames")
    (w, h, frames)
  }

  /** Synthesized-video table: real AVI bytes with data-derived
    * parameters — dims and frame count are pure functions of doc_id so
    * the oracle can independently derive what the parser must recover. */
  def videoTable(spark: SparkSession, sfDir: String): Dataset[AudioBytes] = {
    import spark.implicits._
    payloadCached(spark, sfDir, "video") {
      Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          AudioBytes(id, synthAvi(((id % 16) + 2).toInt, ((id % 12) + 2).toInt,
            ((id % 8) + 1).toInt))
        }).toDF()
    }.as[AudioBytes]
  }

  /** Batched REAL decode over AVI payloads: mapPartitions walks each
    * RIFF tree (decoder init amortized per partition). Everything in the
    * output — dims, frame count, container size, the per-frame
    * first/last-byte probe — is re-derived arithmetically by the oracle,
    * so an offset, alignment, or recursion bug in the walker fails the
    * hash check. */
  def videoMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, sfDir).mapPartitions(_.map { row =>
      val (w, h, frames, nBytes, probe) = decodeAvi(row.payload)
      VideoMeta(row.doc_id, w, h, frames, nBytes, probe)
    }).toDF().orderBy("doc_id")
  }

  case class VideoFrames(doc_id: Long, n_frames: Long, n_sampled: Long,
      sum_center: Long)

  /** Stride for video frame sampling: every 2nd frame (frame counts are
    * 1-8, so the audio tier's stride 10 would degenerate to frame 0). */
  private[graft] val VideoFrameStride = 2

  /** Frame sampling over REAL decoded AVI video — [[audioFrameSample]]'s
    * twin for the frame-list tier: walk the RIFF tree to each `00db`
    * chunk, keep every [[VideoFrameStride]]-th frame, and read its
    * CENTER byte (offset fb/2 inside the frame payload — synthesis
    * formula (k + fb/2) % 251), aggregating count + exact sum. The
    * center-byte read proves the walker lands on true per-frame offsets
    * (not just chunk boundaries); the oracle re-derives every sampled
    * value arithmetically. Map-only until the presentation sort. */
  def videoFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, sfDir).mapPartitions(_.map { row =>
      var sampled = 0L
      var sum = 0L
      var n = 0
      walkAvi(row.payload) { (k, off, sz) =>
        n += 1
        if (k % VideoFrameStride == 0) {
          sampled += 1
          sum += (row.payload(off + sz / 2) & 0xff).toLong
        }
      }
      VideoFrames(row.doc_id, n.toLong, sampled, sum)
    }).toDF().orderBy("doc_id")
  }

  case class VideoFp(doc_id: Long, vhash: Long)

  /** Content-derived video fingerprint from REAL decoded AVI bytes: a
    * position-weighted sum of each frame's CENTER byte (weight k+1, so
    * reordered frames hash differently) plus the frame geometry
    * (1000003·fb + n_frames). Linear in the probed bytes, so the oracle
    * re-derives it exactly from the synthesis formula — and like
    * [[imagePhash]]/[[audioFingerprint]] it is a perceptual sketch:
    * byte-identical videos never split, distinct videos may merge.
    * Map-only until the presentation sort; only (id, 64-bit hash) ever
    * shuffles. */
  def videoFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, sfDir).mapPartitions(_.map { row =>
      var fb = 0L; var n = 0L; var sum = 0L
      walkAvi(row.payload) { (k, off, sz) =>
        fb = sz.toLong; n += 1
        sum += (k + 1).toLong * (row.payload(off + sz / 2) & 0xff)
      }
      VideoFp(row.doc_id, 1000003L * fb + n + sum)
    }).toDF().orderBy("doc_id")
  }

  /** Video dedup by content fingerprint — identical shape to
    * [[imageDedup]]/[[audioDedup]], completing the multimodal dedup
    * family: one shuffle of (id, hash), per-class window partitioned by
    * the hash, min-id canonical; no frame payload ever shuffles. */
  def videoDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("vhash")).orderBy(col("doc_id"))
    val cw = Window.partitionBy(col("vhash"))
    videoFingerprint(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("class_size", count(lit(1)).over(cw))
      .select(col("doc_id"), col("vhash"),
        (col("rn") === 1).as("is_canonical"), col("class_size"))
      .orderBy("doc_id")
  }

  /** Per-pair absolute byte-delta sums between consecutive frames — the
    * frame-delta kernel behind [[videoSceneCuts]], exposed for specs to
    * drive with constructed payloads (the synthetic corpus's frames
    * differ by a uniform +1 mod 251, so a REAL cut needs a patched
    * frame). */
  private[graft] def frameDeltas(payload: Array[Byte]): Seq[Long] = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    walkAvi(payload) { (_, off, sz) => frames += ((off, sz)) }
    (0 until frames.length - 1).map { k =>
      val (o1, s1) = frames(k); val (o2, _) = frames(k + 1)
      var d = 0L; var j = 0
      while (j < s1) {
        d += math.abs((payload(o2 + j) & 0xff) - (payload(o1 + j) & 0xff))
        j += 1
      }
      d
    }
  }

  case class VideoCuts(doc_id: Long, n_frames: Int, n_pairs: Long,
      sum_delta: Long, max_delta: Long, n_cuts: Long)

  /** Shot-boundary (scene-cut) detection over REAL decoded AVI frames:
    * each consecutive frame pair's delta is the exact integer sum of
    * absolute per-byte differences (the classic codec-free frame-delta
    * detector — the first pass a 100 TB video pipeline runs before any
    * model-based shot segmentation), and a pair is a CUT when its delta
    * exceeds 1.2× the video's mean pair delta, decided by integer
    * cross-multiply (delta·n_pairs·10 > 12·sum_delta) so the flag is
    * exact under any execution order. Map-only per video — all frames
    * of one video live in one payload, so deltas never shuffle; the
    * output is one row per video. The oracle re-derives every delta
    * arithmetically: frame k's byte j is (k+j) % 251, so consecutive
    * frames differ by 1 except at the 250→0 wrap, giving delta = fb +
    * 249·wraps with the wrap count a pure function of (k, fb). */
  def videoSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, sfDir).mapPartitions(_.map { row =>
      val deltas = frameDeltas(row.payload)
      val nP = deltas.length.toLong
      val sumD = deltas.sum
      val maxD = if (deltas.isEmpty) 0L else deltas.max
      val cuts = deltas.count(d => d * nP * 10L > 12L * sumD).toLong
      VideoCuts(row.doc_id, deltas.length + 1, nP, sumD, maxD, cuts)
    }).toDF().orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_meta" -> (multimodalMeta _),
    "image_meta"      -> (imageMeta _),
    "audio_meta"      -> (audioMeta _),
    "audio_frame_sample" -> (audioFrameSample _),
    "image_resize"    -> (imageResize _),
    "image_phash"     -> (imagePhash _),
    "image_dedup"     -> (imageDedup _),
    "audio_fingerprint" -> (audioFingerprint _),
    "audio_dedup"     -> (audioDedup _),
    "video_meta"      -> (videoMeta _),
    "video_frame_sample" -> (videoFrameSample _),
    "video_fingerprint" -> (videoFingerprint _),
    "video_dedup"     -> (videoDedup _),
    "video_scene_cuts" -> (videoSceneCuts _))

  val oracles: Map[String, String] = Map(
    // independently re-derives what the SNIFF + dispatch decode must
    // recover by parsing real container bytes: every branch's metadata
    // is a pure function of doc_id (image: PNG header sizes; audio: the
    // canonical 44-byte PCM header + data; video: the fixed 224-byte
    // AVI header tree + framed DIB payloads)
    "multimodal_meta" ->
      """SELECT doc_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |  ELSE 'video' END AS media_type,
        | CAST(CASE doc_id % 3
        |  WHEN 0 THEN 45
        |  WHEN 1 THEN 44 + (doc_id % 100 + 1) * (doc_id % 2 + 1) * 2
        |  ELSE 224 + (doc_id % 8 + 1) *
        |   (8 + ((doc_id % 16 + 2) * 3 + 3) // 4 * 4 * (doc_id % 12 + 2))
        |  END AS INTEGER) AS n_bytes,
        | CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 640 + 1 WHEN 1 THEN 0
        |  ELSE doc_id % 16 + 2 END AS INTEGER) AS width,
        | CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 480 + 1 WHEN 1 THEN 0
        |  ELSE doc_id % 12 + 2 END AS INTEGER) AS height,
        | CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN doc_id % 100 + 1
        |  ELSE doc_id % 8 + 1 END AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // re-derives the AVI walk's every output: dims and frame count from
    // doc_id, n_bytes from the fixed 224-byte header tree + n×(8+fb)
    // framed DIB payloads (rows padded to 4 bytes), and the probe —
    // frame k's first byte is k % 251, its last is (k + fb - 1) % 251
    "video_meta" ->
      """WITH p AS (SELECT doc_id,
        |  CAST(doc_id % 16 + 2 AS INTEGER) AS width,
        |  CAST(doc_id % 12 + 2 AS INTEGER) AS height,
        |  CAST(doc_id % 8 + 1 AS INTEGER) AS n_frames FROM documents),
        |d AS (SELECT *, (width * 3 + 3) // 4 * 4 * height AS fb FROM p),
        |f AS (SELECT doc_id, width, height, n_frames, fb, k
        | FROM d, (SELECT unnest(generate_series(0, 7)) AS k) s
        | WHERE k < n_frames)
        |SELECT doc_id, width, height, n_frames,
        | CAST(224 + n_frames * (8 + fb) AS INTEGER) AS n_bytes,
        | CAST(sum(k % 251 + (k + fb - 1) % 251) AS BIGINT) AS sum_probe
        |FROM f GROUP BY doc_id, width, height, n_frames, fb
        |ORDER BY doc_id""".stripMargin,
    // independently derives what the Spark side must RECOVER BY PARSING
    // real PNG/JPEG bytes: dims from doc_id, n_bytes from the fixed
    // header sizes (PNG: 8 sig + 25 IHDR + 12 IEND = 45; JPEG: 2 SOI +
    // 18 APP0 + 13 SOF0 + 10 SOS + 2 EOI = 45). Any parser offset/
    // endianness bug breaks the hash match.
    "image_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        | CAST(doc_id % 640 + 1 AS INTEGER) AS width,
        | CAST(doc_id % 480 + 1 AS INTEGER) AS height,
        | CAST(45 AS INTEGER) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // independently derives what the Spark side must RECOVER BY WALKING
    // real RIFF chunks: all parameters are functions of doc_id; n_bytes
    // = 44-byte canonical PCM header + samples×channels×2 data bytes
    "audio_meta" ->
      """SELECT doc_id, sample_rate, channels, bits, n_samples,
        | CAST(n_samples * 1000 // sample_rate AS INTEGER) AS duration_ms,
        | CAST(44 + n_samples * channels * 2 AS INTEGER) AS n_bytes
        |FROM (SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(16 AS INTEGER) AS bits,
        |  CAST(doc_id % 100 + 1 AS INTEGER) AS n_samples
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // re-derives every sampled CENTER byte from the synthesis formula:
    // frame k's byte j is (k + j) % 251, fb = padded-row bytes × height,
    // sampled frames are k % stride = 0
    "video_frame_sample" ->
      s"""WITH p AS (SELECT doc_id,
        |  CAST(doc_id % 8 + 1 AS BIGINT) AS n_frames,
        |  (doc_id % 16 + 2) * 3 AS rowb, CAST(doc_id % 12 + 2 AS INTEGER) AS h
        | FROM documents),
        |d AS (SELECT doc_id, n_frames, (rowb + 3) // 4 * 4 * h AS fb FROM p),
        |s AS (SELECT doc_id, n_frames, fb, k
        | FROM (SELECT doc_id, n_frames, fb,
        |   unnest(generate_series(0, 7)) AS k FROM d) t
        | WHERE k < n_frames AND k % $VideoFrameStride = 0)
        |SELECT doc_id, n_frames, CAST(count(*) AS BIGINT) AS n_sampled,
        | CAST(sum((k + fb // 2) % 251) AS BIGINT) AS sum_center
        |FROM s GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,
    // re-derives every SAMPLED 16-bit LE amplitude from the synthesis
    // formula (data byte j = j % 251): lo + 256*hi reinterpreted signed
    "audio_frame_sample" ->
      s"""WITH p AS (SELECT doc_id,
        |  CAST(doc_id % 100 + 1 AS BIGINT) AS n_frames,
        |  (doc_id % 2 + 1) * 2 AS block
        | FROM documents),
        |s AS (SELECT doc_id, n_frames, fr,
        |  (fr * block) % 251 AS lo, (fr * block + 1) % 251 AS hi
        | FROM (SELECT doc_id, n_frames, block,
        |   unnest(generate_series(0, 99)) AS fr FROM p) t
        | WHERE fr < n_frames AND fr % $FrameStride = 0)
        |SELECT doc_id, n_frames, CAST(count(*) AS BIGINT) AS n_sampled,
        | CAST(sum(CASE WHEN lo + 256 * hi >= 32768
        |  THEN lo + 256 * hi - 65536 ELSE lo + 256 * hi END) AS BIGINT) AS sum_amp
        |FROM s GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,
    // re-derives every RESIZED pixel from the synthesis pattern: output
    // (i,j) keeps input (2i,2j), whose channels are
    // (x+y, 2x+y, x+2y) mod 251 — a wrong inflate/unfilter/stride/
    // channel order on the Spark side breaks the sum
    "image_resize" ->
      """WITH p AS (SELECT doc_id,
        |  CAST(doc_id % 32 + 2 AS INTEGER) AS in_w,
        |  CAST(doc_id % 24 + 2 AS INTEGER) AS in_h FROM documents),
        |d AS (SELECT doc_id, in_w, in_h,
        |  CAST((in_w + 1) // 2 AS INTEGER) AS out_w,
        |  CAST((in_h + 1) // 2 AS INTEGER) AS out_h FROM p),
        |px AS (SELECT doc_id, in_w, in_h, out_w, out_h, i, j
        | FROM d, (SELECT unnest(generate_series(0, 16)) AS i) si,
        |      (SELECT unnest(generate_series(0, 12)) AS j) sj
        | WHERE i < out_w AND j < out_h)
        |SELECT doc_id, in_w, in_h, out_w, out_h,
        | CAST(sum((2*i + 2*j) % 251 + (4*i + 2*j) % 251 + (2*i + 4*j) % 251) AS BIGINT) AS pix_sum
        |FROM px GROUP BY doc_id, in_w, in_h, out_w, out_h
        |ORDER BY doc_id""".stripMargin,
    // re-derives every PCM sample from the data-byte formula (byte i of
    // the data chunk is i % 251): LE pair → two's-complement 16-bit →
    // |amplitude|, integer window sums, 32 aHash + 31 diff bits
    "audio_fingerprint" ->
      s"""WITH $afpCtesSql
        |SELECT doc_id, fingerprint FROM afp ORDER BY doc_id""".stripMargin,
    "audio_dedup" ->
      s"""WITH $afpCtesSql
        |SELECT doc_id, fingerprint, rn = 1 AS is_canonical, class_size FROM (
        | SELECT doc_id, fingerprint,
        |  row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY fingerprint) AS class_size
        | FROM afp) t ORDER BY doc_id""".stripMargin,
    // re-derives every hash bit from the synthetic pixel formula by
    // pure integer SQL: NN sample (i·w//6, j·h//6), gray = sum of the
    // three mod-251 channels, H bits 0-29 / V bits 30-59
    "image_phash" ->
      s"""WITH $phashCtesSql
        |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin,
    "image_dedup" ->
      s"""WITH $phashCtesSql
        |SELECT doc_id, phash, rn = 1 AS is_canonical, class_size FROM (
        | SELECT doc_id, phash,
        |  row_number() OVER (PARTITION BY phash ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY phash) AS class_size
        | FROM ph) t ORDER BY doc_id""".stripMargin,
    // re-derives the weighted-center-byte fingerprint arithmetically:
    // frame k's center byte is (k + fb//2) % 251, fb = padded-row
    // bytes × height, vhash = 1000003·fb + n_frames + Σ (k+1)·cb
    "video_fingerprint" ->
      s"""WITH $vfpCtesSql
        |SELECT doc_id, vhash FROM vfp ORDER BY doc_id""".stripMargin,
    "video_dedup" ->
      s"""WITH $vfpCtesSql
        |SELECT doc_id, vhash, rn = 1 AS is_canonical, class_size FROM (
        | SELECT doc_id, vhash,
        |  row_number() OVER (PARTITION BY vhash ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY vhash) AS class_size
        | FROM vfp) t ORDER BY doc_id""".stripMargin,
    // re-derives every frame-pair delta: consecutive synthetic frames
    // differ by +1 mod 251 per byte, so |Δ| = 1 except at bytes where
    // frame k holds 250 (→ |Δ| = 250); the number of such wrap bytes in
    // [0, fb) is a pure function of (k, fb), giving delta = fb +
    // 249·wraps. Cut rule stated by the same integer cross-multiply as
    // the Spark side.
    "video_scene_cuts" ->
      """WITH vp AS (SELECT doc_id,
        |  CAST(doc_id % 8 + 1 AS INTEGER) AS n_frames,
        |  ((doc_id % 16 + 2) * 3 + 3) // 4 * 4 * (doc_id % 12 + 2) AS fb
        | FROM documents),
        |pr AS MATERIALIZED (SELECT doc_id, fb, k,
        |  fb + 249 * (CASE WHEN (250 - k) < fb
        |    THEN (fb - 1 - (250 - k)) // 251 + 1 ELSE 0 END) AS delta
        | FROM (SELECT doc_id, n_frames, fb,
        |   unnest(generate_series(0, 6)) AS k FROM vp) t
        | WHERE k < n_frames - 1),
        |ag AS MATERIALIZED (SELECT doc_id, count(*) AS n_pairs,
        |  sum(delta) AS sum_delta, max(delta) AS max_delta
        | FROM pr GROUP BY doc_id),
        |ct AS (SELECT pr.doc_id, count(*) AS n_cuts
        | FROM pr JOIN ag ON ag.doc_id = pr.doc_id
        | WHERE pr.delta * ag.n_pairs * 10 > 12 * ag.sum_delta
        | GROUP BY pr.doc_id)
        |SELECT vp.doc_id, vp.n_frames,
        | CAST(coalesce(ag.n_pairs, 0) AS BIGINT) AS n_pairs,
        | CAST(coalesce(ag.sum_delta, 0) AS BIGINT) AS sum_delta,
        | CAST(coalesce(ag.max_delta, 0) AS BIGINT) AS max_delta,
        | CAST(coalesce(ct.n_cuts, 0) AS BIGINT) AS n_cuts
        |FROM vp LEFT JOIN ag ON ag.doc_id = vp.doc_id
        |LEFT JOIN ct ON ct.doc_id = vp.doc_id
        |ORDER BY vp.doc_id""".stripMargin)

  /** Shared oracle CTE stack for the video fingerprint, ending at `vfp`
    * (doc_id, vhash) — states the IDENTICAL center-byte/weight/geometry
    * construction as [[videoFingerprint]]. */
  private lazy val vfpCtesSql: String =
    """vq AS (SELECT doc_id,
      |  CAST(doc_id % 8 + 1 AS BIGINT) AS n_frames,
      |  ((doc_id % 16 + 2) * 3 + 3) // 4 * 4 * (doc_id % 12 + 2) AS fb
      | FROM documents),
      |vs AS (SELECT doc_id, n_frames, fb, k, (k + fb // 2) % 251 AS cb
      | FROM (SELECT doc_id, n_frames, fb,
      |   unnest(generate_series(0, 7)) AS k FROM vq) t
      | WHERE k < n_frames),
      |vfp AS MATERIALIZED (SELECT doc_id,
      |  CAST(1000003 * max(fb) + max(n_frames) + sum((k + 1) * cb) AS BIGINT) AS vhash
      | FROM vs GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE stack for the acoustic fingerprint, ending at
    * `afp` (doc_id, fingerprint) — states the IDENTICAL sample/window/
    * bit construction as [[audioFingerprint]]: channel-0 sample of
    * frame f sits at data bytes (f·block, f·block+1), byte i of the
    * data chunk is i % 251, the LE pair reads as two's-complement
    * 16-bit, windows split frames by integer division. */
  private lazy val afpCtesSql: String =
    s"""ap AS (SELECT doc_id,
      |  CAST(doc_id % 2 + 1 AS INTEGER) AS c,
      |  CAST(doc_id % 100 + 1 AS INTEGER) AS fn FROM documents),
      |smp AS MATERIALIZED (SELECT doc_id, fn, f,
      |  abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END) AS av
      | FROM (SELECT ap.doc_id, ap.fn, ff.f,
      |   ((ff.f * 2 * ap.c) % 251) + 256 * ((ff.f * 2 * ap.c + 1) % 251) AS raw
      |  FROM ap, (SELECT unnest(generate_series(0, 99)) AS f) ff
      |  WHERE ff.f < ap.fn) t),
      |wnd AS (SELECT ap.doc_id, ap.fn, ww.w
      | FROM ap, (SELECT unnest(generate_series(0, ${AfpWindows - 1})) AS w) ww),
      |en AS MATERIALIZED (SELECT w.doc_id, w.w, coalesce(sum(s.av), 0) AS e
      | FROM wnd w LEFT JOIN smp s ON s.doc_id = w.doc_id
      |  AND s.f >= (w.w * w.fn) // $AfpWindows
      |  AND s.f < ((w.w + 1) * w.fn) // $AfpWindows
      | GROUP BY w.doc_id, w.w),
      |tot AS (SELECT doc_id, sum(e) AS total FROM en GROUP BY doc_id),
      |ab AS (SELECT en.doc_id,
      |  CASE WHEN $AfpWindows * en.e > t.total
      |   THEN CAST(pow(2, en.w) AS BIGINT) ELSE 0 END AS bit
      | FROM en JOIN tot t USING (doc_id)),
      |db AS (SELECT a.doc_id,
      |  CASE WHEN b.e > a.e THEN CAST(pow(2, $AfpWindows + a.w) AS BIGINT)
      |   ELSE 0 END AS bit
      | FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      | WHERE a.w < ${AfpWindows - 1}),
      |afp AS MATERIALIZED (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS fingerprint
      | FROM (SELECT * FROM ab UNION ALL SELECT * FROM db) u
      | GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE stack for the perceptual hash, ending at `ph`
    * (doc_id, phash) — states the IDENTICAL grid/gray/bit construction
    * as [[imagePhash]]. MATERIALIZED where referenced twice. */
  private lazy val phashCtesSql: String =
    s"""dims AS (SELECT doc_id,
      |  CAST(doc_id % 32 + 2 AS INTEGER) AS w,
      |  CAST(doc_id % 24 + 2 AS INTEGER) AS h FROM documents),
      |g AS MATERIALIZED (SELECT doc_id, i, j,
      |  ((sx + sy) % 251) + ((2*sx + sy) % 251) + ((sx + 2*sy) % 251) AS gray
      | FROM (SELECT d.doc_id, si.i, sj.j,
      |   (si.i * d.w) // $PhashGrid AS sx, (sj.j * d.h) // $PhashGrid AS sy
      |  FROM dims d,
      |   (SELECT unnest(generate_series(0, ${PhashGrid - 1})) AS i) si,
      |   (SELECT unnest(generate_series(0, ${PhashGrid - 1})) AS j) sj) t),
      |hb AS (SELECT a.doc_id,
      |  CASE WHEN b.gray > a.gray
      |   THEN CAST(pow(2, a.j * ${PhashGrid - 1} + a.i) AS BIGINT) ELSE 0 END AS bit
      | FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
      | WHERE a.i < ${PhashGrid - 1}),
      |vb AS (SELECT a.doc_id,
      |  CASE WHEN b.gray > a.gray
      |   THEN CAST(pow(2, ${PhashGrid * (PhashGrid - 1)} + a.i * ${PhashGrid - 1} + a.j) AS BIGINT)
      |   ELSE 0 END AS bit
      | FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.i = a.i AND b.j = a.j + 1
      | WHERE a.j < ${PhashGrid - 1}),
      |ph AS MATERIALIZED (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
      | FROM (SELECT * FROM hb UNION ALL SELECT * FROM vb) u
      | GROUP BY doc_id)""".stripMargin
}
