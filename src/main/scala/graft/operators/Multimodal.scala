package graft.operators

import graft.geo.Rng
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Multimodal column handling: image/audio/video payloads as opaque `binary`
 * columns with typed metadata, processed in batch-shaped per-partition
 * operators (the Scala analog of `mapInPandas` batches).
 *
 * IMAGES decode for REAL: `decodeImage` sniffs PNG/JPEG magic and reads the
 * header through `javax.imageio` (ships in the JDK — java.desktop), using
 * ImageReader.getWidth/getHeight so only the header is parsed, never the
 * pixels — the correct shape for a 100 TB metadata pass. Audio/video stay
 * STUBBED (`decodeStub` parses a deterministic fake header — no codec libs in
 * this sandbox); the Spark-side plumbing (schema, binary transport,
 * partitioning, batch iteration, output shape) is identical and tested for
 * both arms. Swap `decodeStub` for ffmpeg bindings in production.
 */
object Multimodal {

  /** media payload header: [kind: 1 byte][width: 4][height: 4][frames: 4] then
    * pseudo-random body bytes — the deterministic fake a real decoder stands
    * in for. */
  def makePayload(kind: String, width: Int, height: Int, frames: Int, seed: Long, bodyLen: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(13 + bodyLen)
    buf.put((kind match { case "image" => 1; case "audio" => 2; case "video" => 3; case _ => 0 }).toByte)
    buf.putInt(width); buf.putInt(height); buf.putInt(frames)
    var i = 0
    var s = seed
    while (i < bodyLen) { s = Rng.splitmix64(s); buf.put((s & 0xFF).toByte); i += 1 }
    buf.array()
  }

  case class Decoded(kind: String, width: Int, height: Int, frames: Int, bodyLen: Int)

  /** ??? in production for audio/video — a real codec goes here. The stub
    * reads the deterministic fake header. Payloads shorter than the header
    * are reported as corrupt rows, not a partition-killing
    * BufferUnderflowException. */
  def decodeStub(payload: Array[Byte]): Decoded = {
    if (payload.length < 13) return Decoded("corrupt", 0, 0, 0, payload.length)
    val buf = java.nio.ByteBuffer.wrap(payload)
    val kind = buf.get() match { case 1 => "image"; case 2 => "audio"; case 3 => "video"; case _ => "unknown" }
    Decoded(kind, buf.getInt, buf.getInt, buf.getInt, payload.length - 13)
  }

  private def looksLikeImage(payload: Array[Byte]): Boolean = {
    val isPng = payload.length > 8 &&
      (payload(0) & 0xFF) == 0x89 && payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G'
    val isJpeg = payload.length > 3 &&
      (payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8 && (payload(2) & 0xFF) == 0xFF
    isPng || isJpeg
  }

  /** REAL image decode (PNG/JPEG) via the JDK's javax.imageio: magic-sniff,
    * then header-only width/height through an ImageReader — the pixel data is
    * never decompressed (a metadata pass over 100 TB of images must not
    * decode pixels). None = not an image payload (fall through to the stub). */
  def decodeImage(payload: Array[Byte]): Option[Decoded] = {
    if (!looksLikeImage(payload)) None
    else {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          // a corrupt header must yield None (-> image_undecodable row),
          // not kill the partition
          try {
            r.setInput(iis)
            Some(Decoded("image", r.getWidth(0), r.getHeight(0), 1, payload.length))
          } catch { case _: Exception => None }
          finally r.dispose()
        }
      } finally iis.close()
    }
  }

  /** Codec seam: real image decode first, deterministic stub otherwise.
    * A payload carrying image magic that ImageIO cannot read (no reader on
    * this JVM, or a corrupt header) is reported as `image_undecodable` —
    * letting it fall to the stub would mis-parse PNG magic bytes as
    * width/height and emit silent garbage metadata. */
  def decodePayload(payload: Array[Byte]): Decoded =
    decodeImage(payload).getOrElse {
      if (looksLikeImage(payload)) Decoded("image_undecodable", 0, 0, 0, payload.length)
      else decodeStub(payload)
    }

  case class DecodedRow(media_id: String, kind: String, width: Int, height: Int,
      frames: Int, body_len: Int)

  /** Batch decode: (media_id, payload binary) -> typed metadata rows. Typed
    * Dataset.mapPartitions (encoders, no DataFrame<->RDD hops — input_hint:
    * "no RDD unless forced"); batch-shaped, no per-row driver involvement. */
  def decode(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val d = decodePayload(payload)
        DecodedRow(id, d.kind, d.width, d.height, d.frames, d.bodyLen)
      })
      .toDF()
  }

  /** Resize plan: target box fit preserving aspect ratio — metadata-level
    * transform (the real pixel op is behind the stubbed codec). */
  def resizePlan(decoded: DataFrame, maxSide: Int): DataFrame =
    decoded
      .withColumn("scale",
        when(greatest(col("width"), col("height")) <= maxSide, lit(1.0))
          .otherwise(lit(maxSide).cast("double") / greatest(col("width"), col("height"))))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))

  /** A real, deterministic PNG payload (encoded via the JDK's ImageIO). */
  def makePngPayload(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var s = seed // one deterministic scanline is enough to vary the bytes
    var x = 0
    while (x < width) { s = Rng.splitmix64(s); img.setRGB(x, 0, (s & 0xFFFFFF).toInt); x += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthetic media table generator (deterministic, typed range — no RDD).
    * Image rows carry REAL PNGs (exercising the javax.imageio decode arm
    * end-to-end); audio/video rows carry the deterministic fake payloads. */
  def synthMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n.toLong, 1, math.max(1, n / 250)).as[Long]
      .map { iL =>
        val i = iL.toInt
        val kind = Seq("image", "audio", "video")(i % 3)
        val payload = kind match {
          case "image" => // spread across the 512 resize boundary
            makePngPayload(64 + Rng.uniformInt(1000L + i, 640),
              64 + Rng.uniformInt(2000L + i, 480), 4000L + i)
          case _ =>
            val w = 64 + Rng.uniformInt(1000L + i, 4000)
            val h = 64 + Rng.uniformInt(2000L + i, 3000)
            val frames = if (kind == "video") 10 + Rng.uniformInt(3000L + i, 500) else 1
            makePayload(kind, w, h, frames, 4000L + i, 64 + i % 128)
        }
        (f"M$i%06d", payload)
      }
      .toDF("media_id", "payload")
  }
}
