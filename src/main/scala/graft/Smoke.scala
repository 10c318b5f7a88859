package graft

import org.apache.spark.sql.SparkSession

/** Driver-contract smoke: runs SparkEntry.entry exactly as the harness
  * does (rows > 0 on sf0.001) and prints the plan + row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    rows.foreach(r => println(s"[smoke] $r"))
    println(s"[smoke] entry rows=${rows.length} (driver requires > 0)")

    // multimodal smoke: binaryFile → REAL javax.imageio derivative kernel
    // (thumbnail 260 / webview 600, derivatives.py:24-27 semantics)
    mediaSmoke(spark)
    spark.stop()
  }

  private def mediaSmoke(spark: SparkSession): Unit = {
    import java.awt.image.BufferedImage
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_smoke_media").toFile
    val img = new BufferedImage(1200, 800, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 1200 by 4; y <- 0 until 800 by 4)
      img.setRGB(x, y, (x << 8) ^ y)
    javax.imageio.ImageIO.write(img, "jpeg", new java.io.File(dir, "s.jpg"))
    val blobs = spark.read.format("binaryFile").load(dir.getAbsolutePath)
      .select(md5(col("content")).as("etag"), col("content"))
    val derivs = graft.media.Media.derivatives(blobs, graft.media.Media.imageResize)
      .collect()
    derivs.foreach { r =>
      val dims = graft.media.Media.imageDims(r.getAs[Array[Byte]]("content"))
      println(s"[smoke] media deriv=${r.getAs[String]("deriv")} " +
        s"target=${r.getAs[Int]("width")} decoded=${dims.orNull}")
    }
    assert(derivs.length == 2, "expected thumbnail + webview derivative rows")

    // video: synthesized MJPEG AVI → REAL RIFF-walk frame-sample kernel
    import spark.implicits._
    val clip = graft.media.Media.synthMjpegAvi(9, nFrames = 12)
    val frames = graft.media.Media.sampleFrames(
        Seq(("vclip", clip)).toDF("etag", "content"), n = 3,
        graft.media.Media.mjpegFrameDecoder)
      .collect()
    frames.foreach { r =>
      val dims = graft.media.Media.imageDims(r.getAs[Array[Byte]]("frame"))
      println(s"[smoke] video frame idx=${r.getAs[Int]("frame_idx")} " +
        s"decoded=${dims.orNull}")
    }
    assert(frames.length == 3, "expected 3 sampled frames")
  }
}
