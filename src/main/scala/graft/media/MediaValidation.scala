package graft.media

/** Media upload validation (idb/helpers/media_validation.py:1-122):
  * bucket↔mime compatibility rules, default-bucket routing with the
  * audio/mpeg3 alias, magic-number mime sniffing, and the constraint
  * validator with its five error classes. Sniffing is a JDK-only port
  * of the signatures relevant to the reference's buckets (libmagic is
  * the reference's detector; signature order mirrors sniff_mime —
  * ZIP checked first, :70-83).
  */
object MediaValidation {

  /** bucket → allowed mimes (media_validation.py:7-15). */
  val bucketMimes: Map[String, Set[String]] = Map(
    "images" -> Set("image/jpeg", "image/jp2"),
    "sounds" -> Set("audio/mpeg3", "audio/mpeg"),
    "models" -> Set("model/mesh", "text/plain"),
    "video" -> Set("video/mpeg", "video/mp4"),
    "datasets" -> Set("text/csv", "text/plain", "application/zip"),
    "debugfile" -> Set("text/plain", "application/zip"),
    "guoda" -> Set("text/csv", "text/plain", "application/zip"),
  )
  val validBuckets: Set[String] = bucketMimes.keySet

  /** mime → default bucket (:18-25) behind the alias map (:27-29). */
  val defaultBuckets: Map[String, String] = Map(
    "image/jpeg" -> "images", "image/jp2" -> "images",
    "audio/mpeg" -> "sounds",
    "video/mpeg" -> "video", "video/mp4" -> "video",
    "model/mesh" -> "models")
  val mimeAliases: Map[String, String] = Map("audio/mpeg3" -> "audio/mpeg")

  sealed abstract class MediaValidationError(msg: String)
    extends RuntimeException(msg)
  final class EtagMismatchError(expected: String, calculated: String)
    extends MediaValidationError(
      s"Calculated etag '$calculated' doesn't match expected '$expected'")
  final class InvalidBucketError(bucket: String)
    extends MediaValidationError(s"Invalid media type '$bucket'")
  final class UnknownBucketError(mime: String)
    extends MediaValidationError(s"Unknown media type for mime '$mime'")
  final class MimeNotAllowedError(mime: String, bucket: String)
    extends MediaValidationError(s"Mime '$mime' not allowed in bucket '$bucket'")
  final class MimeMismatchError(expected: String, detected: String)
    extends MediaValidationError(
      s"Detected mime $detected doesn't match expected $expected")

  private def startsWith(c: Array[Byte], sig: Int*): Boolean =
    c.length >= sig.length && sig.zipWithIndex.forall {
      case (b, i) => (c(i) & 0xff) == b }

  /** sniff_mime (:70-83): ZIP local/empty/spanned headers first, then
    * content magic for the bucket-relevant families; printable bytes
    * fall back to text/plain like libmagic's ASCII detection. */
  def sniffMime(content: Array[Byte]): Option[String] = {
    if (startsWith(content, 'P', 'K', 0x03, 0x04) ||
        startsWith(content, 'P', 'K', 0x05, 0x06) ||
        startsWith(content, 'P', 'K', 0x07, 0x08)) Some("application/zip")
    else if (startsWith(content, 0xff, 0xd8, 0xff)) Some("image/jpeg")
    else if (startsWith(content, 0x00, 0x00, 0x00, 0x0c, 0x6a, 0x50, 0x20, 0x20))
      Some("image/jp2")
    else if (startsWith(content, 0x89, 'P', 'N', 'G')) Some("image/png")
    else if (startsWith(content, 'I', 'D', '3') ||
      (content.length >= 2 && (content(0) & 0xff) == 0xff &&
        ((content(1) & 0xfe) == 0xfa || (content(1) & 0xfe) == 0xf2)))
      Some("audio/mpeg")
    else if (startsWith(content, 'R', 'I', 'F', 'F')) Some("audio/x-wav")
    else if (startsWith(content, 0x00, 0x00, 0x01, 0xba) ||
      startsWith(content, 0x00, 0x00, 0x01, 0xb3)) Some("video/mpeg")
    else if (content.length >= 12 &&
      content.slice(4, 8).sameElements("ftyp".getBytes)) Some("video/mp4")
    else if (content.nonEmpty && content.forall(b =>
      b == '\n' || b == '\r' || b == '\t' || (b >= 0x20 && b < 0x7f)))
      Some("text/plain")
    else if (content.isEmpty) None
    else Some("application/octet-stream")
  }

  /** validate_mime_for_type (:86-102): both arguments nullable; an
    * explicit bucket must be valid and compatible; a mime alone routes
    * to its default bucket or raises. */
  def validateMimeForType(mime: Option[String], t: Option[String])
      : (Option[String], Option[String]) = {
    val amime = mime.map(m => mimeAliases.getOrElse(m, m))
    t match {
      case Some(bucket) =>
        if (!validBuckets(bucket)) throw new InvalidBucketError(bucket)
        amime.foreach { m =>
          if (!bucketMimes(bucket)(m))
            throw new MimeNotAllowedError(mime.get, bucket) }
        (amime, t)
      case None =>
        amime match {
          case Some(m) =>
            val bucket = defaultBuckets.get(m)
            if (bucket.isEmpty) throw new UnknownBucketError(mime.get)
            (amime, bucket)
          case None => (None, None)
        }
    }
  }

  /** validate (:105-122): check prior constraints, sniff the content
    * (with the reference's `.stl` URL exception — libmagic can't
    * detect mesh files), compare, and re-validate the detected mime. */
  def validate(content: Array[Byte], t: Option[String] = None,
      mime: Option[String] = None, url: Option[String] = None)
      : (Option[String], Option[String]) = {
    val (m1, t1) = validateMimeForType(mime, t)
    val detected =
      if (url.exists(_.endsWith(".stl"))) Some("model/mesh")
      else sniffMime(content)
    if (detected.isEmpty)
      throw new MediaValidationError("Couldn't detect mime type") {}
    m1.foreach { m =>
      if (detected.get != m) throw new MimeMismatchError(m, detected.get) }
    validateMimeForType(detected, t1)
  }
}
