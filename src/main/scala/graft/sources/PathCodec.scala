package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets

/** Path escaping/encoding helpers shared by the open-format interop
  * readers/writers. Two DISTINCT conventions live here, and conflating
  * them is exactly the bug class this object exists to prevent:
  *
  *  1. RFC-3986 percent-encoding — how Delta's `add.path` is stored in
  *     the log ("a relative path ... percent-encoded", PROTOCOL.md) and
  *     how Spark's `_metadata.file_path` renders paths. ONLY `%XX`
  *     escapes participate; `'+'` is a literal plus, never a space —
  *     `java.net.URLDecoder` (application/x-www-form-urlencoded) is the
  *     wrong tool and silently corrupts values containing '+'.
  *
  *  2. Hive partition-directory escaping — how `<col>=<val>` directory
  *     names encode special characters on disk (Hive FileUtils /
  *     Spark ExternalCatalogUtils): a fixed character set is written as
  *     uppercase `%XX`, everything else (including spaces and '+') is
  *     literal.
  */
private[graft] object PathCodec {

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Decode `%XX` escapes (UTF-8 aware: consecutive escaped bytes form
    * one multi-byte sequence). Anything else — including '+' — is
    * literal. Malformed escapes pass through untouched rather than
    * throwing: a writer that didn't encode produced a literal '%'. */
  def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    val out = new StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (bytes.size() > 0) {
      out.append(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hi = if (c == '%' && i + 1 < s.length) hexVal(s.charAt(i + 1)) else -1
      val lo = if (c == '%' && i + 2 < s.length) hexVal(s.charAt(i + 2)) else -1
      if (hi >= 0 && lo >= 0) { bytes.write(hi * 16 + lo); i += 3 }
      else { flush(); out.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  /** RFC-3986-encode a relative path for storage in a Delta log: the
    * inverse of [[percentDecode]] for any on-disk name. Segment
    * separators '/' are preserved. */
  def percentEncodePath(rel: String): String =
    // java.net.URI's multi-arg constructor quotes illegal characters
    // (UTF-8 %XX) and leaves path-legal ones — '/' included — alone.
    new java.net.URI(null, null, "/" + rel, null).getRawPath.substring(1)

  // Hive/Spark partition-path escape set (Hive FileUtils.charToEscape,
  // mirrored by Spark's ExternalCatalogUtils): C0 controls, DEL, and
  // these printables. Space and '+' are NOT escaped — they are legal,
  // literal partition-directory characters.
  private val hiveEscaped: Set[Char] =
    (('\u0001' to '\u001F') ++ Seq('"', '#', '%', '\'', '*', '/', ':',
      '=', '?', '\\', '\u007F', '{', '[', ']', '^')).toSet

  /** Escape one partition VALUE for use in a `<col>=<val>` directory
    * name, exactly as Hive/Spark do (uppercase %XX, fixed char set). */
  def escapePathName(s: String): String = {
    val out = new StringBuilder(s.length)
    s.foreach { c =>
      if (hiveEscaped(c)) out.append(f"%%${c.toInt}%02X")
      else out.append(c)
    }
    out.toString
  }

  /** Inverse of [[escapePathName]]: `%XX` → the single char it encodes
    * (Hive semantics — char-valued, not UTF-8-byte-valued; the escape
    * set is pure ASCII so the two agree on our writer's round trips,
    * and '+' stays '+'). */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hi = if (c == '%' && i + 1 < s.length) hexVal(s.charAt(i + 1)) else -1
      val lo = if (c == '%' && i + 2 < s.length) hexVal(s.charAt(i + 2)) else -1
      if (hi >= 0 && lo >= 0) { out.append((hi * 16 + lo).toChar); i += 3 }
      else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Canonical join key for matching an on-disk file against Spark's
    * `_metadata.file_path` (which renders as `file:` + percent-encoded
    * absolute path — verified against Spark 4 and pinned in
    * DeltaInteropSpec). Both sides of any file-identity join must
    * normalize through this convention: scheme stripped, URI
    * percent-encoding applied. */
  def metadataPathKey(p: String): String = metadataPathKey(new File(p))

  def metadataPathKey(f: File): String =
    // absolute + lexically normalized, NOT canonical: Spark's
    // `_metadata.file_path` does not resolve symlinks, so resolving
    // them here would make every file-identity join silently empty on
    // a symlinked table root (e.g. macOS /tmp → /private/tmp)
    f.getAbsoluteFile.toPath.normalize.toUri.toString
      .replaceFirst("^file:/+", "/").stripSuffix("/")

  /** Absolute + lexically-normalized path string — the identity key
    * vacuum/clone use to match recorded paths against listed ones (NOT
    * canonical: no symlink resolution, same rationale as
    * metadataPathKey; both sides of every comparison use this).
    *
    * Scheme-qualified paths (`s3a://…`, `hdfs://…`) are normalized with
    * pure string math: `java.nio.file.Paths.get` would treat the whole
    * string as a RELATIVE local path and prepend the driver's cwd, so
    * the same store object would mint a different identity from a
    * different working directory. */
  def absNorm(p: String): String = p match {
    case SchemePathRegex(scheme, rest) =>
      val (authority, path) =
        if (rest.startsWith("//")) {
          val after = rest.drop(2)
          val slash = after.indexOf('/')
          if (slash < 0) (Some(after), "/")
          else (Some(after.take(slash)), after.drop(slash))
        } else (None, rest)
      val segs = scala.collection.mutable.ListBuffer.empty[String]
      path.split('/').foreach {
        case "" | "." => ()
        case ".." => if (segs.nonEmpty) segs.remove(segs.size - 1)
        case s => segs += s
      }
      val norm = "/" + segs.mkString("/")
      authority match {
        case Some(a) => s"$scheme://$a$norm"
        case None => s"$scheme:$norm"
      }
    case _ =>
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
  }

  // scheme ≥2 chars and a rooted remainder: excludes Windows drive
  // letters ("C:/x") and opaque relative URIs ("a:b"), which fall to
  // the local-path branch
  private val SchemePathRegex =
    "^([a-zA-Z][a-zA-Z0-9+.-]+):(/.*)$".r

  /** The matching Spark-side normalization of `_metadata.file_path`:
    * strip the scheme, keep the percent-encoded path. */
  private val metadataFilePathNormalizeRegex: String = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** A scan row's file identity: `_metadata.file_path` normalized by
    * the regex above. Must equal `metadataPathKey` of the same file —
    * every file-identity join pairs the two. Add it directly on a scan
    * frame, before any join severs `_metadata`. */
  val metadataFileKey: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(
      org.apache.spark.sql.functions.col("_metadata.file_path"),
      metadataFilePathNormalizeRegex, "/")
}

/** Atomic PUT-IF-ABSENT file publication — the commit primitive shared
  * by the Delta log writer and the Iceberg metadata writer. Hard-link
  * creation fails atomically with EEXIST when the destination exists
  * (POSIX `rename` would silently REPLACE it — a loser would overwrite
  * the winner's commit instead of conflicting). The staged tmp file is
  * removed on EVERY exit path, so transient IO failures never leak
  * `.tmp_*` files into the log directory. */

