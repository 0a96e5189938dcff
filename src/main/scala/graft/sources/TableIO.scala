package graft.sources

/** The storage seam under the table-format layer (graft-log / Delta /
  * Iceberg interop and their streams).
  *
  * The format engines need exactly these primitives. Data-file scans go
  * through Spark. Data-file writes go through [[StagedFiles.publish]]:
  * Spark writes parquet parts into a scratch directory under the table,
  * each format's `place` callback names every part and publishes it
  * with `move` (data files, sidecars), `moveReplace` (checkpoint parts)
  * or `mirror` (feed mirrors), and the scratch directory is deleted on
  * every exit path. Keeping the primitives behind one interface means
  * the commit protocols are written ONCE and the deployment picks the
  * store:
  *
  *  - `putIfAbsent` — the atomic version-slot claim every commit
  *    protocol rests on. Local: `Files.createLink` (hard links fail
  *    with EEXIST atomically; `File.renameTo` silently REPLACES on
  *    POSIX and must never be used for claims). Object stores:
  *    conditional PUT (`If-None-Match: *` on S3/GCS/Azure); Hadoop
  *    FileSystem: `create(path, overwrite = false)`. A format surfaces
  *    a lost claim as a `ConcurrentModificationException`, and
  *    [[TableIO.retryOnConflict]] is the one answer to it: re-derive
  *    the statement or rebase the commit, within a fixed bound.
  *  - `mirror` — publish an immutable existing file under a second
  *    name, first writer wins (streaming feed mirrors, deep clone).
  *    Local: hard link, zero copy. Object stores: server-side COPY
  *    with the same conditional-put guard.
  *  - `moveReplace` — replace a SMALL mutable pointer file (Iceberg
  *    `version-hint.text`, Delta `_last_checkpoint`) whose readers
  *    tolerate last-writer-wins. Local: atomic rename. Object stores:
  *    plain PUT (atomic per object).
  *  - `move` — publish a staged file under its final name where the
  *    name was claimed by other means (fails if the target exists).
  *    Local: ATOMIC_MOVE. Object stores: copy + delete (the claim —
  *    commit metadata naming the file — makes the non-atomicity
  *    harmless: an unclaimed object is invisible garbage).
  *  - list / exists / length / read* / write* / delete — metadata-scale
  *    bookkeeping (logs, manifests, hints). `write*` is NOT atomic and
  *    must only target scratch paths or single-writer pointers.
  *
  * Paths are plain strings (`dir/child` joining via [[TableIO.join]]);
  * only the implementation knows what they address. The active
  * implementation is processwide ([[TableIO.current]]) — the format
  * layer resolves it per call, so a deployment swaps stores without
  * threading a handle through every signature.
  */
trait TableIO {
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  /** Child NAMES of `dir` (not paths); empty for a missing dir. */
  def list(dir: String): Seq[String]
  def length(path: String): Long
  def lastModified(path: String): Long
  def mkdirs(dir: String): Unit

  def readBytes(path: String): Array[Byte]
  def readString(path: String): String
  def readLines(path: String): Seq[String]
  /** Plain overwrite — scratch paths / single-writer pointers ONLY. */
  def writeBytes(path: String, bytes: Array[Byte]): Unit
  def writeString(path: String, s: String): Unit =
    writeBytes(path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Atomically claim `dst` with the content of `src` (which is
    * consumed on success and MAY be consumed on failure). Returns
    * false when another writer holds `dst` — the commit-race signal. */
  def putIfAbsent(src: String, dst: String): Boolean
  /** Publish the immutable file at `src` under `dst` too; an existing
    * `dst` wins silently (idempotent re-publish). `src` is retained. */
  def mirror(src: String, dst: String): Unit
  /** Atomic last-writer-wins replace of a small mutable pointer. */
  def moveReplace(src: String, dst: String): Unit
  /** Move `src` to a `dst` no other writer races for (fails on an
    * existing `dst` rather than replacing it). */
  def move(src: String, dst: String): Unit

  def delete(path: String): Boolean
  def deleteRecursively(path: String): Unit
}

/** Local-filesystem implementation — hard links give the atomic
  * claims; the default [[TableIO.current]]. */
object LocalTableIO extends TableIO {
  import java.io.File
  import java.nio.file.{Files, Paths, StandardCopyOption}

  override def exists(path: String): Boolean = new File(path).exists()
  override def isDirectory(path: String): Boolean =
    new File(path).isDirectory
  override def list(dir: String): Seq[String] =
    Option(new File(dir).list()).map(_.toSeq).getOrElse(Seq.empty)
  override def length(path: String): Long = new File(path).length()
  override def lastModified(path: String): Long =
    new File(path).lastModified()
  override def mkdirs(dir: String): Unit = { new File(dir).mkdirs(); () }

  override def readBytes(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(path))
  override def readString(path: String): String =
    Files.readString(Paths.get(path))
  override def readLines(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq
  }
  override def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(path), bytes); ()
  }

  override def putIfAbsent(src: String, dst: String): Boolean =
    try { Files.createLink(Paths.get(dst), Paths.get(src)); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(Paths.get(src))
  override def mirror(src: String, dst: String): Unit =
    try { Files.createLink(Paths.get(dst), Paths.get(src)); () }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  override def moveReplace(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  override def move(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  override def delete(path: String): Boolean = new File(path).delete()
  override def deleteRecursively(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
}

object TableIO {
  /** The processwide active store. Deployments targeting an object
    * store install their implementation once at startup; the format
    * layer resolves per call. */
  @volatile var current: TableIO = LocalTableIO
  def apply(): TableIO = current

  /** Retry bound for a statement that re-derives everything (scan,
    * staged files, commit) from the fresh head after a lost race. */
  val RederiveRetries = 5
  /** Retry bound for a commit that rebases its staged actions onto the
    * winner — metadata work only, so it may try more often. */
  val RebaseRetries = 10

  /** The optimistic-concurrency loop shared by every table format:
    * run `attempt(i)` for i = 0, 1, …; after each
    * `ConcurrentModificationException` (a lost [[putIfAbsent]] claim,
    * or a read-dependency check the winner broke) run `onLoss`, which
    * may rebase the caller's state or throw to refuse, and try again.
    * After `retries` retries the last conflict is rethrown unwrapped;
    * any other exception propagates at once. */
  def retryOnConflict[T](retries: Int,
      onLoss: java.util.ConcurrentModificationException => Unit = _ => ())(
      attempt: Int => T): T = {
    var i = 0
    while (true) {
      try return attempt(i)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (i >= retries) throw e
          onLoss(e)
          i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Path join — the formats' `dir/child` shape. */
  def join(dir: String, child: String): String =
    if (dir.endsWith("/")) dir + child else s"$dir/$child"
}
