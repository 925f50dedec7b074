package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** Build-once artifacts on disk and the markers that vouch for them: the
  * one place that decides whether a persisted directory may be reused and
  * how a new one is published. The IVF stores (q107/q110), q113's clean
  * shard store and the IVF quantizer are built through [[ensure]]; the
  * stream and vector-ingest batch markers are written with [[mark]].
  *
  *  - identity: an artifact version plus the file-set digest of each
  *    input table (leaf file names, lengths and modification times, from
  *    the listing a read makes anyway; see [[Tables]]). A table rewritten
  *    at the same path is another identity.
  *  - publish: build into a pid-suffixed temp sibling, write the identity
  *    marker inside it, rename it into place. A reader sees no directory
  *    or a whole one.
  *  - validate on open: a directory whose marker does not read the
  *    identity (a half-built leftover, another corpus, a stale version)
  *    is removed and rebuilt.
  *  - markers: temp file + atomic move; read fail-open (None).
  */
object Store {

  /** `version` plus the file-set digest of each input read. Every input
    * must be a plain read of one file relation. */
  def identity(version: String, inputs: DataFrame*): String =
    (version +: inputs.map { in =>
      val files = Tables.filesOf(in)
      require(files.isDefined,
        s"Store.identity: input is not a plain file relation:\n${in.queryExecution.analyzed}")
      files.get
    }).mkString(" ")

  /** A valid store for `id` at `path`: unchanged if this process already
    * ensured it; adopted if the directory's marker reads `id`; otherwise
    * rebuilt by `build(tempPath)` and published by rename. If another
    * process publishes first, its store is adopted after its marker is
    * checked. */
  def ensure(path: String, id: String)(build: String => Unit): Unit =
    if (!ensured(path, id)) locks.computeIfAbsent(path, _ => new AnyRef).synchronized {
      if (!ensured(path, id)) {
        if (!holds(path, id)) publish(path, id, build)
        built.put(path, id)
      }
    }

  /** Atomically write `value` as the marker `name` in directory `path`:
    * a reader sees the old marker or the new one, never a torn write. */
  def mark(path: String, name: String, value: String): Unit = {
    val dir = Files.createDirectories(Paths.get(path))
    val tmp = dir.resolve(s".$name.tmp${ProcessHandle.current().pid()}")
    Files.write(tmp, (value + "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The marker `name` in directory `path`, or None when it is missing or
    * unreadable. */
  def marked(path: String, name: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path, name)), UTF_8).trim)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Does the directory at `path` carry the marker of identity `id`? */
  private[graft] def holds(path: String, id: String): Boolean =
    marked(path, IdName).contains(id)

  /** Forget the stores this process ensured: the next [[ensure]] opens
    * each one as a fresh process would. */
  private[graft] def forget(): Unit = built.clear()

  private val IdName = "_graft_store"

  /** path → identity of every store this process ensured. */
  private val built = new ConcurrentHashMap[String, String]()

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  private def ensured(path: String, id: String): Boolean =
    Option(built.get(path)).contains(id)

  private def publish(path: String, id: String, build: String => Unit): Unit = {
    val dir = new File(path)
    val tmp = new File(path + ".build" + ProcessHandle.current().pid())
    FileUtils.deleteDirectory(dir)
    FileUtils.deleteDirectory(tmp)
    build(tmp.getPath)
    mark(tmp.getPath, IdName, id)
    if (!tmp.renameTo(dir)) {
      // the rename fails only when `path` sprang into existence: another
      // process published first. Adopt its store, drop ours.
      FileUtils.deleteDirectory(tmp)
      require(holds(path, id),
        s"store at $path exists but its marker does not read '$id' and could not be replaced")
    }
  }
}
