package graft.delta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import scala.collection.mutable.ArrayBuffer

/** Storage handler (reference: kernel/src/lib.rs:611-674 StorageHandler
  * contract — UTF-8-sorted listing, atomic put-if-absent writes).
  * Hadoop FileSystem backs every scheme Spark supports.
  */
object Storage {

  def fs(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf)

  /** List a directory sorted by name (the listing contract,
    * lib.rs:611-626). Empty if the dir doesn't exist.
    */
  def listSorted(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).sortBy(_.getPath.getName).toSeq

  /** List entries whose name sorts >= `fromName` (UTF-8 order). Local
    * filesystems filter client-side; an object-store implementation
    * would push `startAfter` into the LIST call — this is the
    * `list_from` half of the storage contract (lib.rs:611-626).
    */
  def listSortedFrom(fs: FileSystem, dir: Path,
      fromName: String): Seq[FileStatus] =
    listSorted(fs, dir).filter(_.getPath.getName >= fromName)

  /** Recursively list files under dir (staged data files). */
  def listFilesRecursive(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    def go(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) go(st.getPath)
      else out += st
    }
    if (fs.exists(dir)) go(dir)
    out.toSeq
  }

  def readLines(fs: FileSystem, path: Path): Seq[String] = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Filesystem schemes an absolute action path can plausibly carry
    * (what cloneShallow and other writers actually emit). A bare
    * `scheme:rest` with an unknown "scheme" is treated as a RELATIVE
    * path instead: ':' is a legal filesystem char that real
    * timestamp-partitioned tables use in directory names (`ts:2024/...`
    * must resolve under the table root, not as a URI).
    */
  private val KNOWN_SCHEMES = Set("file", "hdfs", "viewfs", "webhdfs",
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "o3fs", "ofs", "swift")

  /** Whether an action path is an absolute URI: an explicit authority
    * (`scheme://...`) always qualifies; without one (`file:/p` — how
    * Hadoop renders authority-less local URIs) only a known filesystem
    * scheme does.
    */
  def isAbsoluteUri(p: String): Boolean = {
    val i = p.indexOf(':')
    i > 0 && p.substring(0, i).matches("^[a-zA-Z][a-zA-Z0-9+.\\-]*$") && {
      p.regionMatches(i + 1, "//", 0, 2) ||
        KNOWN_SCHEMES.contains(p.substring(0, i).toLowerCase)
    }
  }

  /** Resolve a DECODED action path against the table root without URI
    * parsing — `new Path(parent, child)` rejects ':' in the child (it
    * parses the child as a URI). The protocol allows `path` to be an
    * ABSOLUTE percent-encoded URI instead of a root-relative one (how
    * shallow clones reference the source table's files) — those pass
    * through instead of being glued under the root.
    */
  def childPath(parent: Path, relativeDecoded: String): Path = {
    val u = parent.toUri
    if (isAbsoluteUri(relativeDecoded))
      new Path(relativeDecoded) // absolute URI (e.g. a shallow clone)
    else if (relativeDecoded.startsWith("/"))
      new Path(u.getScheme, u.getAuthority, relativeDecoded)
    else
      new Path(u.getScheme, u.getAuthority,
        u.getPath.stripSuffix("/") + "/" + relativeDecoded)
  }

  /** The storage files an `add` or `remove` names — its data file, then
    * its deletion-vector file if it has one — qualified when `root` is.
    * The reader, VACUUM and FSCK all resolve through here, so the file a
    * scan reads is exactly the file VACUUM keeps and FSCK probes.
    */
  private[delta] def actionFiles(root: Path, path: String,
      dv: Option[DeletionVectorDescriptor]): Seq[Path] =
    dataFile(root, path) +: dv.flatMap(dvFile(root, _)).toSeq

  /** The data file of a percent-encoded action `path`: under `root` when
    * relative, as given when absolute.
    */
  private[delta] def dataFile(root: Path, path: String): Path =
    childPath(root, decodeUriPath(path))

  /** The file a deletion vector is stored in (reference
    * kernel/src/actions/deletion_vector.rs `absolute_path`): a `u` DV's
    * `[prefix/]deletion_vector_<uuid>.bin` under `root`, a `p` DV's path
    * as given; an inline (`i`) DV names no file.
    */
  private[delta] def dvFile(root: Path,
      dv: DeletionVectorDescriptor): Option[Path] =
    dv.storageType match {
      case "u" => Some(childPath(root,
        DeletionVectors.relativePath(dv.pathOrInlineDv)))
      case "p" => Some(childPath(root, dv.pathOrInlineDv))
      case _ => None
    }

  /** Decode a URI-encoded path (add/remove/cdc `path` fields are
    * percent-encoded per the protocol). A literal '+' is legal in a URI
    * path and must not decode to a space.
    */
  def decodeUriPath(p: String): String =
    try java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
    catch { case _: IllegalArgumentException => p }

  /** The exact inverse of [[decodeUriPath]]: percent-encodes '%' and
    * every other ASCII character a URI path may not hold literally (a
    * space, say); '/', the path grammar's punctuation and non-ASCII
    * characters stay as they are, as in Hadoop's raw paths.
    */
  def encodeUriPath(p: String): String =
    if (!p.exists(escaped)) p
    else p.flatMap(c => if (escaped(c)) f"%%${c.toInt}%02X" else c.toString)

  private def escaped(c: Char): Boolean =
    c < 0x80 && !c.isLetterOrDigit && "-._~!$&'()*+,;=:@/".indexOf(c) < 0

  /** Column twin of [[decodeUriPath]] — the ONE decode idiom for
    * action paths inside distributed plans: a literal '+' stays
    * literal, a malformed percent-escape passes through undecoded
    * instead of failing the job (matching the driver-side fallback, so
    * path keys built on either side of a join agree).
    */
  def decodeUriPathCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    coalesce(try_url_decode(regexp_replace(c, "\\+", "%2B")), c)
  }

  /** Scheme/authority prefix of a URI-shaped path (for canonical
    * replay keys: `/p`, `file:/p` and `file:///p` all name one file).
    */
  val URI_PREFIX_REGEX = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?"

  /** Canonical form of an action path for replay dedup matching —
    * scheme/authority stripped, escapes untouched (the delta-spark
    * canonicalization the reference's canonicalized-paths golden
    * tables pin; their own kernel still fails them).
    */
  def canonicalPathKey(p: String): String =
    p.replaceFirst(URI_PREFIX_REGEX, "")

  /** Byte length of `s` encoded as UTF-8, without encoding it. */
  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800 || Character.isSurrogate(c)) 2
        else 3)
      i += 1
    }
    n
  }

  /** Atomic put-if-absent via write-to-temp + atomic publish. A naive
    * create(overwrite=false) has TWO races a concurrent committer hits:
    * the exists-then-create window lets two writers both "win" (the
    * second silently truncates the first — a lost commit), and a loser
    * reading the winner's file between create and close sees PARTIAL
    * content, mis-classifying the conflict (an empty read looks like a
    * safe-to-rebase append even when the winner carried a protocol
    * change or txn marker). Writing the full content to a hidden temp
    * file first and publishing with `link(2)` (local FS — atomic,
    * fails if the destination exists) or no-overwrite rename (HDFS —
    * same contract) closes both: the destination either doesn't exist
    * or holds the complete winning commit.
    */
  def putIfAbsent(fs: FileSystem, path: Path, content: String): Boolean = {
    if (fs.exists(path)) return false
    val tmp = new Path(path.getParent,
      s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      val out = fs.create(tmp, /*overwrite=*/ true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // ONLY lost-the-race conditions map to false; a real storage
      // error (link unsupported, safe-mode, lease failure) must
      // propagate — returning false here would make the commit loop
      // read a non-existent "winner" and mask the actual fault
      if ("file" == fs.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(path.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        // HDFS-like stores: rename is atomic and returns false when
        // the destination exists — but ALSO on non-race faults (missing
        // parent, source gone, lease trouble). Only report "lost the
        // race" when a winner actually exists; anything else is a
        // storage error the commit loop must see, not retry around.
        // Object stores need a conditional-put committer (see
        // [[graft.delta.Committer]]), not this path.
        if (fs.rename(tmp, path)) true
        else if (fs.exists(path)) false
        else throw new java.io.IOException(
          s"rename($tmp, $path) failed but no winner exists at the " +
            "destination — storage fault, not a commit race")
      }
    } finally {
      try { fs.delete(tmp, false); () } catch { case _: Exception => () }
    }
  }

  /** Unconditional overwrite (for `_last_checkpoint` hint). */
  def put(fs: FileSystem, path: Path, content: String): Unit = {
    val out = fs.create(path, /*overwrite=*/ true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
