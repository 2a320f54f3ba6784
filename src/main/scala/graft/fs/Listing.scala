package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** One entry of a recursive directory listing.
  *
  * @param relPath path relative to the hashed root; directories carry a
  *                trailing `/` (reference: /root/reference/dirhash.py:380-386)
  * @param isDir   directory flag
  * @param size    file length in bytes (0 for directories)
  */
final case class FileEntry(relPath: String, isDir: Boolean, size: Long)

/** Recursive directory listing via the Hadoop FileSystem API.
  *
  * Replaces the reference's `hadoop fs -ls -R` subprocess + regex parse
  * (/root/reference/dirhash.py:339-386) with a driver-side `listStatus`
  * walk. `listStatus` recursion (not `listFiles(recursive=true)`) because
  * empty directories must appear in the listing — they contribute a
  * `name/` entry to the hash (SURVEY.md §1.3).
  */
object Listing {

  /** The file system of `p` with any checksum wrapper removed. Listing and
    * chunk reads both go through it: Hadoop's `ChecksumFileSystem` (the
    * default for `file:`) hides user files named `.*.crc` from
    * `listStatus`, and builds a `.name.crc` sidecar path on every open,
    * which throws `URISyntaxException` for a name holding a `:`. A hash
    * covers the tree's files as they are, so neither may happen.
    */
  def fileSystem(p: Path, hadoopConf: Configuration): FileSystem =
    p.getFileSystem(hadoopConf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** Lists all files and directories under `dir` (the root itself is not an
    * entry). Trailing slashes on `dir` are ignored, matching the
    * reference's `dir.rstrip("/")` (/root/reference/dirhash.py:323).
    */
  def list(dir: String, hadoopConf: Configuration): Seq[FileEntry] = {
    val rootStr = stripTrailingSlashes(dir)
    val rootPath = new Path(rootStr)
    val fs = fileSystem(rootPath, hadoopConf)
    val rootUriPath = fs.getFileStatus(rootPath).getPath.toUri.getPath
    val out = Seq.newBuilder[FileEntry]

    def walk(p: Path): Unit = {
      val statuses = fs.listStatus(p)
      var i = 0
      while (i < statuses.length) {
        val st = statuses(i)
        val abs = st.getPath.toUri.getPath
        require(abs.startsWith(rootUriPath),
          s"listing entry $abs escapes root $rootUriPath")
        val rel = abs.substring(rootUriPath.length).dropWhile(_ == '/')
        if (st.isDirectory) {
          out += FileEntry(rel + "/", isDir = true, 0L)
          walk(st.getPath)
        } else {
          out += FileEntry(rel, isDir = false, st.getLen)
        }
        i += 1
      }
    }

    walk(rootPath)
    out.result()
  }

  def stripTrailingSlashes(dir: String): String = {
    val s = dir.reverse.dropWhile(_ == '/').reverse
    if (s.isEmpty) "/" else s
  }

  /** UTF-8 byte-wise (unsigned) ordering — identical to Python's code-point
    * string sort and to Spark's UTF8String binary ordering (SURVEY.md §7.4
    * risk 2), including for astral-plane names where Java's
    * `String.compareTo` (UTF-16 code units) would diverge.
    */
  val utf8Ordering: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }
}
