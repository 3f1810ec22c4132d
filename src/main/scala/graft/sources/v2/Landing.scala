package graft.sources.v2

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FileStatus, Path}

/** The one file layer of the `warc` and `geojson` readers: which files
  * of a landing directory are data, and how a file is opened, on the
  * path's Hadoop `FileSystem`, so any Hadoop path works (a plain path,
  * a `file:` URI, HDFS).
  */
private[sources] object Landing {

  /** The regular, non-hidden files of `dir` that `keep` accepts, sorted
    * by name. Hidden is as in Spark's own file index: `.` or `_` first
    * (temp files of a write-then-rename landing, sidecars, `_SUCCESS`).
    * Each path is built from `dir` as given (normalized as a Hadoop
    * `Path`), not from the file system's qualified path, so a plain
    * absolute directory yields plain absolute file paths: the strings
    * a reader's `path` column and a stream's offsets carry.
    */
  def list(dir: String, conf: Configuration)(keep: FileStatus => Boolean): Seq[String] = {
    val p = new Path(dir)
    val base = p.toString.stripSuffix("/") + "/"
    p.getFileSystem(conf).listStatus(p).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith(".") && !name.startsWith("_") && keep(s)
    }.map(base + _.getPath.getName).sorted
  }

  /** Whether `path` names an existing directory. */
  def isDirectory(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(conf).getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  /** The file's length in bytes. */
  def length(path: String, conf: Configuration): Long = {
    val p = new Path(path)
    p.getFileSystem(conf).getFileStatus(p).getLen
  }

  /** Opens `path` for reading, seekable. On a checksummed file system
    * (Hadoop's local one) the bytes are read as stored, without its
    * `.crc` side files: a WARC archive carries its own integrity
    * checks (framing, gzip member CRCs, payload digests), and a file
    * edited in place is read as it now is.
    */
  def open(path: String, conf: Configuration): FSDataInputStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    fs.open(p)
  }
}
