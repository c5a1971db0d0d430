package graftbench

import java.io.File
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local file system that maps one absolute directory prefix onto
  * another. Entries that keep fixtures under a fixed warehouse path
  * (`/tmp/graft_warehouse`) then write into the run's work directory.
  * Statuses report the original paths, so Spark's file index finds the
  * files under the directory it listed. The mapping comes from two
  * system properties set by run.py; without them this is the plain
  * local file system. */
class RedirectRawFs extends RawLocalFileSystem {
  private val map = for {
    from <- sys.props.get("graftbench.redirect.from")
    to <- sys.props.get("graftbench.redirect.to")
  } yield (from.stripSuffix("/"), to.stripSuffix("/"))

  private def swap(p: String, a: String, b: String): Option[String] =
    if (p == a || p.startsWith(a + "/")) Some(b + p.substring(a.length)) else None

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    map.flatMap { case (from, to) => swap(f.getPath, from, to) }.map(new File(_)).getOrElse(f)
  }

  private def unmap(s: FileStatus): FileStatus = {
    for ((from, to) <- map; p <- swap(s.getPath.toUri.getPath, to, from))
      s.setPath(makeQualified(new Path(p)))
    s
  }

  override def getFileStatus(f: Path): FileStatus = unmap(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(unmap)
}

class RedirectFs extends LocalFileSystem(new RedirectRawFs)
