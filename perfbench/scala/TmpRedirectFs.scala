package graft.bench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local filesystem that keeps the served stores inside the benchmark's
  * run directory.
  *
  * graft's served stores live at fixed `/tmp/graft_<family>/<key>` paths
  * and are reached only through the Hadoop FileSystem API, so swapping
  * the `file:` implementation moves every store under
  * `graft.bench.storeRoot` without touching the program. Statuses keep
  * the `/tmp` path the program asked for, because Spark matches listed
  * files against the paths it listed. Paths outside `/tmp/graft*`
  * resolve unchanged.
  */
final class TmpRedirectRawFs extends RawLocalFileSystem {
  private lazy val root = {
    val r = System.getProperty("graft.bench.storeRoot")
    require(r != null && r.startsWith("/"), "graft.bench.storeRoot must be set")
    r.stripSuffix("/")
  }

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val p = f.getPath
    if (p.startsWith("/tmp/graft") && !p.startsWith(root + "/"))
      new File(root + p.stripPrefix("/tmp"))
    else f
  }

  private def asAsked(st: FileStatus): FileStatus = {
    val p = st.getPath.toUri.getPath
    if (p.startsWith(root + "/graft"))
      st.setPath(makeQualified(new Path("/tmp" + p.stripPrefix(root))))
    st
  }

  override def getFileStatus(f: Path): FileStatus = asAsked(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = asAsked(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(asAsked)
}

final class TmpRedirectFs extends LocalFileSystem(new TmpRedirectRawFs)
