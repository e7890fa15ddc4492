package perfbench

import java.io.File
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}

/** The local file system, except that the engine's per-process gate
  * scratch trees (`/tmp/graft_*`, see `graft.queries.GateTmp`) land
  * under the directory named by the Hadoop option [[RunFs.TmpKey]]. The
  * benchmark's session installs it for the `file` scheme, so the store
  * gates run unchanged while the run writes only inside its own
  * directory. */
final class RunFs extends LocalFileSystem(new RunFs.Raw)

object RunFs {
  val TmpKey = "perfbench.tmp.dir"
  private val Redirected = "/tmp/graft_"

  final class Raw extends RawLocalFileSystem {
    private var tmpDir: String = _

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      tmpDir = conf.get(TmpKey)
    }

    private def redirected(path: Path): Boolean =
      tmpDir != null && super.pathToFile(path).getPath.startsWith(Redirected)

    override def pathToFile(path: Path): File = {
      val f = super.pathToFile(path)
      if (redirected(path)) new File(tmpDir, f.getPath.stripPrefix("/tmp/"))
      else f
    }

    // statuses name the path asked for, not the file it was redirected to,
    // so listings keep the layout the caller wrote
    override def getFileStatus(path: Path): FileStatus = {
      val st = super.getFileStatus(path)
      if (redirected(path)) st.setPath(makeQualified(path))
      st
    }

    override def listStatus(path: Path): Array[FileStatus] = {
      val sts = super.listStatus(path)
      if (redirected(path)) {
        val q = makeQualified(path)
        val dir = pathToFile(path).isDirectory
        sts.foreach(st =>
          st.setPath(if (dir) new Path(q, st.getPath.getName) else q))
      }
      sts
    }
  }
}
