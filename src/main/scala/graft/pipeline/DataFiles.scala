package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Driver-side listing of the data files directly under a directory,
  * as Spark's file sources see them: names starting with `_` or `.`
  * (`_SUCCESS`, checksum files) are not data, and a missing directory
  * has none. A path naming a file lists that file. Resolved through
  * the Hadoop FileSystem of the path, so any scheme works (java.io.File
  * would report nothing for hdfs:// or s3a://). One metadata call; no
  * Spark job.
  */
private[graft] object DataFiles {
  def list(conf: Configuration, dir: String): Seq[FileStatus] =
    entries(conf, dir).filter(isData)

  /** The data files under `dir` when it holds no subdirectory of any
    * name (so no partition and no write in progress); None otherwise. */
  def flat(conf: Configuration, dir: String): Option[Seq[FileStatus]] = {
    val all = entries(conf, dir)
    if (all.exists(_.isDirectory)) None else Some(all.filter(isData))
  }

  private def isData(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    s.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  private def entries(conf: Configuration, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try p.getFileSystem(conf).listStatus(p).toSeq
    catch {
      case _: java.io.FileNotFoundException => Nil
    }
  }
}
