package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Driver-side listing of the data files directly under a directory,
  * as Spark's file sources see them: names starting with `_` or `.`
  * (`_SUCCESS`, checksum files) are not data, and a missing directory
  * has none. Resolved through the Hadoop FileSystem of the path, so
  * any scheme works (java.io.File would report nothing for hdfs:// or
  * s3a://). One metadata call; no Spark job.
  */
private[pipeline] object DataFiles {
  def list(conf: Configuration, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try p.getFileSystem(conf).listStatus(p).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    } catch {
      case _: java.io.FileNotFoundException => Nil
    }
  }
}
