package graft

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NoForkLocalFileSystem]]: the session's `file:` FileSystem, which
  * must leave exactly the permission bits the stock one does. */
class NoForkLocalFsSpec extends SparkSuite {

  private val root = {
    val dir = new File("target/test-fixtures/nofork-fs").getAbsoluteFile
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(dir); dir.mkdirs()
    dir
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def bits(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("the session's file: FileSystem is NoForkLocalFileSystem") {
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NoForkLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NoForkLocalFileSystem])
    assert(new Path(root.getPath).getFileSystem(conf).isInstanceOf[NoForkLocalFileSystem])
  }

  test("create and mkdirs leave the stock FileSystem's permission bits") {
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val ours = FileSystem.get(URI.create("file:///"), conf)
    val umask = FsPermission.getUMask(conf).toShort.toInt
    for (mode <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed)) { // 0600, 0644, 0700, 0755
      def made(fs: FileSystem, tag: String): Seq[File] = {
        val dir = new File(root, s"$tag-${mode.toOctalString}")
        val file = new Path(dir.getPath, "f")
        fs.create(file, new FsPermission(mode.toShort), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(dir.getPath, "d"), new FsPermission(mode.toShort))
        Seq(dir, new File(dir, "f"), new File(dir, ".f.crc"), new File(dir, "d"))
      }
      val (want, got) = (made(stock, "stock"), made(ours, "ours"))
      assert(got.forall(_.exists), s"missing: ${got.filterNot(_.exists)}")
      assert(got.map(bits) == want.map(bits), s"mode ${mode.toOctalString}")
      val masked = NoForkRawLocalFileSystem.posix(mode & ~umask)
      assert(Files.getPosixFilePermissions(got(1).toPath) == masked, s"mode ${mode.toOctalString}")
    }
  }

  test("a sticky-bit mode takes the stock path") {
    val ours = FileSystem.get(URI.create("file:///"), conf)
    val dir = new Path(new File(root, "sticky").getPath)
    // create and mkdirs apply the umask, which drops the sticky bit;
    // setPermission passes it through
    assert(ours.mkdirs(dir))
    ours.setPermission(dir, new FsPermission(0x3ed.toShort)) // 01755
    // java.nio cannot set the sticky bit: only the stock chmod leaves it
    val mode = Files.getAttribute(new File(dir.toUri.getPath).toPath, "unix:mode").asInstanceOf[Int]
    assert((mode & 0xfff) == 0x3ed, s"mode ${mode.toOctalString}")
  }
}
