package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` file system every graft session runs on
  * ([[NioLocalFs]]): same permissions, link status, rename and
  * checksum behavior as Hadoop's stock local file system, without
  * its per-file `chmod`/`readlink` processes.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2).getOrCreate()

  private def conf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def graftFs(): FileSystem = {
    val fs = FileSystem.newInstance(new URI("file:///"), conf())
    assert(fs.isInstanceOf[NioLocalFileSystem], s"session file system is ${fs.getClass}")
    fs
  }

  test("created files and directories get the permissions the shell path gives") {
    withDir { dir =>
      val fs = graftFs()
      val stock = new LocalFileSystem()
      stock.initialize(new URI("file:///"), conf())
      try {
        for ((tag, f) <- Seq("nio" -> fs, "shell" -> stock)) {
          f.create(new Path(dir.resolve(s"$tag.txt").toString)).close()
          assert(f.mkdirs(new Path(dir.resolve(s"$tag-a/b").toString)))
        }
        for (tag <- Seq("nio", "shell")) {
          assert(perms(dir.resolve(s"$tag.txt")) == "rw-r--r--")
          assert(perms(dir.resolve(s".$tag.txt.crc")) == "rw-r--r--")
          assert(perms(dir.resolve(s"$tag-a")) == "rwxr-xr-x")
          assert(perms(dir.resolve(s"$tag-a/b")) == "rwxr-xr-x")
        }
        // an explicit mode is set as given, with no umask applied
        val p = new Path(dir.resolve("nio.txt").toString)
        fs.setPermission(p, new FsPermission("640"))
        assert(perms(dir.resolve("nio.txt")) == "rw-r-----")
        assert(fs.getFileStatus(p).getPermission == new FsPermission("640"))
      } finally { fs.close(); stock.close() }
    }
  }

  test("getFileLinkStatus: a regular file's status, a real symlink's target, a missing path's error") {
    withDir { dir =>
      val fs = graftFs()
      try {
        val file = dir.resolve("data.txt")
        Files.writeString(file, "12345")
        val st = fs.getFileLinkStatus(new Path(file.toString))
        assert(!st.isSymlink && st.isFile && st.getLen == 5L)
        assert(st.getPath == fs.getFileStatus(new Path(file.toString)).getPath)

        val link = Files.createSymbolicLink(dir.resolve("link.txt"), file)
        val ls = fs.getFileLinkStatus(new Path(link.toString))
        assert(ls.isSymlink, s"symlink not reported: $ls")
        assert(ls.getSymlink.toUri.getPath == file.toString)

        intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("absent").toString)))
      } finally fs.close()
    }
  }

  test("the session's FileContext for file: paths runs on graft's file system") {
    val fc = FileContext.getFileContext(new URI("file:///"), conf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs],
      s"session FileContext runs on ${fc.getDefaultFileSystem.getClass}")
  }

  test("FileContext rename with OVERWRITE replaces the destination and its checksum") {
    withDir { dir =>
      val fc = FileContext.getFileContext(new URI("file:///"), conf())
      def write(name: String, body: String): Path = {
        val p = new Path(dir.resolve(name).toUri)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
        p
      }
      val src = write("src.txt", "new")
      val dst = write("dst.txt", "the old and longer content")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("src.txt")) && !Files.exists(dir.resolve(".src.txt.crc")))
      assert(Files.exists(dir.resolve(".dst.txt.crc")))
      // reading through the checksummed file system verifies dst's
      // bytes against the .crc that moved with it
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }
}
