package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  NioRawLocalFs}

/** The in-process local file system `Harness.builder` binds to `file:`. */
class NioLocalFsSpec extends AnyFunSuite {
  private def withFs[T](body: (NioRawLocalFileSystem, java.nio.file.Path) => T): T = {
    val fs = new NioRawLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = graft.core.Scratch.fresh("graft_niofs")
    try body(fs, dir)
    finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      fs.close()
    }
  }

  test("setPermission sets the same 9 bits as chmod (0644, 0755, 0700)") {
    withFs { (fs, dir) =>
      val f = Files.createFile(dir.resolve("f"))
      for (octal <- Seq("644", "755", "700")) {
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        fs.setPermission(new Path(f.toUri), perm)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
          == perm.toString, s"0$octal")
      }
    }
  }

  test("getFileLinkStatus equals getFileStatus on a regular file and " +
       "reports a symlink with its target") {
    withFs { (fs, dir) =>
      val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      def view(st: org.apache.hadoop.fs.FileStatus) =
        (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
         st.getModificationTime)
      val file = new Path(target.toUri)
      assert(view(fs.getFileLinkStatus(file)) == view(fs.getFileStatus(file)))
      assert(!fs.getFileLinkStatus(file).isSymlink)
      val st = fs.getFileLinkStatus(new Path(link.toUri))
      assert(st.isSymlink)
      assert(st.getSymlink == new Path(target.toString))
    }
  }

  test("the session's Hadoop conf binds file: to the in-process classes") {
    val conf = TestSpark.spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf)
      .isInstanceOf[NioLocalFileSystem])
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(fc.getDefaultFileSystem.asInstanceOf[NioLocalFs].getRawFs
      .isInstanceOf[NioRawLocalFs])
  }
}
