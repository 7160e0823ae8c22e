package graft.util

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class NioLocalFileSystemSpec extends AnyFunSuite {

  private def filesystems(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration()
    val (nio, stock) = (new NioRawLocalFileSystem, new RawLocalFileSystem)
    Seq(nio, stock).foreach(_.initialize(new java.net.URI("file:///"), conf))
    (nio, stock)
  }

  test("graft's core-site.xml is the only one on the class path and registers both classes") {
    // Hadoop reads the first core-site.xml its class loader finds: a
    // second one would shadow graft's registration, or graft's the site's
    val conf = new Configuration()
    for (loader <- Seq(Thread.currentThread.getContextClassLoader, conf.getClassLoader)) {
      val found = loader.getResources("core-site.xml").asScala.toSeq
      assert(found.size == 1, found)
    }
    val local = new java.net.URI("file:///")
    assert(conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
    assert(FileSystem.get(local, conf).getClass == classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, conf).getClass == classOf[NioLocalFs])
  }

  test("getFileLinkStatus agrees with the stock class on a symlink, a dangling one, a plain file, a directory and a missing path") {
    Scratch.withDir("graft-nio-fs-") { dir =>
      val file = Files.write(Paths.get(dir, "data.bin"), Array.fill[Byte](1234)(7))
      Files.createSymbolicLink(Paths.get(dir, "link"), file)
      Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
      Files.createDirectory(Paths.get(dir, "sub"))
      val (nio, stock) = filesystems()
      def fields(s: FileStatus) =
        (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory, s.getPath)
      for (name <- Seq("link", "dangling", "data.bin", "sub")) {
        val p = new Path(s"$dir/$name")
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
      }
      val link = nio.getFileLinkStatus(new Path(s"$dir/link"))
      assert(link.isSymlink && link.getLen == 1234 && !link.isDirectory)
      assert(link.getSymlink == new Path(s"file:$file"))
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    }
  }

  test("setPermission sets the same mode as the stock class") {
    Scratch.withDir("graft-nio-fs-") { dir =>
      val (nio, stock) = filesystems()
      for (mode <- Seq("640", "755", "600")) {
        val modes = Seq(nio -> "a", stock -> "b").map { case (fs, name) =>
          val p = Files.write(Paths.get(dir, name), Array[Byte](1))
          fs.setPermission(new Path(p.toString), new FsPermission(mode))
          Files.getPosixFilePermissions(p)
        }
        assert(modes.distinct.size == 1, s"$mode: $modes")
      }
      intercept[FileNotFoundException](
        nio.setPermission(new Path(s"$dir/missing"), new FsPermission("644")))
    }
  }
}
