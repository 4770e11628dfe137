package graft

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The session's local file systems are the in-process ones, and they
  * behave as stock Hadoop does: same permission bits, same link statuses,
  * same rename checks, `.crc` side files still written.
  */
class InProcessLocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withDir(body: java.io.File => Unit): Unit = {
    val d = Files.createTempDirectory("graft_localfs").toFile
    try body(d) finally LocalFs.deleteRecursively(d)
  }

  private def stock: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  private def inProcess: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRawFileSystem

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) Some(s.getSymlink) else None)

  test("the session's FileSystem and FileContext for file: are the in-process ones") {
    assert(inProcess.isInstanceOf[InProcessRawLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[InProcessLocalFileSystem])
    val fc = FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
  }

  test("setPermission sets the same POSIX bits as stock Hadoop's chmod") {
    withDir { d =>
      for (mode <- Seq("600", "644", "700", "755"); dir <- Seq(false, true)) {
        val (mine, theirs) = (new java.io.File(d, s"in$mode$dir"), new java.io.File(d, s"stock$mode$dir"))
        Seq(mine, theirs).foreach(f => if (dir) f.mkdir() else f.createNewFile())
        val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
        inProcess.setPermission(new Path(mine.toURI), perm)
        stock.setPermission(new Path(theirs.toURI), perm)
        val bits = Files.getPosixFilePermissions(mine.toPath)
        assert(bits === Files.getPosixFilePermissions(theirs.toPath), s"mode $mode dir=$dir")
        assert(java.nio.file.attribute.PosixFilePermissions.toString(bits) === perm.toString)
      }
    }
  }

  test("getFileLinkStatus of a regular file is its getFileStatus; a symlink keeps its target") {
    withDir { d =>
      val file = new java.io.File(d, "data")
      Files.write(file.toPath, Array[Byte](1, 2, 3))
      val p = new Path(file.toURI)
      assert(fields(inProcess.getFileLinkStatus(p)) === fields(inProcess.getFileStatus(p)))
      assert(fields(inProcess.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)))
      val link = new java.io.File(d, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      // stock Hadoop sees the link only through a scheme-less path
      // (`readlink` gets the path's string); either way the answers agree
      for (lp <- Seq(new Path(link.getPath), new Path(link.toURI)))
        assert(fields(inProcess.getFileLinkStatus(lp)) === fields(stock.getFileLinkStatus(lp)), lp)
      val l = inProcess.getFileLinkStatus(new Path(link.getPath))
      assert(l.isSymlink)
      assert(l.getSymlink === p)
    }
  }

  test("FileContext rename keeps its overwrite check and .crc side files are still written") {
    withDir { d =>
      val fc = FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      val (src, dst) = (new Path(new java.io.File(d, "src").toURI), new Path(new java.io.File(d, "dst").toURI))
      Seq(src, dst).foreach { p =>
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(1) finally out.close()
      }
      assert(new java.io.File(d, ".src.crc").isFile && new java.io.File(d, ".dst.crc").isFile)
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!new java.io.File(d, "src").exists() && new java.io.File(d, "dst").isFile)
      // a Spark write through the session's FileSystem
      import spark.implicits._
      val out = new java.io.File(d, "parquet").toString
      Seq(1, 2, 3).toDF("x").write.parquet(out)
      val names = new java.io.File(out).list().toSeq
      val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.nonEmpty)
      parts.foreach(n => assert(names.contains(s".$n.crc")))
    }
  }
}
