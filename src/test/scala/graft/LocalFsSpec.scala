package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.graftbridge.SessionBridge
import org.scalatest.funsuite.AnyFunSuite

/** graft's `file:` file system ([[NioLocalFileSystem]], [[NioLocalFs]]):
  * every Hadoop conf a graft session hands out resolves `file:` to it, and
  * it writes and reads the same metadata as Hadoop's stock local classes,
  * which run here beside it (forking their shell commands) on a temp dir.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def conf = spark.sparkContext.hadoopConfiguration
  private val local = URI.create("file:///")

  private lazy val nio = { val fs = new NioRawLocalFileSystem; fs.initialize(local, conf); fs }
  private lazy val stock = { val fs = new RawLocalFileSystem; fs.initialize(local, new Configuration); fs }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** What the two classes must agree on, path aside. */
  private def fields(s: FileStatus) =
    (s.getPermission, s.getOwner, s.getGroup, s.getLen, s.getModificationTime,
      s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null)

  /** A dir holding a file, a subdir and a link to the file. */
  private def tree(): (Path, Path, Path, Path) = {
    val dir = Stage.scratch("graft-localfs-")
    val file = Files.writeString(dir.resolve("f"), "graft")
    val sub = Files.createDirectory(dir.resolve("s"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def hadoop(p: java.nio.file.Path) = new Path(p.toString)
    (hadoop(dir), hadoop(file), hadoop(sub), hadoop(link))
  }

  test("every Hadoop conf of the session resolves file: to graft's classes") {
    assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
    val clone = SessionBridge.cloneSession(spark)
    val dir = new Path(Stage.scratch("graft-localfs-").toString)
    val cloneConf = clone.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    assert(dir.getFileSystem(cloneConf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("getFileStatus, listStatus and getFileLinkStatus read what the stock class reads") {
    val (dir, file, sub, link) = tree()
    Seq(dir, file, sub, link).foreach { p =>
      assert(nio.getFileStatus(p).getPath == stock.getFileStatus(p).getPath, p)
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    }
    assert(nio.getFileLinkStatus(link).isSymlink)
    assert(nio.getFileLinkStatus(link).getSymlink == file.makeQualified(local, null))
    // a dangling link has a link status only, and the listing skips it
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(Paths.get(dangling.toString), Paths.get(dir.toString, "absent"))
    assert(fields(nio.getFileLinkStatus(dangling)) == fields(stock.getFileLinkStatus(dangling)))
    intercept[FileNotFoundException](stock.getFileStatus(dangling))
    intercept[FileNotFoundException](nio.getFileStatus(dangling))
    def listed(fs: FileSystem, p: Path) =
      fs.listStatus(p).sortBy(_.getPath.toString).map(s => (s.getPath, fields(s))).toSeq
    assert(listed(nio, dir).size == 3)
    assert(listed(nio, dir) == listed(stock, dir))
    assert(listed(nio, file) == listed(stock, file))
  }

  test("create, mkdirs and setPermission write the bits the stock class writes") {
    val dir = new Path(Stage.scratch("graft-localfs-").toString)
    def written(fs: FileSystem, tag: String): Seq[(String, FsPermission)] = {
      val created = new Path(dir, s"$tag-created")
      fs.create(created, perm("640"), false, 4096, 1.toShort, 32L << 20, null).close()
      val made = new Path(dir, s"$tag-made")
      fs.mkdirs(made, perm("750"))
      val chmodded = new Path(dir, s"$tag-chmodded")
      fs.create(chmodded).close()
      fs.setPermission(chmodded, perm("600"))
      val sticky = new Path(dir, s"$tag-sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, perm("1777"))
      Seq(created, made, chmodded, sticky).map { p =>
        assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
        p.getName.stripPrefix(tag) -> nio.getFileStatus(p).getPermission
      }
    }
    val ours = written(nio, "nio")
    assert(ours == written(stock, "stock"))
    assert(ours.toMap.apply("-chmodded") == perm("600"))
    assert(ours.toMap.apply("-sticky") == perm("1777"))
    assert(ours.toMap.apply("-sticky").getStickyBit)
  }

  test("FileContext.rename with OVERWRITE replaces the file and its checksum as LocalFs does") {
    def renamed(fc: FileContext): (Seq[String], String) = {
      val dir = new Path(Stage.scratch("graft-localfs-").toString)
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(s.getBytes(UTF_8)) finally out.close()
      }
      val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
      write(src, "new bytes")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val read = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (new java.io.File(dir.toString).list().toSeq.sorted, read)
    }
    val ours = renamed(FileContext.getFileContext(conf))
    assert(ours == (Seq(".dst.crc", "dst"), "new bytes"))
    assert(ours == renamed(FileContext.getFileContext(new Configuration)))
  }

  test("no status from graft's classes is the stock lazy status that forks ls") {
    val (dir, file, sub, link) = tree()
    def lazyStatus(s: FileStatus) = s.getClass.getName.endsWith("DeprecatedRawLocalFileStatus")
    assert(lazyStatus(stock.getFileStatus(file)), "the guard must see the stock class's status")
    val checksummed = FileSystem.get(local, conf)
    val fc = FileContext.getFileContext(conf)
    val statuses = Seq(dir, file, sub, link).flatMap(p => Seq(nio.getFileStatus(p),
      nio.getFileLinkStatus(p), checksummed.getFileStatus(p), fc.getFileStatus(p),
      fc.getFileLinkStatus(p))) ++
      Seq(dir, file).flatMap(p => nio.listStatus(p).toSeq ++ checksummed.listStatus(p)) ++
      Iterator.unfold(fc.listStatus(dir))(it => Option.when(it.hasNext)((it.next(), it)))
    assert(statuses.size == 31)
    assert(!statuses.exists(lazyStatus))
  }
}
