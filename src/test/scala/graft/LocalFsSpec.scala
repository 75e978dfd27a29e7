package graft

import java.io.{IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.functions._
import graft.util.LocalFs

/** graft's `file://` file system against Hadoop's stock one: the same
  * files, bits, checksums and errors, without the process forks.
  */
class LocalFsSpec extends SparkSpec {

  private val stockImpl = classOf[LocalFileSystem].getName
  private val graftImpl = classOf[LocalFs.Checked].getName
  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** CPU ticks of reaped child processes: cutime + cstime. */
  private def childTicks(): Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(13).toLong + f(14).toLong
  }

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path (job UUIDs masked) → (directory?, permission bits)
    * of every entry below `root`.
    */
  private def tree(root: NioPath): Map[String, (Boolean, Int)] =
    Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.filter(_ != root).map(p =>
        root.relativize(p).toString.replaceAll(uuid, "UUID") -> (Files.isDirectory(p), mode(p))
      ).toMap
    }

  /** One 64-bucket `partitionBy` parquet write through `impl` (an
    * uncached instance, so `umask` applies); returns the child CPU
    * ticks the write reaped.
    */
  private def write(impl: String, umask: String, out: NioPath): Long = {
    val df = spark.range(0, 6400, 1, 1).select(col("id"), (col("id") % 64).as("b"))
    val t0 = childTicks()
    df.write.option("fs.file.impl", impl).option("fs.file.impl.disable.cache", "true")
      .option("fs.permissions.umask-mode", umask)
      .partitionBy("b").parquet(out.toUri.toString)
    childTicks() - t0
  }

  private def withTmp[A](body: NioPath => A): A = {
    val d = Files.createTempDirectory("graft-localfs")
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def uncached[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  test("the shared test session writes file:// through graft's file system, " +
    "for the FileSystem and the FileContext API") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs.Checked])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[LocalFs.Context])
    assert(!GraftSession.warnIfStockLocalFs(spark))
  }

  for ((umask, fileBits, dirBits) <- Seq(("022", "644", "755"), ("077", "600", "700")))
    test(s"umask $umask: same listing and permission bits as the stock file system, " +
      "with no child process") {
      withTmp { d =>
        // stock first: the first Hadoop shell call of a JVM also probes
        // for setsid and bash, which must not land on graft's write
        val stockTicks = write(stockImpl, umask, d.resolve("stock"))
        val graftTicks = write(graftImpl, umask, d.resolve("graft"))
        val stock = tree(d.resolve("stock"))
        val graft = tree(d.resolve("graft"))
        assert(graft === stock)
        assert(graft.count { case (k, (dir, _)) => dir && k.matches("b=\\d+") } === 64)
        // every data file and _SUCCESS has its .crc sidecar
        val files = graft.collect { case (k, (false, _)) => k.split("/") }
        val data = files.filterNot(_.last.startsWith("."))
        assert(data.size === 65)
        data.foreach(f => assert(graft.contains((f.init :+ s".${f.last}.crc").mkString("/"))))
        assert(files.size === 2 * data.size)
        graft.foreach { case (k, (dir, bits)) =>
          assert(f"$bits%o" === (if (dir) dirBits else fileBits), k)
        }
        assert(graftTicks <= 1, s"graft's write reaped $graftTicks ticks of child CPU")
        assert(stockTicks >= 10, s"stock write reaped only $stockTicks ticks")
      }
    }

  test("checksums stay on: a flipped data byte fails the read with ChecksumException") {
    withTmp { d =>
      write(graftImpl, "022", d.resolve("out"))
      val part = Using.resource(Files.walk(d.resolve("out"))) { s =>
        s.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
      Using.resource(new RandomAccessFile(part.toFile, "rw")) { f =>
        f.seek(8)
        val b = f.read()
        f.seek(8)
        f.write(b ^ 0xff)
      }
      val fs = uncached(new LocalFs.Checked)
      val e = intercept[ChecksumException] {
        Using.resource(fs.open(new Path(part.toUri))) { in =>
          in.readFully(new Array[Byte](Files.size(part).toInt))
        }
      }
      assert(e.getPos === 0L)
      // a Spark read through the session's file:// fails the same way
      val err = intercept[Exception](spark.read.parquet(d.resolve("out").toUri.toString).collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ChecksumException]), err)
      // the raw file system has no checksums: the same bytes read fine
      Using.resource(fs.getRawFileSystem.open(new Path(part.toUri))) { in =>
        in.readFully(new Array[Byte](Files.size(part).toInt))
      }
    }
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("status permission, owner and group equal the stock ls -ld answers; " +
    "link status and missing paths behave as in the stock file system") {
    withTmp { d =>
      val stock = uncached(new RawLocalFileSystem)
      val graft = uncached(new LocalFs.Raw)
      val dir = d.resolve("dir")
      Files.createDirectory(dir)
      Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(d.resolve("link"), dir.resolve("f"))
      graft.setPermission(new Path(dir.resolve("f").toUri), perm("640"))
      graft.setPermission(new Path(dir.toUri), perm("750"))
      assert(mode(dir.resolve("f")) === Integer.parseInt("640", 8))
      assert(mode(dir) === Integer.parseInt("750", 8))
      def same(g: org.apache.hadoop.fs.FileStatus, s: org.apache.hadoop.fs.FileStatus): Unit =
        assert((g.getPath, g.isSymlink, g.isDirectory, g.getLen, g.getPermission, g.getOwner,
          g.getGroup) === ((s.getPath, s.isSymlink, s.isDirectory, s.getLen, s.getPermission,
          s.getOwner, s.getGroup)))
      for (p <- Seq(dir, dir.resolve("f"), d.resolve("link"))) {
        same(graft.getFileStatus(new Path(p.toUri)), stock.getFileStatus(new Path(p.toUri)))
        // the stock link check never sees a link behind a qualified
        // path, only behind a plain one; graft's answers the same
        for (q <- Seq(new Path(p.toUri), new Path(p.toString)))
          same(graft.getFileLinkStatus(q), stock.getFileLinkStatus(q))
      }
      assert(graft.getFileLinkStatus(new Path(d.resolve("link").toString)).isSymlink)
      // located statuses (a listFiles walk) copy permission, owner and group
      def located(fs: FileSystem) = {
        val it = fs.listLocatedStatus(new Path(d.toUri))
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq.sortBy(_.getPath.toString)
      }
      located(graft).zip(located(stock)).foreach { case (g, s) => same(g, s) }
      // the sticky bit keeps the stock chmod, with the same result
      graft.setPermission(new Path(dir.toUri), perm("1750"))
      assert(mode(dir) === Integer.parseInt("1750", 8))
      same(graft.getFileStatus(new Path(dir.toUri)), stock.getFileStatus(new Path(dir.toUri)))
      assert(graft.getFileStatus(new Path(dir.toUri)).getPermission.getStickyBit)
      val missing = new Path(d.resolve("missing").toUri)
      intercept[IOException](stock.setPermission(missing, perm("644")))
      intercept[IOException](graft.setPermission(missing, perm("644")))
    }
  }

  test("a stock file:// instance cached before the session wins, and is reported") {
    // Hadoop caches per scheme, authority and user: a second user gives
    // a cache entry of its own, so the shared session's entry stays put
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs-spec")
    try {
      val warned = ugi.doAs(new java.security.PrivilegedExceptionAction[Boolean] {
        def run(): Boolean = {
          val stock = new Configuration()
          stock.set("fs.file.impl", stockImpl)
          FileSystem.get(URI.create("file:///"), stock)
          GraftSession.warnIfStockLocalFs(spark)
        }
      })
      assert(warned)
    } finally FileSystem.closeAllForUGI(ugi)
  }
}
