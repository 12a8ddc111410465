package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio `file:` FileSystem every session writes through (see
  * Sessions.builder): it must be what the session resolves, and every
  * file or dir it creates must carry the bits stock RawLocalFileSystem
  * would give it. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fresh[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(new URI("file:///"), conf); fs
  }

  test("a Sessions-built session resolves file: to the nio FileSystem") {
    // FileSystem.get is what Spark's writers call; its cache keeps the
    // first instance per scheme and user, so ask through the session
    val conf = spark.sparkContext.hadoopConfiguration
    val cached = FileSystem.get(new URI("file:///"), conf)
    assert(cached.getClass == classOf[graft.io.LocalFileSystem])
    assert(cached.asInstanceOf[graft.io.LocalFileSystem].getRaw
      .isInstanceOf[graft.io.LocalFileSystem.NioRaw])
    assert(new Path(Files.createTempDirectory("graft_niofs_").toString)
      .getFileSystem(spark.sessionState.newHadoopConf()).getClass
      == classOf[graft.io.LocalFileSystem])
  }

  for (umask <- Seq("022", "077", "002")) {
    test(s"created files and dirs get the stock bits (umask-mode $umask)") {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = fresh(new org.apache.hadoop.fs.LocalFileSystem(), conf)
      val nio = fresh(new graft.io.LocalFileSystem(), conf)
      val root = Files.createTempDirectory("graft_niofs_")
      def layout(fs: FileSystem, tag: String): Seq[Int] = {
        val dir = new Path(root.toString, s"$tag/a/b")
        assert(fs.mkdirs(dir))
        val f = new Path(dir, "part-0.parquet")
        val out = fs.create(f); out.write(Array[Byte](1, 2, 3)); out.close()
        val g = new Path(dir, "explicit")
        fs.create(g, new FsPermission(Integer.parseInt("640", 8).toShort), true, 4096,
          1.toShort, 1L << 25, null).close()
        Seq(s"$tag", s"$tag/a", s"$tag/a/b", s"$tag/a/b/part-0.parquet",
          s"$tag/a/b/.part-0.parquet.crc", s"$tag/a/b/explicit")
          .map(r => mode(root.resolve(r)))
      }
      val want = layout(stock, "stock")
      assert(layout(nio, "nio") == want)
      // both honour the configured umask, not just a default
      assert(want(3) == (0x1b6 & ~Integer.parseInt(umask, 8)))
    }
  }

  test("setPermission replaces the rwx bits like chmod") {
    val nio = fresh(new graft.io.LocalFileSystem(), new Configuration())
    val root = Files.createTempDirectory("graft_niofs_")
    val f = root.resolve("f"); Files.write(f, Array[Byte](0))
    for (bits <- Seq("755", "600", "404", "000", "777")) {
      nio.getRaw.setPermission(new Path(f.toString),
        new FsPermission(Integer.parseInt(bits, 8).toShort))
      assert(mode(f) == Integer.parseInt(bits, 8), bits)
    }
  }

  test("a sticky-bit permission goes through the chmod fallback") {
    val nio = fresh(new graft.io.LocalFileSystem(), new Configuration())
    val d = Files.createTempDirectory("graft_niofs_").resolve("shared")
    Files.createDirectory(d)
    nio.setPermission(new Path(d.toString),
      new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(d) == Integer.parseInt("1777", 8))
    // and back: the target now carries a special bit, which nio would
    // not clear the way chmod does
    nio.setPermission(new Path(d.toString),
      new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(d) == Integer.parseInt("750", 8))
  }
}
