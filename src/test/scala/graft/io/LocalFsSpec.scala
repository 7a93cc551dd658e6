package graft.io

import graft.SparkSpec
import graft.split.{PlainParquet, SplitConfig, SplitJob}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}

/** [[LocalFs]] sets the stock local filesystem's permissions without a
  * `chmod` process and keeps its checksums. */
class LocalFsSpec extends SparkSpec {

  /** The stock local filesystem and [[LocalFs]], both uncached, on `conf`. */
  private def both(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> new LocalFileSystem, "fast" -> new LocalFs).map { case (side, fs) =>
      fs.initialize(URI.create("file:///"), conf)
      side -> fs
    }

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** Permission and special bits of a local path (octal 7777). */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(fs: FileSystem, p: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(p), true)
    try out.write(bytes) finally out.close()
  }

  test("a file and a dir get the stock FS's mode bits, under the default umask and umask 077") {
    val tmp = Files.createTempDirectory("localfs-modes").toString
    for (umask <- Seq(None, Some("077"))) {
      val u = umask.getOrElse("default")
      val modes = both(conf(umask)).map { case (side, fs) =>
        val root = s"$tmp/$u/$side"
        fs.mkdirs(new Path(s"$root/a/b"))
        write(fs, s"$root/a/f", Array.fill(10)(1.toByte))
        fs.mkdirs(new Path(s"$root/g"))
        fs.setPermission(new Path(s"$root/g"), new FsPermission("750"))
        Seq("a", "a/b", "a/f", "a/.f.crc", "g").map(r => r -> mode(s"$root/$r"))
      }
      assert(modes(0) == modes(1), u)
      val m = modes(1).toMap
      assert(m("g") == 0x1e8, u) // 0750
      if (umask.isDefined) assert(Seq("a", "a/b", "a/f", "a/.f.crc").forall(r => (m(r) & 0x3f) == 0), m)
      else assert(m("a") == 0x1ed && m("a/f") == 0x1a4, m) // 0755, 0644
    }
  }

  test("the .crc sidecar is written and a flipped data byte fails a stock checksummed read") {
    val tmp = Files.createTempDirectory("localfs-crc").toString
    val Seq(_, (_, fast)) = both(conf(None))
    val data = Array.tabulate[Byte](2000)(i => (i % 97).toByte)
    write(fast, s"$tmp/f", data)
    assert(Files.exists(Paths.get(s"$tmp/.f.crc")))
    // Hadoop's checksum reader over the raw local FS. LocalFileSystem's own
    // failure report would move the bad file to a `bad_files` dir at the
    // highest writable parent on its device, outside the test's dir.
    val checked = new ChecksumFileSystem(new RawLocalFileSystem) {}
    checked.initialize(URI.create("file:///"), conf(None))
    def readAll(): Array[Byte] = {
      val in = checked.open(new Path(s"$tmp/f"))
      try { val buf = new Array[Byte](data.length); in.readFully(buf); buf } finally in.close()
    }
    assert(readAll().sameElements(data))
    val raf = new RandomAccessFile(s"$tmp/f", "rw")
    try { raf.seek(700); raf.write(data(700) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readAll())
  }

  test("a sticky-bit dir goes through the stock chmod and matches the stock FS") {
    val tmp = Files.createTempDirectory("localfs-sticky").toString
    val modes = both(conf(None)).map { case (side, fs) =>
      val d = new Path(s"$tmp/$side")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission(0x3ff.toShort)) // 01777
      val sticky = mode(d.toString)
      fs.setPermission(d, new FsPermission("755")) // from a sticky mode
      (sticky, mode(d.toString))
    }
    assert(modes(0) == modes(1))
    assert(modes(1) == (0x3ff, 0x1ed), modes) // 01777, then 0755
  }

  test("a SplitJob run gives its key dirs and outputs the stock FS's permissions") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("localfs-split").toString
    PlainParquet.write(Seq("a", "b", "c").flatMap(k => Seq(k -> 1, k -> 2)).toDF("item_id", "v"),
      s"$tmp/in/20250101.parquet")
    for (umask <- Seq(None, Some("077"))) {
      val u = umask.getOrElse("default")
      val hc = spark.sparkContext.hadoopConfiguration
      val prev = Option(hc.get("fs.permissions.umask-mode"))
      umask.foreach(hc.set("fs.permissions.umask-mode", _))
      // the outputs are written through LocalFs, not the session's FS
      val viaLocalFs = FileSystem.getStatistics("file", classOf[LocalFs.Raw])
      val before = viaLocalFs.getBytesWritten
      val summary =
        try new SplitJob(spark, SplitConfig("test", s"$tmp/in", s"$tmp/$u/out",
          s"$tmp/$u/markers")).run()
        finally prev.fold(hc.unset("fs.permissions.umask-mode"))(hc.set("fs.permissions.umask-mode", _))
      assert(summary.processedDates == Seq("20250101"))
      assert(viaLocalFs.getBytesWritten - before >=
        Seq("a", "b", "c").map(k => Files.size(Paths.get(s"$tmp/$u/out/$k/20250101.parquet"))).sum)
      val Seq((_, stock), _) = both(conf(umask))
      stock.mkdirs(new Path(s"$tmp/$u/ref/k"))
      write(stock, s"$tmp/$u/ref/k/20250101.parquet", Array[Byte](1))
      val want = Seq(mode(s"$tmp/$u/ref/k"), mode(s"$tmp/$u/ref/k/20250101.parquet"),
        mode(s"$tmp/$u/ref/k/.20250101.parquet.crc"))
      for (k <- Seq("a", "b", "c")) {
        val dir = s"$tmp/$u/out/$k"
        assert(Seq(mode(dir), mode(s"$dir/20250101.parquet"),
          mode(s"$dir/.20250101.parquet.crc")) == want, s"$u $k")
      }
    }
  }
}
