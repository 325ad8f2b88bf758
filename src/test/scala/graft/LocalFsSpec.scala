package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `LocalFs` sets the same mode bits as Hadoop's stock local file system,
  * and the sessions resolve `file:` to it.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val graftFs = initialized(new LocalFs.Raw)

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  /** `op`'s mode on a file of its own under each file system. */
  private def both(op: (RawLocalFileSystem, Path) => Unit): (Int, Int) = {
    val root = Files.createTempDirectory("localfs")
    def run(fs: RawLocalFileSystem, name: String) = {
      val p = new Path(root.resolve(name).toUri)
      op(fs, p)
      mode(p)
    }
    (run(stock, "stock"), run(graftFs, "graft"))
  }

  test("create, mkdirs and setPermission set the stock modes") {
    val cases: Seq[(String, (RawLocalFileSystem, Path) => Unit)] = Seq(
      "create" -> ((fs, p) => fs.create(p, true).close()),
      "mkdirs" -> ((fs, p) => assert(fs.mkdirs(p))),
      "mkdirs 0750" -> ((fs, p) => assert(fs.mkdirs(p, new FsPermission("750")))),
      "setPermission 0600" -> { (fs, p) =>
        fs.create(p, true).close(); fs.setPermission(p, new FsPermission("600")) },
      "setPermission 0751" -> { (fs, p) =>
        fs.create(p, true).close(); fs.setPermission(p, new FsPermission("751")) })
    cases.foreach { case (name, op) =>
      val (s, g) = both(op)
      assert(s == g, f"$name: stock $s%04o, LocalFs $g%04o")
    }
    assert(both((fs, p) => { fs.create(p, true).close()
      fs.setPermission(p, new FsPermission("751")) })._2 == Integer.parseInt("751", 8))
  }

  test("a sticky-bit request still sets the sticky bit") {
    val (s, g) = both { (fs, p) =>
      assert(fs.mkdirs(p))
      fs.setPermission(p, new FsPermission("1777"))
    }
    assert(s == Integer.parseInt("1777", 8) && g == s, f"stock $s%04o, LocalFs $g%04o")
  }

  test("the session resolves file: paths to LocalFs") {
    val spark = TestSpark.spark
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFs], fs.getClass.getName)
    assert(new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[LocalFs])
  }
}
