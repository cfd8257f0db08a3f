package graft.meta

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[LocalFs]] leaves every file and directory with exactly the mode the
  * stock Hadoop local filesystem gives it, and engine sessions write
  * through it. */
class LocalFsSpec extends SparkSpec {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def newFs(engine: Boolean, umask: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", umask)
    val fs = if (engine) new LocalFs else new LocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Relative path → the 12 mode bits (permissions, setuid/setgid, sticky)
    * of everything under `root`. */
  private def modes(root: NioPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map(p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    ).toMap
    finally walk.close()
  }

  /** Runs `ops` once through the stock filesystem and once through
    * [[LocalFs]], each in a fresh root that `prepare` sets up, and
    * returns both trees' modes. */
  private def both(umask: String, prepare: NioPath => Unit = _ => ())(
      ops: (FileSystem, Path) => Unit): (Map[String, Int], Map[String, Int]) = {
    def run(engine: Boolean): Map[String, Int] = {
      val root = Files.createTempDirectory("graft-localfs")
      prepare(root)
      val fs = newFs(engine, umask)
      try { ops(fs, new Path(root.toUri)); modes(root) }
      finally { fs.close(); graft.api.Engine.deleteRecursively(root) }
    }
    (run(engine = false), run(engine = true))
  }

  private val explicitModes = Seq("644", "755", "700", "600")

  /** What a staging write does (nested directories, a checksummed file)
    * plus create / mkdirs / setPermission with explicit modes. */
  private def writes(fs: FileSystem, root: Path): Unit = {
    fs.mkdirs(new Path(root, "stage/__p_a=1/__p_b=x"))
    fs.create(new Path(root, "stage/__p_a=1/__p_b=x/part-00000.parquet")).close()
    explicitModes.foreach { m =>
      val perm = new FsPermission(octal(m).toShort)
      fs.mkdirs(new Path(root, s"mkdirs-$m/sub"), perm)
      fs.create(new Path(root, s"create-$m"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(root, s"chmod-dir-$m"))
      fs.setPermission(new Path(root, s"chmod-dir-$m"), perm)
      fs.create(new Path(root, s"chmod-file-$m")).close()
      fs.setPermission(new Path(root, s"chmod-file-$m"), perm)
    }
  }

  for (umask <- Seq("022", "077", "002")) {
    test(s"files and directories get the stock modes under umask $umask") {
      val (stock, engine) = both(umask)(writes)
      assert(engine == stock)
      // the comparison covers checksums, umasked defaults and explicit modes
      assert(stock.contains("stage/__p_a=1/__p_b=x/.part-00000.parquet.crc"))
      assert(stock("stage/__p_a=1/__p_b=x/part-00000.parquet") == (octal("666") & ~octal(umask)))
      assert(stock("stage/__p_a=1") == (octal("777") & ~octal(umask)))
      explicitModes.foreach(m => assert(stock(s"chmod-file-$m") == octal(m)))
    }
  }

  test("a sticky-bit mode takes the stock command and still matches") {
    val sticky = new FsPermission(octal("1777").toShort)
    val (stock, engine) = both("022") { (fs, root) =>
      fs.mkdirs(new Path(root, "tmp"), sticky)
      fs.mkdirs(new Path(root, "chmod"))
      fs.setPermission(new Path(root, "chmod"), sticky)
    }
    assert(engine == stock)
    // (mkdirs' umask step drops the sticky bit in both)
    assert(engine("chmod") == octal("1777"))
  }

  test("a setgid directory keeps its bit as under the stock command") {
    val setgid: NioPath => Unit = root => Files.setAttribute(root, "unix:mode", octal("2775"))
    val (stock, engine) = both("022", setgid) { (fs, root) =>
      fs.mkdirs(new Path(root, "a/b"))
      fs.create(new Path(root, "a/b/f")).close()
    }
    assert(engine == stock)
    assert(engine("a/b") == octal("2755"))
  }

  test("plain modes go through NIO; sticky and setgid ones fall back") {
    val raw = new LocalFs.Raw
    raw.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("graft-localfs")
    try {
      val dir = new Path(root.toUri)
      Files.createFile(root.resolve("f"))
      assert(raw.setByNio(new Path(dir, "f"), new FsPermission(octal("640").toShort)))
      assert(Files.getAttribute(root.resolve("f"), "unix:mode").asInstanceOf[Int] % 4096 == octal("640"))
      assert(!raw.setByNio(dir, new FsPermission(octal("1777").toShort)))
      Files.setAttribute(root, "unix:mode", octal("2700"))
      assert(!raw.setByNio(dir, new FsPermission(octal("700").toShort)))
      assert(!raw.setByNio(new Path(dir, "missing"), new FsPermission(octal("600").toShort)))
    } finally graft.api.Engine.deleteRecursively(root)
  }

  test("the engine session resolves local paths to LocalFs") {
    val dir = Files.createTempDirectory("graft-localfs").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFs])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFs.Raw])
    Files.delete(java.nio.file.Paths.get(dir))
  }
}
