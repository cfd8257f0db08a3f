package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

object Fs {
  /** Regular files under `dir` with their sizes, keyed by relative path. */
  def census(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val all = Files.walk(root)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally all.close()
  }
}
