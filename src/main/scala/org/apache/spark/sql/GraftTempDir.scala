package org.apache.spark.sql

/** Scratch directories deleted when the JVM exits: Spark's `private[spark]`
  * `Utils.createTempDir` registers each one with its shutdown-hook
  * registry. For throwaway warehouses and source dirs of one run. */
object GraftTempDir {
  def apply(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath
}
