package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions("graft-test", Some(4),
      Seq("spark.sql.streaming.checkpointLocation.deleteOnExit" -> "true"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()
  // Spark's own shutdown hook runs alongside this one and may add or remove
  // files meanwhile; a failure on one dir must not stop cleanup of the rest
  sys.addShutdownHook(tempDirs.forEach { dir =>
    try {
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case NonFatal(_) => }
  })

  /** A new directory under the system temp dir; one JVM shutdown hook
    * deletes it, with everything in it, when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }
}
