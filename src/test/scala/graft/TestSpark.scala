package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions("graft-test", Some(4),
      Seq("spark.sql.streaming.checkpointLocation.deleteOnExit" -> "true"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
