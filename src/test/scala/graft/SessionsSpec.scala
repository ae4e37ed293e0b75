package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, as every main and this suite get them. */
class SessionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a session built with a core count and no partition count: one shuffle partition per core, UTC") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
