package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built: every main and the test suite
  * call [[apply]], so they all run the engine's settings.
  *
  *   - `spark.sql.session.timeZone=UTC`: the oracle match depends on it;
  *   - the RocksDB state store, the store the job ships on;
  *   - a code-generation cache of 2000 classes: Spark's default of 100 makes
  *     a second pass over the 64 queries in one session recompile them;
  *   - `spark.sql.shuffle.partitions` = the session's `defaultParallelism`,
  *     unless the caller or the submitter set it (Spark's 200 makes the
  *     job write up to 200 small error files per batch);
  *   - log level WARN.
  *
  * With a core count the session is `local[cores]` with the UI off;
  * without one the master and the UI are the submitter's.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`: the local core count of `Verify` and `Bench`,
    * default all of this machine's. */
  lazy val localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def apply(appName: String, cores: Option[Int] = None,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    cores.foreach(n => b.master(s"local[$n]").config("spark.ui.enabled", "false"))
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the context's conf holds the caller's entries and the submitter's
    if (!s.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toLong)
    s
  }
}
