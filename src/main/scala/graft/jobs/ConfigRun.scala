package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Sessions
import graft.dsl.DataflowConfig
import graft.model.Events
import graft.sink.{ConsoleEventSink, ErrorSplit}

/** Config-driven batch entry point — the reference's action-dispatch path
  * (an agent resolves tenant-layered settings, synthesizes the dataflow,
  * runs it; reference: Actions/Internal/ActionSettingsFactory.cs:24-76 +
  * Dataflow.cs:165-202), shaped for `spark-submit`:
  *
  * {{{
  * spark-submit --class graft.jobs.ConfigRun engine.jar \
  *   <configRoot> <action> <tenant> <inputParquet> <outDir>
  * }}}
  *
  * The resolved Dataflow (keys-Required → defaults → replacements) runs over
  * the input table; valid rows land in `outDir/valid`, the per-record event
  * stream in `outDir/errors` — errors are data, not logs.
  */
object ConfigRun {

  /** Testable core: returns (valid, errors) after writing both. */
  def run(spark: SparkSession, configRoot: String, action: String,
          tenant: String, input: DataFrame, outDir: String): (DataFrame, DataFrame) = {
    val flow = DataflowConfig.buildFromFiles(configRoot, action, tenant)
      .sink(new ConsoleEventSink("INFO"))
      .source(input)
    val result = flow.run()
    val keyCols =
      if (flow.keys.nonEmpty) flow.keys
      else result.columns.filterNot(_ == Events.col).take(1).toSeq
    val (valid, errors) = ErrorSplit.split(result, keyCols)
    valid.drop(Events.col).write.mode("overwrite").parquet(s"$outDir/valid")
    errors.write.mode("overwrite").parquet(s"$outDir/errors")
    (valid, errors)
  }

  def main(args: Array[String]): Unit = {
    val Array(configRoot, action, tenant, input, outDir) = args.take(5)
    val spark = Sessions(s"graft-$action-$tenant")
    run(spark, configRoot, action, tenant, spark.read.parquet(input), outDir)
    spark.stop()
  }
}
