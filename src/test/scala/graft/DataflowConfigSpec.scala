package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dsl.DataflowConfig

/** Config layering semantics (reference: ActionSettingsFactory.cs:24-76 and
  * the circular-parent fixtures under src/Shipwright.Test/Configurations/).
  */
class DataflowConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfgRoot = "src/test/resources/configurations"

  test("YAML files: parent chain merges least-to-most specific, nested keys dotted") {
    val s = DataflowConfig.resolveFiles(cfgRoot, "ImportFeed", "TestTenant")
    assert(s("keys") == "conv_id,turn_idx")          // action defaults
    assert(s("default.source") == "tenant-default")  // tenant _Default.yml
    assert(s("default.extra") == "chained")          // ChainedParent survives
    assert(s("default.tool") == "parent-tool")       // ParentTenant beats Chained+action
    assert(s("replace.role.tool") == "tool_result")  // leaf most specific
    assert(!s.contains("parent"))
  }

  test("YAML files: config folder found when nested in a group subfolder") {
    val s = DataflowConfig.resolveFiles(cfgRoot, "ImportFeed", "TestTenantInGroup")
    assert(s("default.tool") == "parent-tool") // chain walked from the nested folder
  }

  test("YAML files: circular parent hierarchy fails at build time") {
    val e = intercept[IllegalStateException](
      DataflowConfig.resolveFiles(cfgRoot, "Circular", "TestTenant"))
    assert(e.getMessage.contains("Circular"))
  }

  test("buildFromFiles drives a runnable Dataflow from the config tree") {
    val flow = DataflowConfig.buildFromFiles(cfgRoot, "ImportFeed", "TestTenant")
    assert(flow.keys == Seq("conv_id", "turn_idx"))
    val df = Seq(("c1", 0, "tool", null.asInstanceOf[String]))
      .toDF("conv_id", "turn_idx", "role", "tool")
    val row = flow.source(df).run().select("role", "tool").head
    assert(row.getString(0) == "tool_result") // replace.role.tool from leaf
    assert(row.getString(1) == "parent-tool") // default.tool from parent chain
  }

  test("ConfigRun: spark-submit path writes valid/errors tables from the config tree") {
    val out = TestSpark.tempDir("cfg_run").toString
    val input = Seq(
      ("c1", 0, "tool", null.asInstanceOf[String]),
      (null.asInstanceOf[String], 1, "user", "x")) // fails keys-Required
      .toDF("conv_id", "turn_idx", "role", "tool")
    val (valid, errors) =
      graft.jobs.ConfigRun.run(spark, cfgRoot, "ImportFeed", "TestTenant", input, out)
    assert(valid.count() == 1 && errors.count() == 1)
    val v = spark.read.parquet(s"$out/valid")
    assert(v.count() == 1)
    assert(v.head.getAs[String]("role") == "tool_result") // leaf replace applied
    val e = spark.read.parquet(s"$out/errors")
    assert(e.head.getAs[String]("description").contains("required for the field [conv_id]"))
  }

  test("synthesized dataflow applies keys-Required, defaults, replacements in order") {
    // Synthesized.yml: keys, default.tool = none, role user → human;
    // TestTenant/Synthesized.yml: default.tool = unknown, role assistant → ai
    val flow = DataflowConfig.buildFromFiles(cfgRoot, "Synthesized", "TestTenant")
    assert(flow.keys == Seq("conv_id", "turn_idx"))
    val df = Seq(
      ("c1", 0, "user", null.asInstanceOf[String]),
      ("c1", 1, "assistant", "search"),
      (null.asInstanceOf[String], 2, "user", "x"))
      .toDF("conv_id", "turn_idx", "role", "tool")
    val out = flow.source(df).run()
    val rows = out.select("conv_id", "role", "tool").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows.contains(("c1", "human", "unknown")))     // default + replace applied
    assert(rows.contains(("c1", "ai", "search")))
    assert(rows.contains((null, "user", "x")))            // failed keys → frozen
  }
}
