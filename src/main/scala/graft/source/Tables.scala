package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bundled tables every batch query reads: one `<name>.parquet` per
  * table in a scale-factor directory, the same ten tables with the same
  * columns at every scale.
  *
  * Each table's schema is declared here, once, so a read needs no schema
  * inference: `spark.read.parquet(path)` without a schema runs a one-task
  * Spark job that reads the file footers, and a query that reads four
  * tables ran four such jobs before it was even planned. With a declared
  * schema, building a query runs no job and reads no footer. `TablesSpec`
  * pins each declaration to the schema Spark infers from the files.
  */
object Tables {

  /** table name → column DDL, as Spark reads the parquet files (the
    * timestamps are written without a UTC adjustment: TIMESTAMP_NTZ). */
  val ddl: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" ->
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** Table `name` under `dir`, read with its declared schema. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val cols = ddl.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name'; the bundled tables are ${ddl.keys.toSeq.sorted.mkString(", ")}"))
    spark.read.schema(cols).parquet(s"$dir/$name.parquet")
  }
}
