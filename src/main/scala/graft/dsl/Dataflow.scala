package graft.dsl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.transform._

/** Declarative pipeline description — the analog of the reference's
  * `Dataflow` command record (reference:
  * src/Shipwright.Core/Dataflows/Dataflow.cs:19-63): name, key fields,
  * sources, ordered transformations. Compiles to a single Catalyst plan;
  * validation happens at build time (the reference's FluentValidation
  * decorators, Dataflow.cs:69-81 → constructor `require`s here), so a bad
  * plan fails before any job is submitted.
  *
  * The reference's `MaxDegreeOfParallelism` knob (Dataflow.cs:32, default 1)
  * has no analog: parallelism is Spark's partitioning; per-record operator
  * order is preserved inside the generated code for every row.
  */
case class Dataflow(
    name: String,
    keys: Seq[String] = Nil,
    sources: Seq[DataFrame] = Nil,
    defaults: Map[String, Any] = Map.empty,
    replacements: Map[String, Map[String, String]] = Map.empty,
    transformations: Seq[Transformation] = Nil,
    eventSinks: Seq[graft.sink.EventSink] = Nil,
    sourceEvents: Seq[(String, String)] = Nil,
    // the reference's FieldNameComparer (Dataflow.cs:38): field-name
    // comparisons are case-insensitive unless a case-sensitive comparer is
    // configured. Flows into the CSV duplicate-header check; Spark's own
    // analyzer resolution stays spark.sql.caseSensitive (a session conf).
    caseSensitiveFields: Boolean = false
) {
  require(name.nonEmpty, "Dataflow requires a name")

  def withKeys(ks: String*): Dataflow = copy(keys = ks)
  def source(df: DataFrame): Dataflow = copy(sources = sources :+ df)
  def default(field: String, value: Any): Dataflow = copy(defaults = defaults + (field -> value))
  def replace(field: String, map: Map[String, String]): Dataflow =
    copy(replacements = replacements + (field -> map))
  def transform(ts: Transformation*): Dataflow =
    copy(transformations = transformations ++ ts)
  def sink(es: graft.sink.EventSink): Dataflow = copy(eventSinks = eventSinks :+ es)
  def caseSensitive(b: Boolean): Dataflow = copy(caseSensitiveFields = b)

  /** CSV source with the reference's source-event wiring
    * (ConsoleEventSink.cs:79-95 NotifySourceCompleted): a fatal read
    * notifies every event sink with the critical event and contributes
    * ZERO records (all-or-nothing), instead of failing the build — the
    * dataflow's other sources still run, exactly like the reference's
    * per-source event accumulation.
    */
  def sourceCsv(spark: SparkSession, path: String, header: Boolean = true,
                skip: Int = 0, delimiter: Char = ',',
                allowComments: Boolean = false, comment: Char = '#',
                ignoreBlankLines: Boolean = true,
                quote: Char = '"', escape: Char = '\u0000'): Dataflow = {
    val r = graft.source.CsvStrictSource.read(spark, path, header, skip,
      delimiter, allowComments, comment, ignoreBlankLines, quote, escape,
      caseSensitiveFields)
    // deferred to run(): sinks may be attached after this builder call
    val evts = r.events.map(e => e.level ->
      (s"Source: [$path] Message: [${e.description}] StopProcessing: [${e.stop}] " +
        s"Values: [${e.value}]"))
    // on fatal, r.df is the all-or-nothing EMPTY frame: the source still
    // participates (zero records), the dataflow itself does not fail
    copy(sourceEvents = sourceEvents ++ evts).source(r.df)
  }

  private def notifyAll(level: String, msg: String): Unit =
    eventSinks.foreach(_.notify(level, msg))

  /** Compile to a DataFrame. Sources are concatenated by name (the
    * reference's AggregateSource sequential read, AggregateSource.cs:50-56 —
    * per-source record order is carried by the position column, not physical
    * order). The implicit prefix [Required(keys), DefaultValue, Replace] is
    * prepended before user transformations, matching the insertion order of
    * Dataflow.Handler (Dataflow.cs:213-219, :147-160).
    */
  def run(): DataFrame = {
    require(sources.nonEmpty, s"Dataflow [$name] requires at least one source")
    // Lifecycle notifications, the reference's IEventSinkHandler channel
    // (ConsoleEventSink.cs:44-95). In a lazy engine nothing is READ at this
    // point — plans compose now, data moves when an action runs — so the
    // source messages say "attached", not the reference's "reading has
    // ended" (which its eager reader can honestly claim). The per-RECORD
    // volume stays data-parallel through ErrorSplit — driver-side per-record
    // logging would serialize the cluster.
    notifyAll("INFO", s"Executing dataflow: $name")
    sourceEvents.foreach { case (level, msg) => notifyAll(level, msg) }
    val input = sources.zipWithIndex.map { case (s, i) =>
      notifyAll("INFO", s"Attaching data source [$name/source_$i]")
      notifyAll("INFO", s"Data source [$name/source_$i] attached")
      s
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val prefix: Seq[Transformation] =
      (if (keys.nonEmpty) Seq(Required(keys)) else Nil) ++
        (if (defaults.nonEmpty) Seq(DefaultValue(defaults)) else Nil) ++
        replacements.toSeq.sortBy(_._1).map { case (f, m) => Replace(Seq(f), m) }
    val out = Pipeline(input, prefix ++ transformations)
    notifyAll("INFO", s"Completed dataflow: $name")
    out
  }
}

object Dataflow {
  def apply(name: String): Dataflow = new Dataflow(name)
}
