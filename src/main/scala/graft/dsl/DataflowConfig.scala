package graft.dsl

/** Config-driven dataflow construction — the analog of the reference's
  * layered tenant configuration from which per-tenant `Replace` and
  * `DefaultValue` transformations are synthesized (reference:
  * src/Shipwright.Core/Dataflows/Dataflow.cs:165-202) and of the
  * global → tenant-default → action → parent-chain settings resolution with
  * cycle detection (reference:
  * src/Shipwright.Core/Actions/Internal/ActionSettingsFactory.cs:24-76).
  *
  * Each layer is a YAML file of the configuration tree, flattened to dotted
  * string settings. Recognized setting keys:
  *   - `default.<field>  = <value>`             → DefaultValue(field, value)
  *   - `replace.<field>.<incoming> = <outgoing>` → Replace(field, incoming→outgoing)
  *   - `keys = f1,f2`                            → Dataflow keys (Required prefix)
  */
object DataflowConfig {

  /** Synthesize the Dataflow from resolved settings, preserving the
    * reference's prefix order (keys-Required → defaults → replacements,
    * Dataflow.cs:213-219).
    */
  def toDataflow(name: String, settings: Map[String, String]): Dataflow = {
    val keys = settings.get("keys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val defaults = settings.collect {
      case (k, v) if k.startsWith("default.") => k.stripPrefix("default.") -> (v: Any)
    }
    val replacements = settings.toSeq.collect {
      case (k, v) if k.startsWith("replace.") =>
        k.stripPrefix("replace.").split("\\.", 2) match {
          case Array(field, incoming) => (field, incoming, v)
        }
    }.groupBy(_._1).map { case (f, rs) => f -> rs.map(r => r._2 -> r._3).toMap }
    Dataflow(name, keys = keys, defaults = defaults, replacements = replacements)
  }

  // ---- layered YAML from disk (the reference's per-tenant configuration
  //      tree, Actions/Internal/ActionSettingsFactory.cs:24-76) ----

  /** Flatten a parsed YAML document to dotted string keys
    * (`default: {tool: none}` → `default.tool = none`).
    */
  private def flatten(node: Any, prefix: String = ""): Map[String, String] = node match {
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.flatMap { case (k, v) =>
        flatten(v, if (prefix.isEmpty) s"$k" else s"$prefix.$k")
      }.toMap
    case null => Map.empty
    case v => Map(prefix -> String.valueOf(v))
  }

  private def loadYaml(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty // optional files, like AddYamlFile(…, true)
    else flatten(new org.yaml.snakeyaml.Yaml()
      .load[Any](java.nio.file.Files.readString(path)))

  /** Locate `<config>/<action>.yml` under `root` — the config folder may be
    * nested in a subfolder (ActionSettingsFactory.cs:40-51); more than one
    * match is a build-time error.
    */
  private def locate(root: java.nio.file.Path, config: String,
                     action: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    // Files.walk returns a Stream holding directory handles — must be closed
    val walk = java.nio.file.Files.walk(root)
    val matches =
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString == config)
        .map(_.resolve(s"$action.yml"))
        .filter(java.nio.file.Files.exists(_))
        .toVector
      finally walk.close()
    matches.size match {
      case 0 => root.resolve(config).resolve(s"$action.yml")
      case 1 => matches.head
      case n => throw new IllegalStateException(
        s"Found $n conflicting configuration files for $config/$action")
    }
  }

  /** Resolve settings from the on-disk configuration tree, the reference's
    * layering (least → most specific, later wins): action defaults
    * `<root>/<action>.yml`, tenant defaults `<root>/<tenant>/_Default.yml`,
    * then the parent chain of `<configuration or tenant>/<action>.yml`.
    * Circular parent chains are a build-time error.
    */
  def resolveFiles(root: String, action: String, tenant: String,
                   configuration: String = ""): Map[String, String] = {
    val rootP = java.nio.file.Paths.get(root)
    var config = if (configuration.trim.nonEmpty) configuration else tenant
    var paths = Vector.empty[java.nio.file.Path]
    while (config != null && config.trim.nonEmpty) {
      val p = locate(rootP, config, action)
      if (paths.contains(p))
        throw new IllegalStateException(
          "Circular parent hierarchy in action configuration")
      paths :+= p
      config = loadYaml(p).getOrElse("parent", null)
    }
    val layersLeastToMost =
      Vector(rootP.resolve(s"$action.yml")) ++
        (if (tenant.trim.nonEmpty)
          Vector(rootP.resolve(tenant).resolve("_Default.yml")) else Vector.empty) ++
        paths.reverse
    layersLeastToMost.foldLeft(Map.empty[String, String])(_ ++ loadYaml(_)) - "parent"
  }

  /** Build a [[Dataflow]] straight from the configuration tree — the
    * spark-submit path: `buildFromFiles(root, action, tenant)` then
    * `.source(df).run()`.
    */
  def buildFromFiles(root: String, action: String, tenant: String,
                     configuration: String = ""): Dataflow =
    toDataflow(action, resolveFiles(root, action, tenant, configuration))
}
