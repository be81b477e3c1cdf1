package graft.config

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.error.{MarkedYAMLException, YAMLException}
import org.yaml.snakeyaml.nodes.{MappingNode, Node, ScalarNode, SequenceNode, Tag}
import graft.dsl.Cfg

/** YAML loader producing [[graft.dsl.Cfg]] trees, so the reference's
  * pipeline YAML files (configs/pipeline.py:222-322; e.g.
  * example/simple_example_pkg/.../example_pipeline.yaml) run unmodified
  * through `graft.Main`. SnakeYAML (on Spark's classpath) composes the node
  * tree — full YAML syntax, including block scalars, anchors and aliases —
  * and this object converts it: mapping keys keep their order, quoted and
  * block scalars are strings, and plain scalars resolve through
  * [[parseScalar]] (PyYAML's booleans, YAML 1.2 numbers), not SnakeYAML's
  * YAML 1.1 resolver, which would read `010` as 8 and `2020-01-01` as a
  * date. Hydra's `???` mandatory marker parses as the string "???".
  *
  * Bad input fails with an `IllegalArgumentException` naming the source and
  * the line: a syntax error or a second `---` document (with the column), a
  * duplicate mapping key, a merge key (`<<`) or a recursive alias.
  */
object Yaml {

  /** Parse one YAML document; `source` (a file path, if any) prefixes errors. */
  def parse(yaml: String, source: String = ""): Cfg = {
    val where = if (source.isEmpty) "" else s"$source: "
    val root =
      try new org.yaml.snakeyaml.Yaml(new LoaderOptions).compose(new java.io.StringReader(yaml))
      catch {
        case e: MarkedYAMLException =>
          val at = Option(e.getProblemMark).orElse(Option(e.getContextMark))
            .fold("")(m => s" at line ${m.getLine + 1}, column ${m.getColumn + 1}")
          val why = (Option(e.getContext).toSeq :+ e.getProblem).mkString("; ")
          throw new IllegalArgumentException(s"${where}invalid YAML$at: $why", e)
        case e: YAMLException =>
          throw new IllegalArgumentException(s"${where}invalid YAML: ${e.getMessage}", e)
      }
    if (root == null) Cfg.Null else toCfg(root, where, Nil)
  }

  private def toCfg(n: Node, where: String, open: List[Node]): Cfg = {
    def fail(at: Node, msg: String): Nothing = throw new IllegalArgumentException(
      s"${where}line ${at.getStartMark.getLine + 1}: $msg")
    if (open.contains(n)) fail(n, "recursive alias")
    n match {
      case s: ScalarNode => if (s.isPlain) parseScalar(s.getValue) else Cfg.S(s.getValue)
      case l: SequenceNode => Cfg.L(l.getValue.asScala.map(toCfg(_, where, n :: open)).toVector)
      case m: MappingNode =>
        Cfg.M(m.getValue.asScala.foldLeft(ListMap.empty[String, Cfg]) { (acc, t) =>
          val key = t.getKeyNode match {
            case k: ScalarNode if k.getTag == Tag.MERGE && k.isPlain =>
              fail(k, "merge keys (<<) are not supported")
            case k: ScalarNode => k.getValue
            case k => fail(k, "mapping keys must be scalars")
          }
          if (acc.contains(key)) fail(t.getKeyNode, s"duplicate key '$key'")
          acc.updated(key, toCfg(t.getValueNode, where, n :: open))
        })
    }
  }

  /** The plain-scalar table, shared by documents and CLI override values. */
  private[config] def parseScalar(raw: String): Cfg = {
    val s = raw.trim
    if (s.isEmpty) Cfg.Null // an empty value: `key:` or `{a: , b: 1}`
    else s match {
      case "null" | "~" | "Null" | "NULL" => Cfg.Null
      // PyYAML (the reference's loader) resolves the YAML 1.1 boolean forms
      case "true" | "True" | "TRUE" | "yes" | "Yes" | "YES" | "on" | "On" | "ON" =>
        Cfg.B(true)
      case "false" | "False" | "FALSE" | "no" | "No" | "NO" | "off" | "Off" | "OFF" =>
        Cfg.B(false)
      case _ =>
        // YAML 1.2 core-schema numbers; anything else is a plain string
        if (s.matches("[-+]?\\d+")) Cfg.I(s.toLong)
        else if (s.matches("[-+]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][-+]?\\d+)?") &&
          (s.contains(".") || s.toLowerCase.contains("e"))) Cfg.D(s.toDouble)
        else Cfg.S(s)
    }
  }
}
