package graft.config

import scala.collection.immutable.ListMap
import graft.dsl.Cfg
import graft.dsl.Cfg._

/** Hydra-style dotted-path config overrides, the analog of the reference's
  * per-invocation `key=value` args (every reference entry point accepts them;
  * the runner forwards them to each stage command —
  * /root/reference/src/MEDS_transforms/runner.py:252-288). An override
  * `stages.occlude_outliers.stddev_cutoff=3` edits the parsed pipeline tree
  * in place of editing the file; values parse with the same scalar rules as
  * the YAML loader (ints, floats, YAML 1.1 bools, null), and quoted strings
  * and flow `[...]`/`{...}` collections parse as YAML.
  *
  * Path semantics: map segments descend by key (creating missing intermediate
  * maps, Hydra's `++` behavior); LIST segments match either an integer index
  * or a stage entry's name — `stages.<stageName>.<key>` reaches into the
  * stage list the way `stage_cfg.<key>` does for the running stage in the
  * reference.
  */
object Overrides {

  /** Apply `key.path=value` overrides to a parsed config tree, in order.
    * A path that does not exist yet is created: stage keys absent from the
    * file (builder defaults) stay settable, as with the reference's Hydra
    * defaults. A typo'd key is not caught here but where every key is:
    * [[PipelineConfig.buildStage]] fails on a stage key its builder never
    * reads, and [[PipelineConfig.fromCfg]] on an unknown top-level key.
    */
  def apply(cfg: Cfg, overrides: Seq[String]): Cfg =
    overrides.foldLeft(cfg) { (c, o) =>
      val (path, value) = parseArg(o)
      set(c, path, value, o)
    }

  /** Split one `a.b.c=value` argument into its path and parsed value. */
  def parseArg(arg: String): (Seq[String], Cfg) = {
    val eq = arg.indexOf('=')
    require(eq > 0, s"override must be <dotted.path>=<value>: '$arg'")
    val path = arg.substring(0, eq).split('.').toIndexedSeq
    require(path.forall(_.nonEmpty), s"override has an empty path segment: '$arg'")
    // flow collections and quoted values are YAML; a plain value is one
    // scalar taken literally (`a: b`, `foo #bar`) through the loader's table
    val raw = arg.substring(eq + 1).trim
    val value =
      if (raw.nonEmpty && "[{\"'".contains(raw.head)) Yaml.parse(raw, s"override '$arg'")
      else Yaml.parseScalar(raw)
    (path, value)
  }

  private def set(node: Cfg, path: Seq[String], value: Cfg, arg: String): Cfg =
    path match {
      case Seq() => value
      case seg +: rest => node match {
        case M(m) =>
          M(m.updated(seg, set(m.getOrElse(seg, Null), rest, value, arg)))
        case Null => // create missing intermediate maps
          M(ListMap(seg -> set(Null, rest, value, arg)))
        case L(xs) =>
          val idx = seg.toIntOption match {
            case Some(i) if i >= 0 && i < xs.length => i
            case Some(i) => throw new IllegalArgumentException(
              s"override '$arg': index $i out of range (list has ${xs.length} entries)")
            case None =>
              // a stage-entry list: match the entry named `seg`
              val i = xs.indexWhere {
                case S(n) => n == seg
                case M(m) => m.size == 1 && m.head._1 == seg
                case _ => false
              }
              if (i < 0) throw new IllegalArgumentException(
                s"override '$arg': no list entry named '$seg' " +
                  s"(entries: ${xs.map(entryName).mkString(", ")})")
              i
          }
          val updated = xs(idx) match {
            // a bare stage name gains a config map when a key is set under it
            case S(n) if seg.toIntOption.isEmpty =>
              M(ListMap(n -> set(Null, rest, value, arg)))
            case M(m) if seg.toIntOption.isEmpty && m.size == 1 =>
              M(ListMap(m.head._1 -> set(m.head._2, rest, value, arg)))
            case el => set(el, rest, value, arg)
          }
          L(xs.updated(idx, updated))
        case other => throw new IllegalArgumentException(
          s"override '$arg': cannot descend into scalar $other at '$seg'")
      }
    }

  private def entryName(c: Cfg): String = c match {
    case S(n) => n
    case M(m) if m.size == 1 => m.head._1
    case other => other.toString.take(30)
  }
}
