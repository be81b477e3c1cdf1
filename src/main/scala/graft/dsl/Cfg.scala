package graft.dsl

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Minimal config value model for stage / DSL configuration.
  *
  * The reference drives everything from Hydra/OmegaConf YAML; here configs are
  * plain Scala values (constructed in code or parsed from JSON via the Jackson
  * that ships with Spark — no extra dependencies). Key order is preserved
  * (ListMap) because the DSL's conditional-matcher semantics and match-revise
  * block order are order-sensitive.
  */
sealed trait Cfg
object Cfg {
  final case class S(v: String) extends Cfg
  final case class I(v: Long) extends Cfg
  final case class D(v: Double) extends Cfg
  final case class B(v: Boolean) extends Cfg
  final case class L(v: Seq[Cfg]) extends Cfg
  final case class M(v: ListMap[String, Cfg]) extends Cfg
  case object Null extends Cfg

  def apply(s: String): Cfg = S(s)
  def apply(i: Int): Cfg = I(i.toLong)
  def apply(l: Long): Cfg = I(l)
  def apply(d: Double): Cfg = D(d)
  def apply(b: Boolean): Cfg = B(b)
  def list(xs: Cfg*): Cfg = L(xs)
  def map(kvs: (String, Cfg)*): Cfg = M(ListMap(kvs: _*))

  /** Typed reads of a config map's keys — how every stage builder reads its
    * config. Under [[Reads.record]] each read is recorded, so a key that no
    * read touched can be reported as unknown ([[Reads.check]]).
    */
  implicit class CfgOps(val c: Cfg) {
    /** The whole map (empty for a non-map): reads every key of it — the
      * accessor for maps whose keys are data. */
    def obj: Map[String, Cfg] = c match {
      case m: M => Reads.note(m, m.v.keySet); m.v
      case _ => Map.empty
    }
    /** One key's value, read by name. */
    def get(k: String): Option[Cfg] = c match {
      case m: M => Reads.note(m, Set(k)); m.v.get(k)
      case _ => None
    }
    // A key that is PRESENT but not readable as the expected type throws
    // instead of reading as absent: a quoted "1000" (or any typo'd value) on
    // e.g. `max_bucket` would otherwise silently disable the very guard the
    // user configured. Numeric strings coerce (YAML quoting is not an error).
    private def bad(k: String, want: String, got: Cfg): Nothing =
      throw new IllegalArgumentException(s"config key `$k`: expected $want, got $got")
    // explicit `key: null` reads as absent (the reference's Hydra configs use
    // null to disable optional thresholds)
    def getInt(k: String): Option[Int] = get(k).flatMap {
      case Null => None
      case I(i) => Some(i.toInt)
      case D(d) => Some(d.toInt)
      case S(s) if s.trim.toIntOption.isDefined => Some(s.trim.toInt)
      case other => bad(k, "an integer", other)
    }
    // for 64-bit values (seeds): getInt would silently wrap them
    def getLong(k: String): Option[Long] = get(k).flatMap {
      case Null => None
      case I(i) => Some(i)
      case D(d) => Some(d.toLong)
      case S(s) if s.trim.toLongOption.isDefined => Some(s.trim.toLong)
      case other => bad(k, "an integer", other)
    }
    def getDouble(k: String): Option[Double] = get(k).flatMap {
      case Null => None
      case D(d) => Some(d)
      case I(i) => Some(i.toDouble)
      case S(s) if s.trim.toDoubleOption.isDefined => Some(s.trim.toDouble)
      case other => bad(k, "a number", other)
    }
    def getStr(k: String): Option[String] = get(k).flatMap {
      case Null => None
      case S(s) => Some(s)
      case other => bad(k, "a string", other)
    }
    def getBool(k: String): Option[Boolean] = get(k).flatMap {
      case Null => None
      case B(b) => Some(b)
      case S(s) if s.trim.toBooleanOption.isDefined => Some(s.trim.toBoolean)
      case other => bad(k, "a boolean", other)
    }
    def getList(k: String): Seq[Cfg] = get(k).collect { case L(xs) => xs }.getOrElse(Nil)
    def strings(k: String): Seq[String] = getList(k).collect { case S(s) => s }
    /** An ordered `{name: number}` map (split fractions/weights) — one
      * coercion shared by every split-weighted stage. */
    def numberMap(k: String, owner: String): Option[Seq[(String, Double)]] =
      get(k).map {
        case M(m) => m.toSeq.map {
          case (key, D(d)) => key -> d
          case (key, I(i)) => key -> i.toDouble
          case (key, other) => throw new IllegalArgumentException(
            s"$owner: bad number for $key in `$k`: $other")
        }
        case other => throw new IllegalArgumentException(
          s"$owner: `$k` must be a {name: number} map, got $other")
      }
  }

  /** The keys read through [[CfgOps]] on each map node (by identity) while
    * [[Reads.record]] runs its body; a whole-map read reads every key.
    */
  final class Reads private () {
    private val keys = new java.util.IdentityHashMap[M, Set[String]]()

    /** The (unread, read) key paths under `root`, sorted. The root map is
      * always checked; a nested map only once a key of it was read — a map
      * the builder never opened is data (a `_matcher`, say). Lists are
      * walked into (`aggregations[0].name`).
      */
    def check(root: Cfg): (Seq[String], Seq[String]) = {
      val unread, read = Seq.newBuilder[String]
      def walk(c: Cfg, path: String, always: Boolean): Unit = c match {
        case m @ M(v) =>
          val ks = keys.getOrDefault(m, Set.empty)
          if (always || ks.nonEmpty) {
            ks.toSeq.sorted.foreach(k => read += path + k)
            (v.keySet -- ks).toSeq.sorted.foreach(k => unread += path + k)
            v.foreach { case (k, x) => if (ks(k)) walk(x, s"$path$k.", always = false) }
          }
        case L(xs) => xs.zipWithIndex.foreach { case (x, i) =>
          walk(x, s"${path.stripSuffix(".")}[$i].", always = false)
        }
        case _ =>
      }
      walk(root, "", always = true)
      (unread.result(), read.result())
    }
  }

  object Reads {
    private val current = new scala.util.DynamicVariable[Option[Reads]](None)

    private[Cfg] def note(m: M, ks: Set[String]): Unit =
      current.value.foreach(r => r.keys.put(m, r.keys.getOrDefault(m, Set.empty) ++ ks))

    /** Run `body`, recording the config reads it makes on this thread. */
    def record[A](body: => A): (A, Reads) = {
      val r = new Reads
      (current.withValue(Some(r))(body), r)
    }
  }

  private val mapper = new ObjectMapper()

  /** Parse a JSON document into a Cfg tree (object key order preserved). */
  def fromJson(json: String): Cfg = fromNode(mapper.readTree(json))

  private def fromNode(n: com.fasterxml.jackson.databind.JsonNode): Cfg = n match {
    case t: TextNode => S(t.textValue)
    case b: BooleanNode => B(b.booleanValue)
    case i if i.isIntegralNumber => I(i.longValue)
    case d if d.isNumber => D(d.doubleValue)
    case a: ArrayNode => L(a.elements.asScala.map(fromNode).toSeq)
    case o: ObjectNode =>
      M(ListMap(o.fields.asScala.map(e => e.getKey -> fromNode(e.getValue)).toSeq: _*))
    case _ => Null
  }
}
