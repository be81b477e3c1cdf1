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

  // One coercion per type, shared by the scalar and the list readers. Numeric
  // strings coerce (YAML quoting is not an error); an integral double reads
  // as an integer (YAML→JSON round-trips often float), a fractional one or an
  // out-of-range one does not.
  private val asStr: PartialFunction[Cfg, String] = { case S(s) => s }
  private val asInt: PartialFunction[Cfg, Int] = {
    case I(i) if i.isValidInt => i.toInt
    case D(d) if d.isValidInt => d.toInt
    case S(s) if s.trim.toIntOption.isDefined => s.trim.toInt
  }
  private val asLong: PartialFunction[Cfg, Long] = {
    case I(i) => i
    case D(d) if d.toLong.toDouble == d => d.toLong
    case S(s) if s.trim.toLongOption.isDefined => s.trim.toLong
  }
  private val asDouble: PartialFunction[Cfg, Double] = {
    case D(d) => d
    case I(i) => i.toDouble
    case S(s) if s.trim.toDoubleOption.isDefined => s.trim.toDouble
  }
  private val asBool: PartialFunction[Cfg, Boolean] = {
    case B(b) => b
    case S(s) if s.trim.toBooleanOption.isDefined => s.trim.toBoolean
  }

  /** Typed reads of a config map's keys — how every stage builder reads its
    * config. A key that is PRESENT but not readable as the expected type
    * throws instead of reading as absent: a quoted "1000" (or any typo'd
    * value) on e.g. `max_bucket` would otherwise silently disable the very
    * guard the user configured. An explicit `key: null` reads as absent (the
    * reference's Hydra configs use null to disable optional thresholds). The
    * `req*` forms throw on an absent key, the list forms on a scalar or a
    * mistyped element. Under [[Reads.checked]] each read is recorded, so a
    * key that no read touched is reported as unknown, and every error names
    * the owning stage and the key's path (`time_of_day.endpoints[1]`).
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

    private def fail(k: String, msg: String): Nothing = throw Reads.error(c, k, msg)
    private def conv[A](k: String, want: String, as: PartialFunction[Cfg, A])(v: Cfg): A =
      as.applyOrElse(v, (x: Cfg) => fail(k, s"must be $want, got $x"))
    private def scalar[A](k: String, want: String)(as: PartialFunction[Cfg, A]): Option[A] =
      get(k).filter(_ != Null).map(conv(k, want, as))
    private def required[A](k: String, v: Option[A]): A = v.getOrElse(fail(k, "is required"))

    def getStr(k: String): Option[String] = scalar(k, "a string")(asStr)
    def getInt(k: String): Option[Int] = scalar(k, "an integer")(asInt)
    // for 64-bit values (seeds): getInt would reject them
    def getLong(k: String): Option[Long] = scalar(k, "an integer")(asLong)
    def getDouble(k: String): Option[Double] = scalar(k, "a number")(asDouble)
    def getBool(k: String): Option[Boolean] = scalar(k, "a boolean")(asBool)
    def reqStr(k: String): String = required(k, getStr(k))
    def reqInt(k: String): Int = required(k, getInt(k))
    def reqLong(k: String): Long = required(k, getLong(k))
    def reqDouble(k: String): Double = required(k, getDouble(k))

    /** A list value (Nil when absent or null); each element read by `as`. */
    private def list[A](k: String, want: String, each: String)(
        as: PartialFunction[Cfg, A]): Seq[A] = get(k) match {
      case None | Some(Null) => Nil
      case Some(L(xs)) => xs.zipWithIndex.map { case (x, i) => conv(s"$k[$i]", each, as)(x) }
      case Some(other) => fail(k, s"must be a list of $want, got $other")
    }
    private def nonEmpty[A](k: String, xs: Seq[A]): Seq[A] =
      if (xs.nonEmpty) xs else fail(k, if (get(k).forall(_ == Null)) "is required"
        else "must be a non-empty list")

    def getList(k: String): Seq[Cfg] = list(k, "entries", "an entry")({ case x => x })
    def strings(k: String): Seq[String] = list(k, "strings", "a string")(asStr)
    def ints(k: String): Seq[Int] = list(k, "integers", "an integer")(asInt)
    def doubles(k: String): Seq[Double] = list(k, "numbers", "a number")(asDouble)
    def reqStrings(k: String): Seq[String] = nonEmpty(k, strings(k))

    /** An ordered `{name: number}` map (split fractions/weights, bin
      * endpoints) — one coercion shared by every split-weighted stage. */
    def numberMap(k: String): Option[Seq[(String, Double)]] = get(k).filter(_ != Null).map {
      case m: M => m.v.keys.toSeq.map(key => key -> m.reqDouble(key))
      case other => fail(k, s"must be a {name: number} map, got $other")
    }
    def reqNumberMap(k: String): Seq[(String, Double)] = required(k, numberMap(k))
  }

  /** The keys read through [[CfgOps]] on each map node (by identity) while
    * [[Reads.checked]] runs its body on behalf of `owner`.
    */
  final class Reads private (private val owner: String, root: Cfg) {
    private val keys = new java.util.IdentityHashMap[M, Set[String]]()

    /** The (unread, read) key paths under the root, sorted. The root map is
      * always checked; a nested map only once a key of it was read — a map
      * the builder never opened is data (a `_matcher`, say). Lists are
      * walked into (`aggregations[0].name`).
      */
    private def check(): (Seq[String], Seq[String]) = {
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

    /** Key `k` of map `m` as a path from the root (`k` alone when `m` is not
      * under the root). */
    private def path(m: Cfg, k: String): String = {
      def find(c: Cfg, prefix: String): Option[String] = c match {
        case _ if c eq m => Some(prefix + k)
        case M(v) => v.iterator.flatMap { case (kk, x) => find(x, s"$prefix$kk.") }.nextOption()
        case L(xs) => xs.iterator.zipWithIndex.flatMap { case (x, i) =>
          find(x, s"${prefix.stripSuffix(".")}[$i].") }.nextOption()
        case _ => None
      }
      find(root, "").getOrElse(k)
    }
  }

  object Reads {
    private val current = new scala.util.DynamicVariable[Option[Reads]](None)

    private[Cfg] def note(m: M, ks: Set[String]): Unit =
      current.value.foreach(r => r.keys.put(m, r.keys.getOrDefault(m, Set.empty) ++ ks))

    /** A bad read of key `k` of map `m`, naming the owner and the key's path
      * while [[checked]] runs. */
    private[Cfg] def error(m: Cfg, k: String, msg: String): IllegalArgumentException =
      new IllegalArgumentException(current.value.fold(s"config key `$k` $msg")(r =>
        s"${r.owner}: `${r.path(m, k)}` $msg"))

    /** Runs `body` — the reads of `root`'s keys on behalf of `owner`
      * (`stage <name>`, `pipeline`) — and fails on every key of `root` it did
      * not read, nested maps included: the one check that a key is known. */
    def checked[A](owner: String, root: Cfg)(body: => A): A = {
      val r = new Reads(owner, root)
      val a = current.withValue(Some(r))(body)
      val (unread, read) = r.check()
      require(unread.isEmpty, s"$owner: unknown key(s) ${unread.mkString(", ")} " +
        s"(read: ${read.mkString(", ")})")
      a
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
