package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built — the analog of the reference
  * starting its engine only in its runner (runner.py). Every main, smoke and
  * the shared test session get the same settings: master `local[<cpus>]`,
  * shuffle partitions = cpus, UTC session time zone, UI off, WARN logging.
  * Whatever a caller needs beyond that is passed in `conf`.
  */
object LocalSession {
  /** Task threads and shuffle width: `SPARK_GRAFT_CPUS` as a positive
    * integer; unset or `*` means every core the JVM may use. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(value: Option[String]): Int = value match {
    case None | Some("*") => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer or '*', got '$s'"))
  }

  /** A session with the shared settings; `conf` entries are applied last
    * and win, and `master` replaces `local[<cpus>]`. */
  def apply(cpus: Int = LocalSession.cpus, conf: Seq[(String, String)] = Nil,
      master: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body` with `conf` set on the session, then every key restored to what
    * was EXPLICITLY set before (or unset), also on failure. `conf.getAll`
    * lists only explicitly-set entries: `conf.get(k)` would resolve a
    * defaulted key to its default, and the restore would pin that default as
    * if a caller had set it. Not for two concurrent bodies on one session:
    * the later restore would undo the other's settings.
    */
  def withConf[A](spark: SparkSession, conf: Seq[(String, String)])(body: => A): A = {
    val explicitlySet = spark.conf.getAll
    val saved = conf.map { case (k, _) => k -> explicitlySet.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `key=value` strings as conf pairs (entries without `=` are dropped). */
  def parseConf(kvs: Seq[String]): Seq[(String, String)] =
    kvs.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }

  /** One throwaway aggregate so the first timed query does not pay JIT
    * and codegen warm-up for the scan and aggregate paths. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()
}
