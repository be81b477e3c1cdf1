package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.meds.{MedsData, MedsIO}
import graft.meds.MedsSchema._

/** An in-repo MEDS root for the specs that need "a valid MEDS root" rather
  * than the reference's own files. Its shape is the `simple_static_MEDS`
  * dataset as FIXTURES.md §4 documents it: six subjects and 62 rows in four
  * shards (train/0: 239684 and 1195293, 30 rows; train/1: 68729 and 814703,
  * 14 rows; tuning/0: 754281, 7 rows; held_out/0: 1500733, 11 rows), the
  * `DOB` birth code of the reference's example/data, and a 6-row splits
  * table. Only 239684, 1195293 and 1500733 have at least 5 distinct event
  * times (a null time counts as one event), so `min_events_per_subject: 5`
  * keeps 30 + 11 = 41 rows. Every tuning and held_out code also occurs in
  * train, HR and TEMP carry values, and each subject's `DOB` row precedes
  * its timed events. MedsFixtureSpec checks these facts over the literal
  * rows, without Spark.
  *
  * The value goldens (GoldenSpec's pinned statistics, GoldenScenarioSpec)
  * still read the reference checkout: this fixture follows its documented
  * shape, not its bytes.
  */
object MedsFixture {

  /** One literal event row; `time` is `yyyy-MM-dd HH:mm:ss` in UTC. */
  final case class Event(shard: String, subjectId: Long, time: Option[String],
      code: String, value: Option[Float]) {
    def split: String = shard.takeWhile(_ != '/')
  }

  /** Shard name -> `subject_id,time,code,numeric_value` lines (empty field
    * = null), sorted by (subject_id, time) as in a MEDS shard.
    */
  private val shardCsv: Seq[(String, String)] = Seq(
    "train/0" ->
      """239684,,EYE_COLOR//BROWN,
        |239684,,HEIGHT,175.271115221764
        |239684,1980-12-28 00:00:00,DOB,
        |239684,2010-05-11 17:41:51,ADMISSION//CARDIAC,
        |239684,2010-05-11 17:41:51,HR,102.6
        |239684,2010-05-11 17:41:51,TEMP,96.0
        |239684,2010-05-11 17:48:48,HR,105.1
        |239684,2010-05-11 17:48:48,TEMP,96.2
        |239684,2010-05-11 18:25:35,HR,113.4
        |239684,2010-05-11 18:25:35,TEMP,95.8
        |239684,2010-05-11 18:57:18,HR,112.6
        |239684,2010-05-11 18:57:18,TEMP,95.5
        |239684,2010-05-11 19:27:19,DISCHARGE,
        |1195293,,EYE_COLOR//BLUE,
        |1195293,,HEIGHT,164.6868838269085
        |1195293,1978-06-20 00:00:00,DOB,
        |1195293,2010-06-20 19:23:52,ADMISSION//CARDIAC,
        |1195293,2010-06-20 19:23:52,HR,109.0
        |1195293,2010-06-20 19:23:52,TEMP,100.0
        |1195293,2010-06-20 19:25:32,HR,114.1
        |1195293,2010-06-20 19:25:32,TEMP,100.0
        |1195293,2010-06-20 19:45:19,HR,119.8
        |1195293,2010-06-20 19:45:19,TEMP,99.9
        |1195293,2010-06-20 20:12:31,HR,112.5
        |1195293,2010-06-20 20:12:31,TEMP,99.8
        |1195293,2010-06-20 20:24:44,HR,107.7
        |1195293,2010-06-20 20:24:44,TEMP,100.0
        |1195293,2010-06-20 20:41:33,HR,107.5
        |1195293,2010-06-20 20:41:33,TEMP,100.4
        |1195293,2010-06-20 20:50:04,DISCHARGE,""",
    "train/1" ->
      """68729,,EYE_COLOR//HAZEL,
        |68729,,HEIGHT,160.3953106166676
        |68729,1978-03-09 00:00:00,DOB,
        |68729,2010-05-26 02:30:56,ADMISSION//PULMONARY,
        |68729,2010-05-26 02:30:56,HR,86.0
        |68729,2010-05-26 02:30:56,TEMP,97.8
        |68729,2010-05-26 04:51:52,DISCHARGE,
        |814703,,EYE_COLOR//HAZEL,
        |814703,,HEIGHT,156.48559093209357
        |814703,1976-03-28 00:00:00,DOB,
        |814703,2010-02-05 05:55:39,ADMISSION//ORTHOPEDIC,
        |814703,2010-02-05 05:55:39,HR,170.2
        |814703,2010-02-05 05:55:39,TEMP,100.1
        |814703,2010-02-05 07:02:30,DISCHARGE,""",
    "tuning/0" ->
      """754281,,EYE_COLOR//BROWN,
        |754281,,HEIGHT,166.22261567137025
        |754281,1988-12-19 00:00:00,DOB,
        |754281,2010-01-03 06:27:59,ADMISSION//PULMONARY,
        |754281,2010-01-03 06:27:59,HR,142.0
        |754281,2010-01-03 06:27:59,TEMP,99.8
        |754281,2010-01-03 08:22:13,DISCHARGE,""",
    "held_out/0" ->
      """1500733,,EYE_COLOR//BROWN,
        |1500733,,HEIGHT,158.60131573580904
        |1500733,1986-07-20 00:00:00,DOB,
        |1500733,2010-06-03 14:54:38,ADMISSION//ORTHOPEDIC,
        |1500733,2010-06-03 14:54:38,HR,91.4
        |1500733,2010-06-03 14:54:38,TEMP,100.0
        |1500733,2010-06-03 15:39:49,HR,84.4
        |1500733,2010-06-03 15:39:49,TEMP,100.3
        |1500733,2010-06-03 16:20:49,HR,90.1
        |1500733,2010-06-03 16:20:49,TEMP,100.1
        |1500733,2010-06-03 16:44:26,DISCHARGE,""")

  val events: Seq[Event] = shardCsv.flatMap { case (shard, csv) =>
    csv.stripMargin.linesIterator.map { line =>
      line.split(",", -1) match {
        case Array(s, t, c, v) => Event(shard, s.toLong, Option(t).filter(_.nonEmpty),
          c, Option(v).filter(_.nonEmpty).map(_.toFloat))
        case _ => throw new IllegalArgumentException(s"$shard: malformed row '$line'")
      }
    }
  }

  /** `metadata/codes.parquet` rows: (code, description, parent_codes). */
  val codes: Seq[(String, String, Seq[String])] = Seq(
    ("EYE_COLOR//BLUE", "Blue Eyes. Less common than brown.", null),
    ("EYE_COLOR//BROWN", "Brown Eyes. The most common eye color.", null),
    ("EYE_COLOR//HAZEL", "Hazel eyes. These are uncommon", null),
    ("HR", "Heart Rate", Seq("LOINC/8867-4")),
    ("TEMP", "Body Temperature", Seq("LOINC/8310-5")))

  /** `metadata/subject_splits.parquet` rows, one per subject. */
  val splits: Seq[(Long, String)] =
    events.map(e => e.subjectId -> e.split).distinct

  /** The root, written once per JVM with `MedsIO.write` into a temp dir. */
  lazy val root: String = {
    val spark = SparkSpec.session
    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val data = frame(
      events.map(e => Row(e.subjectId, e.time.orNull, e.code,
        e.value.map(java.lang.Float.valueOf).orNull, e.split)),
      StructType(Seq(
        StructField(SubjectId, LongType, nullable = false),
        StructField(Time, StringType),
        StructField(Code, StringType, nullable = false),
        StructField(NumericValue, FloatType),
        StructField(Split, StringType, nullable = false))))
      // parsed in the session time zone (UTC), not the JVM's
      .withColumn(Time, col(Time).cast(TimestampType))
    val dir = java.nio.file.Files.createTempDirectory("meds_fixture").toString
    MedsIO.write(MedsData(data,
      frame(codes.map { case (c, d, p) => Row(c, d, p) }, codesSchema),
      frame(splits.map { case (s, sp) => Row(s, sp) }, splitsSchema)), dir)
    dir
  }
}
