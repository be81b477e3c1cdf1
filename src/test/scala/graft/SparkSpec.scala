package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Shared test harness: one SparkSession per JVM, MEDS frame builders. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Build a MEDS data frame from (subject_id, time|null, code, value|null). */
  def medsDf(rows: (Long, String, String, java.lang.Double)*): DataFrame = {
    val data = rows.map { case (s, t, c, v) =>
      Row(s, Option(t).map(ts).orNull, c,
        if (v == null) null else java.lang.Float.valueOf(v.floatValue()))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq, 2),
      StructType(Seq(
        StructField("subject_id", LongType),
        StructField("time", TimestampType),
        StructField("code", StringType),
        StructField("numeric_value", FloatType))))
  }

  def collectSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}

object SparkSpec {
  // nanosAsLong is set ONCE for the shared session: individual suites
  // setting it at runtime made behavior depend on suite execution order
  lazy val session: SparkSession = LocalSession(cpus = 4,
    conf = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
}
