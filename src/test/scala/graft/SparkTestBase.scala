package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Shared local session for all specs (one JVM-wide session; ScalaTest runs
  * suites sequentially in the forked JVM).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def ts(s: String): Timestamp = graft.ts.TimeUtil.parseTimestamp(s)

  /** Spark jobs `body` submits from this thread. Counted via job GROUPS
    * (statusTracker), not a SparkListener: the async listener bus can
    * replay earlier runs' backlogged events into a freshly added listener
    * (overcount) or lag past a fixed drain sleep (undercount); job-group
    * membership is assigned synchronously on submit from this thread.
    */
  def countJobs(body: => Any): Int = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "job-count gate", false)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  /** df(time, value[, created_time]) from (time-string, value) pairs. */
  def seriesDf(rows: Seq[(String, Any)], created: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = rows.headOption.map(_._2) match {
      case Some(_: Int)    => IntegerType
      case Some(_: Long)   => LongType
      case Some(_: String) => StringType
      case _               => DoubleType
    }
    val base = StructType(Seq(StructField("time", TimestampType), StructField("value", dt)))
    val schema = created.fold(base)(_ => base.add(StructField("created_time", TimestampType)))
    val data = rows.map { case (t, v) =>
      created match {
        case Some(c) => Row(ts(t), v, ts(c))
        case None    => Row(ts(t), v)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
  }

  def collectMap(df: DataFrame, valueCol: String = "value"): Map[Timestamp, Any] =
    df.collect().map(r => r.getAs[Timestamp]("time") -> r.getAs[Any](valueCol)).toMap
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
