package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SmallInput

/** One shared local session for the whole test run (forked JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** A child session with every small-input fast path off. Suites share
    * [[spark]] and run concurrently, so parity specs force the distributed
    * path here and never `spark.conf.set` on the shared session. */
  lazy val distributed: SparkSession = {
    val s = spark.newSession()
    s.conf.set(SmallInput.Conf, "0")
    s
  }
}

trait SparkTestSession {
  implicit lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `df` re-created in [[SparkTestSession.distributed]], so every operator
    * applied to it takes its distributed path (small fixtures only: the
    * rows pass through the driver). */
  def forced(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    SparkTestSession.distributed.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }
}
