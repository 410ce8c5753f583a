package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.graph.GraphOps
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** The small-input gate is one session conf, read per input DataFrame: a
  * child session set to 0 runs every operator distributed while sessions
  * without the conf keep the driver fast paths. */
class SmallInputSpec extends AnyFunSuite with SparkTestSession {

  /** True when the result is a driver-built relation (the fast paths
    * return local rows; the distributed loops end in checkpointed plans). */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.nonEmpty

  /** Actions `body` runs in session `s` (its own listener, so concurrently
    * running suites on other sessions never count). */
  private def actionsIn[T](s: SparkSession)(body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val out = body
      // listener events are async: wait until the count goes quiet
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      while (n.get() != last && System.nanoTime() < deadline) {
        last = n.get(); Thread.sleep(300)
      }
      (out, n.get())
    } finally s.listenerManager.unregister(listener)
  }

  test("conf 0 in a child session forces the distributed path; other sessions keep the fast path") {
    val off = spark.newSession()
    off.conf.set(SmallInput.Conf, "0")
    val on = spark.newSession()
    def edges(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(("A", "B", 1.0), ("B", "C", 1.0), ("A", "C", 1.0), ("C", "D", 1.0))
        .toDF("source", "target", "c")
    }
    def pairs(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    }
    def vecs(s: SparkSession): DataFrame = {
      import s.implicits._
      (0 until 12).map(i => (i.toLong, Seq(i % 3 * 10.0, i * 0.1))).toDF("vec_id", "embedding")
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

    val (kOn, kOff) = (GraphOps.kCore(edges(on)), GraphOps.kCore(edges(off)))
    assert(isLocal(kOn) && !isLocal(kOff))
    assert(rows(kOn) == rows(kOff))

    val (cOn, cOff) = (Dedup.clusters(pairs(on)), Dedup.clusters(pairs(off)))
    assert(isLocal(cOn) && !isLocal(cOff))
    assert(rows(cOn) == rows(cOff))

    def train(s: SparkSession) =
      Similarity.kmeansCentroids(vecs(s), col("vec_id"), col("embedding"), k = 3, iters = 2)
        .map(_.toSeq).toSeq
    // the fast path is the one bounded collect; the job loop runs several
    val (mOn, nOn) = actionsIn(on)(train(on))
    val (mOff, nOff) = actionsIn(off)(train(off))
    assert(nOn == 1 && nOff > 1, s"actions: fast path $nOn, forced $nOff")
    assert(mOn == mOff)

    // the shared session never saw the conf
    assert(spark.conf.getOption(SmallInput.Conf).isEmpty)
    assert(isLocal(GraphOps.kCore(edges(spark))))
  }

  test("bound: the conf wins over the family default, unset keeps it, negatives fail") {
    val s = spark.newSession()
    import s.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    assert(SmallInput.bound(df, 7) == 7)
    assert(SmallInput.rows(df, 7).map(_.length).contains(3))
    s.conf.set(SmallInput.Conf, "2")
    assert(SmallInput.bound(df, 7) == 2)
    assert(SmallInput.rows(df, 7).isEmpty) // 3 rows > 2
    s.conf.set(SmallInput.Conf, "-1")
    assert(intercept[IllegalArgumentException](SmallInput.bound(df, 7))
      .getMessage.contains(SmallInput.Conf))
  }

  test("rows: empty input, nulls and a refused schema all decline") {
    import spark.implicits._
    assert(SmallInput.rows(Seq.empty[String].toDF("x"), 10).isEmpty)
    assert(SmallInput.rows(Seq(Some("a"), None).toDF("x"), 10).isEmpty)
    assert(SmallInput.rows(Seq("a").toDF("x"), 10, _ => false).isEmpty)
  }
}
