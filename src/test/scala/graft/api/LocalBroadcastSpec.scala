package graft.api

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `JobFreeLocalBroadcast`: a broadcast of driver-held rows must run no
  * collect job of its own on a graft session, and the join must return
  * the same rows as without the broadcast. The control session turns
  * adaptive execution off, so the query-stage rule cannot run there: it
  * shows the listener does see the job Spark runs for such a broadcast. */
class LocalBroadcastSpec extends SparkSpec {

  /** Job group and tags of every job `body` starts, in start order. */
  private def jobTags(s: SparkSession)(body: => Unit): Seq[String] = {
    val tags = new ConcurrentLinkedQueue[String]
    val marker = s"local-broadcast-spec-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).map(p =>
          Seq("spark.jobGroup.id", "spark.job.tags")
            .map(p.getProperty(_, "")).mkString("|")).getOrElse(""))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job is seen, every
      // job `body` started has been seen too
      s.sparkContext.setJobGroup(marker, marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!tags.asScala.exists(_.contains(marker)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.asScala.exists(_.contains(marker)), "marker job unseen")
    } finally s.sparkContext.removeSparkListener(listener)
    tags.asScala.toSeq.filterNot(_.contains(marker))
  }

  private def localBroadcastJobs(tags: Seq[String]): Int =
    tags.count(_.contains("broadcast exchange"))

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  private def semiJoin(s: SparkSession, keys: Seq[Long],
      how: String = "left_semi"): DataFrame = {
    import s.implicits._
    s.range(0, 200).toDF("id")
      .join(broadcast(keys.toDF("id")), Seq("id"), how)
  }

  private val keys = Seq(3L, 17L, 42L, 199L, 500L)

  test("a broadcast local relation joins without a collect job") {
    var got = Seq.empty[Long]
    val tags = jobTags(spark) { got = ids(semiJoin(spark, keys)) }
    assert(tags.nonEmpty, "the join itself runs at least one job")
    assert(localBroadcastJobs(tags) === 0, tags.mkString("\n"))
    val plain = ids(spark.range(0, 200).toDF("id")
      .filter(col("id").isin(keys: _*)))
    assert(got === plain)
    assert(got === Seq(3L, 17L, 42L, 199L))
  }

  test("without adaptive execution the same broadcast runs its job") {
    val control = spark.newSession()
    control.conf.set("spark.sql.adaptive.enabled", "false")
    var got = Seq.empty[Long]
    val tags = jobTags(control) { got = ids(semiJoin(control, keys)) }
    assert(localBroadcastJobs(tags) === 1, tags.mkString("\n"))
    assert(got === Seq(3L, 17L, 42L, 199L))
  }

  test("the executed plan hands the scan's rows to the broadcast") {
    val df = semiJoin(spark, keys, "left_anti")
    assert(df.count() === 196L)
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalRows"), plan)
  }

  test("an empty local relation stays correct and job-free") {
    var semi = Seq.empty[Long]
    var anti = Seq.empty[Long]
    val tags = jobTags(spark) {
      semi = ids(semiJoin(spark, Seq.empty))
      anti = ids(semiJoin(spark, Seq.empty, "left_anti"))
    }
    assert(localBroadcastJobs(tags) === 0, tags.mkString("\n"))
    assert(semi.isEmpty)
    assert(anti === (0L until 200L))
  }
}
