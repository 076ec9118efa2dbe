package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Job starts and ends as the listener bus delivers them, with each job's
  * tags. Shared with the sink's fault-injection spec. */
class JobLog extends SparkListener {
  val starts = new ConcurrentLinkedQueue[(Int, Set[String])]()
  val ends = new ConcurrentHashMap[Int, Boolean]() // job id → succeeded
  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.add(e.jobId -> Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.jobResult == JobSucceeded)

  def tagged(prefix: String): Seq[Int] =
    starts.asScala.collect { case (id, tags) if tags.exists(_.startsWith(prefix)) => id }.toSeq

  /** Runs one marker job and waits until the bus has delivered its start:
    * every job submitted before it is then in `starts`. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val before = starts.size
    spark.sparkContext.parallelize(1 to 1, 1).count()
    eventually(timeout(30.seconds), interval(20.millis))(assert(starts.size > before))
  }
}

class OverlapSpec extends SparkSpec {

  test("results come back in task order, whatever order the tasks finish in") {
    val sc = spark.sparkContext
    val out = Overlap.run(spark, "order spec")((0 until 6).map { i =>
      s"t$i" -> { () => Thread.sleep((6 - i) * 40L); sc.parallelize(0 to i, 2).count() }
    })
    assert(out == (1L to 6L))
    assert(Overlap.run(spark, "empty spec")(Seq.empty[(String, () => Int)]).isEmpty)
  }

  test("each task sees the caller's job group, its own description and the call's tag") {
    val sc = spark.sparkContext
    sc.setJobGroup("overlap-spec-group", "caller's group")
    try {
      val seen = Overlap.run(spark, "group spec")((1 to 3).map { i =>
        s"t$i" -> (() => (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("spark.job.description"), sc.getJobTags()))
      })
      assert(seen.map(_._1) == Seq.fill(3)("overlap-spec-group"))
      assert(seen.map(_._2) == Seq("group spec: t1", "group spec: t2", "group spec: t3"))
      assert(seen.map(_._3).distinct.size == 1 && seen.head._3.size == 1 &&
        seen.head._3.head.startsWith("group spec"), "one per-call tag on every task")
      assert(sc.getJobTags().isEmpty, "the caller's own tags must be untouched")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "overlap-spec-group")
    } finally sc.clearJobGroup()
  }

  test("the first failure cancels the sibling's running job, no tagged job starts afterwards, and it is rethrown") {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val err = intercept[IllegalStateException] {
        Overlap.run(spark, "failure spec")(Seq(
          // a sibling that would keep the driver busy for minutes: twenty
          // 4-task jobs of ~5 s each
          "slow" -> (() => (1 to 20).foreach { _ =>
            sc.parallelize(1 to 400, 4).map { x => Thread.sleep(50); x }.count()
          }),
          "boom" -> { () =>
            eventually(timeout(60.seconds), interval(20.millis))(
              assert(log.tagged("failure spec").nonEmpty))
            Thread.sleep(300) // the slow job's tasks are running
            throw new IllegalStateException("boom")
          }))
      }
      assert(err.getMessage == "boom")
      assert(err.getSuppressed.length == 1, "the sibling's failure rides along as suppressed")
      // the slow job ends failed (cancelled), in far less than its ~5 s
      eventually(timeout(4.seconds), interval(20.millis)) {
        val started = log.tagged("failure spec")
        assert(started.nonEmpty && started.forall(log.ends.containsKey))
      }
      assert(log.tagged("failure spec").forall(id => !log.ends.get(id)),
        "a tagged job ran to success after the call failed")
      log.drain(spark)
      val afterReturn = log.tagged("failure spec")
      Thread.sleep(1000) // an orphaned sibling would submit its next job here
      log.drain(spark)
      assert(log.tagged("failure spec") == afterReturn, "a tagged job started after the call returned")
      assert(afterReturn.size == 1)
    } finally sc.removeSparkListener(log)
  }
}
