package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Par branches run on common-pool threads, which do not share the
  * caller's SparkContext local properties; they must still carry the
  * caller's job group, so a listener attributes their jobs to the
  * caller's query and `cancelJobGroup` stops them with it.
  */
class ParSpec extends SparkSpec {

  private val GroupKey = "spark.jobGroup.id"

  /** Runs `f` with a listener recording (task count, job group) for
    * every job start; the group is null for an ungrouped job.
    */
  private def withJobs[A](f: ConcurrentLinkedQueue[(Int, String)] => A): A = {
    val seen = new ConcurrentLinkedQueue[(Int, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.stageInfos.map(_.numTasks).sum,
          Option(e.properties).map(_.getProperty(GroupKey)).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try f(seen) finally spark.sparkContext.removeSparkListener(listener)
  }

  test("branch jobs carry the caller's job group, call by call") {
    val sc = spark.sparkContext
    // each call sets a different group (the last none): a pool thread
    // that kept the group of the call that created it would show it
    // here. Task counts are distinct per call, so late listener events
    // from one call cannot pass for another's.
    Seq(Some("par-a"), Some("par-b"), None).zipWithIndex.foreach {
      case (group, call) =>
        val tasks = Seq(1, 2, 3).map(_ + 3 * call)
        withJobs { seen =>
          group.foreach(sc.setJobGroup(_, "par spec"))
          try Par.concurrently3(
            sc.parallelize(1 to 10, tasks(0)).count(),
            sc.parallelize(1 to 10, tasks(1)).count(),
            sc.parallelize(1 to 10, tasks(2)).count())
          finally sc.clearJobGroup()
          eventually(timeout(10.seconds)) {
            val groups = seen.asScala.filter(j => tasks.contains(j._1))
              .map(j => j._1 -> Option(j._2)).toMap
            assert(groups === tasks.map(_ -> group).toMap)
          }
        }
    }
  }

  test("cancelJobGroup on the caller's group cancels branch jobs") {
    val sc = spark.sparkContext
    withJobs { seen =>
      sc.setJobGroup("par-cancel", "par cancel spec",
        interruptOnCancel = true)
      val t0 = System.nanoTime()
      try {
        intercept[SparkException] {
          Par.concurrently(
            {
              eventually(timeout(30.seconds)) {
                assert(seen.asScala.exists(_._2 == "par-cancel"))
              }
              sc.cancelJobGroup("par-cancel")
            },
            sc.parallelize(1 to 2, 2)
              .map { x => Thread.sleep(60000L); x }.count())
        }
      } finally sc.clearJobGroup()
      // the branch job failed on the cancel, not after its sleeps
      assert((System.nanoTime() - t0) / 1e9 < 30.0)
    }
  }
}
