package graft.operators

import java.util.concurrent.{CompletableFuture, ExecutionException}

import org.apache.spark.sql.SparkSession

/** Driver-thread overlap for INDEPENDENT eager builds (guide §2.6
  * "overlap independent jobs", r21): Spark happily runs several jobs
  * at once inside one application — actions are only sequential
  * because driver code calls them sequentially. The operators here
  * use it where two or three build chains share nothing but
  * already-pinned inputs (a recall dial's truth pass beside its chain
  * build; a funnel's per-arm closures), so the scheduler back-fills
  * one stream's task tail with the other's tasks. Purely a
  * scheduling overlap: each branch is deterministic on its own and
  * neither reads anything another writes, so evaluation order cannot
  * change any row. Branch failures are rethrown unwrapped. Branches
  * run under the caller's job group, so a listener attributes their
  * jobs to the caller's query and `cancelJobGroup` cancels them too.
  */
private[operators] object Par {
  /** The caller-thread SparkContext local properties a branch must
    * carry so its jobs are attributed to, and cancelled with, the
    * caller's job group. NOT spark.sql.execution.id: each branch
    * action must open its own SQL execution, not nest under one the
    * caller happens to have open.
    */
  private val JobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  private def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }

  /** Run `body` on the common pool under the caller's job properties;
    * the pool thread's own values are restored afterwards.
    */
  private def fork[T](body: => T): CompletableFuture[T] = {
    val sc = SparkSession.active.sparkContext
    def set(values: Seq[String]): Unit =
      JobProps.zip(values).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val caller = JobProps.map(sc.getLocalProperty)
    CompletableFuture.supplyAsync { () =>
      val prior = JobProps.map(sc.getLocalProperty)
      set(caller)
      try body finally set(prior)
    }
  }

  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val fb = fork(b)
    val ra = a
    (ra, await(fb))
  }

  def concurrently3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fb = fork(b)
    val fc = fork(c)
    val ra = a
    (ra, await(fb), await(fc))
  }
}
