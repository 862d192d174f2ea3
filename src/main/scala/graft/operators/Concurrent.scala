package graft.operators

import java.util.concurrent.{ExecutionException, FutureTask}

import org.apache.spark.sql.SparkSession

/** Independent Spark actions overlapped from driver threads.
  *
  * Spark schedules concurrent jobs FIFO, so a later action back-fills the
  * cores an earlier one's tail leaves idle, and a chain of small one-task
  * jobs pays one job round-trip for the lot instead of one each. Only
  * legal for actions that neither read what another writes nor depend on
  * another's order: segment tables written into a publish temp dir, a
  * cache probe beside the collect of the points it is keyed by, the three
  * camera CSV sinks.
  */
private[graft] object Concurrent {

  /** Run every item of `work` on its own driver thread and return the
    * results in `work` order, once every thread has ended — none of the
    * items' jobs is still running when this returns or throws. The first
    * failure (in `work` order) is rethrown as the item threw it, not
    * wrapped.
    *
    * The caller's job group is PROPAGATED to the worker threads: the
    * group is a thread-local, and without this a Timebox cancel of the
    * enclosing query would never reach the overlapped jobs. */
  def runConcurrently[T](spark: SparkSession, work: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val inherit = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
      .flatMap(k => Option(sc.getLocalProperty(k)).map(k -> _))
    val tasks = work.map(w => new FutureTask[T](() => {
      inherit.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      w()
    }))
    val threads = tasks.map { t =>
      val th = new Thread(t, "graft-concurrent-action")
      th.setDaemon(true); th.start(); th
    }
    threads.foreach(_.join())
    tasks.map { t =>
      try t.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }
}
