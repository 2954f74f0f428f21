package graft.operators

import org.apache.spark.sql.SparkSession

/** Two independent driver-side Spark computations run side by side, so
  * the tail of one's sequential jobs back-fills the other's idle cores.
  */
private[graft] object Overlap {

  /** Runs `side` on a fresh thread while `main` runs on the caller's, and
    * returns both results. A fresh thread starts with a copy of the
    * caller's Spark local properties (job group, description, scheduler
    * pool); a pooled thread would carry whatever its first submitter had.
    * If `main` throws, the side's jobs are cancelled and the side thread
    * joined before the exception propagates, so no job of the call is
    * left running.
    */
  def apply[A, B](spark: SparkSession)(main: => A)(side: => B): (A, B) = {
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    @volatile var result: Either[Throwable, B] = null
    val thread = new Thread(() => {
      sc.addJobTag(tag)
      result = try Right(side) catch { case t: Throwable => Left(t) }
    }, "graft-overlap")
    thread.setDaemon(true)
    thread.start()
    val a =
      try main
      catch {
        case t: Throwable =>
          // Re-issued until the thread ends: a side between two jobs has
          // nothing to cancel yet.
          while (thread.isAlive) { sc.cancelJobsWithTag(tag); thread.join(50) }
          throw t
      }
    thread.join()
    result.fold(t => throw t, b => (a, b))
  }
}
