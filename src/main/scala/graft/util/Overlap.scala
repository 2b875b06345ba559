package graft.util

import org.apache.spark.sql.SparkSession

/** Overlap independent driver actions (guide §2.6) — SAFELY.
  *
  * The r18 overlap sites launched Futures on the global ExecutionContext
  * and awaited them with no cleanup path, so a failure in one action
  * left the sibling Spark jobs running detached, and blocking Spark
  * actions on the shared global pool risked starvation if the paths
  * ever nest (ADVICE r18). This helper fixes both: each call runs its
  * tasks on a DEDICATED pool of min(tasks, defaultParallelism) threads
  * (q26 overlaps up to 64 per-series fits; more threads than cores
  * only queue in the scheduler), every task's jobs are
  * tagged with one cancellable job group, and the first failure cancels
  * the whole group before rethrowing — no detached jobs survive the
  * call. FIFO scheduling still gives the back-fill behaviour the
  * overlap exists for; results come back in task order.
  */
object Overlap {

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def all[T](spark: SparkSession, desc: String)(tasks: Seq[() => T]): Seq[T] = {
    if (tasks.sizeIs <= 1) return tasks.map(_())
    val sc = spark.sparkContext
    val gid = s"overlap-$desc-${seq.incrementAndGet()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, sc.defaultParallelism))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = tasks.map(t => Future {
        // job groups are thread-local: tag inside the worker thread
        sc.setJobGroup(gid, desc, interruptOnCancel = true)
        try t() finally sc.clearJobGroup()
      })
      try Await.result(Future.sequence(futs), Duration.Inf)
      catch {
        case e: Throwable =>
          // fail fast: kill the siblings' in-flight jobs, then rethrow
          sc.cancelJobGroup(gid)
          throw e
      }
    } finally pool.shutdown()
  }

  /** Two heterogeneous overlapped actions — the common site shape. */
  def pair[A, B](spark: SparkSession, desc: String)(fa: => A, fb: => B): (A, B) = {
    val r = all[Any](spark, desc)(Seq(() => fa, () => fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
