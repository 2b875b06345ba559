package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a library module. `parent` is the index of the
  * enclosing span (-1 for a top-level pass); Spark jobs started while the
  * span is the innermost open one are its children.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, var endMs: Long,
                      startNs: Long, var endNs: Long,
                      gcStartMs: Long, var gcEndMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def gcS: Double = (gcEndMs - gcStartMs) / 1e3
}

/** `sql` is false for jobs started outside a SQL execution, such as the
  * parquet schema inference `spark.read.parquet` runs when it is called.
  */
final case class JobRec(startMs: Long, var endMs: Long, callSite: String, sql: Boolean)

final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
}

final case class Progress(inputRows: Long, durations: Map[String, Long], stateRows: Long)

/** Span recorder plus the two listeners a traced run registers.
  *
  * Spans are always recorded (two clock reads and a GC-time read per
  * call), so traced and untraced runs execute the same sequence of
  * library calls; only `attach` — called when tracing is on — adds the
  * `SparkListener` and `StreamingQueryListener`. Everything stays in
  * memory until the run writes its result file.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Span]
  private var pass = -1

  // keyed by (context, id): job and stage ids restart with every SparkContext
  val jobs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), JobRec]()
  val stageToJob = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()
  val jobTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()
  val progress = new java.util.concurrent.CopyOnWriteArrayList[Progress]()
  private var contexts = 0
  @volatile var tasksFailed = 0L

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def beginPass(): Unit = pass += 1

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), pass,
      System.currentTimeMillis(), 0L, System.nanoTime(), 0L, gcMs(), 0L)
    spans += s
    open.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcEndMs = gcMs()
      open.pop()
    }
  }

  private final class JobListener(ctx: Int) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage's name is the job's short call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val sql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
      jobs.put((ctx, e.jobId), JobRec(e.time, e.time, site, sql))
      e.stageIds.foreach(s => stageToJob.put((ctx, s), e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get((ctx, e.jobId))).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = Option(stageToJob.get((ctx, e.stageId))).getOrElse(-1)
      val agg = jobTasks.computeIfAbsent((ctx, job), _ => new TaskAgg)
      agg.synchronized {
        agg.tasks += 1
        if (!e.taskInfo.successful) tasksFailed += 1
        Option(e.taskMetrics).foreach { m =>
          agg.cpuNs += m.executorCpuTime
          agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Register the listeners on a session's context (traced runs only). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    contexts += 1
    spark.sparkContext.addSparkListener(new JobListener(contexts))
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
