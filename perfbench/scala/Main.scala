package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

case class PatchRow(ts: Timestamp, series: String, win: Long, pos: Long,
                    f0: Double, f1: Double, f2: Double, f3: Double, f4: Double,
                    f5: Double, f6: Double, f7: Double, f8: Double)

/** JVM side of the benchmark: runs one workload against the compiled
  * library and writes raw measurements to `<out>/result.json` plus the
  * outputs the Python side checks against DuckDB.
  *
  * usage: perfbench.Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores> <scratch>
  * workload: setup | chain | serve | suite
  */
object Main {

  /** The shipped bench settings (graft.Bench.newSession) minus its warmers:
    * a cold pass pays what one spark-submit pays. Spark's scratch and
    * warehouse dirs stay under `scratch`.
    */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.shuffle.checksum.enabled", "false")
      .config("spark.storage.memoryMapThreshold", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Live heap at the end of each phase (outside any timed span): a full
    * collection, a pause for Spark's ContextCleaner to drop what it
    * released, a second collection, then the heap left in use.
    */
  val liveHeapMb = ArrayBuffer.empty[Double]

  def markLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveHeapMb += java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }

  /** The host-speed probe of graft.Bench (TESTDATA.md, "Bench
    * calibration"): its three range() queries — a hash aggregate with
    * count-distinct, a per-key sort window and a 1:1 sort-merge join —
    * over `CalibRows` ids. Bench uses 8M, which costs ~20 s on 4 cores;
    * this runs 1M, after the measured work, in the same warm JVM.
    */
  val CalibRows = 1000000L

  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val r = spark.range(CalibRows).selectExpr("id",
      "id % 9973 as k", "cast((id * 2654435761) % 1000003 as double) as v")
    r.groupBy("k").agg(sum("v"), countDistinct("v")).selectExpr("max(k)").collect()
    r.selectExpr("k", "sum(v) over (partition by k order by v, id " +
        "rows between 100 preceding and current row) as rs")
      .selectExpr("max(rs)").collect()
    r.as("a").join(r.selectExpr("id", "v as v2").as("b"), "id")
      .selectExpr("max(v + v2)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  // ---- tiny JSON writer -----------------------------------------------
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jn(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsS, traceS, coresS, scratch) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val tr = new Tracer
    Files.createDirectories(Paths.get(outDir))
    var spark = session(cores, scratch)
    val fields = ArrayBuffer("ready_epoch_ms" -> System.currentTimeMillis().toString)
    def writeResult(): Unit =
      Files.writeString(Paths.get(s"$outDir/result.json"), obj(fields.toSeq))
    if (workload == "setup") {
      // a set-up probe ends as soon as the session is ready
      writeResult()
      Runtime.getRuntime.halt(0)
    }
    if (traced) tr.attach(spark)
    fields += "spark_version" -> js(spark.version)
    fields += "jdk_version" -> js(System.getProperty("java.version"))

    def freshSession(): Unit = {
      spark.stop()
      spark = session(cores, scratch)
      if (traced) tr.attach(spark)
      Thread.sleep(1000) // let the old context's teardown and the new one's start-up finish
    }
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    workload match {
      case "chain" =>
        // pass 0 is the cold pass; later passes each get a fresh session
        // (empty StageCache) in the same, now warm, JVM
        var last: Seq[(String, Array[Row], StructType)] = Nil
        var passes = 0
        while (passes < 2 || elapsed < seconds) {
          if (passes > 0) freshSession()
          tr.beginPass()
          last = tr.span("chain") { Workloads.chainPass(spark, dataDir, tr) }
          markLiveHeap()
          passes += 1
        }
        fields += "passes" -> passes.toString
        last.foreach { case (q, rows, schema) => writeRows(spark, rows, schema, s"$outDir/$q") }
        Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
          obj(last.map { case (q, _, _) => q -> js(graft.SparkEntry.oracleSql(q)) }))
        val win = graft.timeseries.TsCore.dayWindows(spark, dataDir).select("series", "win").distinct()
        fields += "windows" -> win.count().toString
        fields += "series" -> win.select("series").distinct().count().toString

      case "serve" =>
        fields ++= Workloads.serve(spark, dataDir, outDir, scratch, seconds, tr)

      case "suite" =>
        fields ++= Workloads.suite(spark, dataDir, tr)
        markLiveHeap()
    }

    fields += "heap_live_mb" -> arr(liveHeapMb.map(jn))
    fields += "calib_s" -> jn(calibrate(spark))
    if (traced) tr.drain(spark.sparkContext)
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    fields += "codegen_compiles" -> cg.getCount.toString
    fields += "codegen_compile_s" -> jn(
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
    fields += "spans" -> arr(tr.spans.map(s => obj(Seq(
      "id" -> s.id.toString, "name" -> js(s.name), "parent" -> s.parent.toString,
      "pass" -> s.pass.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "wall_s" -> jn(s.wallS), "gc_s" -> jn(s.gcS)))))
    if (traced) {
      fields += "jobs" -> arr(tr.jobs.asScala.toSeq.sortBy(_._1).map { case (key, j) =>
        val a = Option(tr.jobTasks.get(key)).getOrElse(new TaskAgg)
        obj(Seq("start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
          "call_site" -> js(j.callSite), "sql" -> j.sql.toString, "tasks" -> a.tasks.toString,
          "cpu_s" -> jn(a.cpuNs / 1e9), "shuffle_write_mb" -> jn(a.shuffleWriteBytes / 1048576.0)))
      })
      fields += "tasks_failed" -> tr.tasksFailed.toString
      fields += "progress" -> arr(tr.progress.asScala.map(p => obj(Seq(
        "input_rows" -> p.inputRows.toString,
        "state_rows" -> p.stateRows.toString,
        "duration_ms" -> obj(p.durations.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))))
    }
    writeResult()
    spark.stop()
  }
}
