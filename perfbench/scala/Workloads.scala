package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.timeseries.{Detect, Forecast, Impute, ModelStore, TsCore}

object Workloads {

  /** One reference-chain pass from raw events: each span forces one
    * public stage so its jobs land in that span; the pass ends with the
    * q23 window flags and the q57 cleaned-vs-contaminated forecast error.
    */
  def chainPass(spark: SparkSession, dir: String, tr: Tracer): Seq[(String, Array[Row], StructType)] = {
    tr.span("TsCore.hourlyGrid") { TsCore.hourlyGrid(spark, dir).count() }
    tr.span("TsCore.filled") { TsCore.filled(spark, dir).count() }
    tr.span("TsCore.injected") { TsCore.injected(spark, dir).count() }
    tr.span("TsCore.patches") { TsCore.patches(spark, dir).count() }
    tr.span("TsCore.bankAndTest") {
      val (bank, test) = TsCore.bankAndTest(spark, dir)
      bank.count() + test.count()
    }
    tr.span("Detect.nearestDistWeight") { Detect.nearestDistWeight(spark, dir).count() }
    def run(query: String, span: String)(build: => DataFrame): (String, Array[Row], StructType) =
      tr.span(span) { val df = build; (query, df.collect(), df.schema) }
    Seq(run("q23_detect_pipeline", "Detect.pipeline") { Detect.pipeline(spark, dir) },
      run("q55_learned_impute", "Impute.learnedImpute") { Impute.learnedImpute(spark, dir) },
      run("q57_learned_cleaning", "Forecast.learnedCleaningImpact") {
        Forecast.learnedCleaningImpact(spark, dir)
      })
  }

  /** Fit the bank on the events, then replay the test-split patches one
    * day (series × 24 positions) per microbatch through bankScoreStream,
    * closed loop with one client: `WarmupBatches` batches while the JIT
    * settles (their latency drops ~2.5 → ~1 s), then batches until
    * `seconds` have passed. Replay r of the test days shifts `win` (and
    * the event time) by r × `Shift`, so every window is new.
    */
  val WarmupBatches = 5
  val Shift = 1000L

  def serve(spark: SparkSession, dir: String, outDir: String, scratch: String,
            seconds: Double, tr: Tracer): Seq[(String, String)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val model = s"$scratch/model"
    tr.span("ModelStore.save") { ModelStore.save(spark, dir, model) }
    val fitS = tr.spans.last.wallS
    Main.markLiveHeap()
    val (_, testP) = TsCore.bankAndTest(spark, dir)
    val byWin = testP
      .select((Seq("series", "win", "pos") ++ Detect.FeatCols).map(col): _*)
      .collect().groupBy(_.getLong(1)).toSeq.sortBy(_._1).map(_._2)
    def day(i: Int): Seq[PatchRow] = {
      val rep = i / byWin.size
      byWin(i % byWin.size).toSeq.map { r =>
        val win = r.getLong(1) + rep * Shift
        PatchRow(new Timestamp(86400000L * (30 + win)), r.getString(0), win, r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getDouble(8), r.getDouble(9), r.getDouble(10), r.getDouble(11))
      }
    }
    val mem = MemoryStream[PatchRow]
    val out = graft.streaming.ScoreStream.bankScoreStream(spark, model, mem.toDF(), watermark = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory").queryName("served")
      .option("checkpointLocation", s"$scratch/stream-ckpt").start()
    var patches = 0
    val sent = ArrayBuffer.empty[PatchRow]
    def send(i: Int): Double = {
      val b = day(i)
      val t = System.nanoTime()
      mem.addData(b)
      q.processAllAvailable()
      sent ++= b
      (System.nanoTime() - t) / 1e9
    }
    val warmup = ArrayBuffer.empty[Double]
    val lat = ArrayBuffer.empty[Double]
    try {
      (0 until WarmupBatches).foreach(i => warmup += send(i))
      val sent0 = sent.size
      val t0 = System.nanoTime()
      tr.span("ScoreStream.bankScoreStream") {
        while (lat.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
          lat += send(WarmupBatches + lat.size)
      }
      patches = sent.size - sent0
      Main.markLiveHeap()
      // a far-future patch closes every real window
      mem.addData(sent.head.copy(ts = new Timestamp(86400000L * 10000000L), series = "zz_sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table("served").filter(col("series") =!= "zz_sentinel")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/stream_scores")
    ModelStore.loadAndScore(spark, model, sent.toSeq.toDF())
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_scores")
    Seq("fit_s" -> Main.jn(fitS),
      "warmup_latency_s" -> Main.arr(warmup.map(Main.jn)),
      "batch_latency_s" -> Main.arr(lat.map(Main.jn)),
      "patches" -> patches.toString,
      "stream_s" -> Main.jn(lat.sum))
  }

  /** Every registered query over one sf dir, sorted by name, in one
    * fresh session; each output is reduced to a row count and an
    * order-independent digest (sum of per-row xxhash64).
    */
  def suite(spark: SparkSession, dir: String, tr: Tracer): Seq[(String, String)] = {
    val out = ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t = System.nanoTime()
      val res = try {
        val r = tr.span(s"suite.$name") {
          val df = fn(spark, dir)
          df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
            .agg(count(lit(1)), sum(col("h"))).collect().head
        }
        Some((r.getLong(0), String.valueOf(r.get(1))))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${String.valueOf(e.getMessage).take(300)}")
        None
      }
      val s = (System.nanoTime() - t) / 1e9
      out += Main.obj(Seq("name" -> Main.js(name), "s" -> Main.jn(s), "ok" -> res.isDefined.toString,
        "rows" -> res.map(_._1.toString).getOrElse("null"),
        "digest" -> res.map(x => Main.js(x._2)).getOrElse("null")))
    }
    Seq("queries" -> Main.arr(out))
  }
}
