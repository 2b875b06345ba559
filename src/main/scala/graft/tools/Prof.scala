package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode, split}

/** Dev profiler: runs registered queries (or pseudo-stages, below) on
  * the bench's session settings, warmers and timed action, and for each
  * prints a per-stage table — wall time, task time, shuffle read/write,
  * input records, tasks — and the job call sites with start-to-start
  * gaps (time no job was running is driver work or planning). The
  * line-capped `explain("formatted")` of each is written to
  * `target/prof/<name>.plan.txt`.
  *
  * Usage: tools/run_main.sh graft.tools.Prof <name>[,<name>…] [sfDir] [reps]
  * sfDir defaults to `SPARK_GRAFT_SF_DIR`; cores come from `SPARK_GRAFT_CPUS`.
  */
object Prof {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Tables.spread(graft.util.Tables.documents(spark, sfDir), "doc_id")

  private def tokens(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")

  /** Pseudo-stages: uncached builds of session-cached stages, whose
    * plans and cost the registered queries hide behind localCheckpoint
    * LogicalRDDs.
    */
  private val stages: Map[String, (SparkSession, String) => DataFrame] = Map(
    "_tokens" -> ((s, d) => tokens(s, d)),
    "_sh3_narrow" -> ((s, d) => graft.text.TextCore.shinglesNarrow(docs(s, d), 3)),
    "_sh3_windowed" -> ((s, d) => graft.text.TextCore.shinglesWindowed(tokens(s, d), 3)),
    "_bm25post_build" -> ((s, d) => graft.vector.Similarity.bm25PostingsPlan(s, d)),
    "_qp2_exact_build" -> ((s, d) => graft.analytics.Events.approxDistinctExactPlan(s, d)))

  private case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
                           readMb: Double, writeMb: Double, recIn: Long, tasks: Int)

  def main(args: Array[String]): Unit = {
    val usage = "usage: Prof <name>[,<name>…] [sfDir] [reps]"
    require(args.nonEmpty, usage)
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    val builders = graft.SparkEntry.queries ++ stages
    val unknown = names.filterNot(builders.contains)
    require(unknown.isEmpty, s"unknown query or stage: ${unknown.mkString(", ")}")
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage (or set SPARK_GRAFT_SF_DIR)"))
    val reps = args.lift(2).fold(1)(_.toInt)

    val spark = graft.util.Sessions.local(graft.util.Sessions.cores)
    graft.Bench.warm(spark, sfDir)
    val stagesRun = ArrayBuffer.empty[Stage]
    val jobSites = ArrayBuffer.empty[(Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobSites.synchronized {
        jobSites += ((js.time,
          Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse(js.stageInfos.headOption.map(_.name.split("\n")(0)).getOrElse("?"))
            .take(100)))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stagesRun.synchronized {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stagesRun += Stage(si.stageId, si.name.split("\n")(0).take(90), wall,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.recordsRead, si.numTasks)
      }
    })
    val planDir = Files.createDirectories(Paths.get("target/prof"))
    for (rep <- 1 to reps; name <- names) {
      stagesRun.synchronized(stagesRun.clear())
      jobSites.synchronized(jobSites.clear())
      val t0 = System.nanoTime()
      val df = builders(name)(spark, sfDir)
      graft.Bench.timedAction(df)
      val tot = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      val st = stagesRun.synchronized(stagesRun.toSeq)
      val js = jobSites.synchronized(jobSites.toSeq).sortBy(_._1)
      println(f"==== $name rep $rep: $tot%.3f s, ${js.size} jobs, ${st.size} stages ====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"shrd_MB"}%8s ${"shwr_MB"}%8s ${"rec_in"}%10s ${"tasks"}%6s  name")
      st.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.readMb}%8.2f ${s.writeMb}%8.2f ${s.recIn}%10d ${s.tasks}%6d  ${s.name}")
      }
      println(f"stage wall sum: ${st.map(_.wallMs).sum / 1000.0}%.3f s (overlap possible); gaps = driver/planning time")
      println("-- jobs (start-to-start deltas) --")
      js.zipWithIndex.foreach { case ((t, site), i) =>
        val d = if (i + 1 < js.size) js(i + 1)._1 - t else -1L
        println(f"$i%4d $d%7d ms  $site")
      }
      if (rep == 1) {
        // literal sketches (inlined bloom filters) dump hundreds of KB of
        // hex — cap each line so the plan file stays reviewable
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          .split("\n", -1).map(l =>
            if (l.length > 600) l.take(600) + s"...(+${l.length - 600} chars)" else l)
          .mkString("\n")
        val out = planDir.resolve(s"$name.plan.txt")
        Files.writeString(out, plan)
        println(s"plan: $out")
      }
    }
    spark.stop()
  }
}
