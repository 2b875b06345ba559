package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory: parity (Verify), bench, profiler, data
  * generators and specs all run the same engine settings. At bench
  * scale this system is driver-bound, so a setting that differs between
  * those runs changes what each one measures — change it here, for all.
  * The benchmark's own JVM (perfbench) keeps a copy of this key/value
  * set; keep the two equal.
  */
object Sessions {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else every core of the
    * host — a silent local[4] on a 32-core host under-reports
    * throughput ~3× (BENCH_r05 recorded 180 s for a suite that runs
    * ~55 s at local[32]).
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A local[cores] session with the shipped settings (getOrCreate: a
    * live session is returned as is). Log level WARN; the benign
    * WindowExec WARN filter is installed once per JVM.
    */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // NTZ wall-clock == UTC instant is what makes the events `ts`
      // derivations (util.Ts) match DuckDB's epoch(ts)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped TIMESTAMP(NANOS), which Spark 4 reads
      // only as long (nanos since epoch) — util.Ts normalizes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", "1048576")
      // tmpfs shuffle dir; /dev/shm is typically capped at ~50% RAM, so
      // fall back to /tmp unless it has ≥8 GiB free (the sf0.1 suite's
      // shuffle footprint is far below that; larger SFs should set
      // SPARK_GRAFT_LOCAL_DIR explicitly).
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.getUsableSpace > 8L * 1024 * 1024 * 1024)
          "/dev/shm/spark-local" else "/tmp"
      }))
      .config("spark.shuffle.checksum.enabled", "false")
      .config("spark.storage.memoryMapThreshold", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing targets max(stageBytes/parallelism, minPartitionSize);
      // the 1m default collapses small-byte CPU-DENSE shuffle stages
      // (minhash/shingle hashing, per-pair array intersections) to 1-3
      // tasks, idling the other cores (measured r18: qd18's candidate
      // build ran 3.7 s in ONE task at 1m). 64k only binds for stages
      // under parallelism×1 MB — at production scale bytes/parallelism
      // dominates and the knob is inert, so the production value is the
      // same (see OPTIMIZATION_r18.md §config).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Janino codegen cache (STATIC conf, JVM-wide from the first
      // session): the default 100 entries thrash across this suite's
      // 233 queries — every rep recompiled nearly every generated class
      // (~50-300 ms each, driver-side). A production driver running a
      // query fleet wants the same headroom; entries are compiled
      // classes, tens of KB each.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // must run after Spark's own log4j2 init or the filter is dropped
    // (see LogHygiene); idempotent per JVM
    LogHygiene.suppressKnownBenignWindowWarn()
    spark
  }
}
