package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Num

/** SURVEY §2.A query entry points (driver contract shapes). */
object TsQueries {

  def q01Resample(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.hourlyGrid(spark, sfDir).select("series", "t", "n", "v")

  def q02FillForward(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), Num.r4(col("v_filled")).as("v_filled"), col("src"))

  /** Sliding windows: size 48, stride 24 — each point belongs to ≤2
    * windows, generated by explode (no range join, no skew): the shuffle
    * key is (series, swin).
    */
  def q03SlidingWindow(spark: SparkSession, sfDir: String, size: Int = 48, stride: Int = 24): DataFrame = {
    val base = TsCore.filled(spark, sfDir)
      .withColumn("w0", floor(col("t") / stride))
      .withColumn("swin", explode(array(col("w0"), col("w0") - 1)))
      .filter(col("swin") >= 0 &&
        col("t") >= col("swin") * stride && col("t") < col("swin") * stride + size)
    base.groupBy("series", "swin")
      .agg(count("v_filled").as("nv"), count(lit(1)).as("np"),
        // quantized-integer mean — avg over r4 inputs is boundary-prone
        Num.r4(Num.sumQ4(col("v_filled")) / count("v_filled")).as("mean_v"),
        Num.r4(stddev_samp("v_filled")).as("std_v"),
        Num.r4(min("v_filled")).as("min_v"), Num.r4(max("v_filled")).as("max_v"))
      .filter(col("nv") === size && col("np") === size)
      .select("series", "swin", "mean_v", "std_v", "min_v", "max_v")
  }

  /** q04: the per-series q01/q99 bounds frame scales with |series|
    * (millions of meters at 100 TB) — size-aware join, not a hard-coded
    * broadcast (see [[graft.util.Joins.dimJoin]]).
    */
  def q04QuantileScale(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Joins.dimJoin(
      TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull),
      TsCore.scaleBounds(spark, sfDir), Seq("series"), None)
      .select(col("series"), col("t"),
        Num.r4((col("v_filled") - col("lo")) / (col("hi") - col("lo"))).as("vs"))

  def q05AnomalyInject(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.injected(spark, sfDir)

  def q06Ewma(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.features(spark, sfDir).select("series", "win", "pos", "ewma")

  def q07PatchStd(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.features(spark, sfDir).select("series", "win", "pos", "pstd")

  /** q28: window date-range labels (ref process_aemo.py:164-166 builds
    * "first_date - last_date" labels per window) — reconstructed from
    * the CACHED grid origin (TsCore.gridOrigin): pure arithmetic +
    * formatting over the window list, zero raw-events scans in the plan.
    */
  def q28WindowLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val t0 = TsCore.gridOrigin(spark, sfDir)
    TsCore.dayWindows(spark, sfDir).select("series", "win").distinct()
      .crossJoin(broadcast(t0))
      .withColumn("start_epoch", (col("t0") + col("win") * TsCore.DaySize) * 3600L)
      .withColumn("end_epoch", (col("t0") + (col("win") + 1) * TsCore.DaySize) * 3600L - 3600L)
      .select(col("series"), col("win"),
        concat(from_unixtime(col("start_epoch"), "yyyy-MM-dd HH:mm:ss"), lit(" - "),
               from_unixtime(col("end_epoch"), "yyyy-MM-dd HH:mm:ss")).as("label"))
  }

  /** q43: calendar-exclusion filter (ref process_LF_INPG.py:46-111 —
    * national/lab holidays, the covid span, hand-listed corrupt ranges,
    * and data-derived fully-empty days are all dropped from the series
    * before the forecast dataset is built). Re-expressed as two
    * exclusion sets over the filled grid:
    *   (a) a BLOCKLIST of [lo, hi) day-index ranges — the holiday /
    *       corrupt-span lists are literal interval tables at any scale
    *       (a broadcast anti-join; the day key keeps it an equi-join);
    *   (b) EMPTY DAYS detected from the data: days with zero OBSERVED
    *       points for the series (ref's empty_days loop) — the week-walk
    *       fill would fabricate them, exactly what the reference refuses
    *       to train on.
    * Output = q02's filled rows minus the excluded days.
    */
  def q43CalendarFilter(spark: SparkSession, sfDir: String,
                        blocked: Seq[(Long, Long)] = Seq((2L, 4L), (9L, 10L))): DataFrame =
    calendarFilterFrom(TsCore.filled(spark, sfDir), blocked)

  /** q43 core over an explicit filled frame (series, t, v_filled, src) —
    * separated so specs can drive synthetic series with genuinely empty
    * days through the exact operator plan (neither test SF happens to
    * contain one).
    */
  private[graft] def calendarFilterFrom(filled: DataFrame,
                                        blocked: Seq[(Long, Long)]): DataFrame = {
    val spark = filled.sparkSession
    import spark.implicits._
    val f = filled.withColumn("d", floor(col("t") / TsCore.DaySize).cast("long"))
    val emptyDays = f.groupBy("series", "d")
      .agg(sum(when(col("src") === "obs", 1).otherwise(0)).as("nobs"))
      .filter(col("nobs") === 0).select("series", "d")
    val blockedDays = blocked.toDF("lo", "hi")
      .select(explode(sequence(col("lo"), col("hi") - 1)).as("d"))
    f.join(broadcast(blockedDays), Seq("d"), "left_anti")
      .join(emptyDays, Seq("series", "d"), "left_anti")
      .select(col("series"), col("t"), Num.r4(col("v_filled")).as("v_filled"), col("src"))
  }

  /** qp6: grid completeness / freshness audit — the data-quality report
    * a pipeline owner reads before trusting a feed (the reference eyeballs
    * coverage in its notebook plots; at 100 TB this must be a query). Per
    * series: slot counts by fill source (obs / week-lag / week-lead /
    * never-filled) from the shared filled stage, observed coverage, and
    * the gap structure (longest and count of consecutive unobserved runs,
    * gaps-and-islands on t − row_number). Two grouped aggs over grid
    * cells, one per-series window — no extra raw scans.
    */
  def qp6Completeness(spark: SparkSession, sfDir: String): DataFrame = {
    val f = TsCore.filled(spark, sfDir)
    val base = f.groupBy("series").agg(
      count(lit(1)).as("n_slots"),
      sum(when(col("src") === "obs", 1L).otherwise(0L)).as("n_obs"),
      sum(when(col("src") === "lag", 1L).otherwise(0L)).as("n_lag"),
      sum(when(col("src") === "lead", 1L).otherwise(0L)).as("n_lead"),
      sum(when(col("src") === "missing", 1L).otherwise(0L)).as("n_missing"))
    val wg = Window.partitionBy("series").orderBy("t")
    val gaps = f.filter(col("src") =!= "obs")
      .withColumn("rid", col("t") - row_number().over(wg))
      .groupBy("series", "rid").agg(count(lit(1)).as("gap_len"))
      .groupBy("series").agg(max("gap_len").as("max_gap"), count(lit(1)).as("n_gaps"))
    base.join(gaps, Seq("series"), "left")
      .select(col("series"), col("n_slots"), col("n_obs"),
        Num.r4(col("n_obs") / col("n_slots")).as("pct_obs"),
        col("n_lag"), col("n_lead"), col("n_missing"),
        coalesce(col("max_gap"), lit(0L)).as("max_gap"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"))
  }

  /** qp7: distribution-drift monitor — Population Stability Index per
    * series between the first and second half of its time range (the
    * train/serve drift gate a 100 TB feature pipeline runs before every
    * retrain; the reference's contaminated-vs-clean comparisons assume
    * stationarity — this is the check). nBins equal-width value bins
    * from the per-series min/max; PSI = Σ_bins (p−q)·ln(p/q) with
    * Laplace-smoothed shares. One per-series window pass + ONE
    * per-series aggregation of 2·nBins conditional bin counts — the
    * PSI is a projection over that wide row. Each bin's term is
    * quantized to the 1e-6 grid before the sum, so the ≤ nBins-term
    * accumulation is exact-integer and engine-order-free.
    */
  def qp7Drift(spark: SparkSession, sfDir: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins: need at least 2 bins for a drift measure")
    psiOf(midSplit(spark, sfDir), col("t") <= col("mid"), nBins)
  }

  /** qp7's points: non-null filled values with their series' midpoint `mid`. */
  private def midSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val wp = Window.partitionBy("series")
    TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("mid", floor((min("t").over(wp) + max("t").over(wp)) / 2))
  }

  /** The smoothed-PSI chain over a split of per-series points — ONE
    * definition of the drift formula (equi-width bins from the global
    * per-series range, 0.5 Laplace smoothing, 1e-6 scaled-int term
    * sums) shared by qp7 (midpoint split) and q62 (train-cut split) so
    * the two drift measures can never diverge. `pts` carries
    * (series, v_filled) non-null rows plus whatever `first` reads;
    * returns (series, n_first, n_second, psi).
    */
  private[graft] def psiOf(pts: DataFrame, first: Column, nBins: Int): DataFrame = {
    val aggs = binCounts("c", nBins, first) ++ binCounts("n", nBins, !first)
    withBins(pts, nBins).groupBy("series").agg(aggs.head, aggs.tail: _*)
      .select(col("series"), binTotal("c", nBins).as("n_first"),
        binTotal("n", nBins).as("n_second"), psiFold(nBins).as("psi"))
  }

  /** A value's equi-width bin against the row's `mn`/`mx` (bin 0 when
    * they are equal), clamped into [0, nBins−1]: a no-op for batch
    * points, whose bounds come from the data they bin; a LIVE point
    * outside a saved baseline's range lands in the edge bin.
    */
  private[graft] def valueBin(v: Column, nBins: Int): Column =
    when(col("mx") === col("mn"), 0L).otherwise(
      greatest(lit(0L), least(
        floor((v - col("mn")) / (col("mx") - col("mn")) * nBins),
        lit(nBins - 1L))))

  /** nBins aggregates `<prefix>0..`: per `bin`, the rows where `rows` holds. */
  private[graft] def binCounts(prefix: String, nBins: Int,
                               rows: Column = lit(true)): Seq[Column] =
    (0 until nBins).map(b =>
      sum(when(rows && col("bin") === b, 1L).otherwise(0L)).as(s"$prefix$b"))

  /** The total count over the `<prefix>0..` bin columns. */
  private[graft] def binTotal(prefix: String, nBins: Int): Column =
    (0 until nBins).map(b => col(s"$prefix$b")).reduce(_ + _)

  /** The PSI of a wide row of reference counts `c0..` and live counts
    * `n0..` — the one fold of qp7, q62 and both streaming monitors. A
    * bin empty on both sides contributes no term.
    */
  private[graft] def psiFold(nBins: Int): Column = {
    val sm = 0.5
    val tot0 = binTotal("c", nBins)
    val tot1 = binTotal("n", nBins)
    val terms = (0 until nBins).map { b =>
      val p = (col(s"c$b") + sm) / (tot0 + sm * nBins)
      val q = (col(s"n$b") + sm) / (tot1 + sm * nBins)
      when(col(s"c$b") + col(s"n$b") > 0,
        floor((p - q) * log(p / q) * 1000000d + 0.5d).cast("long")).otherwise(0L)
    }.reduce(_ + _)
    Num.r4(terms / 1000000d)
  }

  /** `pts` with per-series bounds `mn`/`mx` and each point's [[valueBin]]. */
  private def withBins(pts: DataFrame, nBins: Int): DataFrame = {
    val wp = Window.partitionBy("series")
    pts.withColumn("mn", min("v_filled").over(wp))
      .withColumn("mx", max("v_filled").over(wp))
      .withColumn("bin", valueBin(col("v_filled"), nBins))
  }

  /** A PSI baseline — the |series|-row artifact a streaming monitor
    * broadcasts: per series the bounds over ALL of `pts` and the bin
    * counts `c0..` of the rows where `train` holds (qp7's and q62's).
    */
  private[graft] def psiBaseline(pts: DataFrame, train: Column, nBins: Int): DataFrame =
    withBins(pts, nBins).filter(train).groupBy("series")
      .agg(max("mn").as("mn"), (max("mx").as("mx") +: binCounts("c", nBins)): _*)

  /** The train-time drift baseline streaming.driftStream monitors
    * against: qp7's bounds and mid split, first-half bin counts.
    */
  private[graft] def driftBaseline(spark: SparkSession, sfDir: String,
                                   nBins: Int = 10): DataFrame =
    psiBaseline(midSplit(spark, sfDir), col("t") <= col("mid"), nBins)

  def q08Patchify(spark: SparkSession, sfDir: String): DataFrame = {
    val p = TsCore.patches(spark, sfDir)
    p.select(col("series") +: col("win") +: col("pos") +:
      (0 to 8).map(i => Num.r4(col(s"f$i")).as(s"f$i")): _*)
  }
}
