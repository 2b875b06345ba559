package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** qh1/qh2: the guard family's REPORT-MODE pre-flight (VERDICT r16
  * "next #4"). Every blocked pair-builder in this repo refuses loudly
  * on an over-cap group — qd2's (band, sig) LSH buckets, qd4's
  * (lang, n_chars/20) length blocks, qd5's embedding labels, qd11's
  * IVF cells — but a refusal mid-build is the LAST line of defense; a
  * corpus operator wants the skew inventory BEFORE scheduling the
  * build (which families are hot, which groups, and what pair product
  * each would have cliqued into). This report is that inventory: one
  * row per over-cap group across all four families, EMPTY exactly when
  * every guarded build would run clean.
  *
  * Registered twice so the detection arithmetic itself is
  * oracle-checked every round (not just spec-planted): qh1 on the
  * committed zipf corpus at the PRODUCTION caps (clean — 0 rows, the
  * same corpus every qz* build runs green on), qh2 on the committed
  * `hotdata/` corpus (GenHot) at tightened caps where each family's
  * planted 100-strong group is over cap by construction.
  *
  * Scale shape: each family is the SAME tiny rollup its guard already
  * pays — the session-cached band table / block stats / label counts /
  * cell assignment, one map-side-combined count agg each, filtered to
  * the over-cap tail (|groups| rows, never pairs). The report's cost
  * IS the guards' probe cost (0.6–7.3 s per guard at sf1 when last
  * measured; re-measure with `graft.tools.Prof`).
  */
object HotReport {

  /** m members clique into m(m−1)/2 would-be pairs — the number every
    * refusal message quotes. Integer arithmetic end-to-end (m(m−1) is
    * even, so the shift is an exact halving): exact int64 for any m up
    * to ~3·10⁹, far past every cap. Built from the passed Column —
    * not a name-captured `expr` — so it is correct under any aliasing
    * at the call site (ADVICE r17).
    */
  private def wouldPairs(m: Column): Column =
    shiftright((m * (m - lit(1L))).cast("long"), 1)

  private def over(df: DataFrame, family: String, key: Column, cap: Long): DataFrame =
    df.filter(col("m") > cap)
      .select(lit(family).as("family"), key.cast("string").as("block_key"),
        col("m"), wouldPairs(col("m")).as("would_pairs"))

  def hotBlockReport(spark: SparkSession, sfDir: String,
                     maxBucket: Long = Dedup.LshMaxBucket,
                     maxBlock: Long = Dedup.NgramMaxBlock,
                     maxLabel: Long = graft.vector.Similarity.EmbedMaxLabel,
                     maxCell: Long = 1L << 20,
                     nCells: Int = 16): DataFrame = {
    require(maxBucket >= 1 && maxBlock >= 1 && maxLabel >= 1 && maxCell >= 1,
      s"caps must be positive: $maxBucket/$maxBlock/$maxLabel/$maxCell")
    // qd2: (band, sig) bucket sizes over the session-cached band table
    val lsh = Dedup.bandSignatures(spark, sfDir, 16, 4)
      .groupBy("band", "sig").agg(count(lit(1)).as("m"))
    // qd4: (lang, n_chars/20) block sizes — the SAME cached stage the
    // guard reads (one definition of "block")
    val blk = graft.util.StageCache.cached(spark, sfDir, "qd4blocks") {
      Dedup.blockStats(graft.util.Tables.documents(spark, sfDir))
    }
    // qd5: label group sizes
    val lab = graft.util.Tables.embeddings(spark, sfDir)
      .groupBy("label").agg(count(lit(1)).as("m"))
    // qd11: IVF cell sizes over the shared cached assignment
    val cell = graft.vector.Similarity.cellAssignment(spark, sfDir, nCells)
      .groupBy("cell").agg(count(lit(1)).as("m"))
    over(lsh, "qd2_lsh_bucket", concat_ws(":", col("band"), col("sig")), maxBucket)
      .unionByName(over(blk, "qd4_len_block",
        concat_ws(":", col("lang"), col("blk")), maxBlock))
      .unionByName(over(lab, "qd5_label", col("label"), maxLabel))
      .unionByName(over(cell, "qd11_ivf_cell", col("cell"), maxCell))
  }
}
