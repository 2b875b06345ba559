package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Refusal-latency evidence for the dedup family's hot-block guards
  * (VERDICT r15 "next #4"): each guarded pair-builder — qd2's LSH
  * buckets, qd4's length blocks, qd5's label blocks, qd11's IVF cells —
  * refuses a skewed corpus with ONE tiny aggregate instead of dying
  * hours into a Σm² self-join. The specs prove the refusal on planted
  * 10-row tables; this probe proves the refusal PROBE ITSELF is cheap
  * when it matters: an sf1-sized corpus (50k docs / 50k vectors — the
  * soak scale) where 20k documents are byte-identical and 20k vectors
  * share one label and one tight archetype cell, i.e. a bucket/block/
  * label/cell at 2× every cap. Each guard must fail in seconds — the
  * cost is the O(N) signature/assignment stage plus a map-side-combined
  * count agg, never any part of the quadratic join (~2·10⁸ pairs per
  * hot group here).
  *
  * Usage: tools/run_main.sh graft.tools.HotGuardProbe [dstDir]
  * Output: one line per guard with the measured wall-clock to refusal;
  * exits 1 if any guard fails to fire.
  */
object HotGuardProbe {

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/root/repo/target/testdata/hotprobe")
    val spark = graft.util.Sessions.local(graft.util.Sessions.cores)
    import spark.implicits._

    val nDocs = 50000L
    val nHot = 20000L // 2× every 10⁴ cap
    println(s"[hotprobe] generating $nDocs docs / $nDocs vectors " +
      s"($nHot -strong hot group) under $dst")
    val t0 = System.nanoTime()
    // hot docs: byte-identical 40-token text → one (band, sig) LSH
    // bucket of 20k (qd2) AND one (lang, n_chars/20) block of 20k (qd4).
    // Cold docs: GenZipf's per-id text so the signature stages do real
    // heavy-tailed work, not trivial short-circuit work.
    val hotText = (0 until 40).map(j => GenZipf.word(97 + j)).mkString(" ")
    val mkText = udf((id: Long) =>
      if (id < nHot) hotText else GenZipf.genBase(id, "en"))
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("lang", lit("en")).withColumn("source", lit("hotprobe"))
      .withColumn("text", mkText(col("doc_id")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // hot vectors: one label (0) and one tight archetype for the hot
    // group → a 20k label block (qd5) and a 20k-strong seeded cell
    // (qd11 at an explicit maxCell=10⁴ — the default 2²⁰ cap is sized
    // for collection-scale cells; the refusal COST is cap-independent).
    val mkVec = udf((id: Long) => GenZipf.genVec(id, 64)._1)
    val hotVec = udf((id: Long) => {
      val rng = new java.util.Random(id * 2654435761L + 0xB0BCA7L)
      val base = (0 until 64).map(i => math.sin(i * 1.7 + 1.0))
      base.map(x => (x + 0.01 * rng.nextGaussian()).toFloat).toArray
    })
    spark.range(nDocs).select(col("id").as("vec_id"))
      .withColumn("label",
        when(col("vec_id") < nHot, 0).otherwise(pmod(col("vec_id"), lit(10L)).cast("int") + 0))
      .withColumn("embedding",
        when(col("vec_id") < nHot, hotVec(col("vec_id"))).otherwise(mkVec(col("vec_id"))))
      .select("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(f"[hotprobe] generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // a guard that fails to fire must FAIL the scripted evidence run
    // (tools/run_main.sh piped to a log records exit status), not just
    // print — ADVICE r16
    var anyGuardSilent = false
    def probe(name: String)(f: => DataFrame): Unit = {
      val t = System.nanoTime()
      try {
        f.count()
        anyGuardSilent = true
        println(s"[hotprobe] $name: NO REFUSAL — guard failed to fire (BUG)")
      } catch {
        case e: IllegalArgumentException =>
          val s = (System.nanoTime() - t) / 1e9
          println(f"[hotprobe] $name: refused in $s%.2f s — " +
            e.getMessage.replace('\n', ' ').take(160))
      }
    }
    probe("qd2  minhashLsh    (hot LSH bucket, 20k co-signed)") {
      graft.text.Dedup.minhashLsh(spark, dst)
    }
    probe("qd4  ngramJaccard  (hot length block, 20k docs)") {
      graft.text.Dedup.ngramJaccard(spark, dst)
    }
    probe("qd5  embedNearDup  (hot label, 20k vectors)") {
      graft.vector.Similarity.embedNearDup(spark, dst)
    }
    probe("qd11 semanticDedup (hot cell, 20k vectors, maxCell=10^4)") {
      graft.vector.Similarity.semanticDedup(spark, dst, maxCell = 10000L)
    }
    spark.stop()
    if (anyGuardSilent) sys.exit(1)
  }
}
