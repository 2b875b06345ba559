package graft

import org.apache.spark.sql.functions._
import graft.text._
import graft.vector.Similarity

class TextSpec extends SparkSuite {

  test("exact dedup covers every document once") {
    val d = Dedup.exact(spark, Sf001)
    val docs = spark.read.parquet(s"$Sf001/documents.parquet").count()
    assert(d.agg(sum("n_dups")).head.getLong(0) === docs)
  }

  test("minhash lsh finds candidates with bands in range") {
    val m = Dedup.minhashLsh(spark, Sf001).cache()
    assert(m.filter(col("n_bands") < 1 || col("n_bands") > 4).count() === 0)
  }

  test("dup clusters: members of one cluster are connected, ids are minima") {
    val cl = Dedup.dupClusters(spark, Sf001).cache()
    assert(cl.count() > 0)
    // cluster_id must be ≤ every member id and itself a member
    assert(cl.filter(col("cluster_id") > col("doc_id")).count() === 0)
    val ids = cl.select("cluster_id").distinct()
    val members = cl.select(col("doc_id").as("cluster_id")).distinct()
    assert(ids.join(members, Seq("cluster_id"), "left_anti").count() === 0)
  }

  test("cc loop == driver union-find on random graphs (fused-round exactness)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(n * 2)
      val raw = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val sym = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val edges = sym.toDF("doc_a", "doc_b")
      val got = graft.text.Dedup.ccFrom(edges)
        .as[(Long, Long)].collect().toMap
      // every node with an edge must carry the min id of its component
      val touched = sym.map(_._1).distinct
      touched.foreach { v =>
        val root = find(v.toInt)
        val want = (0 until n).filter(u => find(u) == root).min.toLong
        assert(got(v) === want, s"trial $trial node $v: got ${got(v)}, want $want")
      }
      assert(got.size === touched.size)
    }
  }

  test("simhash hamming bounded by fingerprint width; chunk geometry consistent") {
    // the pigeonhole guarantee (hamming <= nChunks-1 always shares a
    // chunk) and the pair-product bound both require the chunks to
    // tile the fingerprint exactly
    assert(Dedup.SimhashChunks * Dedup.SimhashChunkBits === Dedup.SimhashBits)
    assert(Dedup.SimhashChunkBits >= 12,
      "chunk width is the blocking bound: <12 bits re-opens the N^2/256 cliff")
    val s = Dedup.simhash(spark, Sf001, maxHam = 40).cache()
    assert(s.count() > 0)
    assert(s.filter(col("hamming") < 0 || col("hamming") > Dedup.SimhashBits).count() === 0)
  }

  test("simhash stop-chunk cap yields a subset of the uncapped pairs") {
    // maxDf is the 100 TB skew valve: capped candidates must be a
    // subset (a bucket drop can only remove pairs, never invent them)
    val full = Dedup.simhash(spark, Sf001, maxHam = 40, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhash(spark, Sf001, maxHam = 40, maxDf = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full))
    assert(capped.size < full.size, "a tight cap must actually drop crowded buckets")
    // the REGISTERED default cap must not bind at test scale — parity
    // there exercises the stop-chunk plan with zero recall loss
    val dflt = Dedup.simhash(spark, Sf001, maxHam = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt === full, "default SimhashMaxDf should not bind at sf0.001")
  }

  test("jaccard in [0,1]") {
    val j = Dedup.ngramJaccard(spark, Sf001).cache()
    assert(j.count() > 0)
    assert(j.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
  }

  test("qd4 blocking catches near-dups straddling a 20-char block boundary") {
    import spark.implicits._
    // docs 1/2: near-identical but n_chars 19 vs 21 → blocks 0 vs 1 —
    // invisible to exact-block candidates, caught by the ±1 widening;
    // doc 3: same lang, block 5 → must NOT pair with 1 or 2
    val docs = Seq(
      (1L, "en", 19L), (2L, "en", 21L), (3L, "en", 101L)
    ).toDF("doc_id", "lang", "n_chars")
    val shingleRows = Seq(
      (1L, "a b c"), (1L, "b c d"), (1L, "c d e"),
      (2L, "a b c"), (2L, "b c d"), (2L, "c d e"), (2L, "d e f"),
      (3L, "x y z")
    ).toDF("doc_id", "sh")
    val j = Dedup.ngramJaccardFrom(docs, shingleRows).collect()
    assert(j.length === 1, s"exactly the straddling pair: ${j.mkString(";")}")
    val r = j.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(math.abs(r.getDouble(2) - 0.75) < 1e-9, "3 shared / 4 union")
  }

  test("qd4 fails loudly on a hot same-length block, naming the remedies") {
    import spark.implicits._
    // 12 docs of identical length land in ONE (lang, blk) block — the
    // boilerplate-cluster shape whose within-block pair join goes
    // quadratic; two other-length docs stay admissible
    val docs = ((1L to 12L).map(i => (i, "en", 40L)) ++
      Seq((100L, "en", 400L), (101L, "en", 500L))).toDF("doc_id", "lang", "n_chars")
    val shingleRows = docs.select(col("doc_id"), lit("a b c").as("sh"))
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardFrom(docs, shingleRows, maxBlock = 10L)
    }
    assert(e.getMessage.contains("hot (lang, blk) block"))
    assert(e.getMessage.contains("maxBlock=10"))
    assert(e.getMessage.contains("12 same-length documents"))
    assert(e.getMessage.contains("qd18"), "the containment remedy must be named")
    // boundary admission: m == maxBlock passes, and the full clique of
    // the block (all docs share the one shingle) comes out
    assert(Dedup.ngramJaccardFrom(docs, shingleRows, maxBlock = 12L).count() >= 12L * 11 / 2)
  }

  test("token counts consistent with text") {
    val t = TextOps.tokenCount(spark, Sf001).cache()
    assert(t.filter(col("n_ws") <= 0).count() === 0)
    assert(t.filter(col("n_tok") < col("n_ws")).count() === 0, "regex tokens ≥ ws tokens")
  }

  test("quality score in [0,1]") {
    val q = TextOps.qualityScore(spark, Sf001).cache()
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() === 0)
  }

  test("langid emits one prediction per doc") {
    val l = TextOps.langId(spark, Sf001).cache()
    val docs = spark.read.parquet(s"$Sf001/documents.parquet").count()
    assert(l.count() === docs)
  }

  test("fingerprint emits at most k hashes per doc, ranked") {
    val f = TextOps.fingerprint(spark, Sf001).cache()
    assert(f.groupBy("doc_id").count().filter(col("count") > 3).count() === 0)
  }

  test("cosine topk is correctly ranked") {
    val t = Similarity.cosineTopK(spark, Sf001, k = 5).cache()
    assert(t.count() > 0)
    // within each query, cos must be non-increasing with rank
    val bad = t.as("a").join(t.as("b"),
      col("a.qid") === col("b.qid") && col("a.rnk") === col("b.rnk") - 1)
      .filter(col("a.cos") < col("b.cos"))
    assert(bad.count() === 0)
  }

  test("qv15 filtered top-k: neighbors share the query label and match a driver recompute") {
    val k = 10
    val got = Similarity.filteredTopK(spark, Sf01, k = k).collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val vecs = graft.util.Tables.embeddings(spark, Sf01)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = vecs.filter(v => v._1 % 100 == 0 && v._1 < 100000L).flatMap { case (qid, ql, qv) =>
      vecs.filter(c => c._2 == ql && c._1 != qid)
        .map(c => (c._1, cos(qv, c._3)))
        .sortBy { case (id, cs) => (-cs, id) }.take(k).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1) -> (ql, id) }
    }.toMap
    assert(got === want, "filtered ranking must equal the same-label brute force")
  }

  test("qv7 knn label propagation matches a driver-side vote recompute") {
    val k = 5
    val vecs = graft.util.Tables.embeddings(spark, Sf01)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val isQ = (id: Long) => id % 100 == 0 && id < 100000L
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      // mirror the engine exactly: dot / (sqrt(aa) * sqrt(bb)), NOT
      // dot / sqrt(aa*bb) — the two differ in ulps and can flip ranks
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val refs = vecs.filterNot(v => isQ(v._1))
    val expected = vecs.filter(v => isQ(v._1)).map { case (qid, tl, qv) =>
      val top = refs.map(r => (cos(qv, r._3), r._1, r._2))
        .sortBy(t => (-t._1, t._2)).take(k)
      val (pl, votes) = top.groupBy(_._3).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      (qid, tl, pl, votes.toLong, if (tl == pl) 1 else 0)
    }.toSet
    val got = Similarity.knnLabel(spark, Sf01, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("lsh ann returns subset consistent with brute force top ranks") {
    val brute = Similarity.cosineTopK(spark, Sf001, k = 10)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshAnn(spark, Sf001, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    // LSH candidates are genuine vectors, ranked by true cosine — sanity only
    assert(lsh.toSet.size === lsh.length)
  }

  test("multimodal media features are deterministic over bytes") {
    val f = graft.multimodal.BinaryMeta.mediaFeatures(spark, Sf001).cache()
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
    val joined = f.join(docs, "doc_id")
    assert(joined.filter(col("n_bytes") =!= col("len")).count() === 0)
    assert(f.filter(col("f0") < 0 || col("f0") > 1).count() === 0)
  }

  test("minhash estimate tracks exact jaccard on candidate pairs") {
    import org.apache.spark.sql.functions._
    val e = Dedup.minhashEstimate(spark, Sf01).cache()
    assert(e.count() > 0)
    // estimates are valid probabilities and unbiased enough on average:
    // mean absolute deviation from exact jaccard well under one band
    assert(e.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1).count() === 0)
    val mad = e.agg(avg(abs(col("est_jaccard") - col("exact_jaccard")))).head.getDouble(0)
    assert(mad < 0.35, s"minhash estimate MAD $mad")
  }

  test("language-ID confusion matrix is diagonal-dominant") {
    import org.apache.spark.sql.functions._
    val cm = graft.text.TextOps.langIdEval(spark, Sf01).cache()
    val total = cm.agg(sum("n")).head.getLong(0)
    val correct = cm.filter(col("lang") === col("pred_lang"))
      .agg(sum("n")).head.getLong(0)
    // synthetic docs share most vocabulary across langs, so the
    // stopword heuristic is weak here — assert clearly better than the
    // 5-class chance rate (0.2), not production-grade accuracy
    assert(correct.toDouble / total > 0.3,
      s"langid accuracy ${correct.toDouble / total}")
  }

  test("qt9 repetition matches a driver-side recompute on every doc") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val got = TextOps.repetition(spark, Sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
    assert(docs.nonEmpty && got.size === docs.length)
    docs.foreach { r =>
      val id = r.getLong(0)
      val toks = r.getString(1).split(" ").filter(_.nonEmpty)
      val n = toks.length
      val tf = toks.groupBy(identity).map(_._2.length)
      val g3 = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val cf = g3.groupBy(identity).map(_._2.length)
      val want = (
        n.toLong,
        if (n == 0) 0.0 else r4((n - tf.size).toDouble / n),
        if (n == 0) 0.0 else r4(tf.max.toDouble / n),
        if (g3.isEmpty) 0.0 else r4(cf.filter(_ > 1).sum.toDouble / g3.size))
      assert(got(id) === want, s"doc $id")
    }
  }

  test("token-stats kernel == driver recompute on edge and 100k-token documents") {
    import spark.implicits._
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    def want(text: String) = {
      val toks = text.split(" ").filter(_.nonEmpty)
      val n = toks.length
      val tf = toks.groupBy(identity).map(_._2.length)
      val top = if (n == 0) 0 else tf.max
      (n.toLong, tf.size.toLong, top.toLong,
        if (n == 0) 0.0 else r4((n - tf.size).toDouble / n),
        if (n == 0) 0.0 else r4(top.toDouble / n))
    }
    def stats(docs: Seq[(Long, String)]) =
      TextOps.qualitySignals(docs.toDF("doc_id", "text").withColumn("lang", lit("en")),
          25L, 0.01, 0.65, 0.2)
        .select("doc_id", "n_tok", "n_uniq", "top_tf", "dup_frac", "top_frac", "reason")
        .as[(Long, Long, Long, Long, Double, Double, String)].collect()
        .map(r => r._1 -> r).toMap
    val edge = Seq(1L -> "", 2L -> "solo", 3L -> "x x x x x", 4L -> "  a  b   a ",
      5L -> "b a c a b a")
    val got = stats(edge)
    edge.foreach { case (id, text) =>
      val (_, n, u, top, dup, tp, _) = got(id)
      assert((n, u, top, dup, tp) === want(text), s"doc $id")
    }
    assert(got(1L)._7 === "too_short")
    // one 100k-token doc drawn from 60k words (~49k distinct): a
    // per-distinct-token count would be O(n_tok × n_uniq), ~5e9 lambda calls
    val rnd = new scala.util.Random(42)
    val big = Seq.fill(100000)(s"w${rnd.nextInt(60000)}").mkString(" ")
    val t0 = System.nanoTime()
    val (_, n, u, top, dup, tp, _) = stats(Seq(9L -> big))(9L)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"100k-token doc ($u distinct): $sec%.2f s")
    assert((n, u, top, dup, tp) === want(big))
    assert(u > 45000 && u < 55000, s"distinct tokens $u")
    assert(sec < 60, f"token stats took $sec%.1f s on one 100k-token doc")
  }

  test("qd9 incremental dedup == the cross-split slice of the full LSH pairs") {
    import org.apache.spark.sql.functions._
    val inc = Dedup.incrementalDedup(spark, Sf001)
      .select(least(col("doc_new"), col("doc_old")).as("doc_a"),
        greatest(col("doc_new"), col("doc_old")).as("doc_b"), col("n_bands"))
    // full self-join pairs where exactly one side is on the increment
    val fullX = Dedup.minhashLsh(spark, Sf001)
      .filter((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
      .select("doc_a", "doc_b", "n_bands")
    assert(inc.exceptAll(fullX).count() === 0)
    assert(fullX.exceptAll(inc).count() === 0)
    // orientation: new on the increment, old in the corpus
    val bad = Dedup.incrementalDedup(spark, Sf001)
      .filter(col("doc_new") % 5 =!= 0 || col("doc_old") % 5 === 0)
    assert(bad.count() === 0)
  }

  test("qa13 mixture sample: feasible targets, driver-recounted kept sets, weighted ratios") {
    def md5bp(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap

    for (weights <- Seq(Seq("en" -> 1, "fr" -> 1, "es" -> 1, "de" -> 1, "zh" -> 1),
                        Seq("en" -> 3, "fr" -> 1, "zh" -> 2))) {
      val wm = weights.toMap
      val units = weights.map { case (l, w) => counts(l) / w }.min
      val rows = graft.analytics.Relational.mixtureSample(spark, Sf001, weights).collect()
      assert(rows.length === weights.length)
      rows.foreach { r =>
        val (lang, nTotal, nTarget, thr, nKept) =
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        assert(nTotal === counts(lang))
        assert(nTarget === units * wm(lang), s"$lang target")
        assert(nTarget <= nTotal) // never oversamples a group
        assert(thr === math.floor(nTarget * 10000.0 / nTotal).toLong)
        val kept = docs.count { case (id, l) => l == lang && md5bp(id) < thr }
        assert(nKept === kept.toLong, s"$lang kept")
      }
    }
    // a weighted group absent from the corpus => infeasible mixture:
    // it still appears in the audit (n_total=0) and every target is 0
    val inf = graft.analytics.Relational
      .mixtureSample(spark, Sf001, Seq("en" -> 1, "xx" -> 2)).collect()
    assert(inf.length === 2)
    val byLang = inf.map(r => r.getString(0) -> r).toMap
    assert(byLang("xx").getLong(1) === 0L) // n_total
    inf.foreach { r =>
      assert(r.getLong(2) === 0L, s"${r.getString(0)} target") // n_target
      assert(r.getLong(4) === 0L, s"${r.getString(0)} kept")   // n_kept
    }
  }

  test("qd10 bloom dedup core: planted dups flagged exactly, empty corpus safe") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = (1 to 300).map(i => (i.toLong, s"h${i % 120}")).toDF("doc_id", "h")
    val corpusH = (1 to 300).map(i => s"h${i % 120}").toSet
    // every third increment doc is a planted exact dup; the rest are new
    val inc = (1000 to 1100)
      .map(i => (i.toLong, if (i % 3 == 0) s"h${i % 120}" else s"x$i"))
      .toDF("doc_id", "h")
    val out = Dedup.bloomDedupCore(spark, corpus, inc, 1000L, 10000L).collect()
    assert(out.length === 101)
    out.foreach { r =>
      assert(r.getBoolean(2) === corpusH.contains(r.getString(1)),
        s"doc ${r.getLong(0)} (${r.getString(1)})")
    }
    assert(out.count(_.getBoolean(2)) === (1000 to 1100).count(_ % 3 == 0))
    // empty corpus: the bloom aggregate yields NULL -> nothing is a dup
    val out2 = Dedup.bloomDedupCore(spark, corpus.limit(0), inc, 1000L, 10000L).collect()
    assert(out2.length === 101)
    assert(out2.forall(!_.getBoolean(2)))
  }

  test("qt10 quality filter: keep iff pass, reasons from the enum, too_short ≡ qt9 n_tok") {
    val out = TextOps.qualityFilter(spark, Sf01).cache()
    val nDocs = spark.read.parquet(s"$Sf01/documents.parquet").count()
    assert(out.count() === nDocs)
    assert(out.filter(col("keep") =!= (col("reason") === "pass")).count() === 0)
    val reasons = out.select("reason").distinct().collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(
      Set("pass", "too_short", "low_stopword", "repetitive", "top_token")))
    // the first rule's population must agree with qt9's token counts
    val shortIds = out.filter(col("reason") === "too_short")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val qt9Short = TextOps.repetition(spark, Sf01)
      .filter(col("n_tok") < 25).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shortIds === qt9Short)
  }

  test("qd14 pagerank == driver power-iteration recompute; mass conserved; degree correlates with rank") {
    val edges = graft.text.Dedup.symEdges(spark, Sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = graft.text.Dedup.pageRank(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    val n = deg.size
    val cq = math.floor((1.0 - 0.85) * 1e8 / n + 0.5).toLong
    var pr = deg.map { case (v, d) => v -> math.floor(1e8 / n + 0.5).toLong }
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => math.floor(pr(u) / deg(u).toDouble + 0.5).toLong }.sum
      }
      pr = pr.map { case (v, _) =>
        v -> (cq + math.floor(0.85 * contrib.getOrElse(v, 0L) + 0.5).toLong) }
    }
    val want = got.map(g => (g._1, deg(g._1), pr(g._1) / 1e8)).toSet
    assert(got.toSet === want)
    assert(got.length === n)
    // synchronous PR conserves mass up to per-node rounding (±1e-8 each)
    val mass = got.map(_._3).sum
    assert(math.abs(mass - 1.0) < n * 2e-8 + 1e-6, s"mass=$mass")
    // the highest-degree node should outrank the lowest-degree node
    val hi = got.maxBy(_._2); val lo = got.minBy(_._2)
    assert(hi._2 == lo._2 || hi._3 >= lo._3)
  }

  test("qv8 centroid outlier == driver recompute; own-label centroid beats foreign ones on average") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val vecs = graft.util.Tables.embeddings(spark, Sf001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    val cents = vecs.groupBy(_._2).map { case (l, g) =>
      l -> Array.tabulate(64) { i =>
        val sq = g.map(v => math.floor(v._3(i) * 1000000d + 0.5d).toLong).sum
        math.floor(sq.toDouble / g.length + 0.5) / 1000000d
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }; d
    }
    def cosTo(v: Array[Double], c: Array[Double]): Double =
      dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c)))
    val want = vecs.map { case (id, l, v) =>
      val cc = r4(cosTo(v, cents(l)))
      (id, l, cc, if (cc < 0.2) 1 else 0)
    }.toSet
    val got = Similarity.centroidOutlier(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === want)
    // purity signal: mean cos to own centroid must beat mean cos to other centroids
    val own = vecs.map { case (_, l, v) => cosTo(v, cents(l)) }
    val foreign = vecs.flatMap { case (_, l, v) =>
      cents.collect { case (l2, c) if l2 != l => cosTo(v, c) } }
    assert(own.sum / own.length > foreign.sum / foreign.length)
  }

  test("qt18 source scorecard == driver recompute") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val docs = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "source", "lang", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
    val dupTexts = docs.groupBy(_._5).filter(_._2.length > 1).keySet
    val want = docs.groupBy(_._2).map { case (src, g) =>
      val toks = g.map(_._5.split(" ").count(_.nonEmpty).toLong).sum
      src -> (g.length.toLong, toks, r4(g.map(_._4).sum.toDouble / g.length),
        g.map(_._3).distinct.length.toLong,
        g.count(d => dupTexts(d._5)).toLong,
        r4(g.count(d => dupTexts(d._5)).toDouble / g.length))
    }
    val got = TextOps.sourceScorecard(spark, Sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got === want)
    assert(got.values.map(_._1).sum === docs.length.toLong)
  }

  test("qd16 canonical == driver election over qd6 labels and qd14 ranks") {
    val labels = graft.text.Dedup.dupClusters(spark, Sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = graft.text.Dedup.pageRank(spark, Sf001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val chars = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "n_chars").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = labels.groupBy(_._2).map { case (cid, ms) =>
      val ids = ms.keys.toSeq
      val win = ids.minBy(id => (-pr(id), -chars(id), id))
      (cid, win, ids.size.toLong, pr(win))
    }.toSet
    val got = graft.text.Dedup.canonical(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    // every canonical really is a member of its own cluster
    assert(got.forall(g => labels(g._2) == g._1))
  }

  test("qv10 index stats: shares sum to 1, counts cover the collection, skew flags consistent") {
    val s = Similarity.indexStats(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    val total = graft.util.Tables.embeddings(spark, Sf001).count()
    assert(s.map(_._2).sum === total)
    assert(math.abs(s.map(_._3).sum - 1.0) < 1e-2)
    assert(s.forall(c => (c._4 > 2.0) == (c._5 == 1)))
    // skew is share × nCells
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    s.foreach(c => assert(c._4 === r4(c._2 * 16.0 / total)))
  }

  test("qd15 novelty == driver recompute; doc 0 fully novel; novelty falls with position on dup-heavy corpora") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val docs = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val firsts = docs.flatMap { case (id, t) => shingles(t).map(_ -> id) }
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).min }
    val want = docs.map { case (id, t) =>
      val ss = shingles(t)
      val nov = ss.count(firsts(_) == id).toLong
      id -> ((ss.size.toLong, nov, if (ss.isEmpty) 0.0 else r4(nov.toDouble / ss.size)))
    }.toMap
    val got = graft.text.Dedup.novelty(spark, Sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === want)
    // the lowest doc_id owns every one of its shingles by construction
    val minId = docs.map(_._1).min
    assert(got(minId)._3 === 1.0)
  }

  test("qv9 centroid drift == driver recompute; same-distribution halves stay undrifted") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val vecs = graft.util.Tables.embeddings(spark, Sf001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cent(g: Array[(Long, Int, Array[Double])]): Array[Double] =
      Array.tabulate(64) { i =>
        val sq = g.map(v => math.floor(v._3(i) * 1000000d + 0.5d).toLong).sum
        math.floor(sq.toDouble / g.length + 0.5) / 1000000d
      }
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val want = vecs.groupBy(_._2).map { case (l, g) =>
      val (o, n) = g.partition(_._1 % 2 == 0)
      val (co, cn) = (cent(o), cent(n))
      val cos = r4(dot(co, cn) / (math.sqrt(dot(co, co)) * math.sqrt(dot(cn, cn))))
      val shift = r4(math.sqrt(co.zip(cn).map { case (x, y) => (x - y) * (x - y) }.sum))
      (l, o.length.toLong, n.length.toLong, cos, shift, if (cos < 0.98) 1 else 0)
    }.toSet
    val got = Similarity.centroidDrift(spark, Sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getInt(5))).toSet
    assert(got === want)
    // well-formed monitor output: bounded cosine, non-negative shift,
    // flag exactly tracks the threshold. (No "no false alarms" claim —
    // these synthetic embeddings are near-isotropic, so ~25-vector
    // half-centroids are sampling noise and SHOULD flag; production
    // snapshots have millions per class.)
    assert(got.forall(g => g._4 >= -1.0001 && g._4 <= 1.0001 && g._5 >= 0.0))
    assert(got.forall(g => (g._4 < 0.98) == (g._6 == 1)))
    assert(got.size === vecs.map(_._2).distinct.length)
  }

  test("qd11 semantic dedup == driver brute force within cells") {
    val out = Similarity.semanticDedup(spark, Sf001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
    val vecs = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(out.length === vecs.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((_, members) <- out.groupBy(_._2._1); (id, (_, nPrior, keep)) <- members) {
      val priors = members.map(_._1).count(o => o < id && cos(vecs(o), vecs(id)) >= 0.3)
      assert((priors == 0) === keep, s"vec $id keep")
      assert(priors === nPrior, s"vec $id n_prior_dups")
    }
  }

  test("qd11 hot-cell guard fails loudly, naming both remedies") {
    // nCells=1 funnels every sf0.001 vector into one cell; maxCell=1
    // makes that cell hot by construction.
    val e = intercept[IllegalArgumentException](
      Similarity.semanticDedup(spark, Sf001, nCells = 1, maxCell = 1L))
    assert(e.getMessage.contains("hot cell"))
    assert(e.getMessage.contains("nCells"))
    assert(e.getMessage.contains("maxCell"))
  }

  test("qd5 hot-label guard fails loudly, naming both remedies") {
    // every sf0.001 label holds ≥2 vectors, so maxLabel=1 makes each
    // hot by construction — the planted majority-class shape
    val e = intercept[IllegalArgumentException](
      Similarity.embedNearDup(spark, Sf001, maxLabel = 1L))
    assert(e.getMessage.contains("hot label"))
    assert(e.getMessage.contains("maxLabel=1"))
    assert(e.getMessage.contains("semanticDedup"), "the IVF-celled scale remedy must be named")
    // boundary is admission: the biggest sf0.001 label holds 63
    // vectors, so maxLabel=63 passes and emits the same pairs as the
    // disabled guard (and the default EmbedMaxLabel=10⁴ registration)
    val atCap = Similarity.embedNearDup(spark, Sf001, maxLabel = 63L).count()
    assert(atCap === Similarity.embedNearDup(spark, Sf001, maxLabel = Long.MaxValue).count())
    assert(atCap === Similarity.embedNearDup(spark, Sf001).count())
    assert(atCap > 0L)
  }

  test("qt12 vocab coverage == driver recompute over top-32 vocab") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val out = TextOps.vocabCoverage(spark, Sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
    val vocab = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (tok, c) => (-c, tok) }.take(32).map(_._1).toSet
    assert(out.keySet === docs.keySet)
    for ((id, toks) <- docs) {
      val oov = toks.count(t => !vocab(t))
      assert(out(id) === ((toks.size.toLong, oov.toLong, r4(oov.toDouble / toks.size))), s"doc $id")
    }
  }

  test("qm5 modality stats: volumes and dup rates agree with the documents table") {
    val s = graft.multimodal.BinaryMeta.modalityStats(spark, Sf001).cache()
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val byLang = docs.groupBy(_._1)
    assert(s.count() === byLang.size.toLong)
    for (r <- s.collect()) {
      val lang = r.getAs[String]("media_type").stripPrefix("text/")
      val g = byLang(lang).map(_._2)
      assert(r.getAs[Long]("n_items") === g.length.toLong)
      assert(r.getAs[Long]("total_bytes") ===
        g.map(_.getBytes("UTF-8").length.toLong).sum)
      assert(r.getAs[Long]("n_distinct") === g.distinct.length.toLong)
    }
  }

  test("qm4 shard manifest: shards cover every byte once, respect the budget rule") {
    val budget = 4096L
    val m = graft.multimodal.BinaryMeta.shardManifest(spark, Sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val docs = graft.util.Tables.documents(spark, Sf001)
      .selectExpr("doc_id", "concat('text/', lang) AS mt", "octet_length(encode(text, 'UTF-8')) AS nb")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
    // totals conserve: every payload byte lands in exactly one shard
    assert(m.map(_._4).sum === docs.map(_._3).sum)
    assert(m.map(_._3).sum === docs.length.toLong)
    for ((mt, g) <- m.groupBy(_._1)) {
      val sorted = g.sortBy(_._2)
      // shard ids contiguous from 0? not necessarily (an oversized doc can
      // skip ids) — but doc ranges must not overlap across shards
      val ranges = sorted.map(s => (s._5, s._6))
      assert(ranges.zip(ranges.drop(1)).forall { case ((_, b), (c, _)) => b < c },
        s"$mt shard doc ranges overlap")
      // budget rule: a shard holding >1 item began under budget, so its
      // exclusive prefix stays < budget + its last item
      val byDoc = docs.filter(_._2 == mt).sortBy(_._1)
      val prefix = byDoc.scanLeft(0L)(_ + _._3)
      byDoc.zip(prefix).foreach { case ((id, _, _), ex) =>
        val shard = ex / budget
        val s = sorted.find(s => s._5 <= id && id <= s._6).get
        assert(s._2 === shard, s"doc $id in wrong shard")
      }
    }
  }

  test("qm3 phash near-dup == driver aHash + brute-force hamming") {
    val out = graft.multimodal.BinaryMeta.phashNearDup(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).sortBy(_._1)
    def sig(b: Array[Byte]): Long = {
      val sums = new Array[Long](32); val cnts = new Array[Long](32)
      for (i <- b.indices) {
        val blk = (i.toLong * 32 / b.length).toInt
        sums(blk) += b(i) & 0xff; cnts(blk) += 1
      }
      val gsum = sums.sum
      (0 until 32).foldLeft(0L)((s, j) =>
        if (cnts(j) > 0 && sums(j) * b.length > gsum * cnts(j)) s | (1L << j) else s)
    }
    val sigs = docs.map { case (id, b) => id -> sig(b) }
    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      ham = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if ham <= 3
    } yield (sigs(i)._1, sigs(j)._1) -> ham).toMap
    assert(out === expected)
  }

  test("qc2 permutation contract holds for any shard count / epoch count") {
    val nDocs = graft.util.Tables.documents(spark, Sf001).count()
    for (nShards <- Seq(1, 3)) {
      val d = TextOps.epochShuffle(spark, Sf001, nShards = nShards, nEpochs = 3).cache()
      assert(d.count() === 3 * nDocs)
      assert(d.select("epoch", "doc_id").distinct().count() === 3 * nDocs)
      val bad = d.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
        .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
      assert(bad.count() === 0, s"nShards=$nShards: positions must stay contiguous")
      assert(d.filter(col("shard") < 0 || col("shard") >= nShards).count() === 0)
      d.unpersist()
    }
  }

  test("qt22 feature counts are bucket-width invariant") {
    // n_feat counts features, not buckets — rehashing into a different
    // width must leave every doc's count (and the row set) unchanged
    val a = TextOps.dsirWeights(spark, Sf001, nBuckets = 16)
      .select("doc_id", "n_feat")
    val b = TextOps.dsirWeights(spark, Sf001, nBuckets = 256)
      .select("doc_id", "n_feat")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("qc3 datasheet reconciles with qc1's funnel exactly") {
    val card = TextOps.datasetCard(spark, Sf01).cache()
    val funnel = TextOps.corpusBuild(spark, Sf01).cache()
    // per source: the datasheet's doc/char masses are qc1's final set
    val agg = card.groupBy("source")
      .agg(sum("n_docs").as("cd"), sum("n_chars").as("cc"))
    val j = funnel.join(agg, Seq("source"), "left").cache()
    assert(j.filter(col("n_final") > 0 &&
      (col("cd").isNull || col("cd") =!= col("n_final") || col("cc") =!= col("final_chars")))
      .count() === 0)
    assert(j.filter(col("n_final") === 0 && col("cd").isNotNull).count() === 0)
    // shares are a distribution over the final corpus (1e-4 grid × cells)
    val n = card.count()
    val sums = card.agg(sum("doc_share"), sum("tok_share")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) <= n * 1e-4)
    assert(math.abs(sums.getDouble(1) - 1.0) <= n * 1e-4)
    j.unpersist(); funnel.unpersist(); card.unpersist()
  }

  test("qm7 frame near-dup == driver frame-signature intersection") {
    val out = graft.multimodal.BinaryMeta.frameNearDup(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).sortBy(_._1)
    def frames(b: Array[Byte]): Set[Long] = {
      val nFrames = math.max(1, b.length / 256)
      val stride = math.max(1, nFrames / 4)
      Range(0, nFrames, stride).take(4).map { fi =>
        val from = fi * 256; val until = math.min(from + 256, b.length)
        var h = 0L
        for (i <- from until until) h += (b(i) & 0xff).toLong * (i - from + 1)
        h
      }.toSet
    }
    val sigSets = docs.map { case (id, b) => id -> frames(b) }
    // df cap: drop signatures present in > 50 docs (none at this SF,
    // but the recompute applies the rule so defaults can't drift)
    val df = sigSets.flatMap(_._2).groupBy(identity).map { case (h, xs) => h -> xs.length }
    val kept = sigSets.map { case (id, s) => id -> s.filter(df(_) <= 50) }
    val expected = (for {
      i <- kept.indices; j <- (i + 1) until kept.length
      shared = (kept(i)._2 & kept(j)._2).size
      if shared >= 1
      sim = math.floor(shared.toDouble /
        (kept(i)._2.size + kept(j)._2.size - shared) * 10000d + 0.5d) / 10000d
    } yield (kept(i)._1, kept(j)._1) -> (shared.toLong, sim)).toMap
    assert(out === expected)
    assert(out.nonEmpty, "the corpus's exact dups must collide on frames")
  }

  test("qd18 containment == driver rare-shingle recompute; bounds hold") {
    val out = Dedup.containment(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getLong(7)))
      .toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty)).sortBy(_._1)
    // 60-bit md5-prefix hash of each distinct 3-shingle, as TextCore does
    def shSet(t: Array[String]): Set[Long] =
      t.sliding(3).filter(_.length == 3).map { w =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.mkString(" ").getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
      }.toSet
    val sets = docs.map { case (id, t) => id -> shSet(t) }
    val df = sets.flatMap(_._2).groupBy(identity).map { case (h, xs) => h -> xs.length }
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      nRare = (sets(i)._2 & sets(j)._2).count(df(_) <= 20)
      if nRare >= 3
      inter = (sets(i)._2 & sets(j)._2).size.toLong
      (sza, szb) = (sets(i)._2.size.toLong, sets(j)._2.size.toLong)
      c = inter.toDouble / math.min(sza, szb)
    } yield (sets(i)._1, sets(j)._1) ->
      (nRare.toLong, inter, sza, szb,
        math.floor(c * 10000d + 0.5d) / 10000d, if (c >= 0.5) 1L else 0L)).toMap
    assert(out === expected)
    assert(out.nonEmpty)
    out.values.foreach { case (nRare, inter, sza, szb, c, _) =>
      assert(nRare <= inter && inter <= math.min(sza, szb) && c > 0.0 && c <= 1.0)
    }
  }

  test("qd13 dup spans == driver longest-common-run over LSH pairs") {
    val out = Dedup.dupSpans(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val pairs = Dedup.minhashLsh(spark, Sf001).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty)).toMap
    def sh3(t: Array[String]): Array[String] =
      t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
    var checked = 0
    for ((a, b) <- pairs) {
      val (sa, sb) = (sh3(docs(a)), sh3(docs(b)))
      // longest diagonal run of equal shingles (DP over match grid)
      val runs = Array.ofDim[Int](sa.length + 1, sb.length + 1)
      var best = 0
      for (ia <- sa.indices; ib <- sb.indices if sa(ia) == sb(ib)) {
        runs(ia + 1)(ib + 1) = runs(ia)(ib) + 1
        best = math.max(best, runs(ia + 1)(ib + 1))
      }
      if (best > 0) {
        assert(out((a, b)) === ((best.toLong, best.toLong + 2)), s"pair ($a,$b)")
        checked += 1
      } else assert(!out.contains((a, b)), s"pair ($a,$b) should have no matches")
    }
    assert(checked > 0 && out.size === checked)
  }

  test("qd12 decontamination == driver shingle-set overlap") {
    val out = Dedup.decontaminate(spark, Sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh5(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(5).filter(_.length == 5)
        .map(_.mkString(" ")).toSet
    val evalShingles = docs.collect { case (id, t) if id % 50 == 0 => sh5(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val train = docs.filter { case (id, _) => id % 50 != 0 }
    assert(out.keySet === train.keySet)
    for ((id, t) <- train) {
      val hits = sh5(t).count(evalShingles)
      assert(out(id) === ((hits.toLong, hits > 0)), s"doc $id")
    }
  }

  test("qv5 PQ/ADC == driver recompute (codes, distance tables, top-k)") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val out = Similarity.pqAnn(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val vecs = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (nSub, subDim, nCode, k) = (4, 16, 16, 5)
    def sub(v: Array[Double], m: Int) = v.slice(m * subDim, (m + 1) * subDim)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = vecs.take(nCode).map(_._2)
    // initial assignment, then one Lloyd step with r4-quantized means
    def assign(cbs: Array[Array[Array[Double]]], codeIds: Array[Array[Int]]) =
      vecs.map { case (id, v) => id -> (0 until nSub).map { m =>
        val ds = cbs(m).map(c => d2(sub(v, m), c))
        codeIds(m)(ds.indexOf(ds.min))
      }.toArray }.toMap
    val cb0 = Array.tabulate(nSub)(m => seeds.map(s => sub(s, m)))
    val a0 = assign(cb0, Array.fill(nSub)((0 until nCode).toArray))
    val refined: Array[Array[(Int, Array[Double])]] = Array.tabulate(nSub) { m =>
      vecs.groupBy { case (id, _) => a0(id)(m) }.toArray.sortBy(_._1).map {
        case (code, members) =>
          code -> Array.tabulate(subDim)(sd => r4(
            members.map { case (_, v) => sub(v, m)(sd) }.sum / members.length))
      }
    }
    val codes = assign(refined.map(_.map(_._2)), refined.map(_.map(_._1)))
    val qids = vecs.map(_._1).filter(_ % 100 == 0)
    val vmap = vecs.toMap
    for (qid <- qids) {
      val dtab = Array.tabulate(nSub)(m =>
        refined(m).map { case (code, c) => code -> r4(d2(sub(vmap(qid), m), c)) }.toMap)
      val ranked = vecs.filter(_._1 != qid).map { case (id, _) =>
        id -> (0 until nSub).map(m => dtab(m)(codes(id)(m))).sum
      }.sortBy { case (id, ad2) => (ad2, id) }.take(k)
      ranked.zipWithIndex.foreach { case ((id, ad2), i) =>
        assert(out((qid, id)) === ((r4(ad2), i + 1)), s"q$qid -> $id")
      }
    }
  }

  test("qv11 SQ8 == driver recompute (quantizer, reconstruction, top-k)") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    def r6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val out = Similarity.sq8Ann(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val vecs = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val dims = 0 until 64
    val mn = dims.map(d => vecs.map(_._2(d)).min).toArray
    val mx = dims.map(d => vecs.map(_._2(d)).max).toArray
    val sc = dims.map(d => if (mx(d) > mn(d)) (mx(d) - mn(d)) / 255d else 1d).toArray
    def recon(v: Array[Double]): Array[Double] = dims.map { d =>
      val code = math.min(255d, math.max(0d, math.floor((v(d) - mn(d)) / sc(d) + 0.5)))
      r6(mn(d) + code * sc(d))
    }.toArray
    // every code must round-trip into [0, 255] (the one-byte artifact claim)
    for ((_, v) <- vecs; d <- dims) {
      val c = math.floor((v(d) - mn(d)) / sc(d) + 0.5)
      assert(c >= -1e-9 && c <= 255 + 1e-9, s"code $c out of byte range at dim $d")
    }
    val rec = vecs.map { case (id, v) => id -> recon(v) }.toMap
    val k = 5
    for (qid <- vecs.map(_._1).filter(_ % 100 == 0)) {
      val av = vecs.toMap.apply(qid)
      val ranked = vecs.filter(_._1 != qid).map { case (id, _) =>
        val rv = rec(id)
        id -> dims.map(d => (av(d) - rv(d)) * (av(d) - rv(d))).sum
      }.sortBy { case (id, ad2) => (ad2, id) }.take(k)
      ranked.zipWithIndex.foreach { case ((id, ad2), i) =>
        assert(out((qid, id)) === ((r4(ad2), i + 1)), s"q$qid -> $id")
      }
    }
  }

  test("qt19 PII scan counts planted matches; Spark and DuckDB-dialect regexes agree") {
    import spark.implicits._
    // the corpus text is synthetic words (zero natural hits — verified
    // by the oracle run), so drive the core with planted documents
    val docs = Seq(
      (1L, "contact me at alice.smith+x@example.co.uk or bob@sub.domain.org thanks"),
      (2L, "server 10.0.0.1 talked to 192.168.001.254 then died"),
      (3L, "call 555-123-4567 or 555 987 6543 today"),
      (4L, "no sensitive content in this perfectly ordinary sentence"),
      (5L, "mixed: c@d.io on 8.8.8.8 at 111-222-3333"),
      (6L, "")).toDF("doc_id", "text")
    val got = graft.text.TextOps.piiScanCore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got(1L) === ((2L, 0L, 0L, 1)))
    assert(got(2L) === ((0L, 0L, 2L, 1)))
    assert(got(3L) === ((0L, 2L, 0L, 1)))
    assert(got(4L) === ((0L, 0L, 0L, 0)))
    assert(got(5L) === ((1L, 1L, 1L, 1)))
    assert(got(6L) === ((0L, 0L, 0L, 0)))
  }

  test("qt23 PII redact rewrites planted matches and counts them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact alice.smith+x@example.co.uk or bob@sub.domain.org thanks"),
      (2L, "server 10.0.0.1 talked to 192.168.001.254 then died"),
      (3L, "call 555-123-4567 today"),
      (4L, "no sensitive content here"),
      (5L, "")).toDF("doc_id", "text")
    val got = graft.text.TextOps.piiRedactCore(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) === (("contact <EMAIL> or <EMAIL> thanks", 2L)))
    assert(got(2L) === (("server <IP> talked to <IP> then died", 2L)))
    assert(got(3L) === (("call <PHONE> today", 1L)))
    assert(got(4L) === (("no sensitive content here", 0L)))
    assert(got(5L) === (("", 0L)))
    // on the real corpus the redacted text must contain no residual match
    val res = graft.text.TextOps.piiRedact(spark, Sf001)
    val residual = graft.text.TextOps.piiScanCore(
      res.select(col("doc_id"), col("text_redacted").as("text")))
    assert(residual.filter(col("has_pii") === 1).count() === 0)
  }

  test("qv13 k-means == driver Lloyd recompute; inertia non-increasing over rounds") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    def r6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val vecs = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val nCells = 16
    def d2(a: Array[Double], b: Array[Double]) =
      a.indices.map(d => (a(d) - b(d)) * (a(d) - b(d))).sum
    def assign(cent: Seq[(Long, Array[Double])]) = vecs.map { case (id, v) =>
      // first-min tie-break over cells sorted ascending == the packed
      // kernel's first-index rule
      (id, v, cent.sortBy(_._1).minBy { case (c, cv) => (d2(v, cv), c) })
    }
    def update(asg: Seq[(Long, Array[Double], (Long, Array[Double]))]) =
      asg.groupBy(_._3._1).toSeq.map { case (cell, members) =>
        cell -> Array.tabulate(64) { d =>
          val xs = members.map(m => math.floor(m._2(d) * 1e6 + 0.5).toLong)
          math.floor(xs.sum.toDouble / xs.length + 0.5) / 1e6
        }
      }
    var cent: Seq[(Long, Array[Double])] =
      vecs.take(nCells).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 2) {
      val asg = assign(cent)
      inertias += asg.map(a => math.floor(d2(a._2, a._3._2) * 1e4 + 0.5).toLong).sum / 1e4
      cent = update(asg)
    }
    val fin = assign(cent)
    val want = fin.groupBy(_._3._1).map { case (cell, members) =>
      cell -> ((members.size.toLong,
        r4(members.map(m => math.floor(d2(m._2, m._3._2) * 1e4 + 0.5).toLong).sum / 1e4)))
    }
    val got = Similarity.kmeansFit(spark, Sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === want)
    // Lloyd monotonicity (up to the 1e-6 centroid quantization):
    // later-round inertia never exceeds an earlier round's
    inertias += want.values.map(_._2).sum
    inertias.toSeq.sliding(2).foreach { w =>
      val (a, b) = (w.head, w.last)
      assert(b <= a + 1e-3 * a, s"inertia rose: $inertias")
    }
  }

  test("qv12 refine == driver two-stage recompute; candK=n-1 degenerates to exact qv1") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val out = Similarity.refineAnn(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val vecs = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val (preDims, candK, k) = (16, 50, 5)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(d => a(d) * b(d)).sum
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val vmap = vecs.toMap
    for (qid <- vecs.map(_._1).filter(_ % 100 == 0)) {
      val av = vmap(qid)
      val cands = vecs.filter(_._1 != qid).map { case (id, bv) =>
        id -> (0 until preDims).map(d => (av(d) - bv(d)) * (av(d) - bv(d))).sum
      }.sortBy { case (id, pd2) => (pd2, id) }.take(candK)
      val ranked = cands.map { case (id, _) =>
        id -> dot(av, vmap(id)) / (nrm(qid) * nrm(id))
      }.sortBy { case (id, cos) => (-cos, id) }.take(k)
      ranked.zipWithIndex.foreach { case ((id, cos), i) =>
        assert(out((qid, id)) === ((r4(cos), i + 1)), s"q$qid -> $id")
      }
    }
    // candK covering the whole collection makes stage 1 a no-op: the
    // refine result must equal the exact brute-force qv1 top-k
    val n = vecs.length
    val exact = Similarity.cosineTopK(spark, Sf001, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val full = Similarity.refineAnn(spark, Sf001, candK = n - 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    assert(full === exact)
  }

  test("qv6 IVF-PQ == driver composition of probes × cells × PQ index") {
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val out = Similarity.ivfPqAnn(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // compose the shared stages the operator is built from — each has
    // its own oracle/spec; this asserts the composition is exact
    val cells = Similarity.cellAssignment(spark, Sf001, 16).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) -> r.getInt(r.fieldIndex("cell"))).toMap
    val probes = Similarity.ivfProbes(spark, Sf001, 16, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val (cwDf, dmapsDf) = Similarity.pqIndex(spark, Sf001, 4, 16)
    val cw = cwDf.collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val dmaps = dmapsDf.collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getMap[Long, Double])).toMap
    val expected = probes.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val probed = cs.map(_._2).toSet
      cells.keys.filter(v => v != qid && probed(cells(v))).map { v =>
        val ad2 = (0 until 4).map(m => dmaps(qid)(m)(cw(v)(m))).sum
        (qid, v, ad2)
      }.toSeq.sortBy { case (_, v, d) => (d, v) }.take(5).zipWithIndex
        .map { case ((q, v, d), i) => (q, v, r4(d), i + 1) }
    }
    assert(out.sortBy(r => (r._1, r._4)) === expected.sortBy(r => (r._1, r._4)))
  }

  test("qt13 boilerplate coverage: bounds hold and the keep flag follows the fraction") {
    val b = TextOps.boilerplate(spark, Sf001).cache()
    assert(b.count() === 500)
    assert(b.filter(col("n_boiler") > col("n_bg")).count() === 0)
    assert(b.filter(col("boiler_frac") < 0.0 || col("boiler_frac") > 1.0).count() === 0)
    assert(b.filter((col("boiler_frac") <= 0.5) =!= (col("keep") === 1)).count() === 0)
    // word-salad from a tiny vocab: frequent bigrams must exist, so some
    // docs are genuinely covered (the operator has signal, not all-zero)
    assert(b.filter(col("n_boiler") > 0).count() > 0)
  }

  test("qt14 unigram nll: positive for non-empty docs, own-language docs beat shuffled-language scoring") {
    val n = TextOps.unigramNll(spark, Sf01).cache()
    assert(n.count() === 500)
    assert(n.filter(col("n_tok") > 0 && col("nll") <= 0.0).count() === 0)
    // a unigram LM's mean nll per language ~ entropy of its token
    // distribution; every doc's nll must be finite and bounded by
    // log(vocab-size * safety) — catches broken probability mass
    assert(n.filter(col("nll") > 20.0).count() === 0)
  }

  test("qt16 char entropy == driver histogram recompute; plan has zero exchanges") {
    val df = TextOps.charEntropy(spark, Sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"qt16 must be a stateless projection:\n${p.take(1200)}")
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    val want = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "text").collect().map { r =>
        val (id, t) = (r.getLong(0), r.getString(1))
        val counts = t.groupBy(identity).map(_._2.length.toLong).toSeq
        val n = t.length.toDouble
        val entQ = counts.map { k =>
          math.floor(-(k / n) * (math.log(k / n) / math.log(2.0)) * 1000000d + 0.5d).toLong
        }.sum
        val ent = r4(entQ / 1000000d)
        (id, t.length.toLong, counts.length, ent, if (ent < 3.0) 1 else 0)
      }.toSet
    assert(got === want)
    // tiny-vocab word salad is high-entropy: nothing should flag
    assert(got.forall(_._4 > 3.0))
  }

  test("qt17 bigram nll == driver LM recompute; conditioning beats the unigram LM") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val docs = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bgs = docs.flatMap { case (id, l, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      ws.zip(ws.drop(1)).map { case (a, b) => (id, l, a, b) }
    }
    val bcnt = bgs.groupBy(b => (b._2, b._3, b._4)).map { case (k, g) => k -> g.length.toLong }
    val wcnt = bcnt.groupBy { case ((l, w1, _), _) => (l, w1) }.map { case (k, g) => k -> g.values.sum }
    val ucnt = bcnt.groupBy { case ((l, _, w2), _) => (l, w2) }.map { case (k, g) => k -> g.values.sum }
    val tot = ucnt.groupBy(_._1._1).map { case (l, g) => l -> g.values.sum }
    val lpq = bcnt.map { case (k @ (l, w1, w2), cb) =>
      k -> math.floor(math.log(0.7 * (cb.toDouble / wcnt((l, w1))) +
        0.3 * (ucnt((l, w2)).toDouble / tot(l))) * 10000d + 0.5d).toLong
    }
    val want = docs.map { case (id, l, _) =>
      val mine = bgs.filter(_._1 == id)
      if (mine.isEmpty) (id, l, 0L, 0.0)
      else {
        val slp = mine.map(b => lpq((b._2, b._3, b._4))).sum
        (id, l, mine.length.toLong, r4(-(slp / 10000.0 / mine.length)))
      }
    }.toSet
    val got = TextOps.bigramNll(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    // conditioning on w1 must tighten the model: corpus-mean bigram NLL
    // strictly below qt14's unigram NLL
    val uni = TextOps.unigramNll(spark, Sf001).collect()
      .map(r => r.getDouble(3)).filter(_ > 0)
    val bi = got.toSeq.map(_._4).filter(_ > 0)
    assert(bi.sum / bi.size < uni.sum / uni.size,
      s"bigram ${bi.sum / bi.size} should beat unigram ${uni.sum / uni.size}")
  }

  test("qt15 line dedup matches a driver segment recompute and rewrites in order") {
    val docs = graft.util.Tables.documents(spark, Sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def segsOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
    val docCount = docs.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val expected = docs.map { case (id, t) =>
      val ss = segsOf(t)
      val kept = ss.filter(docCount(_) < 2)
      (id, ss.length.toLong, kept.length.toLong, kept.mkString(" "))
    }.toSet
    val got = TextOps.lineDedup(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got === expected)
    // the transform has signal on this corpus: some segments cut, none invented
    assert(expected.exists { case (_, n, k, _) => k < n })
    assert(expected.exists { case (_, _, k, _) => k > 0 })
  }

  test("qt11 shard packing reproduces the driver prefix-sum per (source, lang)") {
    val out = TextOps.packShards(spark, Sf001).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(0), r.getLong(3), r.getLong(4)))
    for ((_, rows) <- out.groupBy(r => (r._1, r._2))) {
      var cum = 0L
      for ((_, _, _, nToks, shard) <- rows.sortBy(_._3)) {
        assert(shard === cum / 2048L)
        cum += nToks
      }
    }
  }

  test("qc1 corpus funnel: monotone gates that reconcile with the stage operators") {
    val m = TextOps.corpusBuild(spark, Sf01).cache()
    val rows = m.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.size === 20, "all 20 sources present")
    for ((s, (n, q, c, d, f, chars)) <- rows) {
      assert(n >= q && q >= c && c >= d && d >= f, s"$s: gates must be monotone")
      assert(f <= 20, s"$s: final count over the cap")
      assert((f == 0) == (chars == 0L), s"$s: final chars ⇔ final docs")
    }
    // stage 1 reconciles with qt10 standalone
    val qKeep = TextOps.qualityFilter(spark, Sf01).filter(col("keep"))
      .join(graft.util.Tables.documents(spark, Sf01).select("doc_id", "source"), "doc_id")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map { case (s, v) => s -> v._2 } === qKeep)
    // the funnel removes something at sf0.01 (quality and dedup both bite)
    assert(rows.values.map(_._1).sum > rows.values.map(_._5).sum)
    m.unpersist()
  }

  test("qd17 dup weights: every doc once, cluster mass ≈ 1, singletons weigh 1.0") {
    val d = Dedup.dupWeight(spark, Sf01).cache()
    val nDocs = graft.util.Tables.documents(spark, Sf01).count()
    assert(d.count() === nDocs, "one weight row per document")
    assert(d.select("doc_id").distinct().count() === nDocs)
    // weight is exactly r4(1/sz), so each cluster's total mass is
    // sz * r4(1/sz) — 1.0 up to the 1e-4 grid
    assert(d.filter(abs(col("weight") * col("sz") - 1.0) > col("sz") * 1e-4).count() === 0)
    // docs outside the LSH candidate graph are singletons with weight 1
    val labeled = Dedup.dupClusters(spark, Sf01).select("doc_id")
    val singles = d.join(labeled, Seq("doc_id"), "left_anti")
    assert(singles.filter(col("sz") =!= 1L || col("weight") =!= 1.0).count() === 0)
    // a multi-doc cluster exists at sf0.01 (the corpus has near-dups)
    assert(d.filter(col("sz") > 1).count() > 0)
    d.unpersist()
  }

  test("qt21 domain cap: kept = min(n, cap) and char masses reconcile per source") {
    val d = TextOps.domainCap(spark, Sf01, cap = 20).cache()
    val docs = graft.util.Tables.documents(spark, Sf01)
      .groupBy("source").agg(count(lit(1)).as("n_true"), sum("n_chars").as("chars_true"))
    val j = d.join(docs, "source").cache()
    assert(j.count() === d.count(), "every source present")
    assert(j.filter(col("n_docs") =!= col("n_true")).count() === 0)
    assert(j.filter(col("n_kept") =!= least(col("n_docs"), lit(20L))).count() === 0)
    assert(j.filter(col("n_dropped") =!= col("n_docs") - col("n_kept")).count() === 0)
    assert(j.filter(col("kept_chars") + col("dropped_chars") =!= col("chars_true")).count() === 0)
    // the kept side is the cap LOWEST doc_ids: recompute one source directly
    val src = graft.util.Tables.documents(spark, Sf01)
      .filter(col("source") === d.select("source").head().getString(0))
      .sort("doc_id").select("n_chars").collect().map(_.getLong(0))
    val expect = src.take(20).sum
    val got = j.filter(col("source") === d.select("source").head().getString(0))
      .select("kept_chars").head().getLong(0)
    assert(got === expect, "kept_chars must cover exactly the 20 lowest doc_ids")
    j.unpersist(); d.unpersist()
  }

  test("qt22 DSIR: raw docs only, feature mass conserved, target-like docs score high") {
    val d = TextOps.dsirWeights(spark, Sf01, target = "src0").cache()
    val docs = graft.util.Tables.documents(spark, Sf01)
    val nRaw = docs.filter(col("source") =!= "src0").count()
    assert(d.count() === nRaw, "one weight row per raw (non-target) doc")
    assert(d.filter(col("source") === "src0").count() === 0)
    // n_feat conservation: the per-doc feature counts must sum to the
    // raw corpus's unigram + bigram totals (nothing dropped or duped)
    val nTok = graft.text.TextCore.tokens(spark, Sf01)
      .join(docs.filter(col("source") =!= "src0").select("doc_id"), "doc_id").count()
    val nBg = graft.text.TextCore.shingles(spark, Sf01, 2)
      .join(docs.filter(col("source") =!= "src0").select("doc_id"), "doc_id").count()
    assert(d.agg(sum("n_feat")).head().getLong(0) === nTok + nBg)
    // selected flag is exactly the sign of log_w (on the 1e-4 grid,
    // sign survives quantization for any |slr| >= 1 µ-unit)
    assert(d.filter((col("selected") === 1L) =!= (col("log_w") > 0.0)).count() === 0)
    // determinism: a second run is row-identical
    assert(d.exceptAll(TextOps.dsirWeights(spark, Sf01, target = "src0")).count() === 0)
    d.unpersist()
  }

  test("qc2 epoch shuffle: a permutation per epoch, contiguous in-shard positions") {
    val nShards = 8
    val d = TextOps.epochShuffle(spark, Sf01, nShards = nShards, nEpochs = 2).cache()
    val nDocs = graft.util.Tables.documents(spark, Sf01).count()
    assert(d.count() === 2 * nDocs, "every doc appears exactly once per epoch")
    assert(d.select("epoch", "doc_id").distinct().count() === 2 * nDocs)
    assert(d.filter(col("shard") < 0 || col("shard") >= nShards).count() === 0)
    // positions are 1..n contiguous within every (epoch, shard)
    val bad = d.groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
    assert(bad.count() === 0, "in-shard positions must be a contiguous 1..n rank")
    // the two epochs are genuinely different orders: some doc changes shard
    val moved = d.groupBy("doc_id").agg(countDistinct("shard").as("ns"))
      .filter(col("ns") > 1).count()
    assert(moved > 0, "epoch must reshuffle shard assignment")
    // determinism: recompute matches row-for-row
    assert(d.exceptAll(TextOps.epochShuffle(spark, Sf01, nShards, 2)).count() === 0)
    d.unpersist()
  }

  test("qt24 chunking: spans tile every document, tail reached, md5 exact") {
    val (cs, st) = (64, 48)
    val d = TextOps.chunkDocs(spark, Sf01, cs, st).cache()
    val docs = graft.util.Tables.documents(spark, Sf01)
    // every non-empty doc is chunked; chunk_ids are 0..n-1 contiguous
    val perDoc = d.groupBy("doc_id").agg(count(lit(1)).as("n"),
      min("chunk_id").as("lo"), max("chunk_id").as("hi"),
      max(col("start_tok") + col("n_tok_chunk")).as("covered"))
    assert(perDoc.filter(col("lo") =!= 0L || col("hi") =!= col("n") - 1).count() === 0)
    val nNonEmpty = docs.filter(length(trim(col("text"))) > 0).count()
    assert(perDoc.count() === nNonEmpty)
    // spans: start = chunk_id*stride, 1 <= len <= chunkTok, last chunk
    // ends exactly at n_tok (the tail is always reached)
    assert(d.filter(col("start_tok") =!= col("chunk_id") * st).count() === 0)
    assert(d.filter(col("n_tok_chunk") < 1 || col("n_tok_chunk") > cs).count() === 0)
    val nTok = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_tok"))
    assert(perDoc.join(nTok, "doc_id").filter(col("covered") =!= col("n_tok")).count() === 0)
    // md5 is the hash of the actual token slice — recompute one doc locally
    val row = docs.filter(length(col("text")) > 0).orderBy("doc_id").head
    val toks = row.getAs[String]("text").split(" ").filter(_.nonEmpty)
    val c1 = toks.slice(st, st + cs) // chunk_id=1 span, if it exists
    if (toks.length > cs) {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(c1.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      val got = d.filter(col("doc_id") === row.getAs[Long]("doc_id") && col("chunk_id") === 1L)
        .head.getAs[String]("chunk_md5")
      assert(got === md)
    }
    // single-chunk docs are exactly the short ones
    assert(perDoc.join(nTok, "doc_id")
      .filter((col("n") === 1L) =!= (col("n_tok") <= cs)).count() === 0)
    d.unpersist()
  }

  test("qv18 hybrid search: rrf decomposes into its rank terms, branches agree") {
    val (k, depth) = (10, 20)
    val d = Similarity.hybridSearch(spark, Sf01, k = k, depth = depth).cache()
    assert(d.count() > 0)
    // per query: ranks 1..n contiguous, n <= k
    val per = d.groupBy("qid").agg(count(lit(1)).as("n"),
      min("rnk").as("lo"), max("rnk").as("hi"))
    assert(per.filter(col("n") > k || col("lo") =!= 1 || col("hi") =!= col("n")).count() === 0)
    // rrf == 1/(60+lex) + 1/(60+vec) with absent (0) ranks contributing 0
    val recomputed = when(col("lex_rank") > 0, lit(1.0) / (lit(60) + col("lex_rank"))).otherwise(lit(0.0)) +
      when(col("vec_rank") > 0, lit(1.0) / (lit(60) + col("vec_rank"))).otherwise(lit(0.0))
    assert(d.filter(col("rrf") =!= floor(recomputed * 1000000d + 0.5d) / 1000000d).count() === 0)
    // no row may lose both branches; ranks stay within depth
    assert(d.filter(col("lex_rank") === 0 && col("vec_rank") === 0).count() === 0)
    assert(d.filter(col("lex_rank") > depth || col("vec_rank") > depth).count() === 0)
    // the dense branch IS qv1's ranking: every vec_rank matches cosineTopK
    val dense = Similarity.cosineTopK(spark, Sf01, k = depth)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("vr"))
    val mism = d.filter(col("vec_rank") > 0)
      .join(dense, Seq("qid", "doc_id"), "left")
      .filter(col("vr").isNull || col("vr") =!= col("vec_rank"))
    assert(mism.count() === 0)
    // fusion favors dual-membership: a doc on both lists at rank r beats
    // a doc on one list at the same r — monotonicity of rrf in rnk
    val inv = d.withColumn("nxt", lead("rrf", 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy("qid").orderBy("rnk")))
      .filter(col("nxt").isNotNull && col("nxt") > col("rrf"))
    assert(inv.count() === 0, "rrf must be non-increasing in fused rank")
    d.unpersist()
  }

  test("qv22 hybrid-over-IVF: nProbe=nCells anchor equals the exact hybrid") {
    // with every cell probed the IVF candidate set is the whole
    // collection, so the dense ranking — and therefore the fusion — is
    // exactly qv18's (qv17's anchor discipline)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getInt(5))).toSet
    val exact = rows(Similarity.hybridSearch(spark, Sf001))
    val allProbe = rows(Similarity.hybridSearchIvf(spark, Sf001,
      nCells = 16, nProbe = 16))
    assert(allProbe === exact)
    // the registered nProbe=2 config: a real subset of candidates, same
    // output contract (ranks contiguous from 1, within depth)
    val d = Similarity.hybridSearchIvf(spark, Sf001).cache()
    assert(d.count() > 0)
    val per = d.groupBy("qid").agg(count(lit(1)).as("n"),
      min("rnk").as("lo"), max("rnk").as("hi"))
    assert(per.filter(col("n") > 10 || col("lo") =!= 1 || col("hi") =!= col("n")).count() === 0)
    assert(d.filter(col("lex_rank") === 0 && col("vec_rank") === 0).count() === 0)
    // the dense branch IS qv3's ranking at depth
    val dense = Similarity.ivfAnn(spark, Sf001, k = 20)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("vr"))
    assert(d.filter(col("vec_rank") > 0)
      .join(dense, Seq("qid", "doc_id"), "left")
      .filter(col("vr").isNull || col("vr") =!= col("vec_rank")).count() === 0)
    d.unpersist()
  }

  test("qv23 hybrid ablation: all-probe IVF is perfect, hybrid measures pure fusion drift") {
    val e = Similarity.hybridEval(spark, Sf001, nProbe = 16).cache()
    val bySys = e.collect().groupBy(_.getAs[String]("system"))
    assert(bySys.keySet === Set("ivf", "hybrid"))
    // with every cell probed the IVF ranking IS the gold ordering
    bySys("ivf").foreach { r =>
      assert(r.getAs[Double]("ndcg") === 1.0 && r.getAs[Double]("rr") === 1.0 &&
        r.getAs[Long]("n_hit") === 5L)
    }
    // both systems evaluate the same query set; hybrid metrics bounded
    assert(bySys("ivf").map(_.getAs[Long]("qid")).toSet ===
      bySys("hybrid").map(_.getAs[Long]("qid")).toSet)
    bySys("hybrid").foreach { r =>
      val (n, g, rr) = (r.getAs[Long]("n_hit"), r.getAs[Double]("ndcg"), r.getAs[Double]("rr"))
      assert(n >= 0 && n <= 5 && g >= 0 && g <= 1.0001 && rr >= 0 && rr <= 1.0)
    }
    e.unpersist()
    // the registered config (nProbe=2): output well-formed, 2 rows/qid
    val reg = Similarity.hybridEval(spark, Sf001).cache()
    assert(reg.groupBy("qid").count().filter(col("count") =!= 2).count() === 0)
    assert(reg.count() > 0)
    reg.unpersist()
  }

  test("qv19 rank metrics: gold scored against itself is perfect") {
    val k = 5
    val gold = Similarity.cosineTopK(spark, Sf001, k = k)
      .select(col("qid"), col("vec_id"), (lit(k + 1) - col("rnk")).cast("long").as("rel"))
    val sys = Similarity.cosineTopK(spark, Sf001, k = k)
      .select(col("qid"), col("vec_id"), col("rnk"))
    val m = Similarity.rankMetricsOf(sys, gold, k).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getAs[Long]("n_hit") === k.toLong)
      assert(r.getAs[Double]("ndcg") === 1.0)
      assert(r.getAs[Double]("rr") === 1.0)
    }
  }

  test("qv19 rank metrics: discount math exact on a planted reversal") {
    import spark.implicits._
    val k = 2
    val disc = Similarity.ndcgDiscMicro(k) // (1000000, 630930)
    assert(disc === Seq(1000000L, 630930L))
    val gold = Seq((1L, 10L, 2L), (1L, 11L, 1L)).toDF("qid", "vec_id", "rel")
    // system returns the two gold docs in REVERSED order
    val sys = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("qid", "vec_id", "rnk")
    val r = Similarity.rankMetricsOf(sys, gold, k).collect()
    assert(r.length === 1)
    val idcg = 2L * 1000000L + 1L * 630930L
    val dcg = 1L * 1000000L + 2L * 630930L
    val wantNdcg = math.floor(dcg.toDouble / idcg * 10000 + 0.5) / 10000
    assert(r.head.getAs[Long]("n_hit") === 2L)
    assert(r.head.getAs[Double]("ndcg") === wantNdcg)
    assert(r.head.getAs[Double]("rr") === 1.0, "first hit at rank 1 even reversed")
    // and a system that misses the top doc entirely: rr = 1/2, graded dcg
    val sys2 = Seq((1L, 99L, 1), (1L, 11L, 2)).toDF("qid", "vec_id", "rnk")
    val r2 = Similarity.rankMetricsOf(sys2, gold, k).collect().head
    assert(r2.getAs[Long]("n_hit") === 1L)
    assert(r2.getAs[Double]("rr") === 0.5)
    assert(r2.getAs[Double]("ndcg") ===
      math.floor((1L * 630930L).toDouble / idcg * 10000 + 0.5) / 10000)
  }

  test("qv19 rank metrics: IVF eval bounded and hit-consistent with qv4") {
    val m = Similarity.rankMetrics(spark, Sf001).cache()
    assert(m.count() > 0)
    assert(m.filter(col("ndcg") < 0 || col("ndcg") > 1).count() === 0)
    assert(m.filter(col("rr") < 0 || col("rr") > 1).count() === 0)
    assert(m.filter(col("n_hit") < 0 || col("n_hit") > 5).count() === 0)
    // a query with every gold doc returned in gold order has ndcg 1;
    // any miss strictly lowers dcg below idcg → ndcg < 1 unless n_hit=k
    assert(m.filter(col("ndcg") === 1.0 && col("n_hit") =!= 5).count() === 0)
    // corpus hit total equals qv4's recall numerator on the same stages
    val n4 = Similarity.annEval(spark, Sf001).collect().head.getAs[Long]("n_hit")
    val nHit = m.agg(sum("n_hit")).collect().head.getLong(0)
    assert(nHit === n4, "qv19 hits must equal qv4's n_hit on the shared stages")
    m.unpersist()
  }

  test("qc4 budget plan: planted skewed mix binds the rare source; corpus invariants") {
    import spark.implicits._
    // hand mix: rare source has 10 tokens but a temperature weight of
    // 0.5 (pa_q = z/2); budget = tot/2 = 505 -> target 252 >> avail 10
    val sh = Seq(
      ("rare", 10L, 500000L, 1000000L, 1010L),
      ("big", 1000L, 500000L, 1000000L, 1010L)
    ).toDF("source", "n_tok", "pa_q", "z", "tot")
    val p = TextOps.budgetPlanFrom(sh).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("target_toks"),
        r.getAs[Long]("alloc_toks"), r.getAs[Double]("fill"),
        r.getAs[Long]("binding"))).toMap
    assert(p("rare") === ((252L, 10L, math.floor(10.0 / 252 * 10000 + 0.5) / 10000, 1L)),
      s"rare source must bind: $p")
    assert(p("big") === ((252L, 252L, 1.0, 0L)))
    // corpus: allocation never exceeds target or availability; fill in
    // (0, 1]; weights sum to ~1
    val r = TextOps.budgetPlan(spark, Sf001).cache()
    assert(r.count() > 0)
    assert(r.filter(col("alloc_toks") > col("target_toks") ||
      col("alloc_toks") > col("avail_toks")).count() === 0)
    assert(r.filter(col("fill") <= 0 || col("fill") > 1).count() === 0)
    val wSum = r.agg(sum("w_mix")).collect().head.getDouble(0)
    assert(math.abs(wSum - 1.0) < 0.01, s"weights must sum to ~1, got $wSum")
    // binding consistency: binding == 1 exactly when alloc < target
    assert(r.filter((col("binding") === 1L) =!= (col("alloc_toks") < col("target_toks")))
      .count() === 0)
    r.unpersist()
  }

  test("qt27 chunk dedup: counts agree with qt24, bounds hold, dups are real") {
    val enc = TextOps.chunkDedup(spark, Sf001).cache()
    val ch = TextOps.chunkDocs(spark, Sf001).cache()
    // per-doc chunk counts must equal qt24's
    val n24 = ch.groupBy("doc_id").agg(count(lit(1)).as("n24"))
    assert(enc.join(n24, "doc_id").filter(col("n_chunks") =!= col("n24")).count() === 0)
    assert(enc.count() === n24.count())
    assert(enc.filter(col("n_dup") < 0 || col("n_dup") > col("n_chunks")).count() === 0)
    assert(enc.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() === 0)
    // cross-check the corpus total against the md5 occurrence table
    val totDup = enc.agg(sum("n_dup")).collect().head.getLong(0)
    val occDup = ch.groupBy("chunk_md5").agg(count(lit(1)).as("o"))
      .filter(col("o") >= 2).agg(sum("o")).collect().head
    assert(totDup === (if (occDup.isNullAt(0)) 0L else occDup.getLong(0)),
      "every duplicated chunk occurrence counts exactly once")
    enc.unpersist(); ch.unpersist()
  }

  test("qd19 matches a brute-force span miner on 20 random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (inst <- 1 to 20) {
      val nDocs = 2 + rnd.nextInt(4)
      // tiny shingle alphabet forces cross- and within-doc repeats
      val docs = (1 to nDocs).map { d =>
        d.toLong -> Array.fill(3 + rnd.nextInt(10))(s"s${rnd.nextInt(6)}")
      }
      val rows = docs.flatMap { case (d, sh) =>
        sh.zipWithIndex.map { case (s, i) => (d, i.toLong, s) }
      }.toDF("doc_id", "i", "sh")
      val n = 3; val minSpan = 4
      val got = Dedup.globalDupSpansFrom(rows, n, minSpan).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // brute force: corpus-wide occurrence counts, per-doc islands
      val occ = docs.flatMap(_._2).groupBy(identity).map { case (s, v) => s -> v.length.toLong }
      val want = docs.flatMap { case (d, sh) =>
        val dup = sh.zipWithIndex.filter { case (s, _) => occ(s) >= 2 }
        val islands = dup.foldLeft(List.empty[List[(String, Int)]]) {
          case (acc, (s, i)) => acc match {
            case head :: tail if head.head._2 == i - 1 => ((s, i) :: head) :: tail
            case _ => List((s, i)) :: acc
          }
        }
        islands.map { isl =>
          val run = isl.length.toLong
          (d, isl.map(_._2).min.toLong, run + n - 1, isl.map(p => occ(p._1)).max)
        }.filter(_._3 >= minSpan)
      }.toSet
      assert(got === want, s"instance $inst: $got vs $want")
    }
  }

  test("qt25 matches a sequential BPE trainer on 10 random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(25)
    def sequentialBpe(wf: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
      var words: Map[List[String], Long] =
        wf.groupMapReduce { case (w, _) => w.split("").toList } { case (_, f) => f }(_ + _)
      (1 to rounds).flatMap { r =>
        val pairCounts = words.toSeq.flatMap { case (syms, f) =>
          syms.zip(syms.tail).map(p => p -> f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        if (pairCounts.isEmpty) None
        else {
          val ((l, rr), f) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
          def mergeGreedy(s: List[String]): List[String] = s match {
            case a :: b :: rest if a == l && b == rr => (l + rr) :: mergeGreedy(rest)
            case a :: rest => a :: mergeGreedy(rest)
            case Nil => Nil
          }
          words = words.toSeq.map { case (syms, fr) => (mergeGreedy(syms), fr) }
            .groupMapReduce(_._1)(_._2)(_ + _)
          Some((r, l, rr, f))
        }
      }
    }
    for (inst <- 1 to 10) {
      val alphabet = "abc"
      val wf = (1 to (3 + rnd.nextInt(6))).map { _ =>
        val w = Array.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(3))).mkString
        w -> (1L + rnd.nextInt(5))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val rounds = 4
      val got = TextOps.bpeMergesFrom(wf.toSeq.toDF("tok", "freq"), rounds).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      val want = sequentialBpe(wf, rounds).toSet
      assert(got === want, s"instance $inst over $wf: $got vs $want")
    }
  }

  test("qv21 index upsert: conservation, delta share, base-trained seeds") {
    val u = Similarity.indexUpsert(spark, Sf001).cache()
    assert(u.count() > 0 && u.count() <= 16)
    // conservation: every vector (base + delta) lands in exactly one cell
    val nVec = spark.read.parquet(s"$Sf001/embeddings.parquet").count()
    val agg = u.agg(sum("n_total"), sum("n_added")).collect().head
    assert(agg.getLong(0) === nVec)
    // the delta split is the vec_id % 10 == 7 tenth, exactly
    val nDelta = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .filter(col("vec_id") % 10 === 7).count()
    assert(agg.getLong(1) === nDelta && nDelta > 0)
    assert(u.filter(col("n_total") =!= col("n_base") + col("n_added")).count() === 0)
    // growth is well-defined whenever the cell has base members
    assert(u.filter(col("n_base") > 0 && col("growth").isNull).count() === 0)
    assert(u.filter(col("growth") < 0).count() === 0)
    u.unpersist()
  }

  test("qv20 dim sweep: full-dim level is exact, recall bounded, counts uniform") {
    val s = Similarity.dimSweep(spark, Sf001).cache()
    val rows = s.collect().map(r => r.getAs[Int]("dim") ->
      (r.getAs[Long]("n"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(rows.keySet === Set(4, 8, 16, 32, 64))
    // the d=64 slice is the full vector through the same kernel — its
    // ranking IS qv1's, so recall is exactly 1
    val (n64, h64, r64) = rows(64)
    assert(h64 === n64 && r64 === 1.0, s"full-dim level must be exact: $rows")
    // every level returns the same top-k row count; recall in [0, 1]
    assert(rows.values.map(_._1).toSet.size === 1, "per-level counts must match")
    rows.values.foreach { case (n, h, r) =>
      assert(h >= 0 && h <= n && r >= 0.0 && r <= 1.0)
    }
    // truncation must cost something somewhere below full dim (a sweep
    // where every level is perfect would be vacuous on real data)
    assert(rows.exists { case (d, (_, _, r)) => d < 64 && r < 1.0 },
      s"expected some truncation loss in $rows")
    s.unpersist()
  }

  test("qt25 planted corpus reproduces the hand-computed BPE merges") {
    import spark.implicits._
    // "aaab"x3, "ab"x2. Round 1: (a,a)=6 beats (a,b)=5 -> merge.
    // Round 2: words [aa,a,b]x3, [a,b]x2 -> (a,b)=5 beats (aa,a)=3.
    // Round 3: [aa,ab]x3, [ab]x2 -> (aa,ab)=3.
    // Round 4: single-symbol words only -> no pairs, no row.
    val wf = Seq(("aaab", 3L), ("ab", 2L)).toDF("tok", "freq")
    val got = TextOps.bpeMergesFrom(wf, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got === Set((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
  }

  test("qt25 ties break lexicographically and overlaps merge greedily") {
    import spark.implicits._
    // (x,y) and (a,b) both freq 2 -> (a,b) wins round 1
    val tie = Seq(("xy", 2L), ("ab", 2L)).toDF("tok", "freq")
    val w1 = TextOps.bpeMergesFrom(tie, rounds = 1).collect().head
    assert((w1.getString(1), w1.getString(2)) === (("a", "b")))
    // "aaaa" under (a,a): greedy left-to-right gives [aa, aa], so round 2
    // sees (aa,aa)=1 — NOT (a,a) again and NOT a triple-merge artifact
    val ovl = Seq(("aaaa", 1L)).toDF("tok", "freq")
    val m = TextOps.bpeMergesFrom(ovl, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(m === Set((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("qt25 winner frequency is non-increasing across rounds at sf0.001") {
    val m = TextOps.bpeMerges(spark, Sf001).orderBy("merge_round").collect()
    assert(m.nonEmpty)
    val freqs = m.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      s"max pair frequency can only fall as merges consume occurrences: ${freqs.toSeq}")
    // merged symbols chain: every round-r side is a char run or a
    // previously produced merge
    val produced = scala.collection.mutable.Set[String]()
    m.foreach { r =>
      Seq(r.getAs[String]("lhs"), r.getAs[String]("rhs")).foreach { s =>
        assert(s.length == 1 || produced.contains(s),
          s"symbol '$s' in round ${r.getInt(0)} is neither a char nor a prior merge")
      }
      produced += r.getAs[String]("lhs") + r.getAs[String]("rhs")
    }
  }

  test("qt26 encode: planted corpus subword counts match the merge algebra") {
    import spark.implicits._
    // same corpus as the qt25 spec; after 3 effective merges the final
    // segmentations are "aaab" -> [aaab] (1 symbol), "ab" -> [ab] (1)
    val wf = Seq(("aaab", 3L), ("ab", 2L)).toDF("tok", "freq")
    val (_, vocab) = TextOps.bpeTrain(wf, rounds = 4)
    val segs = vocab.collect().map { r =>
      val w = r.getAs[String]("w")
      r.getAs[String]("tok") -> w.substring(1, w.length - 1).split("\u0001\u0001").length
    }.toMap
    assert(segs === Map("aaab" -> 1, "ab" -> 1))
    // one round only: "aaab" -> [aa,a,b] (3), "ab" -> [a,b] (2)
    val seg1 = TextOps.bpeTrain(wf, rounds = 1)._2.collect().map { r =>
      val w = r.getAs[String]("w")
      r.getAs[String]("tok") -> w.substring(1, w.length - 1).split("\u0001\u0001").length
    }.toMap
    assert(seg1 === Map("aaab" -> 3, "ab" -> 2))
  }

  test("qt28 local trainer equals the distributed rounds on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(28)
    for (inst <- 1 to 10) {
      val wf = (1 to (3 + rnd.nextInt(6))).map { _ =>
        val w = Array.fill(1 + rnd.nextInt(6))("abc"(rnd.nextInt(3))).mkString
        w -> (1L + rnd.nextInt(5))
      }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.toDF("tok", "freq")
      val dist = TextOps.bpeMergesFrom(wf, rounds = 4).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      val (locM, locV) = TextOps.bpeTrainLocal(spark, wf, rounds = 4)
      val loc = locM.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(loc === dist, s"instance $inst")
      // the final segmentation table agrees too (qt26's input contract)
      val distV = TextOps.bpeTrain(wf, rounds = 4)._2.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(locV.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet === distV, s"instance $inst vocab")
    }
  }

  test("qt28 at sf0.001: 64 rounds, prefix-consistent with qt25, chained symbols") {
    val m = TextOps.bpeMergesLocal(spark, Sf001, rounds = 64)
      .orderBy("merge_round").collect()
    assert(m.nonEmpty && m.length <= 64)
    // the first 4 rounds ARE qt25's merges (same algorithm, longer run)
    val dist = TextOps.bpeMerges(spark, Sf001).orderBy("merge_round").collect()
    assert(m.take(dist.length).map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getLong(3))).toSeq === dist.map(r => (r.getInt(0), r.getString(1),
      r.getString(2), r.getLong(3))).toSeq)
    // frequency monotone; every symbol is a char or a prior merge
    val freqs = m.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    val produced = scala.collection.mutable.Set[String]()
    m.foreach { r =>
      Seq(r.getString(1), r.getString(2)).foreach { s =>
        assert(s.codePointCount(0, s.length) == 1 || produced.contains(s))
      }
      produced += r.getString(1) + r.getString(2)
    }
  }

  test("bpe symbols are codepoint-atomic: supplementary chars never split") {
    import spark.implicits._
    // U+1D306 (a surrogate PAIR in UTF-16) between ascii chars: both
    // trainers must treat it as ONE symbol — java.lang.String#split("")
    // would shear it into two unpaired surrogates
    val sup = new String(Character.toChars(0x1D306))
    val wf = Seq(("a" + sup + "b", 3L), ("a" + sup, 2L)).toDF("tok", "freq")
    // round 1 pairs: (a,sup)=5, (sup,b)=3 -> winner (a,sup)
    val d1 = TextOps.bpeMergesFrom(wf, rounds = 1).collect().head
    assert((d1.getString(1), d1.getString(2), d1.getLong(3)) === (("a", sup, 5L)))
    val l1 = TextOps.bpeTrainLocal(spark, wf, rounds = 1)._1.collect().head
    assert((l1.getString(1), l1.getString(2), l1.getLong(3)) === (("a", sup, 5L)))
    // round 2 on both: the fused "a<sup>" merges with b at freq 3
    val d2 = TextOps.bpeMergesFrom(wf, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val l2 = TextOps.bpeTrainLocal(spark, wf, rounds = 2)._1.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(d2 === l2 && d2 === Set((1, "a", sup, 5L), (2, "a" + sup, "b", 3L)))
  }

  test("bpe precondition: sentinel-carrying tokens are excluded up front") {
    import spark.implicits._
    val toks = Seq((1L, "ab"), (1L, "a\u0001b"), (2L, "ab"), (2L, "\u0001"))
      .toDF("doc_id", "tok")
    val wf = TextOps.bpeWordFreqFrom(toks).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wf === Map("ab" -> 2L), s"got $wf")
  }

  test("qt28 incremental trainer equals a naive full-recount miner at vocabulary scale") {
    import spark.implicits._
    // 5000 random words, 300 merge rounds: the incremental pair-count
    // engine (only touched words re-register) must produce the exact
    // merge table a naive per-round full recount does — same winners,
    // same freqs, same tie-breaks
    val rnd = new scala.util.Random(2829)
    val wf = (1 to 5000).map { _ =>
      Array.fill(3 + rnd.nextInt(8))("abcdef"(rnd.nextInt(6))).mkString
    }.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
    def naive(rounds: Int): Seq[(Int, String, String, Long)] = {
      var words = wf.map { case (w, f) => (w.split("").toArray, f) }
      (1 to rounds).iterator.map { r =>
        val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
        words.foreach { case (s, f) =>
          (0 until s.length - 1).foreach { i =>
            val k = (s(i), s(i + 1)); cnt.update(k, cnt.getOrElse(k, 0L) + f)
          }
        }
        if (cnt.isEmpty) None
        else {
          val ((l, rr), f) = cnt.minBy { case ((a, b), c) => (-c, a, b) }
          words = words.map { case (s, fr) =>
            val out = Array.newBuilder[String]; var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == rr) { out += l + rr; i += 2 }
              else { out += s(i); i += 1 }
            }
            (out.result(), fr)
          }
          Some((r, l, rr, f))
        }
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    val t0 = System.nanoTime()
    val got = TextOps.bpeTrainLocal(spark, wf.toDF("tok", "freq"), rounds = 300)._1
      .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getLong(3))).toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.sortBy(_._1) === naive(300))
    // the whole 300-round mine (plus the Spark collect round-trip) must
    // be interactive-fast — the property that makes 32k rounds feasible
    assert(secs < 60.0, s"300 rounds over 5k words took ${secs}s")
  }

  test("qt29 local encode equals qt26 at the shared round count, compresses further at 64") {
    // at rounds=4 the two encoders read EQUAL vocabularies (qt28's
    // trainer ≡ qt25's) so the outputs are bit-equal
    val a = TextOps.bpeEncode(spark, Sf001, rounds = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val b = TextOps.bpeEncodeLocal(spark, Sf001, rounds = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(a === b)
    // 60 more merge rounds can only merge further: subword counts are
    // pointwise non-increasing and strictly drop somewhere
    val c = TextOps.bpeEncodeLocal(spark, Sf001, rounds = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(c.keySet === b.keySet)
    assert(c.forall { case (d, n) => n <= b(d)._2 })
    assert(c.map(_._2).sum < b.values.map(_._2).sum)
  }

  test("qt26 encode invariants at sf0.001: bounds, coverage, compression") {
    val enc = TextOps.bpeEncode(spark, Sf001).cache()
    val toks = TextOps.tokenCount(spark, Sf001).select(col("doc_id"), col("n_ws"))
    // every doc with tokens is encoded, token counts agree with qt1
    val j = enc.join(toks, "doc_id")
    assert(j.filter(col("n_tok") =!= col("n_ws")).count() === 0,
      "encoder must see every whitespace token exactly once")
    assert(enc.count() === toks.filter(col("n_ws") > 0).count())
    // 1 <= subwords-per-word; subwords never exceed characters
    assert(enc.filter(col("n_subword") < col("n_tok")).count() === 0)
    assert(enc.filter(col("subword_per_char") > 1.0 || col("subword_per_char") <= 0.0)
      .count() === 0)
    // merges actually compress: corpus-wide subwords < corpus-wide chars
    val agg = enc.agg(sum("n_subword"), sum("n_tok")).collect().head
    assert(agg.getLong(0) > 0 && agg.getLong(1) > 0)
    enc.unpersist()
  }

  test("qt28 at production rounds: 1024-round mining is prefix-consistent with 64") {
    val m64 = TextOps.bpeMergesLocal(spark, Sf001, rounds = 64).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val m1024 = TextOps.bpeMergesLocal(spark, Sf001, rounds = 1024).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m64.length === 64)
    // the incremental miner's sequence is deterministic, so a longer
    // run must reproduce the shorter run's merges verbatim as a prefix
    assert(m1024.take(64).toSeq === m64.toSeq)
    assert(m1024.length > 64, s"corpus must support > 64 merges, got ${m1024.length}")
    // merge frequencies never increase along the sequence's plateaus?
    // NOT a BPE invariant (fusions create new pairs) — instead assert
    // every recorded merge had positive support
    assert(m1024.forall(_._4 > 0))
    // deeper vocabularies keep compressing: corpus-wide subword count
    // at 1024 rounds <= at 64 rounds, strictly fewer somewhere
    val e64 = TextOps.bpeEncodeLocal(spark, Sf001, rounds = 64)
      .agg(sum("n_subword")).collect().head.getLong(0)
    val e1024 = TextOps.bpeEncodeLocal(spark, Sf001, rounds = math.min(1024, m1024.length))
      .agg(sum("n_subword")).collect().head.getLong(0)
    assert(e1024 < e64, s"1024-round encoding must compress further: $e1024 vs $e64")
  }

  test("qt28 at 32,768 rounds: no exhaustion, prefix-consistent with 1,024") {
    import spark.implicits._
    // the committed zipf corpus's ~3k vocabulary exhausts at ~3.2k
    // merges, so the 32k-round claim needs a vocabulary that doesn't
    // (VERDICT r13 next #5): a synthetic heavy-tailed word-frequency
    // table over GenZipf's 6-char syllable words — bpeTrainLocal mines
    // from (tok, freq) directly, so this isolates the miner at true
    // production depth (the corpus-scale half is qt28's own spec; the
    // measured wall split on a 127,719-word corpus is in SURVEY §13).
    val wf = spark.range(40000)
      .select(udf((i: Long) => graft.tools.GenZipf.word(i.toInt)).apply(col("id")).as("tok"),
        greatest(lit(1L), (lit(1000000L) / (col("id") + 1)).cast("long")).as("freq"))
    val m1k = TextOps.bpeTrainLocal(spark, wf, rounds = 1024)._1.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val m32k = TextOps.bpeTrainLocal(spark, wf, rounds = 32768)._1.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m32k.length === 32768, s"vocabulary must not exhaust: ${m32k.length}")
    assert(m1k.length === 1024)
    assert(m32k.take(1024).toSeq === m1k.toSeq,
      "deeper mining must reproduce the shallower sequence as a verbatim prefix")
    assert(m32k.forall(_._4 > 0))
  }

  test("qd20 planted boilerplate: first occurrence kept, later copies cut, re-scan clean") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4 b5 b6" // a 6-token passage shared by 3 docs
    val docs = Seq(
      (1L, s"u1 u2 $boiler u3 u4"),
      (2L, s"v1 $boiler v2 v3 v4"),
      (3L, s"$boiler w1 w2 w3 w4"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpansFrom(docs, n = 3, minSpan = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 carries the passage's first corpus occurrence -> untouched;
    // docs 2 and 3 lose exactly the 6 boilerplate tokens; doc 4 untouched
    assert(out(1L) === ((10L, 0L, s"u1 u2 $boiler u3 u4")))
    assert(out(2L) === ((10L, 6L, "v1 v2 v3 v4")))
    assert(out(3L) === ((10L, 6L, "w1 w2 w3 w4")))
    assert(out(4L) === ((8L, 0L, "x1 x2 x3 x4 x5 x6 x7 x8")))
    // the cleaned corpus re-scans qd19-clean (per-pass guarantee)
    val cleaned = Dedup.dedupSpansFrom(docs, n = 3, minSpan = 4)
      .select(col("doc_id"), col("clean_text").as("text"))
    val rescan = Dedup.dedupSpansFrom(cleaned, n = 3, minSpan = 4)
    assert(rescan.agg(sum("n_cut")).collect().head.getLong(0) === 0L)
  }

  test("qd20 matches a brute-force keep-first span cutter on 20 random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20)
    val (n, minSpan) = (2, 3)
    for (inst <- 1 to 20) {
      // tiny token alphabet forces heavy cross-doc shingle repeats
      val docs = (1 to (2 + rnd.nextInt(4))).map { d =>
        d.toLong -> Array.fill(2 + rnd.nextInt(10))(s"w${rnd.nextInt(4)}")
      }
      // brute force: all n-shingles with positions, global occ counts,
      // keep-first per shingle VALUE, islands >= minSpan, cut coverage
      val occAll = docs.flatMap { case (_, ws) =>
        ws.sliding(n).filter(_.length == n).map(_.mkString(" "))
      }.groupBy(identity).map { case (s, v) => s -> v.size }
      val firstOf = scala.collection.mutable.Map[String, (Long, Int)]()
      docs.foreach { case (d, ws) =>
        ws.sliding(n).zipWithIndex.filter(_._1.length == n).foreach { case (sh, p) =>
          val k = sh.mkString(" ")
          if (!firstOf.contains(k)) firstOf(k) = (d, p)
        }
      }
      val want = docs.map { case (d, ws) =>
        val shs = ws.sliding(n).zipWithIndex.filter(_._1.length == n)
          .map { case (sh, p) => (sh.mkString(" "), p) }.toSeq
        val dup = shs.filter { case (s, _) => occAll(s) >= 2 }
        // islands over consecutive dup positions
        val islands = dup.foldLeft(List.empty[List[(String, Int)]]) {
          case (h :: t, (s, p)) if h.head._2 == p - 1 => ((s, p) :: h) :: t
          case (acc, (s, p)) => List((s, p)) :: acc
        }.map(_.reverse)
        val cut = scala.collection.mutable.Set[Int]()
        islands.filter(_.size + n - 1 >= minSpan).foreach { isl =>
          isl.foreach { case (s, p) =>
            if (firstOf(s) != ((d, p))) (p until p + n).foreach(cut += _)
          }
        }
        val keptToks = ws.zipWithIndex.filterNot { case (_, i) => cut(i) }.map(_._1)
        d -> (ws.length.toLong, cut.size.toLong, keptToks.mkString(" "))
      }.toMap
      val df = docs.map { case (d, ws) => (d, ws.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.dedupSpansFrom(df, n, minSpan).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got === want, s"instance $inst over ${docs.map(_._2.mkString(" "))}")
    }
  }

  test("qd20 at sf0.001: conservation, coverage, and a clean re-scan") {
    val d = Dedup.dedupSpans(spark, Sf001).cache()
    val docs = spark.read.parquet(s"$Sf001/documents.parquet").count()
    assert(d.count() === docs, "every document must appear in the rewrite")
    // kept tokens = n_tok - n_cut, and the rebuilt text has exactly them
    val bad = d.filter(
      size(filter(split(col("clean_text"), " "), t => t =!= "")) =!=
        (col("n_tok") - col("n_cut"))).count()
    assert(bad === 0)
    // qd19 found spans at this scale, so the rewrite must cut something
    val firstCut = d.agg(sum("n_cut")).collect().head.getLong(0)
    assert(firstCut > 0)
    // removal creates new token adjacencies, so like the reference
    // construction cleanliness is per-pass; iterating must converge to a
    // span-free fixpoint, strictly monotone, within a few passes
    var corpus = d.select(col("doc_id"), col("clean_text").as("text")).localCheckpoint()
    var prev = firstCut
    var pass = 1
    while (prev != 0L && pass <= 6) {
      val m = Dedup.dedupSpansFrom(corpus, n = 3, minSpan = 4).localCheckpoint()
      val cut = m.agg(sum("n_cut")).collect().head.getLong(0)
      info(s"re-scan pass $pass cut $cut tokens (previous $prev)")
      assert(cut < prev, s"pass $pass did not shrink the dup mass: $cut >= $prev")
      corpus = m.select(col("doc_id"), col("clean_text").as("text")).localCheckpoint()
      prev = cut
      pass += 1
    }
    assert(prev === 0L, s"no span-free fixpoint within $pass passes")
    d.unpersist()
  }

  test("qd21 fixed-pass trace: pass k re-scans pass k-1's rebuilt corpus") {
    import spark.implicits._
    // pass 1 cuts only doc 3's middle B-run (its u-halves are below the
    // minSpan floor as 2-token islands); the cut FUSES "u1 u2"+"u3 u4"
    // into doc 1's contiguous u-run, so pass 2 cuts the fused span, and
    // pass 3 is clean — a planted 3-step convergence
    val docs = Seq(
      (1L, "u1 u2 u3 u4 s1 s2 s3 s4"),
      (2L, "B1 B2 B3 B4 t1 t2 t3 t4"),
      (3L, "u1 u2 B1 B2 B3 B4 u3 u4")
    ).toDF("doc_id", "text")
    val (_, trace) = Dedup.dedupSpansTrace(docs, n = 2, minSpan = 4,
      passes = 3, stopWhenClean = false)
    assert(trace.map(_._1) === Seq(1L, 2L, 3L))
    assert(trace(0)._2 > 0L, "pass 1 must cut the planted boilerplate")
    assert(trace(1)._2 > 0L, "pass 2 must cut the cut-created adjacency")
    assert(trace(2)._2 === 0L, "pass 3 must re-scan clean")
    // trace rows ARE per-pass qd20 runs: replay by hand and compare
    var cur = docs
    for ((p, nc, dc) <- trace) {
      val out = Dedup.dedupSpansFrom(cur, n = 2, minSpan = 4)
      val st = out.agg(coalesce(sum("n_cut"), lit(0L)),
        count(when(col("n_cut") > 0, lit(1)))).collect().head
      assert((st.getLong(0), st.getLong(1)) === ((nc, dc)), s"pass $p")
      cur = out.select(col("doc_id"), col("clean_text").as("text"))
    }
    // the fixpoint API stops at the first clean pass and returns a
    // corpus whose last trace row proves it span-free
    val (cleanCorpus, fpTrace) = Dedup.dedupSpansToFixpoint(docs, n = 2, minSpan = 4)
    assert(fpTrace.last._2 === 0L && fpTrace.length === 3)
    val rescan = Dedup.dedupSpansFrom(cleanCorpus.withColumnRenamed("text", "text"),
      n = 2, minSpan = 4)
    assert(rescan.agg(sum("n_cut")).collect().head.getLong(0) === 0L)
  }

  test("qd24 dedupSpansClean: proven span-free fixpoint, loud when maxPasses binds") {
    import spark.implicits._
    // the qd21 planted 3-step convergence, as an on-disk corpus so the
    // registered sfDir callable runs end to end
    val dir = java.nio.file.Files.createTempDirectory("graft-spanfix").toString
    Seq(
      (1L, "u1 u2 u3 u4 s1 s2 s3 s4"),
      (2L, "B1 B2 B3 B4 t1 t2 t3 t4"),
      (3L, "u1 u2 B1 B2 B3 B4 u3 u4")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clean = Dedup.dedupSpansClean(spark, dir, n = 2, minSpan = 4)
    assert(clean.count() === 3L, "every doc survives (spans cut, docs kept)")
    // the contract: the returned corpus re-scans PROVEN clean
    val rescan = Dedup.dedupSpansFrom(clean, n = 2, minSpan = 4)
    assert(rescan.agg(sum("n_cut")).collect().head.getLong(0) === 0L)
    // maxPasses=1 cannot reach a proven-clean re-scan on this corpus
    // (pass 1 cuts, and no clean pass follows): throw, never return
    val e = intercept[IllegalArgumentException](
      Dedup.dedupSpansClean(spark, dir, n = 2, minSpan = 4, maxPasses = 1))
    assert(e.getMessage.contains("maxPasses=1"))
    assert(e.getMessage.contains("span-free fixpoint"))
    // and on the real corpus the registered default converges clean
    val sf = Dedup.dedupSpansClean(spark, Sf001)
    assert(sf.count() === spark.read.parquet(s"$Sf001/documents.parquet").count())
    assert(Dedup.dedupSpansFrom(sf, 3, 4)
      .agg(sum("n_cut")).collect().head.getLong(0) === 0L)
  }

  test("qd25 covers qd24's output where the fixpoint lands within the fixed count") {
    import spark.implicits._
    // same planted 3-step corpus as the qd24 gate: the fixpoint lands
    // within 4 passes, so the FIXED-count rebuilt text (qd25's
    // oracle-mirrored shape) must equal the run-until-clean corpus —
    // the production callable's output is oracle-covered here
    val dir = java.nio.file.Files.createTempDirectory("graft-spancorp").toString
    Seq(
      (1L, "u1 u2 u3 u4 s1 s2 s3 s4"),
      (2L, "B1 B2 B3 B4 t1 t2 t3 t4"),
      (3L, "u1 u2 B1 B2 B3 B4 u3 u4")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clean = Dedup.dedupSpansClean(spark, dir, n = 2, minSpan = 4)
      .select(col("doc_id"), col("text").as("clean_text"))
    val fixed = Dedup.dedupSpansCorpus(spark, dir, n = 2, minSpan = 4, passes = 4)
    assert(fixed.count() === 3L)
    assert(fixed.except(clean).count() === 0 && clean.except(fixed).count() === 0)
    // and pass 1 of the fixed chain IS qd20's rebuilt text
    val p1 = Dedup.dedupSpansCorpus(spark, Sf001, passes = 1)
    val q20 = Dedup.dedupSpans(spark, Sf001).select("doc_id", "clean_text")
    assert(p1.except(q20).count() === 0 && q20.except(p1).count() === 0)
  }

  test("qd21 at sf0.001: monotone decreasing trace, consistent with qd20 pass 1") {
    val tr = Dedup.dedupSpansFixpoint(spark, Sf001, passes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tr.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(tr(0)._2 > tr(1)._2 && tr(1)._2 > tr(2)._2,
      s"dup mass must shrink strictly while nonzero: $tr")
    val pass1 = Dedup.dedupSpans(spark, Sf001)
      .agg(sum("n_cut")).collect().head.getLong(0)
    assert(tr(0)._2 === pass1, "trace pass 1 must equal a direct qd20 run")
  }

  test("qd20 long heavily-boilerplated doc: linear rebuild, no quadratic blowup") {
    import spark.implicits._
    // ~60k tokens, ~59k of them cut: the old per-token array_contains
    // rebuild would pay ~3.5e9 comparisons on this one row; the
    // array_except kernel is O(n_tok + n_cut)
    val reps = 10000
    val boiler = "p q r s t u"
    val long1 = (s"head1x head2x " + Seq.fill(reps)(boiler).mkString(" ")) // first occurrence inside
    val long2 = (s"tail1x tail2x " + Seq.fill(reps)(boiler).mkString(" "))
    val docs = Seq((1L, long1), (2L, long2)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = Dedup.dedupSpansFrom(docs, n = 3, minSpan = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // the repeated boilerplate forms one giant island per doc; doc 1
    // owns the 6 distinct shingle phases' first corpus occurrences
    // (positions 3..8), so it keeps its heads + one full period and
    // cuts token positions 9..n_tok; doc 2 keeps only its heads
    assert(out(1L)._1 === (2L + 6L * reps))
    assert(out(2L)._1 === (2L + 6L * reps))
    assert(out(1L)._2 === 6L * (reps - 1), "doc 1 cuts all but the first period")
    assert(out(1L)._3 === "head1x head2x p q r s t u")
    assert(out(2L)._2 === 6L * reps, "all of doc 2's boilerplate is cut")
    assert(out(2L)._3 === "tail1x tail2x")
    // generous wall gate: quadratic would take minutes, linear takes seconds
    assert(secs < 60.0, f"rebuild took $secs%.1f s — quadratic kernel?")
  }

  test("qd20 packed keeper key fails loudly past doc_id 2^32") {
    import spark.implicits._
    val docs = Seq(
      (4294967296L, "z1 z2 z3 z4 z5"),
      (1L, "z1 z2 z3 z4 z5")
    ).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.dedupSpansFrom(docs, n = 3, minSpan = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("packed-keeper range")),
      s"expected the loud overflow guard, got: ${e.getMessage}")
    // the guard admits the full legal range: 2^32 - 1 still works
    val ok = Dedup.dedupSpansFrom(
      Seq((4294967295L, "z1 z2 z3 z4 z5"), (1L, "z1 z2 z3 z4 z5"))
        .toDF("doc_id", "text"), n = 3, minSpan = 4).collect()
    assert(ok.length === 2)
  }

  test("qc5 chunk->index handoff: conservation vs qt24/qt27, keeper per md5") {
    val ix = TextOps.chunkIndex(spark, Sf001).cache()
    assert(ix.count() > 0)
    // conservation: indexed + dropped over all cells = every chunk whose
    // doc has an embedding; indexed = distinct chunk_md5 among them
    val ch = TextOps.chunkDocs(spark, Sf001)
      .join(spark.read.parquet(s"$Sf001/embeddings.parquet")
        .select(col("vec_id").as("doc_id")), "doc_id").cache()
    val tot = ix.agg(sum("n_indexed"), sum("n_dropped")).collect().head
    assert(tot.getLong(0) + tot.getLong(1) === ch.count())
    assert(tot.getLong(0) === ch.select("chunk_md5").distinct().count(),
      "indexed chunks must be exactly the distinct chunk lineage keys")
    // dedup must actually drop something at this scale (qt27 found dups)
    assert(tot.getLong(1) > 0)
    // per-cell sanity: shares in [0,1], docs never exceed indexed chunks
    assert(ix.filter(col("drop_frac") < 0 || col("drop_frac") > 1).count() === 0)
    assert(ix.filter(col("n_docs") > col("n_indexed")).count() === 0)
    ch.unpersist(); ix.unpersist()
  }

  test("qd19 planted repeated sentence yields the exact global span") {
    import spark.implicits._
    // doc 1: shingles at i=0..7, of which i=2,3,4 repeat in doc 2 at
    // i=10,11,12; doc 3 carries ONE duplicated shingle (run 1 → span 3,
    // filtered by minSpan=4); everything else unique
    val rows = Seq(
      (1L, 0L, "u1"), (1L, 1L, "u2"), (1L, 2L, "r1"), (1L, 3L, "r2"),
      (1L, 4L, "r3"), (1L, 5L, "u3"), (1L, 6L, "u4"), (1L, 7L, "u5"),
      (2L, 10L, "r1"), (2L, 11L, "r2"), (2L, 12L, "r3"), (2L, 13L, "u6"),
      (3L, 0L, "u7"), (3L, 1L, "r1"), (3L, 2L, "u8")
    ).toDF("doc_id", "i", "sh")
    val got = Dedup.globalDupSpansFrom(rows, n = 3, minSpan = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // r1 occurs 3× corpus-wide; runs: doc1 i=2..4, doc2 i=10..12 (run 3
    // → span 5); doc3's lone r1 (span 3) is below minSpan
    assert(got === Set((1L, 2L, 5L), (2L, 10L, 5L)))
  }

  test("qd19 spans are disjoint islands within range at sf0.001") {
    val s = Dedup.globalDupSpans(spark, Sf001).cache()
    assert(s.count() > 0)
    assert(s.filter(col("span_toks") < 4 || col("max_occ") < 2).count() === 0)
    // islands: consecutive spans in a doc are separated by >= 1 shingle gap
    // (span_toks = run + n - 1 with n = 3, so last shingle pos =
    // start + run - 1 = start + span_toks - 3; a legal adjacent island
    // may start at last + 2 = start + span_toks - 1)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("start_tok")
    val runEnd = col("start_tok") + col("span_toks") - lit(3)
    val overl = s.withColumn("nxt", lead("start_tok", 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") <= runEnd + 1)
    assert(overl.count() === 0, "spans must be maximal disjoint islands")
    // every span fits inside its document's token count
    val nTok = TextOps.tokenCount(spark, Sf001).select(col("doc_id"), col("n_ws"))
    val oob = s.join(nTok, "doc_id")
      .filter(col("start_tok") + col("span_toks") > col("n_ws"))
    assert(oob.count() === 0, "span exceeds document length")
    s.unpersist()
  }

  test("r18 narrow shingles ≡ window-lead reference, bit for bit") {
    import spark.implicits._
    // adversarial corpus: empty text, all-space text, single token,
    // exactly n tokens, n-1 tokens, runs of multiple spaces (empty split
    // cells shift the raw index), leading/trailing spaces
    val rnd = new scala.util.Random(1819)
    val words = Vector("a", "bb", "ccc", "dd", "e", "ff", "g7", "hh", "i", "jj")
    val synth = (0L until 120L).map { id =>
      val nTok = rnd.nextInt(9) // 0..8
      val toks = Seq.fill(nTok)(words(rnd.nextInt(words.size)))
      val sep = () => " " * (1 + rnd.nextInt(3)) // multi-space runs
      val body = toks.foldLeft("")((acc, t) => acc + sep() + t)
      val text = if (rnd.nextBoolean()) body.trim else body + sep()
      (id, text)
    } ++ Seq((900L, ""), (901L, "   "), (902L, "solo"), (903L, "x y z"))
    val docs = synth.toDF("doc_id", "text")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")
    for (n <- Seq(1, 2, 3, 5)) {
      val a = TextCore.shinglesNarrow(docs, n)
      val b = TextCore.shinglesWindowed(toks, n)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"n=$n: narrow and windowed shingles differ")
    }
    // and on the real corpus at the two registered widths
    val real = spark.read.parquet(s"$Sf001/documents.parquet").select("doc_id", "text")
    val realToks = real
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")
    for (n <- Seq(3, 5)) {
      val a = TextCore.shinglesNarrow(real, n)
      val b = TextCore.shinglesWindowed(realToks, n)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"sf0.001 n=$n: narrow and windowed shingles differ")
    }
  }
}
