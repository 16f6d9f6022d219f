package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Components, Dedup, MinHash, SemDedup}
import graft.text.LineDedup
import graft.vector.Similarity

/** `corpus_dedup`: closed-loop passes of an LLM-corpus cleaning pipeline.
  * Each pass gets a fresh seeded corpus (landed as parquet before the pass
  * is timed — a new crawl per pass, so no stage result of an earlier pass
  * can be reused) and runs exact dedup, MinHash near-dup pairs, connected
  * components, line dedup, semantic dedup and LSH top-k.
  */
object CorpusDedup {
  val Docs = 3000L
  private val WarmDocs = 2000L
  val MinJaccard = 0.7
  val MaxDocsPerSegment = 10
  val Nlist = 16
  val SemThreshold = 0.95
  val TopK = 10
  val Planes = 6
  val Queries = 48

  /** Recall floors the gates enforce. */
  val NearRecallFloor = 0.95
  val PlantedLshRecallFloor = 0.8
  val LshRecallFloor = 0.2

  /** Ground truth of one corpus, from the generator alone. */
  private final case class Truth(copies: Long, nearPairs: Set[(Long, Long)],
                                 wordsAfterClean: Long, vecPairs: Seq[(Long, Long)],
                                 queries: Seq[Long])

  private def truth(seed: Long, pass: Long, n: Long): Truth = {
    var copies = 0L
    var words = 0L
    val near = mutable.Set.empty[(Long, Long)]
    val vec = mutable.ArrayBuffer.empty[(Long, Long)]
    (0L until n).foreach { i =>
      Gen.kindOf(seed, pass, i) match {
        case Gen.Kind.Copy => copies += 1
        case k =>
          val text = Gen.doc(seed, pass, i)._1
          words += text.split(" ").length - Gen.SegWords * Gen.boilerCount(text)
          if (k == Gen.Kind.NearHigh || k == Gen.Kind.NearLow) {
            val b = Gen.baseOf(seed, pass, i)
            if (Gen.jaccard(Gen.doc(seed, pass, b)._1, text) >= MinJaccard) near += ((b, i))
          } else if (k == Gen.Kind.NearVec) vec += ((Gen.baseOf(seed, pass, i), i))
      }
    }
    val bases = vec.map(_._1).distinct.take(Queries / 2)
    val r = Gen.rng(seed, 600L + pass, 0L)
    val others = Iterator.continually(r.nextLong(n))
      .filter(i => Gen.kindOf(seed, pass, i) != Gen.Kind.Copy && !bases.contains(i))
      .take(Queries - bases.size).toSeq
    Truth(copies, near.toSet, words, vec.filter(v => bases.contains(v._1)).toSeq,
      (bases.toSeq ++ others).distinct)
  }

  /** Ground-truth totals of corpus `(seed, pass)`, for [[Digest]]. */
  def truthSummary(seed: Long, pass: Long): String = {
    val t = truth(seed, pass, Docs)
    s"copies=${t.copies};near_pairs=${t.nearPairs.size};words_after_clean=" +
      s"${t.wordsAfterClean};vec_pairs=${t.vecPairs.size};queries=${t.queries.size}"
  }

  def land(spark: SparkSession, seed: Long, pass: Long, n: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 8).map { i =>
      val (text, vec) = Gen.doc(seed, pass, i)
      (i, text, vec)
    }.toDF("id", "text", "vec").write.mode("overwrite").parquet(dir)
  }

  /** One timed pipeline pass; returns what the gates need. */
  private final case class PassOut(survivors: Long, candidates: Seq[(Long, Long, Double)],
                                   wordsAfter: Long, semKept: Long,
                                   topk: Seq[(Long, Long)])

  private def pass(ctx: Ctx, corpus: DataFrame, queries: Seq[Long]): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val survivors = tr.span("dedup.exact") {
      val s = Dedup.dropExactDuplicates(corpus, "id", "text").cache()
      s.count()
      s
    }
    val n = survivors.count()
    val cands = tr.span("dedup.pairs") {
      MinHash.nearDupPairs(survivors.select("id", "text"), "id", "text")
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSeq
    }
    tr.span("dedup.components") {
      val edges = cands.filter(_._3 >= MinJaccard).map(c => (c._1, c._2)).toDF("id1", "id2")
      Components.connectedComponents(survivors.select("id"), "id", edges, "id1", "id2")
        .groupBy("comp").count().filter(col("count") > 1).count()
    }
    val wordsAfter = tr.span("text.line_dedup") {
      LineDedup.cleanDocs(survivors.select("id", "text"), "id", "text", Gen.SegWords,
        MaxDocsPerSegment)
        .agg(sum(size(split(col("text"), " "))).cast("long")).head().getLong(0)
    }
    val semKept = tr.span("vector.semdedup") {
      SemDedup.semanticDedup(survivors.select("id", "vec"), "id", "vec", Nlist, SemThreshold)
        .agg(sum(col("keep")).cast("long")).head().getLong(0)
    }
    val topk = tr.span("vector.topk") {
      val q = survivors.filter(col("id").isin(queries: _*)).select("id", "vec")
      Similarity.lshTopK(q, "id", survivors.select("id", "vec"), "id", "vec", TopK,
        Planes, Gen.Dim).select("qid", "cid").as[(Long, Long)].collect().toSeq
    }
    if (tr.enabled) {
      val t = tr.op
      tr.op = t + "-probe"
      tr.span("probe.signature") {
        MinHash.signatures(survivors.select("id", "text"), "id", "text")
          .agg(bit_xor(xxhash64(col("sig")))).head()
      }
      tr.op = t
    }
    survivors.unpersist(blocking = true)
    PassOut(n, cands, wordsAfter, semKept, topk)
  }

  private def gates(ctx: Ctx, t: Truth, n: Long, o: PassOut, corpus: DataFrame): Seq[Gate] = {
    val c = if (ctx.corrupt) 1L else 0L
    val verified = o.candidates.filter(_._3 >= MinJaccard).map(p => (p._1, p._2)).toSet
    val nearRecall = if (t.nearPairs.isEmpty) 1.0
      else t.nearPairs.count(verified).toDouble / t.nearPairs.size
    val got = o.topk.groupMap(_._1)(_._2).map { case (q, cs) => q -> cs.toSet }
    val plantedRecall = if (t.vecPairs.isEmpty) 1.0
      else t.vecPairs.count { case (b, v) => got.getOrElse(b, Set.empty)(v) }.toDouble /
        t.vecPairs.size
    val bf = Similarity.bruteForceTopK(
      corpus.filter(col("id").isin(t.queries: _*)).select("id", "vec"), "id",
      Dedup.dropExactDuplicates(corpus, "id", "text").select("id", "vec"), "id", "vec", TopK)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lshRecall = bf.count { case (q, cid) => got.getOrElse(q, Set.empty)(cid) }.toDouble /
      math.max(bf.length, 1)
    lastRecall = (nearRecall, lshRecall)
    def floor(name: String, v: Double, f: Double): Gate = {
      val fl = if (ctx.corrupt) 1.01 else f
      Gate(name, f">= $fl%.2f", f"$v%.4f", v >= fl)
    }
    Seq(
      Gate("exact_duplicates", (t.copies + c).toString, (n - o.survivors).toString,
        n - o.survivors == t.copies + c),
      floor("near_dup_recall", nearRecall, NearRecallFloor),
      Gate("line_dedup_words", (t.wordsAfterClean + c).toString, o.wordsAfter.toString,
        o.wordsAfter == t.wordsAfterClean + c),
      floor("lsh_planted_recall", plantedRecall, PlantedLshRecallFloor),
      floor("lsh_recall", lshRecall, LshRecallFloor))
  }

  @volatile private var lastRecall = (0.0, 0.0)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    var passNo = 0L
    def corpusDir(p: Long) = ctx.path(s"corpus-$p")
    /** Land the corpus of pass `p` and derive its ground truth (untimed). */
    def prepare(p: Long, n: Long): (DataFrame, Truth) = {
      land(spark, ctx.seed, p, n, corpusDir(p))
      (spark.read.parquet(corpusDir(p)), truth(ctx.seed, p, n))
    }
    // the three timed preparations land the corpora of the first passes
    val prepared = mutable.Map.empty[Long, (DataFrame, Truth)]
    val prepS = (0L until 3L).map { p =>
      val t0 = System.nanoTime()
      prepared(p) = prepare(p, Docs)
      (System.nanoTime() - t0) / 1e9
    }
    var inputDigest = ""
    val w0 = System.nanoTime()
    val (warm, warmTruth) = prepare(-1, WarmDocs)
    pass(ctx, warm, warmTruth.queries)
    val warmupS = (System.nanoTime() - w0) / 1e9

    var failed = 0L
    var attempted = 0L
    var gs: Seq[Gate] = Nil
    val stats = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    /** Closed loop: (pass latencies, timed ns, cpu ns). */
    def loop(budgetS: Double): (Seq[Double], Long, Long) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      var ns = 0L
      var cpu = 0L
      while (ns < budgetS * 1e9) {
        val (corpus, t) = prepared.remove(passNo).getOrElse(prepare(passNo, Docs))
        if (passNo == 0) inputDigest = Main.digest(corpus)
        ctx.tracer.op = s"pass$passNo"
        val c0 = Main.cpuNs()
        val p0 = System.nanoTime()
        val o = ctx.tracer.span("pass")(pass(ctx, corpus, t.queries))
        val d = System.nanoTime() - p0
        cpu += Main.cpuNs() - c0
        ns += d
        lat += d / 1e6
        val g = gates(ctx, t, Docs, o, corpus)
        attempted += 1
        if (g.exists(!_.ok)) failed += 1
        if (gs.isEmpty || g.exists(!_.ok)) gs = g
        val verified = o.candidates.count(_._3 >= MinJaccard)
        stats += ((o.candidates.size, verified, lastRecall._1, lastRecall._2))
        deleteDir(new java.io.File(corpusDir(passNo)))
        passNo += 1
      }
      (lat.toList, ns, cpu)
    }

    def info = Map[String, Any]("docs_per_pass" -> Docs, "input_digest" -> inputDigest)
    if (!ctx.trace) {
      val (lat, ns, cpu) = loop(ctx.seconds)
      Outcome(Docs * lat.size, ns, cpu, lat, attempted, failed, gs, prepS, warmupS,
        Map.empty, info)
    } else {
      val (latA, nsA, _) = loop(ctx.seconds / 2.0)
      stats.clear()
      ctx.counters.reset()
      val tr = ctx.tracer
      tr.enabled = true
      tr.span("run")(loop(ctx.seconds / 2.0))
      tr.enabled = false
      def med(name: String): Double =
        Main.median(tr.named(name).filter(!_.op.endsWith("-probe")).map(_.ms))
      val sig = Main.median(tr.named("probe.signature").map(_.ms))
      val passes = tr.named("pass").size
      val layers = Layers.fill(
        Layers.traceSummary(tr, latA, tr.named("pass").map(_.ms)) ++
        ctx.counters.snapshot(passes, ctx.cores) ++ Map(
          "dedup.exact_ms" -> (med("dedup.exact"), "ms"),
          "dedup.signature_ms" -> (sig, "ms"),
          "dedup.pairs_ms" -> (med("dedup.pairs") - sig, "ms"),
          "dedup.components_ms" -> (med("dedup.components"), "ms"),
          "dedup.candidate_pairs" -> (Main.median(stats.map(_._1).toSeq), "count"),
          "dedup.verified_pairs" -> (Main.median(stats.map(_._2).toSeq), "count"),
          "dedup.candidate_precision" ->
            (stats.map(_._2).sum / math.max(stats.map(_._1).sum, 1.0), "ratio"),
          "dedup.planted_recall" -> (Main.median(stats.map(_._3).toSeq), "ratio"),
          "text.line_dedup_ms" -> (med("text.line_dedup"), "ms"),
          "vector.semdedup_ms" -> (med("vector.semdedup"), "ms"),
          "vector.topk_ms" -> (med("vector.topk"), "ms"),
          "vector.lsh_recall" -> (Main.median(stats.map(_._4).toSeq), "ratio")))
      Outcome(Docs * latA.size, nsA, 0L, latA, attempted, failed, gs, prepS, warmupS,
        layers, info)
    }
  }

  private def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }
}
