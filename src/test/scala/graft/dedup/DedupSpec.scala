package graft.dedup

import graft.SparkSpec
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"), // near-dup of 1
    (3L, "completely different words about spark catalyst optimizer plans and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),   // exact dup of 1
    (5L, "another unrelated document mentioning parquet columnar storage formats and codecs")
  ).toDF("doc_id", "text")

  test("minhash LSH finds the near-dup pair and not the unrelated ones") {
    val pairs = MinHash.nearDupPairs(corpus, "doc_id", "text", shingleN = 3,
      numHashes = 64, numBands = 16)
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair 1-2 must be found")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)), "exact dup found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc 3 excluded")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated doc 5 excluded")
  }

  /** The relational MinHash formulation the per-document kernel replaced,
    * kept here only as the parity reference: token posexplode, a `lead`
    * window fusing n token hashes per shingle, a distinct, a k-column
    * `min(xxhash64(i, h))` groupBy, a band explode, and the inverted-index
    * verify.
    */
  private object Relational {
    def distinctHashes(docs: DataFrame, shingleN: Int): DataFrame = {
      val w = Window.partitionBy(col("id")).orderBy(col("pos"))
      val leads = (0 until shingleN).map {
        case 0 => col("th")
        case i => lead(col("th"), i).over(w)
      }
      docs.select(col("doc_id").as("id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
        .select(col("id"), col("pos"), xxhash64(col("t")).as("th"))
        .select(col("id"), xxhash64(leads: _*).as("h"), leads.last.isNotNull.as("full"))
        .filter(col("full"))
        .select(col("id"), col("h"))
        .distinct()
    }

    def mins(hs: DataFrame, k: Int): DataFrame = {
      val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
      hs.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    }

    def signatures(docs: DataFrame, shingleN: Int, k: Int): DataFrame =
      mins(distinctHashes(docs, shingleN), k)
        .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))

    def bandKeys(mins: DataFrame, k: Int, b: Int): DataFrame = {
      val r = k / b
      mins.select(col("id"), explode(array((0 until b).map { j =>
          struct(lit(j).as("band"),
            xxhash64((j * r until (j + 1) * r).map(i => col(s"m$i")): _*).as("band_key"))
        }: _*)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.band_key"))
    }

    def nearDupPairs(docs: DataFrame, shingleN: Int, k: Int, b: Int): DataFrame = {
      val hs = distinctHashes(docs, shingleN)
      MinHash.verifyJaccard(hs, MinHash.candidatePairs(bandKeys(mins(hs, k), k, b), 1000))
    }
  }

  /** Edge cases of the kernel's tokenizer against Spark's `split`. */
  private def edgeDocs: DataFrame = {
    val texts = Seq(
      1L -> null, 2L -> "", 3L -> "two tokens", 4L -> "   ",
      5L -> "doubled  spaces  inside this  text", 6L -> " leading space on this text",
      7L -> "trailing space on this text ", 8L -> "doubled  spaces  inside this  text",
      9L -> "héllo wörld 日本語 テキスト 🙂 emoji tokens here",
      10L -> "héllo wörld 日本語 テキスト 🙂 emoji tokens there",
      11L -> "a b a b a b a b a b a b", 12L -> "a b a b a b a b a b a b c",
      13L -> "x y z x y z x y z", 14L -> "one two three")
    val invalidUtf8 = Seq(15L -> "61ff20622063206420ff", 16L -> "61ff20622063206420ff")
    texts.toDF("doc_id", "text").unionByName(invalidUtf8.toDF("doc_id", "hex")
      .select(col("doc_id"), unhex(col("hex")).cast("string").as("text")))
  }

  private def parityInputs: Seq[(String, DataFrame)] = Seq(
    "sf0.001" -> spark.read.parquet(s"$sf0001/documents.parquet"),
    "sf0.01" -> spark.read.parquet("/root/testdata/sf0.01/documents.parquet"),
    "edge cases" -> edgeDocs)

  test("kernel signatures and band keys equal the relational formulation") {
    for ((name, docs) <- parityInputs; (n, k, b) <- Seq((3, 64, 16), (1, 16, 8), (2, 8, 8))) {
      val want = Relational.signatures(docs, n, k)
        .as[(Long, Seq[Long])].collect().toMap
      val got = MinHash.signatures(docs, "doc_id", "text", n, k)
        .as[(Long, Seq[Long])].collect().toMap
      assert(got === want, s"$name signatures n=$n k=$k")
      assert(got.nonEmpty, s"$name vacuous at n=$n")
      val wantBands = Relational.bandKeys(Relational.mins(
        Relational.distinctHashes(docs, n), k), k, b)
        .as[(Long, Int, Long)].collect().toSet
      val gotBands = MinHash.bandKeys(docs, "doc_id", "text", n, k, b)
        .as[(Long, Int, Long)].collect().toSet
      assert(gotBands === wantBands, s"$name band keys n=$n k=$k b=$b")
    }
  }

  test("kernel nearDupPairs rows equal the relational formulation") {
    for ((name, docs) <- parityInputs; (n, k, b) <- Seq((3, 64, 16), (1, 16, 8))) {
      val want = Relational.nearDupPairs(docs, n, k, b)
        .as[(Long, Long, Double)].collect().toSet
      val got = MinHash.nearDupPairs(docs, "doc_id", "text", n, k, b)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got === want, s"$name pairs n=$n")
      assert(got.nonEmpty, s"$name vacuous at n=$n")
    }
    // the edge rows that drop out (NULL text, fewer than n tokens) and the
    // tokenizer's empty tokens are in both: pin a few verdicts directly
    val edge = MinHash.nearDupPairs(edgeDocs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(edge((5L, 8L)) === 1.0, "identical texts with doubled spaces")
    assert(edge((15L, 16L)) === 1.0, "invalid UTF-8 texts still shingle")
    val sigIds = MinHash.signatures(edgeDocs, "doc_id", "text")
      .select("id").as[Long].collect().toSet
    assert(!sigIds.contains(1L) && !sigIds.contains(2L) && !sigIds.contains(3L),
      "NULL, empty and two-token texts have no 3-shingles")
    assert(sigIds.contains(4L), "three spaces are four empty tokens: two shingles")
  }

  test("nearDupPairs stays one lazy plan: no landed stage, no cache") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    spark.catalog.clearCache()
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text")
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(!plan.contains("graft_stage_"), s"fast path reads a landed stage:\n$plan")
    pairs.collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("minhash candidates recall exact high-jaccard pairs on real corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // exact pairs with jaccard >= 0.5 (blocked by nothing — full n² at 500 docs)
    val sh = docs.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
    val a = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val b = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    val exact = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("j", col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("j") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet

    val found = MinHash.nearDupPairs(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet

    assert(exact.nonEmpty, "corpus should contain at least one 0.5-jaccard pair")
    val recall = exact.intersect(found).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (${exact.size} true pairs)")
    // verified jaccard means no false positives above threshold
    assert(found.subsetOf(found.union(exact)))
  }

  test("inverted-index jaccard equals the direct array-intersect computation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = {
      val sh = docs.select(col("doc_id"), col("source"), col("lang"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
      val a = sh.select(col("source"), col("lang"), col("doc_id").as("id1"), col("sh").as("sh1"))
      val b = sh.select(col("source"), col("lang"), col("doc_id").as("id2"), col("sh").as("sh2"))
      a.join(b, Seq("source", "lang")).filter(col("id1") < col("id2"))
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
        .withColumn("j", col("inter") /
          (size(col("sh1")) + size(col("sh2")) - col("inter")).cast("double"))
        .filter(col("j") >= 0.05)
        .select(col("id1"), col("id2"), col("j"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val inverted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3,
      Seq("source", "lang"), 0.05)
      .as[(Long, Long, Double)].collect().toSet
    assert(inverted === direct)
  }

  test("containment catches the quote Jaccard washes out; directions are exact") {
    // doc 7 is doc 6's text quoted whole inside a much longer document:
    // jaccard ≈ |A|/|B| is small, containment of 6 in 7 must be 1.0
    val quoted = Seq(
      (6L, "alpha beta gamma delta epsilon"),
      (7L, "intro words first alpha beta gamma delta epsilon then many trailing filler " +
        "tokens continue the long document with unrelated content until the end here"),
      (8L, "totally disjoint vocabulary row nothing shared at all with others")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(quoted, "doc_id", "text",
      shingleN = 3, blockCols = Nil, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(pairs.length === 1)
    val (id1, id2, c12, c21) = pairs.head
    assert((id1, id2) === (6L, 7L))
    assert(c12 === 1.0, "every shingle of the short doc appears in the long one")
    assert(c21 < 0.25, "the long doc is mostly NOT covered by the short one")
    // and symmetric jaccard at the same cut misses it
    val j = Dedup.ngramJaccardPairs(quoted, "doc_id", "text",
      shingleN = 3, blockCols = Nil, minJaccard = 0.9).count()
    assert(j === 0L)
  }

  test("ngram jaccard maxDf: generous cap is exact, tight cap only drops, cap<2 is loud") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, Nil, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    // fixture max df is single-digit — a cap of 64 must be bit-identical
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, Nil, 0.3,
      maxDf = Some(64L)).as[(Long, Long, Double)].collect().toSet
    assert(capped === exact)
    // a tight cap may lose pairs (hot-shingle evidence dropped) but must
    // never invent one, and surviving scores only shrink (underestimate)
    val tight = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, Nil, 0.3,
      maxDf = Some(2L)).as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exactMap = exact.map(r => (r._1, r._2) -> r._3).toMap
    tight.foreach { case (k, j) =>
      assert(exactMap.contains(k), s"capped run invented pair $k")
      assert(j <= exactMap(k) + 1e-12, s"capped jaccard exceeds exact for $k")
    }
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, Nil, 0.3,
        maxDf = Some(1L)).collect()
    }
    assert(e.getMessage.contains("maxDf"))
  }

  test("sparse cosine pairs equals a local dense computation; maxDf only drops pairs") {
    val got = Dedup.sparseCosinePairs(corpus, "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // local reference: dense TF vectors, exact integer sums
    val tfs = corpus.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    }.toMap
    for {
      (i, ti) <- tfs; (j, tj) <- tfs if i < j
    } {
      val dot = ti.keySet.intersect(tj.keySet).toSeq.map(k => ti(k) * tj(k)).sum
      val exp = dot.toDouble /
        (math.sqrt(ti.values.map(x => x * x).sum.toDouble) *
          math.sqrt(tj.values.map(x => x * x).sum.toDouble))
      if (dot > 0) assert(got((i, j)) === exp, s"pair ($i,$j)")
      else assert(!got.contains((i, j)))
    }
    // exact dups score 1.0; near-dups score high
    assert(got((1L, 4L)) === 1.0)
    assert(got((1L, 2L)) > 0.9)

    // pruning hot terms ("the" has df=3) only removes pairs, and surviving
    // scores are lower bounds of the exact ones
    val pruned = Dedup.sparseCosinePairs(corpus, "doc_id", "text",
      threshold = 0.0, maxDf = Some(2))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pruned.keySet.subsetOf(got.keySet))
    pruned.foreach { case (p, s) => assert(s <= got(p) + 1e-12) }
  }

  test("portable md5 minhash finds the same high-jaccard pairs as the fast path") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = MinHash.nearDupPairs(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val portable = MinHash.nearDupPairsPortable(docs, "doc_id", "text")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // different hash families → different candidate sets, but both verify
    // exactly, so at J >= 0.5 the planted near-dups must agree (k=16/b=8
    // banding at r=2 catches J >= 0.5 with prob ~1-(1-J^2)^8 > 0.9)
    assert(fast === portable)
    assert(portable.nonEmpty)
  }

  test("dense cosine rejects oversized vocabularies; dispatcher falls back to postings") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    intercept[IllegalArgumentException] {
      Dedup.denseCosinePairs(docs, "doc_id", "text", threshold = 0.9, vocabCap = 2)
    }
    // the dispatcher takes the postings plan instead of throwing
    val viaDispatch = Dedup.cosinePairs(docs, "doc_id", "text",
      threshold = 0.9, denseVocabCap = 2)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val direct = Dedup.sparseCosinePairs(docs, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(viaDispatch === direct)
  }

  test("prefix-filtered jaccard equals the full postings join (lossless pruning)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, blockCols = Nil, minJaccard = t)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val pruned = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = t)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(pruned === full, s"threshold $t")
      assert(full.nonEmpty, s"vacuous at $t")
    }
  }

  test("dense cosine plan is bitwise-equal to the postings plan") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sparse = Dedup.sparseCosinePairs(docs, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val dense = Dedup.denseCosinePairs(docs, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(dense === sparse) // exact: same integer dots, same IEEE finals
    assert(sparse.nonEmpty)
  }

  test("dropExactDuplicates keeps exactly one row per content group") {
    val out = Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 3L, 5L)) // doc 4 is the exact dup of 1
  }

  test("simhash: identical docs distance 0, near-dups close, unrelated far") {
    val fp = SimHash.fingerprints(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(SimHashDist(fp(1L), fp(4L)) === 0)
    assert(SimHashDist(fp(1L), fp(2L)) <= 16, "near-dup should be close")
    assert(SimHashDist(fp(1L), fp(3L)) > 16, "unrelated should be far")
  }

  private def SimHashDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("portable simhash: identical docs at distance 0, near-dups close, unrelated far") {
    val fp = SimHash.fingerprintsPortable(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(4L)) // exact dups → identical fingerprints
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(1L, 2L) <= 10, s"near-dup distance ${ham(1L, 2L)}")
    assert(ham(1L, 3L) > 10, s"unrelated distance ${ham(1L, 3L)}")
    val pairs = SimHash.nearDupPairsPortable(corpus, "doc_id", "text", maxHamming = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("SWAR-packed simhash equals the per-bit 64-column formulation") {
    import org.apache.spark.sql.functions._
    // reference formulation: one sum(±1) column per bit, sign → bit
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val hashed = docs.select(col("doc_id").as("id"),
      explode(array_distinct(graft.text.TextFunctions.tokens(col("text")))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"b$i")
    }
    val reference = hashed.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("fp"))
      .as[(Long, Long)].collect().toMap

    val swar = SimHash.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(swar === reference)
  }

  test("sharedShingleCounts equals the direct intersect cardinality") {
    val direct = {
      val sh = corpus.select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
      sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .crossJoin(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")))
        .filter(col("id1") < col("id2"))
        .withColumn("n", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
        .filter(col("n") >= 3L)
        .select(col("id1"), col("id2"), col("n"))
        .as[(Long, Long, Long)].collect().toSet
    }
    val got = Dedup.sharedShingleCounts(corpus, "doc_id", "text",
      shingleN = 3, minShared = 3L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === direct)
    assert(got.exists { case (a, b, _) => (a, b) == ((1L, 4L)) }) // exact dup pair
  }

  test("portableBandKeys emits numBands rows per doc with shingles") {
    val bk = MinHash.portableBandKeys(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 16, numBands = 8)
    val perDoc = bk.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perDoc.size === 5 && perDoc.values.forall(_ == 8L))
    // identical docs band identically in every band; the banding is what
    // nearDupPairsPortable candidates ride, so this is its soundness floor
    val keys = bk.as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(keys(1L) === keys(4L))
  }
}
