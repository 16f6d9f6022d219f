package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MinHashKernel

/** MinHash + LSH near-duplicate detection over text, DataFrame-only.
  *
  * Pipeline (all distributed, no driver-side loops):
  *   1. sketch: one per-document kernel pass ([[MinHashKernel]]) splits the
  *      text, hashes each token once, fuses the n-gram shingle hashes,
  *      sorts and dedups them, then takes the k mins
  *      `min(xxhash64(seed_i, h))` and the b band keys — a row-local
  *      generator, no exchange
  *   2. banding: b bands of r = k / b mins; band key = hash of the band's
  *      mins; docs sharing any band key become candidates (standard LSH
  *      S-curve: P[candidate] = 1-(1-J^r)^b)
  *   3. candidate pairs: self-join on (band, key) with id < id — the only
  *      shuffle-join, on the tiny banded projection, never on the texts
  *   4. exact verify: the two documents' sorted distinct-hash arrays are
  *      merge-walked for |A∩B| — true Jaccard
  *
  * Design note for scale: a document's shingles, signature and bands depend
  * on that document alone, so one kernel pass computes them where the row
  * is, over a primitive `long[]`: O(tokens) byte hashing, a sort of the s
  * shingle hashes, and O(s · k) long hashes for the mins. No exchange and
  * no per-shingle rows, so the only shuffles left are the banded self-join
  * and its pair dedup. Values are bit-identical to the relational
  * explode/window/groupBy formulation, which DedupSpec keeps as the parity
  * reference. (Spark higher-order lambdas are no substitute: they run
  * interpreted over boxed arrays, ~60× slower on signatures.)
  *
  * Ids are the document key: each must be unique. Docs with no shingles
  * (NULL text, fewer than n tokens) drop out — they cannot near-dup match.
  *
  * Skew: a hot band bucket (shared boilerplate) is capped by `maxBucket`
  * before the self-join; AQE skew-join splitting covers the rest.
  */
object MinHash {

  /** (id, `names`…) rows of the kernel's sketch per doc with shingles (see
    * [[MinHashKernel.sketchRows]] for the `numHashes`/`numBands` modes).
    */
  private def sketches(docs: DataFrame, idCol: String, textCol: String,
                       names: Seq[String], shingleN: Int, numHashes: Int = 0,
                       numBands: Int = 0): DataFrame =
    docs.select(col(idCol).as("id"),
      MinHashKernel.sketchRows(col(textCol), shingleN, numHashes, numBands).as(names))

  /** k-minhash signature as a single array<long> column (id, sig). */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    sketches(docs, idCol, textCol, Seq("sig"), shingleN, k)
  }

  /** (id, band, band_key) LSH banding rows for each doc: the unit of
    * near-dup candidacy (two docs sharing any (band, band_key) are
    * candidates). Public building block — the batch pair-finder and the
    * streaming ingest filter both consume it.
    */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, numHashes: Int = 64,
               numBands: Int = 16): DataFrame = {
    require(numBands >= 1, "numBands must be >= 1")
    sketches(docs, idCol, textCol, Seq("band", "band_key"), shingleN, numHashes, numBands)
  }

  /** Candidate pairs from banded rows: skew-cap pathological buckets, then
    * the one shuffle-join on the banded projection. Shared by the xxhash64
    * fast path and the md5-portable variant (one place for the bucket cap
    * and the id1<id2 convention).
    */
  private[dedup] def candidatePairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val bucketed = banded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("__n") <= maxBucket).drop("__n")
    bucketed.select(col("band"), col("band_key"), col("id").as("id1"))
      .join(bucketed.select(col("band"), col("band_key"), col("id").as("id2")),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact Jaccard for candidate pairs via the inverted index on distinct
    * (id, h) rows: |A∩B| as equi-joined row counts — hash joins over longs,
    * no per-pair array work. The portable variant's verify (the fast path
    * merge-walks the kernel's hash arrays instead).
    */
  private[dedup] def verifyJaccard(hs: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = hs.groupBy(col("id")).agg(count(lit(1)).as("n"))
    candidates
      .join(hs.select(col("id").as("id1"), col("h")), "id1")
      .join(hs.select(col("id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
  }

  /** Engine-portable MinHash: the identical pipeline with every hash
    * md5-derived (60-bit hex-prefix longs), so signatures, band keys,
    * candidates, and verified Jaccards are all reproducible in any engine —
    * this variant is DuckDB-oracle hash-checked end to end, closing the
    * "seeded hashes aren't portable" gap the xxhash64 fast path carries.
    *
    * Cost: one md5 per distinct shingle + k short-input md5 mixes per
    * distinct shingle hash (vs xxhash64's fused fixed-width hashing) —
    * the fast path stays the default; this is the verifiable one. Same
    * scale shape: explode → groupBy min aggregates → banded equi-join →
    * inverted-index verify; no HOF lambdas, no array row work.
    */
  def nearDupPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 16,
                           numBands: Int = 8, minJaccard: Double = 0.5,
                           maxBucket: Int = 1000): DataFrame = {
    val (hs, banded) = portableIndex(docs, idCol, textCol, shingleN,
      numHashes, numBands)
    verifyJaccard(hs, candidatePairs(banded, maxBucket))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The portable pipeline's banded rows (id, band, band_key) — exposed for
    * index DIAGNOSTICS (bucket-size distributions, collision budgets) that
    * read the banding itself rather than the pairs it produces.
    */
  def portableBandKeys(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, numHashes: Int = 16,
                       numBands: Int = 8): DataFrame =
    portableIndex(docs, idCol, textCol, shingleN, numHashes, numBands)._2

  /** The portable pipeline's PRE-VERIFY candidate pairs (id1 < id2) —
    * exposed for blocking-quality audits (pair completeness vs an exact
    * truth set, comparison-space reduction): the blocker's raw output IS
    * the quantity those metrics are defined on, before verification
    * shrinks it.
    */
  def portableCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 3, numHashes: Int = 16,
                             numBands: Int = 8,
                             maxBucket: Int = 1000): DataFrame =
    candidatePairs(portableIndex(docs, idCol, textCol, shingleN,
      numHashes, numBands)._2, maxBucket)

  /** Shared build of the portable (distinct-hash, banded) frames. */
  /** Portable md5-derived minhash mins m0..m(k-1) per id from the distinct
    * 60-bit shingle-hash frame. One md5 digest is 128 bits = TWO
    * independent 60-bit mixes (hex chars 1-15 and 16-30), so k mins cost
    * k/2 digests per distinct shingle hash. Digests are projected per row
    * ONCE; the min aggregates then slice them (no reliance on CSE inside
    * aggregate update expressions).
    */
  private def portableMins(hs: DataFrame, numHashes: Int): DataFrame = {
    val withDigests = hs.select(col("id") +: (0 until numHashes / 2).map(g =>
      md5(concat(lit(s"$g:"), col("h").cast("string"))).as(s"d$g")): _*)
    val aggs = (0 until numHashes).map { i =>
      val (g, off) = (i / 2, 1 + 15 * (i % 2))
      min(conv(substring(col(s"d$g"), off, 15), 16, 10).cast("long")).as(s"m$i")
    }
    withDigests.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The portable pipeline's signature frame (id, m0..m(k-1)) — exposed for
    * sketch CALIBRATION audits that compare the signature's Jaccard
    * ESTIMATE (matching components / k) against the exact verify on the
    * same pairs. Rides the same landed distinct-hash stage as
    * [[nearDupPairsPortable]] (identical memo key), so a query using both
    * tokenizes the corpus once.
    */
  def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, numHashes: Int = 16): DataFrame =
    // LANDED (r15, guide §2.4): the signature frame is answer-sized (one
    // row per doc) and every calibration consumer reads it TWICE (the id1
    // and id2 sides of the pair join) — unlanded, the k/2-digests-per-
    // distinct-shingle aggregation ran once per side
    graft.relational.Stages.materialize(
      portableMins(portableHashes(docs, idCol, textCol, shingleN), numHashes),
      "minhash_sig")

  /** Landed distinct (id, 60-bit md5 shingle hash) frame of the portable
    * pipeline (see the landing rationale below — four consumers with
    * different column pruning defeat ReuseExchange).
    */
  private def portableHashes(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // single-slice keys use the NATIVE fused digest slice (same value as
    // conv(substring(md5,1,15),16,10), no hex-string intermediate)
    def fp60(c: Column): Column = graft.functions.HashFunctions.md5Bits60(c)
    // Window-lead shingle assembly (codegen'd), measured faster here than
    // row-local HOF slicing: this path md5-hashes every shingle STRING for
    // oracle portability, and the interpreted transform/array_join lambdas
    // stacked on top of that cost more than the one word shuffle the window
    // pays.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val leads = (0 until shingleN).map {
      case 0 => col("t")
      case i => lead(col("t"), i).over(w)
    }
    graft.relational.Stages.materialize(
      docs
        .select(col(idCol).as("id"), posexplode(split(col(textCol), " ")).as(Seq("pos", "t")))
        .select(col("id"), concat_ws(" ", leads: _*).as("s"), leads.last.isNotNull.as("full"))
        .filter(col("full"))
        .select(col("id"), fp60(col("s")).as("h"))
        .distinct(),
      "minhash_portable_hs")
  }

  private def portableIndex(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, numHashes: Int,
                            numBands: Int): (DataFrame, DataFrame) = {
    require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
    require(numHashes % 2 == 0, "numHashes must be even (two 60-bit mins per md5 digest)")
    val r = numHashes / numBands
    def fp60(c: Column): Column = graft.functions.HashFunctions.md5Bits60(c)
    val hs = portableHashes(docs, idCol, textCol, shingleN)
    // FOUR consumers (digest mins, both verify sides, sizes) read this
    // frame, so it is LANDED durably ([[graft.relational.Stages
    // .materialize]]) rather than left to best-effort ReuseExchange: the
    // consumers prune columns differently (verify reads (id, h), sizes only
    // id), which rewrites each consumer's copy of the distinct subtree and
    // breaks the exchange-subtree identity reuse matches on — the corpus
    // scan + per-shingle md5 then re-derives per consumer (measured: the
    // slowest batch row at sf0.1, shuf=12). Landing the compact (id, h)
    // output once is exactly the tokenize-job → similarity-job boundary a
    // production pipeline has.
    // LANDED with the SAME memo key as [[portableSignatures]] (identical
    // plan over the landed hs read): every banding consumer — the portable
    // pair rows, the calibration rows, the band-stats row, and the
    // blocking audits' candidate side — reads ONE landed signature frame
    // instead of re-running the k/2-digests-per-distinct-shingle
    // aggregation per query (r15, guide §2.4)
    val mins = graft.relational.Stages.materialize(
      portableMins(hs, numHashes), "minhash_sig")
    val banded = mins.select(col("id"), explode(array((0 until numBands).map { j =>
        struct(lit(j).as("band"),
          fp60(concat_ws(":",
            (j * r until (j + 1) * r).map(i => col(s"m$i").cast("string")): _*)).as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.band_key"))
    (hs, banded)
  }

  /** Candidate near-dup pairs (id1 < id2) with exact Jaccard attached.
    * Lazy and unlanded: the sketches are per-row generators, so each
    * consumer (bands, both verify sides) recomputes them from `docs`
    * instead of reading a materialized (id, h) stage.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, numBands: Int = 16,
                   maxBucket: Int = 1000): DataFrame = {
    // verify runs on distinct shingle-HASH sets (xxhash64 collisions are the
    // only divergence from string-set jaccard — negligible at 2^-64)
    val hs = sketches(docs, idCol, textCol, Seq("hs"), shingleN)
    candidatePairs(bandKeys(docs, idCol, textCol, shingleN, numHashes, numBands), maxBucket)
      .join(hs.select(col("id").as("id1"), col("hs").as("hs1")), "id1")
      .join(hs.select(col("id").as("id2"), col("hs").as("hs2")), "id2")
      .select(col("id1"), col("id2"),
        MinHashKernel.jaccardCol(col("hs1"), col("hs2")).as("jaccard"))
  }
}
