package perfbench

/** Not a workload: prints what each workload's generator produces for a
  * seed (input digests and ground-truth totals), so two runs on one seed can
  * be compared without measuring anything.
  */
object Digest {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val stream = Wire.labeled(spark, ctx.seed, 0, StreamRoute.LandedRecords, 8,
      redeliveries = true)
    CorpusDedup.land(spark, ctx.seed, 0L, CorpusDedup.Docs, ctx.path("corpus-0"))
    val corpus = spark.read.parquet(ctx.path("corpus-0"))
    val info = Map[String, Any](
      "stream_route_digest" -> Main.digest(Wire.flat(stream)),
      "stream_route_expected" -> Wire.render(Wire.expected(stream)),
      "stream_route_redeliveries" -> stream.filter("redelivery").count(),
      "corpus_dedup_digest" -> Main.digest(corpus),
      "corpus_dedup_truth" -> CorpusDedup.truthSummary(ctx.seed, 0L))
    Outcome(1L, 1L, 0L, Seq(1.0), 1L, 0L, Nil, Seq(0.0), 0.0, Map.empty, info)
  }
}
