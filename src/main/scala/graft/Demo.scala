package graft

import graft.operators.Multimodal
import graft.pipeline.Listings
import graft.streaming.Streams

/** End-to-end usage demo of the library's public API — the reference's full
  * pipeline (fetch → extract → typed table → CSV/parquet sinks), the
  * multimodal operators, and checkpointed file-stream ingest. Writes under
  * a scratch dir and prints a one-line summary per stage.
  *
  * Run: `sbt "runMain graft.Demo [scratchDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_demo"
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Reference pipeline (download_lambda.py semantics), end to end.
    val html =
      """<div class="listing-card__content"><span class="price__actual">$ 99.000.000</span>
        |<div class="listing-card__location__geo">Suba</div>
        |<p data-test="bedrooms" content="2"></p><p data-test="bathrooms" content="1"></p>
        |<p data-test="floor-area" content="55"></p></div>""".stripMargin
    val pages = Listings.goodPages(Listings.fetchPages(
      spark, (1 to 10).map(i => s"u?page=$i"),
      u => if (u.endsWith("3")) (500, "") else (200, html))) // page 3 fails; run continues
    val table = Listings.extract(pages.map(p => ("2026-08-12.html", p.body))).toDF()
    Listings.writeCsv(table, s"$out/csv")
    Listings.writePartitionedParquet(table, s"$out/pq")
    println("csv rows: " + spark.read.option("header", "true").csv(s"$out/csv").count())
    println("pq partitions: " +
      new java.io.File(s"$out/pq").list().count(_.startsWith("dt=")))

    // Multimodal operators through the public API.
    val media = Multimodal.synthesize(spark, 9)
    println("media features: " + Multimodal.featureTable(media).count())
    println("video frames: " + Multimodal.sampleFrames(media, 4).count())

    // Checkpointed file-stream ingest, drained twice (exactly-once).
    Streams.fileStreamIngest(spark, s"$out/pq/dt=2026-08-12", s"$out/stream_out", s"$out/ckpt")
    Streams.fileStreamIngest(spark, s"$out/pq/dt=2026-08-12", s"$out/stream_out", s"$out/ckpt")
    println("stream out rows: " + spark.read.parquet(s"$out/stream_out").count())

    // Custom-plan surface: the Generator UDTF in SQL space, and the
    // whole-operator cosine top-k over the embeddings fixture.
    val viaGen = Seq(("2026-08-12.html", html)).toDF("file", "value")
      .selectExpr("graft_extract_listings(file, value)")
    println("generator rows: " + viaGen.count())
    val emb = Tables.embeddings(spark, graft.queries.Oracle.sfDir)
    val topk = graft.plans.SimilarityOps.cosineTopK(
      emb.limit(3), emb("vec_id"), emb("embedding"),
      emb, emb("vec_id"), emb("embedding"), k = 2)
    println("cosineTopK rows: " + topk.count())
    spark.stop()
  }
}
