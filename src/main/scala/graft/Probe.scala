package graft

import org.apache.spark.sql.SparkSession

/** Scratch driver: exercises the non-query library surface (etl pipeline,
  * streaming ingest, multimodal decode) end-to-end from the public API —
  * the modules graft.Verify/Bench don't reach. Dev tool, not driver contract. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Verify.session("local[4]", "4")
    val root = java.nio.file.Files.createTempDirectory("graft_probe").toString

    // 1. reference pipeline end-to-end on the checked-in fixture
    val rawDst = java.nio.file.Paths.get(root, "raw_data")
    java.nio.file.Files.createDirectories(rawDst)
    // relative to the working directory (sbt's forked `run` starts in the
    // project dir), so each checkout reads its own fixture
    val fixture = java.nio.file.Paths.get("src/test/resources/raw_coins.json")
    java.nio.file.Files.copy(fixture, rawDst.resolve("cryptoinsight_raw_1"))
    val p = new etl.Pipeline(spark, root)
    p.run()
    println(s"[probe] dim rows=${p.dim().count()} fact rows=${p.fact().count()}")
    p.dim().show(10, false)

    // 2. streaming ingest twin (AvailableNow) over a fresh raw drop
    val sroot = s"$root/stream"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$sroot/raw"))
    java.nio.file.Files.copy(fixture, java.nio.file.Paths.get(s"$sroot/raw/dump.json"))
    val q = streaming.StreamTwins.ingest(spark, s"$sroot/raw", s"$sroot/sink", s"$sroot/cp").start()
    q.awaitTermination(60000)
    println(s"[probe] streamed rows=${Tables.parquet(spark, s"$sroot/sink").count()}")

    // 3. composed curation pipeline: gate → dedup → decontaminate → chunk
    //    → pack → split over the sf0.001 corpus
    val cp = new llm.CurationPipeline(spark, "/root/testdata/sf0.001", s"$root/curation")
    cp.run()
    println(s"[probe] curation stages=${cp.stageRows}")

    // 3b. composed embedding pipeline: whiten → semdedup → scores → codes
    //     → ANN serve over the sf0.001 vectors
    val ep = new llm.EmbeddingPipeline(spark, "/root/testdata/sf0.001", s"$root/embed")
    ep.run()
    println(s"[probe] embedding stages=${ep.stageRows}")

    // 4. multimodal decode → resize → frame sample over sf0.001 documents
    val media = multimodal.Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
    val dec = multimodal.Multimodal.decode(media)
    println(s"[probe] decoded=${dec.count()}")
    multimodal.Multimodal.resize(dec, 64).select("media_id", "kind", "width", "height", "out_width", "out_height").show(5)
    multimodal.Multimodal.sampleFrames(dec, 10).show(5)
    spark.stop()
  }
}
