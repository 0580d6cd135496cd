package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Streaming micro-batch cost probe (r18, VERDICT #9): measure — not
  * assert — that `IngestDedupSink`'s per-batch cost is index-probe
  * linear, i.e. a same-shaped batch costs about the same against a 1×
  * corpus as against the 10× gate corpus (the documented design: one
  * co-keyed join of the batch against the fingerprint index, never a
  * corpus scan; the job-count half is spec-pinned in
  * IngestDedupSinkSpec). Seeds one table per corpus size, then drives
  * three identical 200-doc novel batches at each and records per-batch
  * wall seconds to stream_probe.json (committed next to
  * scale_gate.json / cpu_scaling.json).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *      sbt "runMain graft.StreamProbe /tmp/graft-sf1"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val scaledDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val sfDir = Measure.sfDir
    val spark = GraftSession.local("graft-stream-probe")
    ScaleUp.ensureScaled(spark, sfDir, scaledDir)

    // identical batch content at both corpus sizes: 200 novel docs (text
    // made unique so nothing dedups away and every batch pays the full
    // probe+verify+commit path)
    val batchSrc = Tables.documents(spark, sfDir)
      .orderBy(col("doc_id")).limit(200)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    def run(corpusDir: String, tag: String): Seq[Double] = {
      import spark.implicits._
      val cat = new graft.meta.SnapshotCatalog(
        Files.createTempDirectory(s"graft-sprobe-$tag-").toString)
      val dataDir = Files.createTempDirectory(s"graft-sprobe-data-$tag-").toString
      val ckpt = s"probe-$tag"
      def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
        graft.streaming.IngestDedupSink.ingestBatch(
          cat, "sp", "doc_id", "text", dataDir, ckpt)(df, id)
      val corpus = Tables.documents(spark, corpusDir).select("doc_id", "text")
      val nCorpus = corpus.count()
      ingest(corpus, 0L) // seed: the index now covers the whole corpus
      println(f"[sprobe] $tag: corpus seeded, $nCorpus%d docs")
      (1 to 3).map { b =>
        val batch = batchSrc.map { case (id, t) =>
          (id + 1000000L * b, s"$t novel$tag$b") }.toSeq.toDF("doc_id", "text")
        val sec = Measure.bestOf(1)(ingest(batch, b.toLong))
        println(f"[sprobe] $tag batch $b%d: $sec%.3f s")
        sec
      }
    }

    val b1 = run(sfDir, "1x")
    val b10 = run(scaledDir, "10x")
    spark.stop()
    val ratio = b10.min / b1.min
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val json =
      s"""{"batch_docs":200,"batches_1x_sec":${arr(b1)},"batches_10x_sec":${arr(b10)},""" +
        f""""min_ratio_10x_over_1x":$ratio%.2f}""" + "\n"
    Files.write(Paths.get("stream_probe.json"), json.getBytes(StandardCharsets.UTF_8))
    println(s"[sprobe] wrote stream_probe.json: $json")
  }
}
