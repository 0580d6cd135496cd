package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input hardening: empty corpora, null/empty text, short
  * docs — operators must return empty/defined results, never throw.
  */
class EdgeCaseSpec extends SparkSpec {

  import spark.implicits._

  private val edgy = Seq(
    (1L, "normal document with several words here"),
    (2L, ""),                       // empty text
    (3L, "one"),                    // shorter than shingle width
    (4L, "two words"),
    (5L, null.asInstanceOf[String]) // null text
  ).toDF("doc_id", "text")

  private val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators survive null/empty/short text") {
    assert(Dedup.minhashDuplicates(edgy, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.simhashDuplicates(edgy, "doc_id", "text", 3).count() >= 0)
    val groups = Dedup.exactGroups(edgy, "doc_id", "text").collect()
    // null fingerprint group + 4 distinct contents
    assert(groups.map(_.getLong(2)).sum == 5)
    assert(Dedup.ngramJaccardSearch(edgy, "doc_id", "text", col("id") < 3, 0.1).count() == 0)
  }

  test("dedup operators on an empty corpus return empty, not errors") {
    assert(Dedup.minhashDuplicates(empty, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.simhashDuplicates(empty, "doc_id", "text", 3).count() == 0)
    assert(Dedup.exactGroups(empty, "doc_id", "text").count() == 0)
  }

  test("text analysis yields nulls for null text, values otherwise") {
    val rows = edgy.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.langId("text").as("lang"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(5L).isNullAt(1) && rows(5L).isNullAt(2))
    assert(!rows(1L).isNullAt(1) && rows(1L).getString(3) == "und")
    assert(rows(2L).getLong(1) == 1) // empty string → one empty token
  }

  test("lexical diversity and prefix clusters survive null/empty/short text") {
    val ld = TextAnalysis.lexicalDiversity(edgy, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // null text explodes to no rows → doc absent (same as repetitionProfile)
    assert(!ld.contains(5L))
    // empty text is one empty-string token: 1 word, 1 type, 1 hapax, ttr 1.0
    assert(ld(2L).getLong(1) == 1L && ld(2L).getLong(2) == 1L && ld(2L).getDouble(4) == 1.0)
    // all-distinct doc: ttr 1.0, hapax_ratio 1.0
    assert(ld(1L).getDouble(4) == 1.0 && ld(1L).getDouble(5) == 1.0)
    assert(TextAnalysis.lexicalDiversity(empty, "doc_id", "text").count() == 0)

    // no two docs share a first word → no clusters; k beyond doc length clamps
    assert(Dedup.prefixClusters(edgy, "doc_id", "text", 1).count() == 0)
    // two null-text docs must NOT form a spurious null-prefix cluster
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "real text here")).toDF("doc_id", "text")
    assert(Dedup.prefixClusters(nulls, "doc_id", "text", 2).count() == 0)
    assert(Dedup.prefixClusters(empty, "doc_id", "text", 8).count() == 0)
    val twins = Seq((1L, "same start differs here"), (2L, "same start other tail"),
      (3L, "same")).toDF("doc_id", "text")
    val c = Dedup.prefixClusters(twins, "doc_id", "text", 2).collect()
    assert(c.length == 1 && c.head.getString(0) == "same start" &&
      c.head.getLong(1) == 2L && c.head.getLong(2) == 1L)
    // k=1: "same" prefix of doc 3 joins the cluster (slice clamps)
    val c1 = Dedup.prefixClusters(twins, "doc_id", "text", 1).collect()
    assert(c1.length == 1 && c1.head.getLong(1) == 3L)
  }

  test("ANN operators survive an empty corpus") {
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Ann.bruteForceTopK(emptyVec, "vec_id", "embedding", col("query_id") < 5).count() == 0)
    assert(Ann.lshTopK(emptyVec, "vec_id", "embedding", col("query_id") < 5).count() == 0)
    assert(Ann.cosineNearDup(emptyVec, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("duplicate clusters on empty and singleton pair lists") {
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(noPairs).count() == 0)
    val one = Seq((7L, 9L)).toDF("doc_a", "doc_b")
    val m = Dedup.duplicateClusters(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(7L -> 7L, 9L -> 7L))
  }

  test("IVF survives degenerate corpora: fewer vectors than cells, zero vectors") {
    val tiny = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f))).toDF("vec_id", "embedding")
    val got = Ann.ivfTopK(tiny, "vec_id", "embedding", col("query_id") === 1L,
      k = 1, nCells = 8, nProbe = 2) // more cells requested than vectors exist
    assert(got.count() == 1 && got.head().getLong(1) == 3L)
    // zero-norm vector must not divide by zero during centroid normalization
    val withZero = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    assert(Ann.ivfIndex(withZero, "vec_id", "embedding", nCells = 2)
      .assigned.count() == 2)
  }

  test("sequence packing and decontamination survive empty corpora") {
    import graft.queries.TrainPrep
    val dir = tempDir("graft-edge-").toString
    empty.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0L))
      .write.parquet(s"$dir/documents.parquet")
    assert(TrainPrep.qPackSequences(spark, dir).count() == 0)
    assert(TrainPrep.qDecontaminate(spark, dir).count() == 0)
    assert(TrainPrep.qMixtureSample(spark, dir).count() == 0)
  }

  test("multimodal decode tolerates empty payloads") {
    val recs = Multimodal.toMediaRecords(
      Seq((9L, "", "zh", "src0", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val f = Multimodal.decodeFeatures(recs).head()
    assert(f.byteLen == 0 && f.sha256.nonEmpty)
  }

  test("vector ops survive empty input and singleton centroids") {
    val emptyVec = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(VectorOps.l2Normalize(emptyVec, "vec_id", "embedding").count() == 0)
    assert(VectorOps.quantizeInt8(emptyVec, "vec_id", "embedding").count() == 0)
    val one = Seq((1L, Seq(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val cents = Seq((7L, Seq(1.0f, 0.0f))).toDF("cid", "cvec")
    val got = VectorOps.assignNearestCentroid(one, "vec_id", "embedding",
      cents, "cid", "cvec").collect()
    assert(got.length == 1 && got.head.getAs[Long]("cid") == 7L)
    assert(VectorOps.assignNearestCentroid(emptyVec, "vec_id", "embedding",
      cents, "cid", "cvec").count() == 0)
  }

  test("repetition profile survives empty corpus and single-word docs") {
    assert(TextAnalysis.repetitionProfile(empty, "doc_id", "text").count() == 0)
    val single = Seq((1L, "word"), (2L, "a a a a")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionProfile(single, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("rep_ratio"), r.getAs[String]("top_word"))).toMap
    assert(rows(1L) == ((1L, 0.0, "word")))
    assert(rows(2L) == ((4L, 0.75, "a")))
  }

  test("merge and compact handle empty sources and nothing-to-do tables") {
    import graft.sinks.Writers
    import graft.meta.SnapshotCatalog
    val cat = new SnapshotCatalog(
      tempDir("graft-edge-m-").toString)
    val dataDir = tempDir("graft-edge-md-").toString
    val t = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Writers.writeSnapshot(cat, "t", t, dataDir)
    // empty source: a no-op upsert — table unchanged, commit still clean
    val emptySrc = Seq.empty[(Long, String)].toDF("k", "v")
    Writers.mergeInto(spark, cat, "t", emptySrc, Seq("k"), dataDir)
    assert(cat.read(spark, "t").count() == 2)
    // single small file: nothing to compact
    assert(Writers.compact(spark, cat, "t", dataDir, minFiles = 2).isEmpty ||
      cat.read(spark, "t").count() == 2)
  }
}
