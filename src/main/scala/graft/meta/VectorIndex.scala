package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.ops.{Ann, Pq}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Catalog-committed vector index (SURVEY §2.3 L39's lifecycle seam,
  * r17): PQ codes + codebooks + the IVF coarse assignment promoted from
  * per-session memos to TABLE SIDECARS, maintained per commit exactly
  * like the S13 bloom rule — so a fresh session (or another node)
  * serves ANN from the committed index with NO retrain, and time travel
  * serves each snapshot with the index GENERATION that encoded it.
  *
  * Layout:
  *  - model sidecar: `<table>/pqindex/model-g<gen>-<uuid>.json` — the
  *    trained geometry (PQ codebooks + unit-normalized IVF centroids;
  *    a few KB — m·k·subDim doubles), referenced by the snapshot prop
  *    [[SnapshotCatalog.PqModelProp]]. Column NAMES live in the
  *    re-keyable prop [[SnapshotCatalog.PqColumnsProp]] ("id:vec"),
  *    never in the model file, so a rename re-keys one prop and the
  *    frozen model stays valid.
  *  - codes sidecar: `<table>/pqindex/codes-g<gen>-<uuid>.parquet` —
  *    one dir PER COMMIT holding `(__src, __vid, cell, pq_codes)` for
  *    that commit's new files (`__src` = the file's scan URI, `__vid`
  *    the row id under a FIXED name so column renames can't orphan the
  *    codes). Each new [[FileMeta]] records the dir in `pqCodes`;
  *    reused files carry their ref like blooms/sketches, so a commit
  *    touching k of n files encodes O(k).
  *
  * Maintenance rule (the S13 sticky rule, verbatim): once
  * [[indexVectors]] commits the index, EVERY later commit re-encodes
  * its new files with the frozen generation's model — appends, COW
  * deletes, compaction rewrites, merge outputs all stay searchable
  * with zero extra calls, and compaction's rewritten files get fresh
  * codes automatically. Retraining is an explicit [[indexVectors]]
  * re-run: generation bumps, every file re-encodes, and older
  * snapshots keep serving from their own generation's model + refs
  * (the props and per-file refs both ride the snapshot).
  *
  * Search over a snapshot with outstanding MoR/equality deletes
  * REFUSES: codes are append-scoped sidecars and a masked row's codes
  * would resurface as a phantom neighbor. Compaction materializes the
  * masks and re-encodes the rewritten files, restoring searchability —
  * the same "compact first" contract as Iceberg's rewrite-then-index
  * maintenance loops.
  *
  * Reference scope: the reference engine has no vector surface — this
  * is the beyond-reference ANN family (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search") given the same committed
  * lifecycle as the catalog's bloom/sketch indexes.
  */
object VectorIndex {

  /** Fixed id-column name inside codes sidecars (rename-proof). */
  private val VidCol = "__vid"
  /** Fixed source-file column inside codes sidecars (scan-URI form). */
  private val SrcCol = "__src"

  /** Frozen index geometry — everything needed to encode/search except
    * the (re-keyable) column names. */
  final case class VecModel(
      generation: Long,
      dims: Int,
      m: Int,
      k: Int,
      codebooks: Seq[Seq[Seq[Double]]],
      ivfCentroids: Seq[Seq[Double]]) {
    def pqModel: Pq.PqModel = Pq.PqModel(dims, codebooks)
  }

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  private[meta] def loadModel(path: String): VecModel =
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
      .extract[VecModel]

  private def writeModel(dir: java.nio.file.Path, model: VecModel): String = {
    Files.createDirectories(dir)
    val p = dir.resolve(
      s"model-g${model.generation}-${java.util.UUID.randomUUID().toString.take(12)}.json")
    Files.write(p, org.json4s.jackson.Serialization.write(model)
      .getBytes(StandardCharsets.UTF_8))
    p.toAbsolutePath.toString
  }

  /** Parse the "id:vec" columns prop. */
  private[meta] def parseCols(v: String): (String, String) = {
    val parts = v.split(":", -1)
    require(parts.length == 2 && parts.forall(_.nonEmpty),
      s"malformed ${SnapshotCatalog.PqColumnsProp}: '$v' (want 'idCol:vecCol')")
    (parts(0), parts(1))
  }

  /** Encode `scan` (must expose idCol, vecCol and a `_file` lineage
    * column) under `model` and write ONE commit-scoped codes dir.
    * Returns the dir path. Cell assignment uses the model's frozen IVF
    * centroids — the same argmax-dot rule [[Ann.ivfIndex]] assigns
    * with, so search's probe order and the stored cells agree. */
  private def writeCodes(
      scan: DataFrame, idCol: String, vecCol: String,
      model: VecModel, outDir: java.nio.file.Path): String = {
    Files.createDirectories(outDir.getParent)
    val sub = model.dims / model.m
    val codeCols = (0 until model.m).map { j =>
      graft.ops.VectorOps.kmeansCell(model.codebooks(j),
        slice(col(vecCol), j * sub + 1, sub)).cast("int")
    }
    val cell = array_max(array(model.ivfCentroids.zipWithIndex.map { case (cv, i) =>
      struct(Ann.dot(col(vecCol), array(cv.map(lit): _*)).as("score"), lit(i).as("cell"))
    }: _*)).getField("cell").cast("int")
    scan.select(
      col("_file").as(SrcCol),
      col(idCol).as(VidCol),
      cell.as("cell"),
      array(codeCols: _*).as("pq_codes"))
      .write.mode("overwrite").parquet(outDir.toString)
    outDir.toAbsolutePath.toString
  }

  /** Commit-path hook (called by [[SnapshotCatalog.commit]] for new
    * files when the sticky prop is in force): encode `newPaths` with
    * the PARENT snapshot's frozen model. Returns the codes-dir ref to
    * stamp on each new file, or None when the index doesn't apply
    * (no sticky prop, no model yet, or the columns left the schema —
    * the commit proceeds unindexed; [[search]] reports the gap). */
  private[meta] def encodeForCommit(
      spark: SparkSession,
      parentProps: Map[String, String],
      schema: StructType,
      newPaths: Seq[String],
      pqDir: java.nio.file.Path): Option[String] = {
    if (newPaths.isEmpty) return None
    val spec = parentProps.get(SnapshotCatalog.PqColumnsProp)
    val modelPath = parentProps.get(SnapshotCatalog.PqModelProp)
    (spec, modelPath) match {
      case (Some(cols), Some(mp)) if Files.exists(Paths.get(mp)) =>
        val (idCol, vecCol) = parseCols(cols)
        if (!schema.fieldNames.contains(idCol) || !schema.fieldNames.contains(vecCol)) None
        else {
          val model = loadModel(mp)
          val scan = spark.read.parquet(newPaths: _*)
            .withColumn("_file", col("_metadata.file_path"))
          val out = pqDir.resolve(
            s"codes-g${model.generation}-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
          Some(writeCodes(scan, idCol, vecCol, model, out))
        }
      case _ => None
    }
  }

  /** Build (or RETRAIN) the committed index: train PQ codebooks + IVF
    * centroids on the table's current visible rows, encode EVERY file,
    * and publish one metadata commit carrying the sticky columns prop,
    * the new model ref, the bumped generation, and per-file codes refs
    * — the [[SnapshotCatalog.indexColumns]] shape for vectors. The
    * file set is unchanged (CDC/incremental readers see nothing). */
  def indexVectors(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      nCells: Int = 32,
      maxIters: Int = 4): SnapshotMeta = {
    val current = catalog.resolveSnapshot(table)
    val fields = current.schema.fieldNames.toSet
    require(fields.contains(idCol) && fields.contains(vecCol),
      s"indexVectors on $table: need columns $idCol and $vecCol")

    val gen = current.props.get(SnapshotCatalog.PqGenerationProp)
      .flatMap(_.toLongOption).getOrElse(0L) + 1L
    val visible = catalog.read(spark, table)
    val pq = Pq.train(visible, idCol, vecCol, m = m, k = k, maxIters = maxIters)
    val ivf = Ann.ivfIndex(visible, idCol, vecCol, nCells = nCells)
    val model = VecModel(gen, pq.dims, m, k, pq.codebooks, ivf.centroids)
    val pqDir = catalog.pqIndexDir(table)
    val modelRef = writeModel(pqDir, model)

    // one codes dir for the whole backfill: every current file encodes
    // under the new generation (a retrain must not leave mixed-gen refs)
    val paths = current.files.filter(_.rowCount > 0).map(_.path)
    val codesRef =
      if (paths.isEmpty) None
      else {
        val scan = catalog.scanFilesWithLineage(spark, current, paths)
        val out = pqDir.resolve(
          s"codes-g$gen-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
        Some(writeCodes(scan, idCol, vecCol, model, out))
      }

    catalog.publishOn(table) { prev =>
      // stamp ONLY the files this build actually encoded: a file
      // committed concurrently between the scan above and this publish
      // carries no codes yet — leaving it unstamped makes [[search]]
      // report the gap ("re-run indexVectors to backfill") instead of
      // silently decoding it under the wrong generation; re-running
      // converges, the indexColumns discipline
      val encoded = paths.toSet
      val files = prev.files.map { f =>
        if (encoded.contains(f.path)) f.copy(pqCodes = codesRef)
        else if (f.rowCount == 0) f.copy(pqCodes = None)
        else f
      }
      SnapshotChange(Some(files), props = Map(
        SnapshotCatalog.PqColumnsProp -> s"$idCol:$vecCol",
        SnapshotCatalog.PqModelProp -> modelRef,
        SnapshotCatalog.PqGenerationProp -> gen.toString,
        SnapshotCatalog.OperationProp -> SnapshotCatalog.OpIndex))
    }
  }

  /** The committed codes of a snapshot as one DataFrame
    * `(__vid, cell, pq_codes)` — live rows only (a COW delete can
    * leave a still-referenced codes dir holding rows of files that
    * left the manifest; the scan-URI semi-join drops them, the same
    * broadcast-manifest discipline as partition-served reads). */
  private def codesOf(
      spark: SparkSession, snap: SnapshotMeta, table: String): DataFrame = {
    val withRows = snap.files.filter(_.rowCount > 0)
    val missing = withRows.filter(_.pqCodes.isEmpty)
    require(missing.isEmpty,
      s"PQ search on $table: ${missing.size} file(s) carry no codes " +
        s"(e.g. ${missing.take(3).map(_.path).mkString(", ")}) — run indexVectors to backfill")
    // generation consistency: every ref must carry the snapshot's own
    // generation (dirs embed it as `codes-g<gen>-`) — decoding gen-1
    // codes under a gen-2 model would be silently wrong distances
    val gen = snap.props.getOrElse(SnapshotCatalog.PqGenerationProp, "?")
    val stale = withRows.flatMap(_.pqCodes).distinct
      .filterNot(_.contains(s"codes-g$gen-"))
    require(stale.isEmpty,
      s"PQ search on $table: ${stale.size} codes ref(s) predate generation $gen " +
        s"(e.g. ${stale.take(3).mkString(", ")}) — re-run indexVectors to backfill")
    val refs = withRows.flatMap(_.pqCodes).distinct
    val live: Seq[Row] = withRows.map(f => Row(SnapshotCatalog.scanUri(f.path)))
    val liveDf = spark.createDataFrame(live.asJava,
      StructType(Seq(StructField(SrcCol, StringType))))
    spark.read.parquet(refs: _*)
      .join(broadcast(liveDf), Seq(SrcCol), "left_semi")
      .select(col(VidCol), col("cell"), col("pq_codes"))
  }

  /** The committed index of a snapshot: the frozen model plus the live
    * codes frame `(__vid, cell, pq_codes)` — the building blocks for
    * custom compositions (e.g. exact-cosine IVF re-ranking joins the
    * cells back to the table's vectors). Refuses over outstanding
    * MoR/equality deletes — see [[search]]. */
  def committed(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      snapshotId: Option[Long] = None): (VecModel, DataFrame) = {
    val snap = catalog.resolveSnapshot(table, snapshotId)
    require(snap.deleteFiles.isEmpty,
      s"PQ search on $table: snapshot ${snap.snapshotId} has outstanding MoR/equality " +
        "deletes — a masked row's committed codes would resurface as a phantom " +
        "neighbor. Compact first (compaction materializes the masks and re-encodes " +
        "the rewritten files).")
    val modelPath = snap.props.getOrElse(SnapshotCatalog.PqModelProp,
      throw new IllegalArgumentException(
        s"PQ search on $table: snapshot ${snap.snapshotId} carries no vector index " +
          s"(no ${SnapshotCatalog.PqModelProp}) — run indexVectors first"))
    (loadModel(modelPath), codesOf(spark, snap, table))
  }

  /** The fixed id-column name of the [[committed]] codes frame. */
  val IdCol: String = VidCol

  /** Spec seam: ADC-search a GIVEN snapshot meta, generation/ref guards
    * included — lets the lifecycle spec exercise the mixed-generation
    * refusal without forging a catalog head. */
  private[meta] def searchSnapshot(
      spark: SparkSession, snap: SnapshotMeta, table: String,
      queries: Seq[(String, Seq[Double])], k: Int): DataFrame = {
    val model = loadModel(snap.props(SnapshotCatalog.PqModelProp))
    Pq.search(codesOf(spark, snap, table).select(col(VidCol), col("pq_codes")),
      VidCol, model.pqModel, queries, k = k)
  }

  /** Search the COMMITTED index — no session state, no retrain: the
    * model loads from the snapshot's prop, codes from the snapshot's
    * per-file refs, so `VERSION AS OF` (via `snapshotId`) serves each
    * snapshot with the generation that encoded it. `nProbe = Some(p)`
    * is IVF-PQ (probe p coarse cells, ADC-score members); `None` is
    * exhaustive ADC over all codes. Output: (query_id, nn_id, rk[,
    * adc_dist]) — the [[Pq.search]]/[[Pq.searchIvf]] contract. */
  def search(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      queries: Seq[(String, Seq[Double])],
      k: Int,
      nProbe: Option[Int] = None,
      snapshotId: Option[Long] = None,
      excludeSelf: Boolean = false): DataFrame = {
    val (model, codes) = committed(spark, catalog, table, snapshotId)
    nProbe match {
      case Some(p) =>
        Pq.searchIvf(
          Ann.IvfIndex(codes.select(col(VidCol).as("nn_id"), col("cell")),
            model.ivfCentroids),
          codes.select(col(VidCol), col("pq_codes")), VidCol, model.pqModel,
          queries, k = k, nProbe = p, excludeSelf = excludeSelf)
      case None =>
        Pq.search(codes.select(col(VidCol), col("pq_codes")), VidCol, model.pqModel,
          queries, k = k, excludeSelf = excludeSelf)
    }
  }
}
