package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{ArrayStats, ImageKernels, Ingest, Model, Sinks, Stages}
import graft.sources.{Hdf5, Hdf5Source, RepetitionScan, XlsxLogbook}

/** The saxs_tree workload: one pass runs a MOUSE tree through scan ->
  * readiness gate -> HDF5 decode -> Ingest -> the reference step list ->
  * stacker -> Sinks (processed snapshot, quarantine, stacked, CSV). */
object Saxs {
  private val Glob = "MOUSE_*.nxs"
  private val MouseRel = "^MOUSE_[^/]*\\.nxs$"
  val Steps: Seq[String] = Stages.referenceSteps.dropRight(1)
  private val FluxStep = Stages.referenceSteps.last

  /** The frames of one pass; `release` drops everything the pass cached. */
  final case class Run(files: DataFrame, tree: DataFrame, processed: DataFrame,
      stacked: DataFrame, flux: DataFrame, release: () => Unit)

  /** One pass over `root`, its sinks written under `out`. With tracing on,
    * every layer's output is persisted and counted at its boundary, so each
    * span holds that layer's own work (this breaks fusion across layers,
    * which is why traced passes are timed apart from untraced ones). */
  def run(spark: SparkSession, root: String, ctx: Stages.Context, gate: Boolean,
      out: String, tr: Tracer, op: String): Run = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame =
      if (!tr.on) df
      else { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); cached += p; p }

    val (files, ready) = tr.span("sources.scan", op) {
      val f = keep(RepetitionScan.repetitionFiles(spark, root).drop("content"))
      (f, if (gate) Some(keep(RepetitionScan.readyRepetitions(f)
        .select("ymd", "batch", "repetition"))) else None)
    }
    val tree = tr.span("sources.hdf5", op)(keep(Hdf5Source.treeTable(spark, root, Glob)))
    val reps = tr.span("pipeline.ingest", op) {
      val all = Ingest.repetitionKeys(
        files.filter(col("relPath").rlike(MouseRel)).select("path", "modificationTime"))
      val keys = ready.fold(all)(r => all.join(r, Seq("ymd", "batch", "repetition"), "left_semi"))
      keep(Ingest.repetitionsFromTree(tree, keys))
    }
    val stepped = Steps.foldLeft(reps) { (df, step) =>
      val next = tr.span(s"pipeline.stage.${step.stripPrefix("processstep_")}", op)(
        keep(Stages.stage(step)(df, ctx)))
      if (tr.on) df.unpersist() // the next step's output is cached in full
      next
    }
    val processed = if (tr.on) stepped else stepped.persist(StorageLevel.MEMORY_AND_DISK)
    val flux = tr.span(s"pipeline.stage.${FluxStep.stripPrefix("processstep_")}", op)(
      keep(Stages.stage(FluxStep)(processed, ctx)))
    val stacked = tr.span("pipeline.stacker", op)(keep(Stages.stacker(processed, ctx)))
    tr.span("pipeline.sinks", op) {
      Sinks.writeSnapshot(processed, s"$out/snapshot")
      Sinks.quarantine(processed, Stages.canStack, s"$out/quarantine")
      Sinks.writeSnapshot(stacked, s"$out/stacked")
      Sinks.appendCsv(flux, s"$out/flux_csv")
    }
    Run(files, tree, processed, stacked, flux, () => {
      processed.unpersist()
      cached.foreach(_.unpersist())
      ctx.caches.release()
    })
  }

  /** The dimension tables of a generated tree: its `.xlsx` logbook and one
    * all-pass mask of the tree's frame size. */
  def context(spark: SparkSession, root: String, h: Int, w: Int): Stages.Context = {
    import spark.implicits._
    Stages.Context(XlsxLogbook.logbook(spark, s"$root/logbook.xlsx"),
      Seq(Model.MaskEntry("20240101", 1, Array.fill(h * w)(1f), h, w,
        "Masks/20240101_1.nxs")).toDS().toDF())
  }

  // ------------------------------------------------------------- checks --

  /** The committed pipe fixture's context, as its golden spec builds it. */
  def goldenContext(spark: SparkSession): Stages.Context = {
    import spark.implicits._
    import Model._
    Stages.Context(
      Seq(LogbookEntry("20240115", 1, "prop1", "user1", "s1", "sample one",
          "SiO2", 2.2, -1.0, "20240115", 2, "", 0, 100.0),
        LogbookEntry("20240115", 2, "prop1", "user1", "s2", "background",
          "H2O", 1.0, 0.001, "20240115", 2, "None", 0, 100.0)).toDS().toDF(),
      Seq(MaskEntry("20240101", 1, Array.fill(32 * 32)(1f), 32, 32,
        "Masks/20240101_1.nxs")).toDS().toDF())
  }

  private def csvLines(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => ""
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case v => v.toString
    }.mkString(",")).sorted.toSeq

  private def golden(dir: String, name: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, name)).asScala.filter(_.nonEmpty).toSeq.sorted

  /** Mismatches of one pass over the committed pipe tree against the
    * committed goldens (the same digests the full-DAG golden spec takes). */
  def goldenErrors(r: Run, goldenDir: String): Seq[String] = {
    val stackedDigest = r.stacked.select(col("ymd"), col("batch"),
      col("configuration"), col("n_repetitions"),
      concat_ws("|", col("repetitions")),
      round(col("mean_transmission"), 8), round(col("std_transmission"), 8),
      round(col("mean_thickness"), 8), round(col("mean_direct_flux"), 4),
      round(aggregate(col("stacked_image_stats.mean"), lit(0.0d), (a, x) => a + x), 3),
      round(aggregate(col("stacked_image_stats.sem"), lit(0.0d), (a, x) => a + x), 3))
    Seq("full_dag_flux_table.csv" -> csvLines(r.flux),
      "full_dag_stacked.csv" -> csvLines(stackedDigest)).collect {
      case (name, actual) if actual != golden(goldenDir, name) =>
        s"golden $name differs: ${actual.mkString(" ; ")}"
    }
  }

  /** Tolerances of the generated-tree checks: beam centres are integer-count
    * Gaussians (sub-0.01 px centroid error), transmissions are ratios of
    * ~1e6-count masked sums with <= 1 count of background per pixel. */
  val CenterTolPx = 0.1
  val TransmissionTolRel = 1e-3

  /** Mismatches of the sinks a pass wrote under `out` against the
    * generator's truth record. */
  def truthErrors(spark: SparkSession, out: String, truth: Json.Obj): Seq[String] = {
    val flux = spark.read.option("header", "true").csv(s"$out/flux_csv")
      .select(concat_ws("_", col("ymd"), col("batch")).as("key"),
        col("transmission_beam").cast("double").as("t"))
      .groupBy("key").agg(count(lit(1)).as("n"), avg("t").as("t")).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val stacked = spark.read.parquet(s"$out/stacked")
      .select(concat_ws("_", col("ymd").cast("string"), col("batch")).as("key"),
        col("n_repetitions"), col("template_beam_center")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    val quarantined = spark.read.parquet(s"$out/quarantine").count()
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) errs += msg
    expect(flux.values.map(_._1).sum == truth.long("ready"),
      s"ready repetitions ${flux.values.map(_._1).sum} != ${truth.long("ready")}")
    expect(quarantined == truth.long("quarantined"),
      s"quarantined $quarantined != ${truth.long("quarantined")}")
    for (b <- truth.objs("batches")) {
      val key = s"${b.str("ymd")}_${b.long("batch")}"
      val ready = b.long("ready")
      expect(flux.get(key).map(_._1).getOrElse(0L) == ready, s"$key processed count")
      if (!b.bool("beam") || ready == 0) expect(!stacked.contains(key), s"$key was stacked")
      else stacked.get(key) match {
        case None => errs += s"$key missing from stacked output"
        case Some((n, center)) =>
          val Seq(cy, cx) = b.doubles("beam_center")
          val t = b.double("transmission")
          expect(n == ready, s"$key n_repetitions $n != $ready")
          expect(center != null && math.abs(center(0) - cy) < CenterTolPx &&
            math.abs(center(1) - cx) < CenterTolPx, s"$key beam centre $center != ($cy, $cx)")
          val tr = flux(key)._2
          expect(math.abs(tr - t) < TransmissionTolRel * t, s"$key transmission $tr != $t")
      }
    }
    errs.toSeq
  }

  // ------------------------------------------------- traced-run extras --

  /** Per-layer counts of a traced pass, read off its persisted frames and
    * the files its sinks wrote. */
  def layerCounts(r: Run, out: String): Map[String, Double] = {
    val files = r.files.count()
    val dirs = r.files.select("ymd", "batch", "repetition").distinct().count()
    val mouseBytes = r.files.filter(col("relPath").rlike(MouseRel))
      .agg(coalesce(sum("length"), lit(0L))).head().getLong(0)
    val processed = r.processed.count()
    val quarantined = r.processed.filter(!coalesce(Stages.canStack, lit(false))).count()
    val written = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && isData(p)).toSeq
    Map(
      "sources.scan.files" -> files.toDouble,
      "sources.scan.ready_frac" -> processed.toDouble / math.max(dirs, 1),
      "sources.hdf5.in_mb" -> mouseBytes / 1e6,
      "sources.hdf5.tree_rows" -> r.tree.count().toDouble,
      "pipeline.stacker.quarantined_frac" -> quarantined.toDouble / math.max(processed, 1),
      "pipeline.sinks.files" -> written.size.toDouble,
      "pipeline.sinks.out_mb" -> written.map(Files.size(_)).sum / 1e6)
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** Single-thread rates of the HDF5 decoder and the image kernels over the
    * tree's MOUSE files: each loop runs once to warm the JIT, then is timed. */
  def kernelRates(root: String): Map[String, Double] = {
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.getFileName.toString.matches(MouseRel)).toSeq.sorted
    val bytes = files.map(p => p.toString -> Files.readAllBytes(p))
    def timed(body: => Unit): Double = {
      body
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    var rows = Seq.empty[graft.pipeline.TreeTable.TreeRow]
    val decodeS = timed { rows = bytes.flatMap { case (f, b) => Hdf5.toTreeRows(f, b) } }
    def frames(path: String): Seq[(Array[Float], Int, Int)] = rows.filter(_.path == path).map { r =>
      val Array(h, w) = r.attrs("dims").split(",").map(_.toInt)
      (r.valueArr.get, h, w)
    }
    val direct = frames("/entry1/processing/direct_beam_profile/data")
    val sample = frames("/entry1/processing/sample_beam_profile/data")
    def mpx(fs: Seq[(Array[Float], Int, Int)]): Double = fs.map(f => f._2.toDouble * f._3).sum / 1e6
    val beamS = timed(direct.foreach { case (img, h, w) => ImageKernels.dynamicBeamAnalysis(img, h, w) })
    val labelS = timed(direct.foreach { case (img, h, w) =>
      ImageKernels.labelMainFeature(ImageKernels.prepareImage(img), h, w) })
    val agg = new ArrayStats.ArrayStatsAggregator()
    val stackS = timed(agg.finish(sample.foldLeft(agg.zero)((b, f) => agg.reduce(b, f._1))))
    Map(
      "sources.hdf5.decode_mb_per_s" -> bytes.map(_._2.length.toLong).sum / 1e6 / decodeS,
      "pipeline.kernels.beam_mpx_per_s" -> mpx(direct) / beamS,
      "pipeline.kernels.label_mpx_per_s" -> mpx(direct) / labelS,
      "pipeline.kernels.stack_mpx_per_s" -> mpx(sample) / stackS)
  }
}
