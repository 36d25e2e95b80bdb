package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}
import graft.pipeline.Stages
import graft.sources.RepetitionScan

/** One benchmark run in one JVM: set up, then closed-loop passes of one
  * workload from a single client on local[4] until the run's time is up.
  * `run.py` builds the classpath, makes the inputs and starts this; the
  * result (and, traced, the span side file) is written as JSON.
  *
  * Untraced runs report the end-to-end metrics. Traced runs time
  * alternating traced and untraced passes and report per-layer metrics
  * from the traced ones; the difference is the tracing overhead. */
object Main {
  val Cores = 4
  /** Warm passes the warm metrics take their medians over, at least. */
  val MinWarm = 3

  /** One pass; `checks` holds each op's output-check failures (a saxs
    * pass is one op, a mix pass one op per query). */
  final case class Pass(index: Int, traced: Boolean, seconds: Double,
      ops: Seq[Mixes.Op], checks: Seq[Seq[String]], layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = a("work")
    val saxs = workload == "saxs_tree"
    require(saxs || Mixes.mixes.contains(workload), s"unknown workload $workload")
    val truth = if (saxs) Some(Json.read(s"${a("tree")}/truth.json")) else None

    // ---- set-up, timed from JVM start until the first op is ready -------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark: SparkSession = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val t1 = System.nanoTime()
    val ctx: Stages.Context = if (saxs) {
      val t = truth.get
      val c = Saxs.context(spark, a("tree"), t.long("h").toInt, t.long("w").toInt)
      RepetitionScan.repetitionFiles(spark, a("tree"))
      c
    } else {
      Tables.names.foreach(Tables.load(spark, a("tables"), _))
      null
    }
    val loadS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = if (traced) Tracer(spark) else Tracer.off
    val expected = if (saxs) None else Some(Json.read(a("expected")).obj("rows"))
    var attempted, failed = 0L
    val errors = ArrayBuffer.empty[String]
    def record(errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) failed += 1
      errors ++= errs
    }

    def runPass(i: Int, tr: Tracer): Pass = {
      val id = s"pass$i"
      val t0 = System.nanoTime()
      if (saxs) {
        val out = s"$work/out/$id"
        delete(out)
        try {
          val r = tr.span("pass", id)(Saxs.run(spark, a("tree"), ctx, gate = true, out, tr, id))
          val s = (System.nanoTime() - t0) / 1e9
          val errs = Saxs.truthErrors(spark, out, truth.get)
          val layers = if (tr.on) Saxs.layerCounts(r, out) else Map.empty[String, Double]
          r.release()
          Pass(i, tr.on, s, Nil, Seq(errs), layers)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Pass(i, tr.on, (System.nanoTime() - t0) / 1e9, Nil, Seq(Seq(s"$id: $e")), Map.empty)
        } finally delete(out)
      } else {
        val ops = tr.span("pass", id)(Mixes.pass(spark, a("tables"), Mixes.mixes(workload), tr, id))
        val s = (System.nanoTime() - t0) / 1e9
        val exp = expected.get
        val checks = ops.map { o =>
          o.error.map(e => s"$id ${o.name}: $e").orElse(
            Option.when(o.rows != exp.long(o.name))(
              s"$id ${o.name}: ${o.rows} rows, expected ${exp.long(o.name)}")).toSeq
        }
        Pass(i, tr.on, s, ops, checks, Map.empty)
      }
    }

    // ---- closed loop: cold pass, then warm passes until time is up ------
    // Traced runs order their warm passes in untraced-traced-traced-untraced
    // blocks, so the JIT's warm-up trend cancels out of the tracing
    // overhead. Their cold pass is traced too, for the d02 check below.
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    val passes = ArrayBuffer(runPass(0, tracer))
    def block(i: Int) = (i - 1) % 4
    def tracedAt(i: Int) = traced && Set(1, 2).contains(block(i))
    def more = if (traced) passes.size < 5 || block(passes.size) != 0
      else passes.size <= MinWarm
    while (System.nanoTime() < deadline || more) {
      val i = passes.size
      passes += runPass(i, if (tracedAt(i)) tracer else Tracer.off)
    }
    passes.foreach(_.checks.foreach(record))
    if (saxs) { // the committed pipe tree against its goldens, after timing
      val gout = s"$work/out/golden"
      delete(gout)
      record(try {
        val r = Saxs.run(spark, a("pipe"), Saxs.goldenContext(spark), gate = false,
          gout, Tracer.off, "golden")
        try Saxs.goldenErrors(r, a("golden")) finally r.release()
      } catch { case scala.util.control.NonFatal(e) => Seq(s"golden run: $e") })
      delete(gout)
    }

    val warmPasses = passes.filter(p => p.index > 0 && !p.traced)
    val samples = if (saxs) warmPasses.map(_.seconds).toSeq
      else warmPasses.flatMap(_.ops.map(_.seconds)).toSeq
    val (tail, tailPct) = Stats.tail(samples)
    val notes = scala.collection.mutable.LinkedHashMap[String, Any](
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "seconds" -> p.seconds)),
      "op_seconds" -> passes.flatMap(_.ops).groupBy(_.name).map { case (n, os) => n -> os.map(_.seconds) },
      "op_tail_percentile" -> tailPct, "op_samples" -> samples.size,
      "setup_s" -> setupS)

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "cold_wall_s" -> passes.head.seconds,
        "wall_s" -> Stats.median(warmPasses.map(_.seconds).toSeq),
        "op_p50_s" -> Stats.median(samples),
        "op_tail_s" -> tail,
        "peak_rss_mb" -> peakRssMb)
      else {
        val tracedWarm = passes.filter(p => p.index > 0 && p.traced).toSeq
        val perPass = tracedWarm.map(p => Layers.ofPass(p, tracer.spans.toSeq, Cores))
        val overhead = Stats.median(tracedWarm.map(_.seconds)) -
          Stats.median(warmPasses.map(_.seconds).toSeq)
        // every traced pass must rebuild d02's checkpoint with the same jobs
        val d02 = tracer.spans.filter(_.name == "queries.d02").map(_.tally("jobs")).toSeq
        if (d02.distinct.size > 1) {
          failed += 1
          errors += s"d02 job counts differ between passes: ${d02.mkString(", ")}"
        }
        notes("d02_jobs") = d02
        notes("trace_overhead_s") = overhead
        val extra = Map(
          "tables.load_s" -> (if (saxs) 0.0 else loadS),
          "trace.overhead_s" -> overhead,
          "fail_frac" -> failed.toDouble / attempted) ++
          (if (saxs) Saxs.kernelRates(a("tree")) else Map.empty)
        val m = Stats.meanMaps(perPass) ++ extra
        Json.write(a("trace-file"), Map("workload" -> workload, "layers" -> m,
          "notes" -> notes.toMap, "spans" -> tracer.spans.map(Layers.spanJson).toSeq))
        m
      }

    notes("errors") = errors.take(20)
    Json.write(a("result"), Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "notes" -> notes.toMap))
    spark.stop()
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; the maximum (100) when there are fewer than eleven. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, Double.NaN)
    else if (s.size < 11) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def meanMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap
}

/** Per-layer metrics of one traced pass, from its spans. */
object Layers {
  def ofPass(p: Main.Pass, spans: Seq[Span], cores: Int): Map[String, Double] = {
    val id = s"pass${p.index}"
    val mine = spans.filter(_.op == id)
    val pass = mine.find(_.name == "pass").get
    val t = pass.tally
    val secs = pass.seconds
    val byName = mine.filter(_.name != "pass").groupBy(_.name)
    val own: Map[String, Double] = byName.collect {
      case (n, ss) if !n.startsWith("queries.") => s"$n.s" -> ss.map(_.seconds).sum
    } ++ mine.filter(_.name.startsWith("queries.")).groupBy(_.name.stripPrefix("queries.").head)
      .map { case (f, ss) => s"queries.$f.s" -> ss.map(_.seconds).sum } ++
      byName.get("pipeline.ingest").map(ss =>
        "pipeline.ingest.shuffle_mb" -> ss.map(_.tally("shuffle_write_b")).sum / 1e6)
    val planMs = t("analysis_ms") + t("optimization_ms") + t("planning_ms")
    own ++ p.layers ++ Map(
      "plan.analysis_ms" -> t("analysis_ms"),
      "plan.optimization_ms" -> t("optimization_ms"),
      "plan.planning_ms" -> t("planning_ms"),
      "plan.share" -> planMs / 1000 / secs,
      "exec.jobs" -> t("jobs"), "exec.stages" -> t("stages"), "exec.tasks" -> t("tasks"),
      "exec.task_cpu_s" -> t("task_cpu_ns") / 1e9,
      "exec.core_util" -> t("task_run_ms") / 1000 / (secs * cores),
      "exec.single_task_stages" -> t("single_task_stages"),
      "exec.task_skew" -> (if (t("skew_stages") > 0) t("skew_sum") / t("skew_stages") else 1.0),
      "exec.shuffle_write_mb" -> t("shuffle_write_b") / 1e6,
      "exec.shuffle_read_mb" -> t("shuffle_read_b") / 1e6,
      "exec.spill_mb" -> t("spill_b") / 1e6,
      "exec.input_mb" -> t("input_b") / 1e6,
      "exec.gc_s" -> t("gc_ms") / 1000,
      "exec.failed_tasks" -> t("failed_tasks"))
  }

  def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "seconds" -> s.seconds, "counters" -> s.tally.v)
}
