package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}
import graft.queries.DedupQueries

/** The sql_mix and corpus_mix workloads: fixed, ordered query lists over
  * the benchmark's copy of the seed-42 tables. A pass has to fit several
  * times into one run, so each mix samples its families: sql_mix takes
  * every ninth query of q, p, x and w (01, 10, 19, ...). corpus_mix takes
  * the d-family queries that share the `minhash` checkpoint (d02 builds it,
  * d07/d18/d19/d21 reuse it), one query each of c, m, s and t, and d01 and
  * d13. The last two and the choice of m04 and t04 fill the cost gap between
  * d18 and d21: with a gap at the middle, the per-query median jumped
  * between them from run to run. */
object Mixes {
  private def everyNinth(family: Char): Seq[String] =
    SparkEntry.queries.keys.filter(k => k.head == family && (k.tail.toInt - 1) % 9 == 0)
      .toSeq.sorted

  val mixes: Map[String, Seq[String]] = Map(
    "sql_mix" -> "qpxw".flatMap(everyNinth),
    "corpus_mix" -> Seq("c01", "d01", "d02", "d07", "d13", "d18", "d19", "d21",
      "m04", "s01", "t04"))

  /** Shared checkpoints a query builds itself; each is released first so
    * every pass measures the real build (the same map `graft.Bench` uses). */
  val resetBefore: Map[String, String] =
    Map("d02" -> "minhash", "d15" -> "d15", "w12" -> "w12qb")

  final case class Op(name: String, seconds: Double, rows: Long, error: Option[String])

  /** One query, evaluated in full (a no-op sink) with its rows counted by an
    * observed metric, so the count does not prune the plan. */
  def op(spark: SparkSession, dir: String, name: String, tr: Tracer, pass: String): Op = {
    resetBefore.get(name).foreach(DedupQueries.releaseShared(spark, _))
    tr.span(s"queries.$name", pass) {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        if (tr.on) tr.listener.addPhases(df.queryExecution)
        val obs = Observation()
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        Op(name, s, obs.get("rows").asInstanceOf[Long], None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Op(name, (System.nanoTime() - t0) / 1e9, -1, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }

  /** One pass: every query of the mix in order, then every shared
    * checkpoint released, so the next pass rebuilds what this one built. */
  def pass(spark: SparkSession, dir: String, names: Seq[String], tr: Tracer, pass: String): Seq[Op] = {
    val ops = names.map(op(spark, dir, _, tr, pass))
    DedupQueries.releaseShared(spark)
    ops
  }
}

/** For every query of both mixes: its DuckDB oracle SQL, where it has one,
  * and the rows Spark returns. `derive_expected.py` runs the SQL and writes
  * `expected_rows.json`.
  *
  *   OracleDump <tables dir> <out.json> */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    val names = Mixes.mixes.values.flatten.toSeq.distinct.sorted
    Json.write(out, names.map { n =>
      n -> Map("sql" -> SparkEntry.oracleSql.get(n).orNull,
        "spark_rows" -> Mixes.op(spark, tables, n, Tracer.off, "oracle").rows)
    }.toMap)
    spark.stop()
  }
}
