package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries._

/** query_mix: a fixed, name-ordered, per-family stratified subset of the
  * read-only `SparkEntry.queries`, over seeded tables (`gen_tables.py`), in
  * a seed-shuffled order. One operation is one query: build, plan, collect.
  *
  * Read-only means every family except Lakehouse and Stream (they commit
  * versioned tables or start streams), minus q251 (it registers sketches).
  * Raster is left out too: scene_ndvi measures its kernels. Subset rule,
  * never chosen by speed: within each family, sort the names and keep every
  * [[Stride]]-th one, starting with the first.
  *
  * Checks: every execution's order-independent row digest must equal the
  * query's first; the first result of each query is written to
  * `<work>/check/<query>` and `run.py` compares it with DuckDB running
  * `SparkEntry.oracleSql` on the same tables, after the JVM has exited.
  */
final class QueryMix extends Workload {
  val Stride = 10
  private val families: Seq[Map[String, (SparkSession, String) => DataFrame]] = Seq(
    AnalyticsQueries.defs, CurationQueries.defs, EntityQueries.defs, ExtractQueries.defs,
    JoinAggQueries.defs, LlmQueries.defs, MiscQueries.defs, ProfilingQueries.defs,
    RetrievalQueries.defs, ScaleQueries.defs, SelectionQueries.defs, StatQueries.defs,
    TrainQueries.defs)
  private val excluded = Set("q251_sketch_register_merge")
  private val byName = families.reduce(_ ++ _)
  val subset: Seq[String] = families.flatMap { defs =>
    defs.keys.toSeq.filterNot(excluded).sorted.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }
  }
  val WarmUpQuery: String = "q13_star_join"
  require(!subset.contains(WarmUpQuery))
  private var order: Seq[String] = Seq.empty
  private var dir: String = _
  private val digests = mutable.Map[String, Long]()

  /** A fresh session; the tables were generated by `run.py` before. */
  def prepare(h: Harness, rep: Int): Unit = {
    h.newSession()
    dir = h.args.work.resolve("tables").toString
    order = new scala.util.Random(h.args.seed).shuffle(subset)
    if (rep == 1) writeOracle(h)
  }

  /** One query outside the subset warms the session and the parquet path;
    * each subset query is then timed on its first execution in the JVM, as
    * a user running it would see it. */
  def warmUp(h: Harness): Unit = h.timedOp(WarmUpQuery) { run(h, WarmUpQuery); true }

  def round(h: Harness, r: Int): Unit = order.foreach(op(h, _))

  private def run(h: Harness, q: String): (DataFrame, Array[Row]) = {
    val df = h.call("plans.plan") {
      val df = byName(q)(h.spark, dir)
      df.queryExecution.executedPlan
      df
    }
    (df, h.call("queries.exec")(df.collect()))
  }

  private def op(h: Harness, q: String): Unit = {
    h.timedOp(q) {
      val (df, rows) = run(h, q)
      h.untimed {
        val d = Digest.rows(rows)
        digests.get(q) match {
          case Some(first) => first == d
          case None =>
            digests(q) = d
            h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(checkDir(h).resolve(q).toString)
            true
        }
      }
    }
  }

  override def layerMetrics(h: Harness, ops: Seq[Op]): Seq[Metric] = {
    val t = h.tracer.get
    Seq(
      Metric("plans.plan_s", Stats.median(t.spansNamed("plans.plan").map(_.seconds)), "s"),
      Metric("queries.exec_s", Stats.median(t.spansNamed("queries.exec").map(_.seconds)), "s"),
      Metric("queries.query_s_p90", Stats.quantile(ops.filter(_.ok).map(_.seconds), 0.9), "s"))
  }

  private def checkDir(h: Harness) = h.args.work.resolve("check")

  /** The oracle SQL of the subset, for `run.py`'s DuckDB comparison. */
  private def writeOracle(h: Harness): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val oracle = graft.SparkEntry.oracleSql
    val json = subset.flatMap(n => oracle.get(n).map(sql => s"${q(n)}: ${q(sql)}")).mkString("{", ",\n", "}")
    Files.createDirectories(checkDir(h))
    Files.writeString(checkDir(h).resolve("oracle_sql.json"), json)
  }
}
