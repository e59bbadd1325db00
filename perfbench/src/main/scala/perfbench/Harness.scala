package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

/** Command-line arguments of one benchmark JVM (one workload, one run). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, cores: Int,
                      genSeconds: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("gen-seconds").map(_.toDouble).getOrElse(0.0))
  }
}

/** One timed operation: the workload's unit of work (a scene, a CDC cycle,
  * a query). `calls` holds the wall time of every public engine call the
  * operation made, by call name. */
final case class Op(name: String, seconds: Double, ok: Boolean, error: String,
                    calls: Seq[(String, Double)])

/** What every workload implements. `prepare` starts a fresh SparkSession
  * and generates the inputs (the part `setup_s` times); `warmUp` runs the
  * operations of one round once, so timed ones do not pay first-use costs
  * (they are checked, but not timed); `round` runs timed operations through
  * [[Harness.timedOp]]; the metric hooks feed traced runs. */
trait Workload {
  def prepare(h: Harness, rep: Int): Unit
  def warmUp(h: Harness): Unit
  /** One round of timed operations: a scene, a CDC cycle, a query pass. */
  def round(h: Harness, r: Int): Unit
  /** An untraced run times at least this many rounds. */
  def minRounds: Int = 1
  def layerMetrics(h: Harness, ops: Seq[Op]): Seq[Metric] = Seq.empty
  def traceExtras(h: Harness): Seq[Metric] = Seq.empty
}

final case class Metric(name: String, value: Double, unit: String)

/** Session lifecycle, timed operations, per-call timing, failure accounting
  * and the optional tracer. A failure (exception, OutOfMemoryError,
  * per-operation timeout, failed output check) marks the operation failed
  * and the run goes on. */
final class Harness(val args: Args) {
  val cores: Int = args.cores
  private var session: SparkSession = _
  def spark: SparkSession = session
  var tracer: Option[Tracer] = None
  val ops = ArrayBuffer[Op]()
  /** Checks made during set-up (the generator self-check) and their failures. */
  var setupChecks = 0
  val setupFailures = ArrayBuffer[String]()
  private val calls = ArrayBuffer[(String, Double)]()
  private var opSeq = 0L
  val opTimeoutSeconds: Double = 150.0

  def newSession(): SparkSession = {
    if (session != null) { session.stop(); session = null }
    val local = args.work.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    session = b.getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** Times one public engine call. Inside a traced operation it also
    * records a span and tags the call's Spark jobs with the call name. */
  def call[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val tr = tracer
    val span = tr.map(_.open(name))
    try body
    finally {
      calls += name -> (System.nanoTime() - t0) / 1e9
      for (t <- tr; s <- span) t.close(s)
    }
  }

  /** Runs one operation under a job tag with a watchdog that cancels its
    * jobs after [[opTimeoutSeconds]]. The result check runs inside `body`
    * after the timed part: `body` returns the check's verdict, and the time
    * spent checking is excluded via [[untimed]]. */
  def timedOp(name: String)(body: => Boolean): Op = {
    opSeq += 1
    val tag = s"perfbench-op-$opSeq"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    calls.clear(); untimedNanos = 0L
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = new Thread(() => {
      try {
        Thread.sleep((opTimeoutSeconds * 1000).toLong)
        timedOut.set(true); sc.cancelJobsWithTag(tag)
      } catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true); watchdog.start()
    val tr = tracer
    val span = tr.map(_.open(name, root = true))
    val t0 = System.nanoTime()
    val (ok, err) =
      try {
        val good = body
        (good, if (good) "" else "output check failed")
      } catch {
        case e: OutOfMemoryError => (false, s"OutOfMemoryError: ${e.getMessage}")
        case e: Throwable =>
          (false, (if (timedOut.get) "timeout: " else "") +
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
    val secs = (System.nanoTime() - t0 - untimedNanos) / 1e9
    for (t <- tr; s <- span) t.close(s)
    watchdog.interrupt()
    sc.removeJobTag(tag)
    val op = Op(name, secs, ok, err, calls.toSeq)
    ops += op
    Files.writeString(args.work.resolve("ops.jsonl"),
      s"""{"name": "$name", "s": $secs, "ok": $ok}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    if (!ok) System.err.println(s"[perfbench] op $name failed: $err")
    op
  }

  private var untimedNanos = 0L
  /** Output checks inside an operation: run, but not counted in its time. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val tr = tracer
    tracer = None
    try body finally { tracer = tr; untimedNanos += System.nanoTime() - t0 }
  }
}

/** Order-independent digests that consume every column of a result. */
object Digest {
  /** Order-independent hash of collected rows (sum of 64-bit row hashes). */
  def rows(rs: Array[Row]): Long = rs.iterator.map { r =>
    val s = render(r)
    (MurmurHash3.stringHash(s, 1).toLong << 32) ^ (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  }.sum

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
