package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run of one workload in this JVM.
  *
  * Protocol: the workload is prepared [[SetupReps]] times (a fresh
  * SparkSession and its inputs each time) and `setup_s` is the median, plus
  * any input generation `run.py` did before the JVM started. One untimed
  * warm-up operation follows. Untraced runs then time operations for
  * `--seconds` (at least [[Workload.minOps]] operations, in whole rounds)
  * and report `setup_s` and `op_s`, the mean time of an operation. Traced runs
  * time half of that untraced and half with the tracer attached — the ratio
  * of the two scores is the tracing overhead — and then run the traced-only
  * measurements. The result goes to `<work>/result.json`; `run.py` turns it
  * into the benchmark's output line.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.work)
    LiveHeap.install()
    val h = new Harness(args)
    val wl: Workload = args.workload match {
      case "scene_ndvi" => new SceneNdvi(1536, 1536, 80.0)
      case "scene_full" => new SceneNdvi(7811, 7901, 30.0)
      case "lakehouse_cdc" => new LakehouseCdc
      case "query_mix" => new QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    var warmUp = 0.0
    val setup = try {
      val reps = (1 to SetupReps).map(rep => timed(wl.prepare(h, rep)))
      warmUp = timed(wl.warmUp(h))
      // warm-up operations are checked, not timed: they count as set-up checks
      h.setupChecks += h.ops.length
      h.ops.filterNot(_.ok).foreach(o => h.setupFailures += s"warm-up ${o.name}: ${o.error}")
      h.ops.clear()
      reps
    } catch {
      case e: Throwable =>
        // nothing can be measured without a set-up: report the failure
        h.setupChecks += 1
        h.setupFailures += s"set-up: $e"
        writeResult(args, h, Seq.empty, Seq.empty)
        System.exit(0)
        Seq.empty
    }
    System.err.println(s"[perfbench] setup reps: ${setup.map(s => f"$s%.2f").mkString(" ")}, warm-up ${f"$warmUp%.2f"}")

    def phase(seconds: Double, minRounds: Int): (Seq[Op], Double) = {
      val first = h.ops.length
      val t0 = System.nanoTime()
      var r = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed < seconds || r < minRounds) { wl.round(h, r); r += 1 }
      (h.ops.drop(first).toSeq, elapsed)
    }
    def runMetrics(ops: Seq[Op], wall: Double): Seq[Metric] = {
      val good = ops.filter(_.ok).map(_.seconds)
      Seq(
        Metric("run.op_s_median", Stats.median(good), "s"),
        Metric("run.op_s_p90", Stats.quantile(good, 0.9), "s"),
        Metric("run.ops_per_s", good.size / wall, "1/s"),
        Metric("run.peak_rss_mb", peakRssMb(), "MB"),
        Metric("run.peak_live_heap_mb", LiveHeap.peakBytes / 1048576.0, "MB"))
    }

    val metrics = Seq.newBuilder[Metric]
    val setupS = args.genSeconds + Stats.median(setup)
    if (!args.trace) {
      val (ops, _) = phase(args.seconds, wl.minRounds)
      metrics ++= Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_s", opScore(ops), "s"))
    } else {
      val (plain, plainWall) = phase(args.seconds / 2, 1)
      metrics ++= runMetrics(plain, plainWall)
      val tracer = new Tracer(h.spark)
      h.tracer = Some(tracer)
      val before = tracer.snapshot()
      val (traced, wall) = phase(args.seconds / 2, 1)
      val d = tracer.snapshot() - before
      metrics ++= wl.layerMetrics(h, traced)
      h.tracer = None
      val n = math.max(1, traced.length).toDouble
      val plainScore = opScore(plain)
      metrics ++= Seq(
        Metric("trace.overhead_ratio", if (plainScore > 0) opScore(traced) / plainScore - 1 else 0.0, "ratio"),
        Metric("setup.first_s", setup.head, "s"),
        Metric("setup.warmup_s", warmUp, "s"),
        Metric("spark.jobs", d.jobs / n, "count"),
        Metric("spark.tasks", d.tasks / n, "count"),
        Metric("spark.task_cpu_s", d.cpuNs / 1e9 / n, "s"),
        Metric("spark.task_run_s", d.runMs / 1e3 / n, "s"),
        Metric("spark.gc_s", d.gcMs / 1e3 / n, "s"),
        Metric("spark.gc_share", if (d.runMs > 0) d.gcMs.toDouble / d.runMs else 0.0, "ratio"),
        Metric("spark.core_busy_ratio", d.runMs / 1e3 / (wall * h.cores), "ratio"),
        Metric("spark.driver_gap_s", math.max(0.0, wall - d.busyMs / 1e3) / n, "s"),
        Metric("spark.shuffle_write_mb", d.shuffleWriteBytes / 1e6 / n, "MB"),
        Metric("spark.fetch_wait_s", d.fetchWaitMs / 1e3 / n, "s"),
        Metric("spark.input_mb", d.inputBytes / 1e6 / n, "MB"),
        Metric("spark.spill_mb", d.spillBytes / 1e6 / n, "MB"))
      tracer.detach()
      metrics ++= wl.traceExtras(h)
      tracer.write(args.work.resolve("spans.jsonl"))
    }
    val out = if (args.trace) Layers.fill(metrics.result()) else metrics.result()
    writeResult(args, h, setup, out)
    h.stop()
    System.exit(0)
  }

  /** `op_s`: the geometric mean, over the kinds of operation (by name), of
    * each kind's median wall time. Every kind weighs the same however long
    * it takes, and one slow operation moves the score little. */
  def opScore(ops: Seq[Op]): Double = {
    val medians = ops.filter(_.ok).groupBy(_.name).values.map(o => Stats.median(o.map(_.seconds)))
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }

  /** Largest heap occupancy right after a garbage collection, in MB: the
    * JVM's live working set, recorded from GC notifications. */
  object LiveHeap {
    @volatile var peakBytes = 0L
    def install(): Unit = {
      import java.lang.management.ManagementFactory
      import javax.management.{NotificationEmitter, NotificationListener}
      import com.sun.management.GarbageCollectionNotificationInfo
      import scala.jdk.CollectionConverters._
      val listener: NotificationListener = (n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
              !pool.contains("Compressed") => u.getUsed
          }.sum
          if (used > peakBytes) peakBytes = used
        }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  } + "\""

  private def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString

  private def writeResult(args: Args, h: Harness, setup: Seq[Double], ms: Seq[Metric]): Unit = {
    val opCounts = h.ops.groupBy(_.name).map { case (k, v) => s"${q(k)}: ${v.length}" }
    val failedByName = h.ops.filterNot(_.ok).groupBy(_.name).map { case (k, v) => s"${q(k)}: ${v.length}" }
    val errors = (h.ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error}") ++ h.setupFailures).take(20)
    val callMed = h.ops.flatMap(_.calls).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      s"${q(k)}: {\"median_s\": ${num(Stats.median(v.map(_._2).toSeq))}, \"n\": ${v.length}}" }
    val json =
      s"""{"workload": ${q(args.workload)}, "seed": ${args.seed}, "trace": ${args.trace},
         | "attempted": ${h.ops.length + h.setupChecks}, "failed": ${h.ops.count(!_.ok) + h.setupFailures.length},
         | "setup_reps_s": [${setup.map(num).mkString(", ")}],
         | "op_counts": {${opCounts.mkString(", ")}}, "failed_by_op": {${failedByName.mkString(", ")}},
         | "errors": [${errors.map(q).mkString(", ")}],
         | "calls": {${callMed.mkString(", ")}},
         | "ops": [${h.ops.map(o => s"[${q(o.name)}, ${num(o.seconds)}, ${o.ok}]").mkString(", ")}],
         | "metrics": {${ms.map(m => s"${q(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${q(m.unit)}}").mkString(", ")}}}
         |""".stripMargin
    Files.writeString(args.work.resolve("result.json"), json)
  }
}

/** The per-layer metric set every traced run reports. A metric of a module
  * the workload never calls is reported as 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "trace.overhead_ratio" -> "ratio", "setup.first_s" -> "s", "setup.warmup_s" -> "s",
    "run.op_s_median" -> "s", "run.op_s_p90" -> "s", "run.ops_per_s" -> "1/s",
    "run.peak_rss_mb" -> "MB", "run.peak_live_heap_mb" -> "MB",
    "sources.decode_mpix_per_s" -> "Mpix/s", "sources.scene_read_ratio" -> "ratio",
    "sources.scan_tasks_per_pass" -> "count",
    "raster.decode_s" -> "s", "raster.ndvi_s" -> "s", "raster.clip_s" -> "s",
    "raster.mean_s" -> "s", "raster.warp_s" -> "s", "raster.aoi_pixel_share" -> "ratio",
    "pipeline.run_s" -> "s", "pipeline.commit_s" -> "s", "pipeline.jobs_per_scene" -> "count",
    "sink.append_s" -> "s", "sink.merge_s" -> "s", "sink.dv_delete_s" -> "s",
    "sink.apply_changes_s" -> "s", "sink.compact_s" -> "s", "sink.manifest_s" -> "s",
    "sink.bytes_per_changed_row" -> "B", "sink.files_per_commit" -> "count",
    "sink.pruned_file_share" -> "ratio", "sink.versions" -> "count",
    "lakehouse.commit_s" -> "s", "lakehouse.commit_s_p90" -> "s", "lakehouse.read_s" -> "s",
    "lakehouse.read_s_p90" -> "s", "lakehouse.replicate_s" -> "s",
    "sources.cdf_rows_per_changed_row" -> "ratio", "streaming.triggers_per_drain" -> "count",
    "streaming.trigger_overhead_s" -> "s",
    "plans.plan_s" -> "s", "queries.exec_s" -> "s", "queries.query_s_p90" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.task_run_s" -> "s", "spark.gc_s" -> "s", "spark.gc_share" -> "ratio",
    "spark.core_busy_ratio" -> "ratio", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.fetch_wait_s" -> "s",
    "spark.input_mb" -> "MB", "spark.spill_mb" -> "MB")

  def fill(ms: Seq[Metric]): Seq[Metric] = {
    val got = ms.map(m => m.name -> m).toMap
    val unknown = got.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"metrics missing from Layers.all: $unknown")
    all.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
