package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sink.VersionedTable

/** lakehouse_cdc: a versioned orders table (150k rows) and a replica fed by
  * its change feed. Each operation is one seeded CDC cycle:
  *
  *  - writes: `append` (new keys), copy-on-write `mergeInto` (updates and
  *    deletes inside one key window), `deleteWhereVectored` (a window's
  *    rows with custkey % 5 = 0) and an out-of-order `applyChanges` batch
  *    (newer upserts, stale changes that must be discarded, deletes and
  *    in-batch duplicates); cycles 0, 4, 8, ... also `compact` + `expire`;
  *  - reads, each planned and then fully consumed through a digest over
  *    all columns: a snapshot aggregate, a `readWhere` range, time travel
  *    to a seeded older version and a batch change-feed read of the
  *    cycle's versions;
  *  - one replica drain: `readChangeFeed` stream → `foreachBatch` →
  *    `applyChanges` on the replica, `Trigger.AvailableNow`.
  *
  * Checks: an in-memory replay of the same seeded operations gives the
  * live rows; every read's count (and the snapshot's price sum) must match
  * it, and after each drain the replica must equal the source's live rows
  * as a multiset.
  */
final class LakehouseCdc extends Workload {
  import LakehouseCdc.Rec
  private val nRows = 50000L
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority", "seq")
  private val schema = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate DATE, o_orderpriority STRING, seq BIGINT")
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private var src, replica, ckpt: String = _
  private var seed = 0L
  private val model = mutable.LongMap[Rec]()
  private val history = mutable.Map[Int, (Long, Long)]()   // version → (rows, cents)
  private var nextKey = 0L
  private var seqCounter = 0L
  // traced-phase accounting for the per-layer metrics
  private var changedRows = 0L
  private var cdfRows = 0L
  private var newFiles = 0L
  private var newBytes = 0L
  private var writeCommits = 0L
  private var batchMs = 0.0
  private val pruneShares = mutable.ArrayBuffer[Double]()

  private def initial(k: Long): Rec = Rec(
    cust = (k * 7919 + seed) % 15000,
    status = statuses(((k * 31 + seed) % 3).toInt),
    cents = (k * 104729 + seed * 31) % 49900000 + 100000,
    day = 9131 + ((k * 13 + seed) % 2404).toInt,
    prio = priorities(((k * 17 + seed) % 5).toInt),
    seq = 0L)

  private def row(k: Long, r: Rec): Row =
    Row(k, r.cust, r.status, r.cents / 100.0, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.day)),
      r.prio, r.seq)

  private def frame(spark: SparkSession, rows: Seq[Row], sch: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)

  private def randomRec(rng: SplittableRandom, seq: Long): Rec = Rec(
    cust = rng.nextLong(15000), status = statuses(rng.nextInt(3)),
    cents = 100000 + rng.nextLong(49900000), day = 9131 + rng.nextInt(2404),
    prio = priorities(rng.nextInt(5)), seq = seq)

  def prepare(h: Harness, rep: Int): Unit = {
    val spark = h.newSession()
    seed = h.args.seed
    val dir = h.args.work.resolve(s"lake-$rep")
    src = dir.resolve("orders").toString
    replica = dir.resolve("replica").toString
    ckpt = dir.resolve("ckpt").toString
    model.clear(); history.clear()
    seqCounter = 0L; nextKey = nRows
    var k = 0L
    while (k < nRows) { model(k) = initial(k); k += 1 }
    // the table is written in key order in 8 files, as a loader would
    val base = spark.range(0, nRows, 1, 8).select(
      col("id").as("o_orderkey"),
      ((col("id") * 7919 + seed) % 15000).as("o_custkey"),
      element_at(typedLit(statuses.toSeq), (((col("id") * 31 + seed) % 3) + 1).cast("int")).as("o_orderstatus"),
      ((((col("id") * 104729 + seed * 31) % 49900000) + 100000) / 100.0).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), ((col("id") * 13 + seed) % 2404).cast("int")).as("o_orderdate"),
      element_at(typedLit(priorities.toSeq), (((col("id") * 17 + seed) % 5) + 1).cast("int")).as("o_orderpriority"),
      lit(0L).as("seq"))
    val v1 = VersionedTable.create(spark, src, spark.createDataFrame(base.rdd, schema))
    history(v1) = liveTotals
    VersionedTable.create(spark, replica,
      VersionedTable.read(spark, src).withColumn("_rseq", lit(2L * v1 + 1)))
  }

  /** One cycle with maintenance, checked like every other. */
  def warmUp(h: Harness): Unit = cycle(h, -4)

  private def liveTotals: (Long, Long) = (model.size.toLong, model.valuesIterator.map(_.cents).sum)

  override def minRounds: Int = 2

  def round(h: Harness, r: Int): Unit = cycle(h, r)

  /** One CDC cycle: every write, read and the drain is one timed
    * operation, and each read's or drain's check decides whether it failed. */
  private def cycle(h: Harness, i: Int): Unit = {
    val spark = h.spark
    val rng = new SplittableRandom(seed * 1000003L + i * 7919L + 17)
    val traced = h.tracer.isDefined
    def check(what: String, cond: Boolean): Boolean = {
      if (!cond) System.err.println(s"[perfbench] lakehouse check failed: $what (cycle $i)")
      cond
    }
    val startV = VersionedTable.currentVersion(spark, src).get
    def write(name: String, changed: Long)(body: => Int): Unit = {
      val before = if (traced) h.untimed(VersionedTable.filesOf(spark, src).toSet) else Set.empty[String]
      h.timedOp(name) {
        val v = body
        history(v) = liveTotals
        if (name == "sink.compact") VersionedTable.expire(spark, src, keepLast = 24)
        true
      }
      if (traced) h.untimed {
        val added = VersionedTable.filesOf(spark, src).filterNot(before.contains)
        newFiles += added.size
        newBytes += added.map(f => Files.size(Paths.get(src, f))).sum
        writeCommits += 1; changedRows += changed
      }
    }
    def liveKeysIn(lo: Long, hi: Long): Array[Long] =
      (lo until hi).filter(model.contains).toArray
    // a key window inside one data file (by the manifest's key stats), so
    // each write or range read touches one file whatever the seed
    def window(width: Long): Long = {
      val ranges = VersionedTable.fileColumnStats(spark, src, Some("o_orderkey"))
        .map(r => (r._4.toLong, r._5.toLong)).filter { case (lo, hi) => hi - lo + 1 >= width }.sorted
      if (ranges.isEmpty) rng.nextLong(math.max(1L, nextKey - width))
      else {
        val (lo, hi) = ranges(rng.nextInt(ranges.size))
        lo + rng.nextLong(hi - lo - width + 2)
      }
    }

    // 1. append 400 new keys
    locally {
      seqCounter += 1
      val keys = nextKey until nextKey + 400
      val recs = keys.map(k => k -> randomRec(rng, seqCounter))
      recs.foreach { case (k, r) => model(k) = r }
      nextKey += 400
      write("sink.append", 400)(VersionedTable.append(spark, src, frame(spark, recs.map { case (k, r) => row(k, r) })))
    }
    // 2. copy-on-write merge: 250 updates and 20 deletes in one 2,000-key window
    locally {
      val w = window(2000)
      val live = liveKeysIn(w, w + 2000)
      val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
        .shuffle(live.toSeq).take(270)
      val (ups, dels) = picked.splitAt(math.min(250, picked.size))
      seqCounter += 1
      val upRecs = ups.map(k => k -> randomRec(rng, seqCounter))
      upRecs.foreach { case (k, r) => model(k) = r }
      dels.foreach(model.remove)
      val delDf = frame(spark, dels.map(Row(_)), StructType.fromDDL("o_orderkey BIGINT"))
      write("sink.merge", picked.size)(VersionedTable.mergeInto(spark, src,
        frame(spark, upRecs.map { case (k, r) => row(k, r) }), Seq("o_orderkey"), Some(delDf)))
    }
    // 3. deletion-vector delete: custkey % 5 = 0 within a 1,000-key window
    locally {
      val w = window(1000)
      val gone = liveKeysIn(w, w + 1000).filter(k => model(k).cust % 5 == 0)
      gone.foreach(model.remove)
      write("sink.dv_delete", gone.length)(VersionedTable.deleteWhereVectored(spark, src,
        Map("o_orderkey" -> (Some(w), Some(w + 999))),
        col("o_orderkey").between(w, w + 999) && (col("o_custkey") % 5 === 0)))
    }
    // 4. out-of-order applyChanges: 120 newer upserts (30 with an older
    //    duplicate in the batch), 40 stale changes, 40 deletes — shuffled
    locally {
      val w = window(3000)
      val live = liveKeysIn(w, w + 3000)
      val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
        .shuffle(live.toSeq).take(200)
      val changes = mutable.ArrayBuffer[(Long, Rec, Boolean)]()
      var changed = 0L
      picked.zipWithIndex.foreach { case (k, j) =>
        val cur = model(k)
        if (j < 120) {
          seqCounter += 2
          val r = randomRec(rng, seqCounter)
          changes += ((k, r, false))
          if (j < 30) changes += ((k, randomRec(rng, seqCounter - 1), false))
          model(k) = r; changed += 1
        } else if (j < 160) {
          changes += ((k, randomRec(rng, cur.seq - 1), false))   // stale: discarded
        } else {
          seqCounter += 1
          changes += ((k, cur.copy(seq = seqCounter), true))
          model.remove(k); changed += 1
        }
      }
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
        .shuffle(changes.toSeq)
      val rows = shuffled.map { case (k, r, del) => Row.fromSeq(row(k, r).toSeq :+ del) }
      val chg = frame(spark, rows, schema.add("_del", BooleanType))
      write("sink.apply_changes", changed)(VersionedTable.applyChanges(spark, src, chg,
        Seq("o_orderkey"), "seq", Some("_del")))
    }
    // 5. maintenance every 4th cycle, starting with the first: compact,
    //    then expire all but the newest 24 versions
    if (i % 4 == 0)
      write("sink.compact", 0)(VersionedTable.compact(spark, src, targetBytes = 1L << 20,
        clusterBy = Seq("o_orderkey")))
    val cur = VersionedTable.currentVersion(spark, src).get
    history.getOrElseUpdate(cur, liveTotals)
    if (traced) h.call("sink.manifest") {
      VersionedTable.currentVersion(spark, src); VersionedTable.history(spark, src)
    }

    // reads: each is planned (plans.plan forces the executed plan) and
    // then fully consumed (queries.exec collects its one-row digest)
    def read(name: String)(frame: => DataFrame)(ok: Row => Boolean): Unit = h.timedOp(name) {
      val df = h.call("plans.plan") { val d = frame; d.queryExecution.executedPlan; d }
      val r = h.call("queries.exec")(df.collect()).head
      h.untimed(ok(r))
    }
    def totals(df: DataFrame): DataFrame = df.agg(count(lit(1)),
      coalesce(sum(functions.round(col("o_totalprice") * 100).cast("long")), lit(0L)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")), lit(0)))
    def countCents(r: Row) = (r.getLong(0), r.getLong(1))
    read("read.snapshot")(totals(VersionedTable.read(spark, src))) { r =>
      check(s"snapshot ${countCents(r)} vs model $liveTotals", countCents(r) == liveTotals)
    }
    locally {
      val lo = window(5000); val hi = lo + 4999
      val preds: VersionedTable.RangePreds = Map("o_orderkey" -> (Some(lo), Some(hi)))
      read("read.range")(totals(
        VersionedTable.readWhere(spark, src, preds).filter(col("o_orderkey").between(lo, hi)))) { r =>
        check("range count", r.getLong(0) == (lo to hi).count(model.contains))
      }
      if (traced) h.untimed {
        pruneShares += VersionedTable.prunedFiles(spark, src, preds).size.toDouble /
          VersionedTable.filesOf(spark, src).size
      }
    }
    locally {
      val kept = VersionedTable.versions(spark, src).filter(v => v < cur && v >= cur - 12)
      if (kept.nonEmpty) {
        val v = kept(rng.nextInt(kept.size))
        read("read.time_travel")(totals(VersionedTable.read(spark, src, Some(v)))) { r =>
          check(s"time travel v$v", history.get(v).contains(countCents(r)))
        }
      }
    }
    locally {
      read("read.change_feed") {
        val feed = spark.read.format("graft-versioned").option("readChangeFeed", "true")
          .option("startingVersion", (startV + 1).toString).option("endingVersion", cur.toString)
          .load(src)
        feed.agg(coalesce(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)), lit(0L)),
          sum(xxhash64(feed.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
      } { r => check("change feed net rows", r.getLong(0) == history(cur)._1 - history(startV)._1) }
    }

    // replica drain
    h.timedOp("streaming.drain") {
      val delivered = drain(spark, traced)
      h.untimed {
        if (traced) cdfRows += delivered
        // one job digests both tables: (count, hash sum) per side
        val sides = VersionedTable.read(spark, src).select(cols.map(col): _*).withColumn("side", lit("source"))
          .unionByName(VersionedTable.read(spark, replica).select(cols.map(col): _*).withColumn("side", lit("replica")))
          .groupBy("side").agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
        val (a, b) = (sides.get("source"), sides.get("replica"))
        check(s"replica $b vs source $a", a == b)
      }
    }
  }

  /** Drains the source's change feed into the replica; returns the number
    * of change rows delivered. */
  private def drain(spark: SparkSession, traced: Boolean): Long = {
    var delivered = 0L
    val stream = spark.readStream.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", "2").load(src)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val (changes, release) = org.apache.spark.sql.graftbridge.Bridge.materializeReleasable(spark,
          batch.select((cols.map(col) :+
            (col("_commit_version").cast("long") * 2 +
              when(col("_change_type") === "insert", 1L).otherwise(0L)).as("_rseq") :+
            (col("_change_type") === "delete").as("_del")): _*))
        try {
          delivered += changes.count()
          VersionedTable.applyChanges(spark, replica, changes, Seq("o_orderkey"), "_rseq", Some("_del"))
        } finally release()
        if (traced) batchMs += (System.nanoTime() - t0) / 1e6
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    delivered
  }

  override def layerMetrics(h: Harness, ops: Seq[Op]): Seq[Metric] = {
    val t = h.tracer.get
    def secs(names: String*) = names.flatMap(t.spansNamed).map(_.seconds)
    val writes = secs("sink.append", "sink.merge", "sink.dv_delete", "sink.apply_changes", "sink.compact")
    // (sink.compact includes the expire that follows it)
    val reads = secs("read.snapshot", "read.range", "read.time_travel", "read.change_feed")
    val drainSpans = t.spansNamed("streaming.drain")
    val nDrains = math.max(1, drainSpans.size)
    val trig = drainSpans.map(_.delta.triggers).sum
    val trigMs = drainSpans.map(_.delta.triggerMs).sum
    val spark = h.spark
    Seq(
      Metric("sink.append_s", Stats.median(secs("sink.append")), "s"),
      Metric("sink.merge_s", Stats.median(secs("sink.merge")), "s"),
      Metric("sink.dv_delete_s", Stats.median(secs("sink.dv_delete")), "s"),
      Metric("sink.apply_changes_s", Stats.median(secs("sink.apply_changes")), "s"),
      Metric("sink.compact_s", Stats.median(secs("sink.compact")), "s"),
      Metric("sink.manifest_s", Stats.median(secs("sink.manifest")), "s"),
      Metric("sink.bytes_per_changed_row", if (changedRows > 0) newBytes.toDouble / changedRows else 0.0, "B"),
      Metric("sink.files_per_commit", if (writeCommits > 0) newFiles.toDouble / writeCommits else 0.0, "count"),
      Metric("sink.pruned_file_share", Stats.median(pruneShares.toSeq), "ratio"),
      Metric("sink.versions", VersionedTable.currentVersion(spark, src).get.toDouble, "count"),
      Metric("lakehouse.commit_s", Stats.median(writes), "s"),
      Metric("lakehouse.commit_s_p90", Stats.quantile(writes, 0.9), "s"),
      Metric("lakehouse.read_s", Stats.median(reads), "s"),
      Metric("lakehouse.read_s_p90", Stats.quantile(reads, 0.9), "s"),
      Metric("lakehouse.replicate_s", Stats.median(drainSpans.map(_.seconds)), "s"),
      Metric("plans.plan_s", Stats.median(secs("plans.plan")), "s"),
      Metric("queries.exec_s", Stats.median(secs("queries.exec")), "s"),
      Metric("sources.cdf_rows_per_changed_row", if (changedRows > 0) cdfRows.toDouble / changedRows else 0.0, "ratio"),
      Metric("streaming.triggers_per_drain", trig.toDouble / nDrains, "count"),
      Metric("streaming.trigger_overhead_s", math.max(0.0, trigMs - batchMs) / 1e3 / nDrains, "s"))
  }
}

object LakehouseCdc {
  /** One live row of the replay model; price in cents. */
  final case class Rec(cust: Long, status: String, cents: Long, day: Int, prio: String, seq: Long)
}
