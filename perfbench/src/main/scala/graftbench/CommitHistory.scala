package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.sink.{SnapshotTable, TableSink}
import graft.template.{TableTemplate, TemplateLoader}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drives one day-partitioned `templates/events.yaml` table through a
  * commit history. Set-up builds a history of small exactly-once appends
  * once and saves the table; every cycle restores that table and replays
  * the same seeded schedule on top of it: micro-batch appends, a SQL
  * UPDATE, DELETE or MERGE on the `graft` catalog every `DmlEvery`-th
  * commit, and compaction plus snapshot expiry every `MaintainEvery`,
  * each followed by a checked aggregate read; the cycle ends with a
  * checked aggregate read and two checked time-travel reads. History
  * depth is the axis the traced curve follows.
  */
final class CommitHistory(cfg: Config, spark: SparkSession) extends Workload {
  import CommitHistory._

  private val template: TableTemplate =
    TemplateLoader.get(new File(cfg.repoRoot, "templates").getPath, "events")
  private val sqlName = s"graft.${template.namespace}.${template.name}"
  /** The warehouse the operations run in, and its saved state after the history build. */
  private val warehouse = new File(cfg.workDir, "ch-live")
  private val saved = new File(cfg.workDir, "ch-history")
  private var batches: IndexedSeq[(EventBatch, DataFrame)] = IndexedSeq.empty
  private var historyBatches: IndexedSeq[EventBatch] = IndexedSeq.empty
  /** Snapshot id -> (commit time, live rows, value sum in cents) after each history commit. */
  private var historyStates = Map.empty[Long, (Long, Long, Long)]
  /** Traced runs: the history build's points, and the first cycle's. */
  private var historyCurve = IndexedSeq.empty[CurvePoint]
  private val cycleCurve = mutable.ArrayBuffer.empty[CurvePoint]
  private var lastTable: Option[SnapshotTable] = None

  def setup(rep: Int): Unit = {
    val r = new SplittableRandom(cfg.seed)
    historyBatches = (0 until HistoryDepth).map(h =>
      Events.batch(r, firstId(h), HistoryRows, firstDay = h / CommitsPerDay))
    val appendAt = (0 until Commits).filterNot(isDml)
    val sizes = Events.logUniformSizes(r, appendAt.size, MinBatch, MaxBatch, DmlEvery - 1)
    batches = appendAt.zip(sizes).map { case (i, n) =>
      val g = HistoryDepth + i
      val b = Events.batch(r, firstId(g), n, firstDay = g / CommitsPerDay)
      (b, Events.toDF(spark, b))
    }
  }

  def inputs: ListMap[String, Any] = ListMap(
    "history_commits" -> HistoryDepth, "history_batch_rows" -> HistoryRows,
    "commits" -> Commits, "appends" -> batches.size,
    "appended_rows" -> batches.map(_._1.size).sum,
    "batch_rows" -> Seq(batches.map(_._1.size).min, batches.map(_._1.size).max))

  private def open(wh: File): SnapshotTable = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    SnapshotTable(wh.getPath, template.namespace, template.name)
  }

  /** Warms the schedule's paths up, then appends the history batches to an
    * empty table, checking each commit's row count, and saves the
    * warehouse. A traced run times every append and probes every
    * `ProbeEvery`-th commit.
    */
  override def fixture(): Unit = {
    warm()
    Files.deleteTree(warehouse)
    val table = open(warehouse)
    val model = new EventsModel(Capacity)
    val states = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
    val curve = mutable.ArrayBuffer.empty[CurvePoint]
    for ((b, h) <- historyBatches.zipWithIndex) {
      val probed = cfg.trace && (h + 1) % ProbeEvery == 0
      val rootBefore = if (probed) Files.rootFiles(table.root) else Map.empty[String, (Long, Long)]
      val (s, snap) = Main.seconds(
        TableSink.appendOnce(Events.toDF(spark, b), template, table, QueryId, h.toLong))
      model.append(b)
      val committed = snap.getOrElse(
        throw new IllegalStateException(s"history batch $h was skipped as already committed"))
      require(committed.rowCount == model.live,
        s"history commit $h records ${committed.rowCount} rows, model has ${model.live}")
      states(committed.id) = (committed.committedAtMs, model.live, model.centsSum)
      if (cfg.trace)
        curve += CurvePoint(h + 1, Some(s * 1e3),
          if (probed) Some(probe(table, rootBefore)) else None, compacted = false)
    }
    historyStates = states.toMap
    historyCurve = curve.toIndexedSeq
    Files.deleteTree(saved)
    Files.copyTree(warehouse, saved)
  }

  /** The fixture warms up before it builds the history, so that the
    * history's append times are warm too.
    */
  def warmUp(): Unit = ()

  /** The first commits of the schedule on an empty table, so the append,
    * DML and read paths are warm without paying for them at depth.
    */
  private def warm(): Unit = runSchedule(new Recorder(new Tracer(spark)), WarmCommits, deep = false)

  def cycle(rec: Recorder): Unit = runSchedule(rec, Commits, deep = true)

  /** Runs the first `commits` commits of the schedule, on the table as the
    * history build left it when `deep`, else on an empty table.
    */
  private def runSchedule(rec: Recorder, commits: Int, deep: Boolean): Unit = {
    Files.deleteTree(warehouse)
    if (deep) Files.copyTree(saved, warehouse)
    val table = open(warehouse)
    val model = new EventsModel(Capacity)
    if (deep) historyBatches.foreach(model.append)
    // id -> (ts, live, cents)
    val history = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
    if (deep) history ++= historyStates
    val r = new SplittableRandom(cfg.seed * 31 + 7)
    // the curve's cycle points come from the first traced cycle
    val probing = rec.traceRun && rec.cycles == 1
    var appended = 0
    var compacted = false
    for (i <- 0 until commits) {
      val g = HistoryDepth + i
      val rootBefore = if (probing) Files.rootFiles(table.root) else Map.empty[String, (Long, Long)]
      val appendMs = if (isDml(i)) {
        dml(rec, i, r, model)
        None
      } else {
        val (b, df) = batches(appended)
        appended += 1
        val t0 = System.nanoTime()
        rec.op("append", "sink.append") {
          TableSink.appendOnce(df, template, table, QueryId, g.toLong)
        }.foreach { case (id, snap) =>
          model.append(b)
          rec.check(id, snap.isDefined, s"batch $g was skipped as already committed")
        }
        Some((System.nanoTime() - t0) / 1e6)
      }
      // every commit: the table's recorded row count against the model
      table.currentSnapshot.foreach { s =>
        history(s.id) = (s.committedAtMs, model.live, model.centsSum)
        rec.check(rec.attempted, s.rowCount == model.live,
          s"commit $g: snapshot ${s.id} records ${s.rowCount} rows, model has ${model.live}")
      }
      if (probing) cycleCurve += CurvePoint(g + 1, appendMs, Some(probe(table, rootBefore)), compacted)
      if (i % MaintainEvery == MaintainEvery - 1) {
        maintain(rec, table, model, history)
        compacted = true
        currentRead(rec, model)
      }
    }
    currentRead(rec, model)
    timeTravel(rec, table, history)
    lastTable = Some(table)
  }

  /** The DML statements correct recent rows only (the ids appended after
    * the history), as late corrections do, so each rewrites the few data
    * directories that hold them.
    */
  private def dml(rec: Recorder, i: Int, r: SplittableRandom, model: EventsModel): Unit = {
    val recent = firstId(HistoryDepth)
    (i / DmlEvery) % 3 match {
      case 0 =>
        val k = r.nextInt(7)
        rec.op("dml", "catalog.dml") {
          spark.sql(s"UPDATE $sqlName SET value = value + 1.0 " +
            s"WHERE event_type = 'purchase' AND user_id % 7 = $k AND event_id >= $recent")
        }.foreach(_ => model.update(Events.Types.indexOf("purchase"), 7, k, 100, recent))
      case 1 =>
        val k = r.nextInt(53)
        rec.op("dml", "catalog.dml") {
          spark.sql(s"DELETE FROM $sqlName " +
            s"WHERE event_type = 'click' AND user_id % 53 = $k AND event_id >= $recent")
        }.foreach(_ => model.delete(Events.Types.indexOf("click"), 53, k, recent))
      case _ =>
        val src = mergeSource(r, model, recent, firstId(HistoryDepth + i))
        // the source carries the table's derived day partition column
        Events.toDF(spark, src).selectExpr("*", "CAST(ts AS DATE) AS ts_day")
          .createOrReplaceTempView("bench_merge_src")
        rec.op("dml", "catalog.dml") {
          spark.sql(s"""MERGE INTO $sqlName t USING bench_merge_src s
                       |ON t.event_id = s.event_id
                       |WHEN MATCHED THEN UPDATE SET value = s.value
                       |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        }.foreach(_ => model.merge(src))
    }
  }

  /** About 200 live ids from `minId` up with new values, then 100 new ids from `newIds`. */
  private def mergeSource(
      r: SplittableRandom, model: EventsModel, minId: Long, newIds: Long): EventBatch = {
    val live = model.liveIds.filter(_ >= minId).toArray
    val upd = Array.fill(200)(live(r.nextInt(live.length)).toLong).distinct.sorted
    val ins = Events.batch(r, newIds, 100)
    val upCents = upd.map(_ => r.nextInt(50000))
    val upd0 = Events.batch(r, 0, upd.length) // ts/user/type of matched rows are unused
    EventBatch(upd ++ ins.ids, upd0.tsMs ++ ins.tsMs, upd0.users ++ ins.users,
      upd0.types ++ ins.types, upCents ++ ins.cents)
  }

  private def currentRead(rec: Recorder, model: EventsModel): Unit =
    rec.op("read", "sink.read") {
      spark.sql(s"SELECT count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS c " +
        s"FROM $sqlName").head()
    }.foreach { case (id, row) =>
      rec.check(id, row.getLong(0) == model.live && row.getLong(1) == model.centsSum,
        s"current read (${row.getLong(0)}, ${row.getLong(1)}) vs model " +
          s"(${model.live}, ${model.centsSum})")
    }

  /** Reads the middle live snapshot by id and by commit time, against the
    * model's state when it was committed.
    */
  private def timeTravel(
      rec: Recorder, table: SnapshotTable,
      history: mutable.LinkedHashMap[Long, (Long, Long, Long)]): Unit = {
    val live = table.snapshots.filterNot(_.staged).map(_.id).filter(history.contains)
    if (live.size > 1) {
      val target = live((live.size - 1) / 2)
      val (ts, n, c) = history(target)
      def agg(df: DataFrame) = df.selectExpr("count(*)",
        "sum(CAST(round(value * 100) AS BIGINT))").head()
      rec.op("read", "sink.time_travel")(agg(table.readSnapshot(spark, target)))
        .foreach { case (id, row) =>
          rec.check(id, row.getLong(0) == n && row.getLong(1) == c,
            s"VERSION AS OF $target read (${row.getLong(0)}, ${row.getLong(1)}) vs ($n, $c)")
        }
      rec.op("read", "sink.time_travel")(agg(table.readAsOf(spark, ts)))
        .foreach { case (id, row) =>
          rec.check(id, row.getLong(0) == n && row.getLong(1) == c,
            s"TIMESTAMP AS OF $ts read (${row.getLong(0)}, ${row.getLong(1)}) vs ($n, $c)")
        }
    }
  }

  private def maintain(
      rec: Recorder, table: SnapshotTable, model: EventsModel,
      history: mutable.LinkedHashMap[Long, (Long, Long, Long)]): Unit = {
    rec.op("compact", "sink.compact")(table.compact(spark)).foreach { case (id, snap) =>
      history(snap.id) = (snap.committedAtMs, model.live, model.centsSum)
      rec.check(id, snap.rowCount == model.live,
        s"compaction changed the row count: ${snap.rowCount} vs ${model.live}")
    }
    // expire the oldest fifth of the history: it keeps growing, but
    // expiry has real work to do
    val snaps = table.snapshots.filterNot(_.staged)
    val cutoff = snaps(snaps.size / 5).committedAtMs
    rec.op("expire", "sink.expire")(table.expireSnapshots(cutoff)).foreach { case (id, gone) =>
      gone.foreach(history.remove)
      rec.check(id, table.currentSnapshot.exists(_.rowCount == model.live),
        "expiry changed the current snapshot")
    }
  }

  /** Snapshot count and `snapshots` read-and-parse time, time to a
    * planned read, and the table root's metadata bytes in total and
    * written since `rootBefore`.
    */
  private def probe(table: SnapshotTable, rootBefore: Map[String, (Long, Long)]): Probe = {
    val (snapS, snaps) = Main.seconds(table.snapshots)
    val (planS, _) = Main.seconds(table.read(spark).queryExecution.executedPlan)
    val after = Files.rootFiles(table.root)
    val written = after.collect { case (f, (len, mod)) if !rootBefore.get(f).contains((len, mod)) => len }.sum
    Probe(snaps.size, snapS * 1e3, planS * 1e3, after.values.map(_._1).sum, written)
  }

  def report(rec: Recorder): ListMap[String, Metric] = {
    val app = rec.latencies("append")
    val dmlMs = rec.latencies("dml")
    val reads = rec.latencies("read")
    val commits = app ++ dmlMs
    ListMap(
      "commits_per_s" -> Metric(commits.size / (commits.sum / 1e3), "1/s", commits.size),
      "append_ms.p50" -> Metric(Stats.median(app), "ms", app.size),
      "dml_ms.p50" -> Metric(Stats.median(dmlMs), "ms", dmlMs.size),
      "read_ms.p50" -> Metric(Stats.median(reads), "ms", reads.size))
  }

  def layers(rec: Recorder, idx: SpanIndex): ListMap[String, Double] = {
    val commitSpans = Seq("sink.append", "catalog.dml")
    val points = historyCurve ++ cycleCurve
    // compaction resets the layout the probes depend on: slopes are fitted
    // over the history up to the first compaction
    val probes = points.filterNot(_.compacted).flatMap(p => p.probe.map(p.commit.toDouble -> _))
    val timed = cycleCurve.flatMap(_.probe).toSeq
    // append latency over depth from the history build's equal-sized batches
    val appends = historyCurve.flatMap(p => p.appendMs.map(p.commit.toDouble -> _))
    def per100(xy: Seq[(Double, Double)]) = Stats.slope(xy.map(_._1), xy.map(_._2)) * 100
    val t = lastTable.get
    val totalBytes = Files.treeBytes(new File(t.root))
    val slopes = ListMap(
      "append_ms_per_100_commits" -> per100(appends),
      "snapshots_ms_per_100_commits" -> per100(probes.map { case (c, p) => c -> p.snapshotsMs }),
      "read_plan_ms_per_100_commits" -> per100(probes.map { case (c, p) => c -> p.readPlanMs }),
      "metadata_bytes_per_100_commits" ->
        per100(probes.map { case (c, p) => c -> p.metadataBytes.toDouble }))
    Main.writeJson(new File(cfg.outDir, s"curve-commit_history-${cfg.seed}.json"), ListMap(
      "history_commits" -> HistoryDepth,
      "slopes" -> slopes,
      "points" -> points.map(p => ListMap("commit" -> p.commit, "append_ms" -> p.appendMs,
          "after_compaction" -> p.compacted) ++
        p.probe.map(q => ListMap("snapshots" -> q.snapshots, "snapshots_ms" -> q.snapshotsMs,
          "read_plan_ms" -> q.readPlanMs, "metadata_bytes" -> q.metadataBytes,
          "metadata_bytes_written" -> q.writtenBytes)).getOrElse(ListMap.empty))))
    ListMap(
      "sink.commit_driver_ms" -> commitSpans.map(idx.driverMs).sum,
      "sink.commit_job_ms" -> commitSpans.map(idx.jobMs).sum,
      "sink.snapshots_ms" -> Stats.median(timed.map(_.snapshotsMs)),
      "sink.snapshots_ms.slope" -> slopes("snapshots_ms_per_100_commits"),
      "sink.append_ms.slope" -> slopes("append_ms_per_100_commits"),
      "sink.read_plan_ms" -> Stats.median(timed.map(_.readPlanMs)),
      "sink.read_plan_ms.slope" -> slopes("read_plan_ms_per_100_commits"),
      "sink.metadata_bytes" -> timed.last.metadataBytes.toDouble,
      "sink.metadata_bytes_per_commit" -> Stats.median(timed.map(_.writtenBytes.toDouble)),
      "sink.space_amp" -> totalBytes.toDouble / math.max(1L, t.dataBytes),
      "sink.data_files" -> t.dataFileCount.toDouble,
      "sink.live_dirs" -> t.currentSnapshot.map(_.dataDirs.size).getOrElse(0).toDouble,
      "sink.compact_ms" -> idx.totalMs("sink.compact"),
      "sink.expire_ms" -> idx.totalMs("sink.expire"),
      "catalog.dml_driver_ms" -> idx.driverMs("catalog.dml"),
      "catalog.dml_jobs" -> idx.jobCount("catalog.dml").toDouble)
  }

}

/** One commit of the history-depth curve: the commit's depth, its append
  * latency (none for DML), when probed the probe's figures, and whether
  * the table was compacted before it.
  */
final case class CurvePoint(
    commit: Int, appendMs: Option[Double], probe: Option[Probe], compacted: Boolean)

final case class Probe(
    snapshots: Int, snapshotsMs: Double, readPlanMs: Double, metadataBytes: Long, writtenBytes: Long)

object CommitHistory {
  /** Commits in the table before a cycle starts: small appends of
    * `HistoryRows` rows, built once in set-up.
    */
  val HistoryDepth = 16
  val HistoryRows = 50
  /** A traced run probes every `ProbeEvery`-th history commit. */
  val ProbeEvery = 4
  val QueryId = "bench-ingest"
  val Commits = 9
  val WarmCommits = 3
  val DmlEvery = 3
  val MaintainEvery = 6
  /** Micro-batches arrive in time order: each spans two days of event
    * time, and the window moves one day every few commits.
    */
  val CommitsPerDay = 4
  val MinBatch = 100
  val MaxBatch = 10000

  /** Commit `g` (history commits first) draws its new event ids from its own range. */
  val IdsPerCommit = MaxBatch
  def firstId(g: Int): Long =
    if (g < HistoryDepth) g.toLong * HistoryRows
    else HistoryDepth.toLong * HistoryRows + (g - HistoryDepth).toLong * IdsPerCommit
  val Capacity: Int = (HistoryDepth * HistoryRows + Commits * IdsPerCommit).toInt

  /** Every `DmlEvery`-th commit after the history is a SQL DML statement instead of an append. */
  def isDml(i: Int): Boolean = i % DmlEvery == DmlEvery - 1
}
