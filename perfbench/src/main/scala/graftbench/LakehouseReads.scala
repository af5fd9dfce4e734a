package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import graft.governance.AccessControl
import graft.quality.{CheckLoader, Quality}
import graft.sink.{SnapshotTable, TableSink}
import graft.template.{TableTemplate, TemplateLoader}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A small star schema (customer, orders, lineitem) and the events
  * table, loaded into graft tables; `lineitem` arrives as a series of
  * year-partitioned appends, so it has history and many files. The
  * timed phase is read-only: one cycle runs a fixed mix of scans, a
  * join, time travel, an incremental read, metadata tables, a masked
  * reader projection and a quality suite. Every result is compared with
  * the same query in plain Spark over the raw generated parquet.
  */
final class LakehouseReads(cfg: Config, spark: SparkSession) extends Workload {
  import LakehouseReads._

  private val template: TableTemplate =
    TemplateLoader.get(new File(cfg.repoRoot, "templates").getPath, "events")
  private val checksPath = new File(cfg.repoRoot, "quality/events_checks.yaml").getPath
  private var wh: File = _
  private var raw: File = _
  private var events: EventBatch = _
  /** lineitem snapshot (id, commit ms) after each append, in order. */
  private var appends: IndexedSeq[(Long, Long)] = IndexedSeq.empty
  private var reference: Map[String, Seq[Row]] = Map.empty

  def setup(rep: Int): Unit = {
    raw = new File(cfg.workDir, s"lh-raw-$rep")
    writeRaw(raw)
    events = Events.batch(new SplittableRandom(cfg.seed + 1), 0, EventRows, days = 14)
  }

  /** Loads the raw tables into graft tables: `lineitem` as a series of
    * appends, the others in one commit each.
    */
  override def fixture(): Unit = {
    wh = new File(cfg.workDir, "lh-wh")
    val read = (t: String) => spark.read.parquet(new File(raw, t).getPath)
    SnapshotTable(wh.getPath, "tpch", "customer").overwrite(read("customer")): Unit
    SnapshotTable(wh.getPath, "tpch", "orders").overwrite(read("orders")): Unit
    val li = SnapshotTable(wh.getPath, "tpch", "lineitem")
    val lineitem = read("lineitem")
    appends = (0 until Appends).map { k =>
      val s = li.append(lineitem.filter(col("batch") === k).drop("batch"),
        partitionCols = Seq("l_shipyear"), sortCols = Seq(col("l_shipdate").asc))
      (s.id, s.committedAtMs)
    }
    TableSink.overwrite(Events.toDF(spark, events), template,
      SnapshotTable(wh.getPath, template.namespace, template.name)): Unit
  }

  /** Seeded raw tables, generated with plain Spark expressions. */
  private def writeRaw(dir: File): Unit = {
    val seed = cfg.seed
    def h(salt: Int) = pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(Long.MaxValue))
    def pick(salt: Int, n: Int) = pmod(h(salt), lit(n.toLong))
    def money(salt: Int, lo: Int, span: Int) =
      ((pick(salt, span * 100) + lit(lo * 100)) / 100).cast("decimal(12,2)")
    def out(df: DataFrame, name: String) =
      df.write.mode("overwrite").parquet(new File(dir, name).getPath)
    out(spark.range(1, Customers + 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      money(2, -999, 10999).as("c_acctbal"),
      element_at(array(Segments.map(lit): _*), (pick(3, Segments.size) + 1).cast("int"))
        .as("c_mktsegment")), "customer")
    out(spark.range(1, Orders + 1).select(
      col("id").as("o_orderkey"),
      (pick(4, Customers) + 1).as("o_custkey"),
      date_add(lit("1992-01-01").cast("date"), pick(5, 2400).cast("int")).as("o_orderdate"),
      money(6, 100, 400000).as("o_totalprice")), "orders")
    out(spark.range(0, Orders.toLong * LinesPerOrder).select(
      (col("id") / LinesPerOrder + 1).cast("long").as("l_orderkey"),
      (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"),
      (pick(7, 50) + 1).cast("decimal(12,2)").as("l_quantity"),
      money(8, 900, 100000).as("l_extendedprice"),
      (pick(9, 11) / 100).cast("decimal(12,2)").as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pick(10, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pick(11, 2) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), pick(12, 2520).cast("int")).as("l_shipdate"),
      pick(13, Appends).cast("int").as("batch"))
      .withColumn("l_shipyear", year(col("l_shipdate"))), "lineitem")
  }

  /** The read mix: name -> (SQL over graft tables, SQL over raw views). */
  private def queries: Seq[(String, String, String)] = {
    val (midId, midMs) = appends(Appends / 2)
    val midTs = java.time.Instant.ofEpochMilli(midMs).toString.replace("T", " ").stripSuffix("Z")
    val upTo = s"batch <= ${Appends / 2}"
    Seq(
      ("full_scan",
        """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q,
          |sum(l_extendedprice) AS p FROM %s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, ""),
      ("pruned_range",
        """SELECT count(*) AS n, sum(l_extendedprice) AS p FROM %s
          |WHERE l_shipyear = 1995 AND l_shipdate BETWEEN DATE'1995-03-01'
          |AND DATE'1995-05-31'""".stripMargin, ""),
      ("join_top_n",
        """SELECT c.c_custkey, c.c_name,
          |sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
          |FROM %2$s c JOIN %3$s o ON c.c_custkey = o.o_custkey
          |JOIN %1$s l ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_orderdate < DATE'1995-03-15'
          |GROUP BY c.c_custkey, c.c_name ORDER BY revenue DESC, c.c_custkey
          |LIMIT 10""".stripMargin, ""),
      ("version_as_of",
        s"SELECT count(*) AS n, sum(l_extendedprice) AS p FROM %s VERSION AS OF $midId",
        upTo),
      ("timestamp_as_of",
        s"SELECT count(*) AS n, sum(l_extendedprice) AS p FROM %s TIMESTAMP AS OF '$midTs'",
        upTo))
  }

  private def graftSql(q: String): String =
    q.replace("%1$s", "graft.tpch.lineitem").replace("%2$s", "graft.tpch.customer")
      .replace("%3$s", "graft.tpch.orders").replace("%s", "graft.tpch.lineitem")

  /** Plain Spark over the raw parquet: the reference results. */
  private def computeReference(): Unit = {
    val views = Seq("customer", "orders", "lineitem").map { t =>
      val v = s"raw_$t"
      spark.read.parquet(new File(raw, t).getPath).createOrReplaceTempView(v)
      t -> v
    }.toMap
    def rawSql(q: String, filter: String) = {
      val li = if (filter.isEmpty) views("lineitem")
        else s"(SELECT * FROM ${views("lineitem")} WHERE $filter)"
      q.replace(" VERSION AS OF " + appends(Appends / 2)._1, "")
        .replaceAll(" TIMESTAMP AS OF '[^']*'", "")
        .replace("%1$s", li).replace("%2$s", views("customer"))
        .replace("%3$s", views("orders")).replace("%s", li)
    }
    val rawLi = spark.table(views("lineitem"))
    reference = queries.map { case (name, q, f) => name -> spark.sql(rawSql(q, f)).collect().toSeq }
      .toMap ++ Map(
        "incremental" -> rawLi.filter(col("batch").between(IncFrom + 1, IncTo))
          .agg(count(lit(1)), sum(col("l_extendedprice"))).collect().toSeq,
        "files" -> rawLi.agg(count(lit(1))).collect().toSeq)
  }

  def inputs: ListMap[String, Any] = ListMap(
    "customer_rows" -> Customers, "orders_rows" -> Orders,
    "lineitem_rows" -> Orders * LinesPerOrder, "lineitem_appends" -> Appends,
    "events_rows" -> EventRows)

  /** Computes the reference results, then runs the SQL reads of the mix
    * once through the `graft` catalog, unchecked and untimed.
    */
  def warmUp(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    computeReference()
    for ((_, q, _) <- queries) spark.sql(graftSql(q)).collect()
  }

  private def same(a: Seq[Row], b: Seq[Row]): Boolean = a.map(_.toSeq) == b.map(_.toSeq)

  def cycle(rec: Recorder): Unit = {
    for ((name, q, _) <- queries)
      rec.op("read", "sink.read")(spark.sql(graftSql(q)).collect().toSeq)
        .foreach { case (id, rows) =>
          rec.check(id, same(rows, reference(name)), s"$name: $rows vs ${reference(name)}")
        }
    val li = SnapshotTable(wh.getPath, "tpch", "lineitem")
    rec.op("read", "sink.incremental") {
      li.readIncremental(spark, appends(IncFrom)._1, appends(IncTo)._1)
        .agg(count(lit(1)), sum(col("l_extendedprice"))).collect().toSeq
    }.foreach { case (id, rows) =>
      rec.check(id, same(rows, reference("incremental")),
        s"incremental read: $rows vs ${reference("incremental")}")
    }
    rec.op("read", "catalog.metadata") {
      spark.sql("SELECT snapshot_id FROM graft.tpch.lineitem.snapshots ORDER BY 1")
        .collect().map(_.getLong(0)).toSeq
    }.foreach { case (id, ids) =>
      rec.check(id, ids == appends.map(_._1), s"snapshots table lists $ids")
    }
    rec.op("read", "catalog.metadata") {
      spark.sql("SELECT sum(record_count) FROM graft.tpch.lineitem.files").head().getLong(0)
    }.foreach { case (id, n) =>
      val want = reference("files").head.getLong(0)
      rec.check(id, n == want, s"files table counts $n records, raw has $want")
    }
    val ev = SnapshotTable(wh.getPath, template.namespace, template.name)
    rec.op("read", "governance.mask") {
      val masked = AccessControl.maskPii(ev.read(spark), template, AccessControl.Reader)
      (masked.columns.toSeq, masked.agg(count(lit(1)),
        sum(round(col("value") * 100).cast("long"))).head())
    }.foreach { case (id, (cols, row)) =>
      rec.check(id, !cols.contains("user_id") && row.getLong(0) == events.size &&
        row.getLong(1) == events.cents.map(_.toLong).sum,
        s"masked projection: columns $cols, aggregate $row")
    }
    val asOf = events.tsMs.max + 86400000L
    val checks = CheckLoader.load(checksPath, asOf).checks
    rec.op("read", "quality.evaluate")(Quality.evaluate(ev.read(spark), checks, "testdata.events"))
      .foreach { case (id, results) =>
        val want = Seq(
          events.size.toLong, 0L, 0L, 0L, 0L, asOf - events.tsMs.max,
          events.size.toLong - events.types.distinct.length)
        rec.check(id, results.map(_.value) == want,
          s"quality values ${results.map(_.value)} vs $want")
      }
  }

  def report(rec: Recorder): ListMap[String, Metric] = {
    val reads = rec.latencies("read")
    ListMap(
      "reads_per_s" -> Metric(reads.size / (reads.sum / 1e3), "1/s", reads.size),
      "read_ms.p50" -> Metric(Stats.median(reads), "ms", reads.size))
  }

  def layers(rec: Recorder, idx: SpanIndex): ListMap[String, Double] = {
    val li = SnapshotTable(wh.getPath, "tpch", "lineitem")
    val plan = (0 until 5).map(_ => Main.seconds(li.read(spark).queryExecution.executedPlan)._1 * 1e3)
    ListMap(
      "sink.data_files" -> li.dataFileCount.toDouble,
      "sink.live_dirs" -> li.currentSnapshot.map(_.dataDirs.size).getOrElse(0).toDouble,
      "sink.read_plan_ms" -> Stats.median(plan),
      "quality.evaluate_ms" -> idx.totalMs("quality.evaluate"),
      "governance.mask_ms" -> idx.totalMs("governance.mask"))
  }
}

object LakehouseReads {
  val Customers = 1500
  val Orders = 7500
  val LinesPerOrder = 4
  val Appends = 4
  val EventRows = 10000
  val IncFrom = 0
  val IncTo = 2
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}
