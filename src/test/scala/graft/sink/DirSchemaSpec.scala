package graft.sink

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Data dirs are write-once, so [[SnapshotTable.loadDir]] infers each
  * dir's schema once and passes it to later loads. These specs pin
  * that a memoized read is exactly a fresh-inference read, that warm
  * reads and DML detection plan without schema-inference jobs, that
  * the session's inference settings still apply, and that a dir
  * removed outside the engine fails the read instead of reading empty.
  */
class DirSchemaSpec extends SparkSpec {

  import spark.implicits._

  private val partCols = Seq("day", "code")

  /** `code` holds numeric-looking strings: Spark infers its partition
    * values as integers, the table keeps the column as a string.
    */
  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, i, java.sql.Date.valueOf(s"2024-01-${10 + i % 3}"),
      s"${10 * (1 + i % 2)}")).toDF("id", "qty", "day", "code")

  /** A catalog-registered table with a day partition, a numeric-looking
    * string partition, dirs written before and after an int -> bigint
    * promotion of `qty`, and a positional and an equality delete.
    */
  private def buildTable(key: String): SnapshotTable = {
    val wh = Files.createTempDirectory(s"graft_dirschema_$key").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val t = SnapshotTable(wh, "ns", "ev")
    t.overwrite(rows(1 to 20), partitionCols = partCols)
    t.append(rows(21 to 30), partitionCols = partCols)
    t.updateColumnType(spark, "qty", "bigint")
    t.append(rows(31 to 40).withColumn("qty", col("qty").cast("bigint")),
      partitionCols = partCols)
    t.deletePositions(spark, col("id") === 3L)
    t.deleteWhere(Seq(25L).toDF("id"), Seq("id"))
    t
  }

  /** Jobs started while `f` runs whose call site is a
    * `DataFrameReader.load` (schema inference) and whose call stack
    * passes through one of `frames` (any frame when empty). Listener
    * delivery is async: poll until the count settles.
    */
  private def loadJobsDuring(frames: String*)(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // a job's call site is its stages' name (short form) and details
        val site = js.stageInfos.map(st => st.name + "\n" + st.details).mkString("\n")
        if (site.contains("DataFrameReader.load") &&
            (frames.isEmpty || frames.exists(site.contains)))
          n.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var prev = -1
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && n.get() != prev) {
        prev = n.get(); Thread.sleep(250)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def contents(df: DataFrame): (org.apache.spark.sql.types.StructType, Seq[String]) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  test("memoized reads return the fresh-inference schema and rows, with zero load jobs") {
    val t = buildTable("reads")
    val snaps = t.snapshots
    val prePromotion = snaps(1)
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "read" -> (() => t.read(spark)),
      "readSnapshot" -> (() => t.readSnapshot(spark, prePromotion.id)),
      "readAsOf" -> (() => t.readAsOf(spark, prePromotion.committedAtMs)),
      "readIncremental" -> (() => t.readIncremental(spark, snaps.head.id, snaps.last.id)),
      "SELECT" -> (() => spark.sql("SELECT * FROM graft.ns.ev")),
      "VERSION AS OF" ->
        (() => spark.sql(s"SELECT * FROM graft.ns.ev VERSION AS OF ${prePromotion.id}")))
    var fresh = Seq.empty[(String, (org.apache.spark.sql.types.StructType, Seq[String]))]
    val coldJobs = loadJobsDuring() {
      fresh = reads.map { case (name, r) =>
        SnapshotTable.forgetDirSchemas()
        name -> contents(r())
      }
    }
    assert(coldJobs > 0, "fresh inference runs load jobs: the detector must see them")
    reads.foreach(_._2()) // each read planned once memoizes every dir it loads
    var warm = Seq.empty[(String, (org.apache.spark.sql.types.StructType, Seq[String]))]
    val warmJobs = loadJobsDuring() {
      warm = reads.map { case (name, r) => name -> contents(r()) }
    }
    assert(warmJobs == 0, s"warm reads ran $warmJobs schema-inference jobs")
    fresh.zip(warm).foreach { case ((name, (s0, r0)), (_, (s1, r1))) =>
      assert(s1 == s0, s"$name: schema differs from the fresh-inference read")
      assert(r1 == r0, s"$name: rows differ from the fresh-inference read")
    }
    // the promoted column reads at its snapshot's type on both sides of
    // the promotion; the numeric-looking partition stays a string
    val schemaOf = warm.toMap.map { case (n, (s, _)) => n -> s }
    assert(schemaOf("read")("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(schemaOf("readSnapshot")("qty").dataType == org.apache.spark.sql.types.IntegerType)
    assert(schemaOf("read")("code").dataType == org.apache.spark.sql.types.StringType)
    assert(warm.toMap.apply("read")._2.size == 38, "two of 40 rows are deleted")
  }

  test("UPDATE, DELETE and MERGE detect affected dirs without load jobs on a warm table") {
    val t = buildTable("dml")
    val detection = Seq("affectedDirs", "splitForRewrite")
    spark.createDataFrame(Seq((8L, 800L), (99L, 990L))).toDF("id", "qty")
      .createOrReplaceTempView("dirschema_src")
    SnapshotTable.forgetDirSchemas()
    val cold = loadJobsDuring(detection: _*)(
      t.updateWhere(spark, col("id") === 7L, Map("qty" -> (col("qty") + 1))): Unit)
    assert(cold > 0, "detection on a cold memo infers: the detector must see it")
    Seq(
      "DELETE FROM graft.ns.ev WHERE qty % 10 = 7",
      """MERGE INTO graft.ns.ev t USING dirschema_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED THEN INSERT (id, qty, day, code)
        |  VALUES (s.id, s.qty, DATE'2024-01-11', '20')""".stripMargin,
      "UPDATE graft.ns.ev SET qty = qty * 2 WHERE id = 12").foreach { stmt =>
      // the first read of the dirs the previous statement wrote infers
      // their schemas once
      t.read(spark).collect(): Unit
      val jobs = loadJobsDuring(detection: _*)(spark.sql(stmt).collect(): Unit)
      assert(jobs == 0, s"$stmt: affected-dir detection ran $jobs schema-inference jobs")
    }
    val warm = contents(t.read(spark))
    SnapshotTable.forgetDirSchemas()
    assert(contents(t.read(spark)) == warm)
    val qty = warm._2.size
    assert(qty == 36, s"38 rows, 3 deleted (ids 17, 27, 37), 1 inserted: got $qty")
  }

  test("the session's inference settings key the memo") {
    val t = SnapshotTable(Files.createTempDirectory("graft_dirschema_conf").toString, "ns", "t")
    t.overwrite(rows(1 to 10), partitionCols = partCols)
    val dir = t.currentSnapshot.get.dataDirs.head
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    def memoized = SnapshotTable.loadDir(spark, "parquet", dir).schema
    def plain = spark.read.parquet(dir).schema
    assert(memoized("code").dataType == org.apache.spark.sql.types.IntegerType)
    val before = t.read(spark).collect().map(_.toString).sorted.toSeq
    spark.conf.set(key, "false")
    try {
      assert(memoized("code").dataType == org.apache.spark.sql.types.StringType)
      assert(memoized("day").dataType == org.apache.spark.sql.types.StringType)
      assert(memoized == plain)
      assert(t.read(spark).collect().map(_.toString).sorted.toSeq == before)
    } finally spark.conf.unset(key)
    assert(memoized("code").dataType == org.apache.spark.sql.types.IntegerType)
    assert(memoized == plain)
  }

  test("a memoized dir removed outside the engine fails the read, naming the dir") {
    def dataFiles(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f))
    def rmTree(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(): Unit
    }
    // partitioned dirs read one by one; unpartitioned ones share one
    // multi-path scan
    Seq(partCols, Nil).foreach { pcols =>
      Seq("emptied", "deleted").foreach { how =>
        val t = SnapshotTable(
          Files.createTempDirectory(s"graft_dirschema_gone").toString, "ns", "t")
        t.overwrite(rows(1 to 10), partitionCols = pcols)
        t.append(rows(11 to 20), partitionCols = pcols)
        assert(t.read(spark).count() == 20)
        val gone = new File(t.currentSnapshot.get.dataDirs.last)
        if (how == "emptied") dataFiles(gone).foreach(_.delete())
        else rmTree(gone)
        val e = intercept[Exception](t.read(spark).collect())
        assert(e.getMessage.contains(gone.getName),
          s"${pcols.mkString(",")} $how: the error must name ${gone.getName}: ${e.getMessage}")
      }
    }
  }
}
