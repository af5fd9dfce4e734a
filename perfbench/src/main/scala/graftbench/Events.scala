package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded rows for the `templates/events.yaml` table. Values are whole
  * cents so the reference sums are exact.
  */
final case class EventBatch(
    ids: Array[Long], tsMs: Array[Long], users: Array[Int],
    types: Array[Int], cents: Array[Int]) {
  def size: Int = ids.length
}

object Events {
  val Types: Array[String] = Array("view", "click", "purchase", "signup", "logout")
  private val TypeWeights = Array(50, 25, 12, 8, 5)
  val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z
  val Users = 5000

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def pickType(r: SplittableRandom): Int = {
    var x = r.nextInt(100)
    var i = 0
    while (x >= TypeWeights(i)) { x -= TypeWeights(i); i += 1 }
    i
  }

  /** `n` events with ids `firstId until firstId + n`, drawn from `r`,
    * timestamped in the `days` days from day `firstDay`.
    */
  def batch(r: SplittableRandom, firstId: Long, n: Int,
      firstDay: Int = 0, days: Int = 2): EventBatch = {
    val b = EventBatch(new Array(n), new Array(n), new Array(n), new Array(n), new Array(n))
    for (i <- 0 until n) {
      b.ids(i) = firstId + i
      b.tsMs(i) = BaseMs + firstDay * 86400000L + r.nextLong(days * 86400000L)
      b.users(i) = 1 + r.nextInt(Users)
      b.types(i) = pickType(r)
      b.cents(i) = r.nextInt(50000)
    }
    b
  }

  /** `n` sizes log-uniform over `[lo, hi]`: the midpoints of `n` equal
    * slices of the log range. Consecutive blocks of `block` sizes take one
    * size from each of `block` strata, in seeded order within the block,
    * so every seed appends the same amount of data between two points of
    * the schedule; seeds differ in order and in the rows themselves.
    */
  def logUniformSizes(r: SplittableRandom, n: Int, lo: Int, hi: Int, block: Int): IndexedSeq[Int] = {
    require(n % block == 0, s"$n sizes do not split into blocks of $block")
    val (a, b) = (math.log(lo), math.log(hi))
    val sizes = (0 until n).map(i => math.round(math.exp(a + (i + 0.5) / n * (b - a))).toInt)
    val blocks = n / block
    (0 until blocks).flatMap(j => shuffle(r, (0 until block).map(t => sizes(j + blocks * t))))
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def toDF(spark: SparkSession, b: EventBatch): DataFrame = {
    val rows = new java.util.ArrayList[Row](b.size)
    for (i <- 0 until b.size)
      rows.add(Row(b.ids(i), new Timestamp(b.tsMs(i)), b.users(i).toLong,
        Types(b.types(i)), b.cents(i) / 100.0, s"""{"n":${b.ids(i) % 7}}"""))
    spark.createDataFrame(rows, schema)
  }
}

/** In-memory reference model of the events table: the expected live
  * rows, kept in plain arrays indexed by event id (ids below
  * `capacity`), so every check is computed without the engine.
  */
final class EventsModel(capacity: Int) {
  private val users = new Array[Int](capacity)
  private val types = new Array[Int](capacity)
  private val cents = new Array[Int](capacity)
  private val alive = new Array[Boolean](capacity)
  private var maxId = 0
  var live = 0L
  var centsSum = 0L

  def append(b: EventBatch): Unit =
    for (i <- 0 until b.size) {
      val id = b.ids(i).toInt
      require(!alive(id), s"event id $id inserted twice")
      users(id) = b.users(i); types(id) = b.types(i); cents(id) = b.cents(i)
      alive(id) = true
      maxId = math.max(maxId, id + 1)
      live += 1
      centsSum += b.cents(i)
    }

  private def matching(t: Int, m: Int, k: Int, minId: Long): Iterator[Int] =
    Iterator.range(math.min(minId, maxId.toLong).toInt, maxId)
      .filter(i => alive(i) && types(i) == t && users(i) % m == k)

  /** `UPDATE ... SET value = value + delta/100
    * WHERE event_type = t AND user_id % m = k AND event_id >= minId`
    */
  def update(t: Int, m: Int, k: Int, deltaCents: Int, minId: Long = 0L): Unit =
    matching(t, m, k, minId).foreach { i =>
      cents(i) += deltaCents
      centsSum += deltaCents
    }

  /** `DELETE ... WHERE event_type = t AND user_id % m = k AND event_id >= minId` */
  def delete(t: Int, m: Int, k: Int, minId: Long = 0L): Unit =
    matching(t, m, k, minId).toList.foreach { i =>
      alive(i) = false
      live -= 1
      centsSum -= cents(i)
    }

  def isAlive(id: Long): Boolean = id < maxId && alive(id.toInt)

  /** Live ids, ascending. */
  def liveIds: Iterator[Int] = Iterator.range(0, maxId).filter(alive(_))

  /** MERGE of `src`: matched ids take the source value, the rest insert. */
  def merge(src: EventBatch): Unit = {
    val (matched, inserts) = src.ids.indices.partition(i => isAlive(src.ids(i)))
    for (i <- matched) {
      val id = src.ids(i).toInt
      centsSum += src.cents(i) - cents(id)
      cents(id) = src.cents(i)
    }
    append(EventBatch(inserts.map(src.ids).toArray, inserts.map(src.tsMs).toArray,
      inserts.map(src.users).toArray, inserts.map(src.types).toArray,
      inserts.map(src.cents).toArray))
  }
}
