package graft.plans

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-directory column RANGE statistics — the Iceberg manifest
  * min/max role (reference: `docs/deep-dive.md` frames manifest-level
  * stat skipping as the metadata layer's scan-planning payoff; Athena
  * consumes the same bounds when it plans a snapshot scan).
  *
  * Every snapshot commit writes one `.graft-ranges.json` beside its
  * immutable data dir: row count plus, per top-level column, the null
  * count and (for orderable atomic types) min/max bounds — collected
  * with ONE aggregation pass over the freshly written dir, O(delta)
  * like the write itself. String bounds are prefix-truncated at
  * [[RangeStats.StringBoundChars]] chars: the truncated MIN is still a
  * valid lower bound (a prefix sorts <= its string), while an upper
  * bound is recorded only when no value was truncated (a truncated
  * prefix would understate it) — exactly Iceberg's lower/upper-bound
  * truncation contract.
  *
  * [[GraftStatsSkipRule]] (installed by [[graft.GraftExtensions]])
  * consumes the sidecars at OPTIMIZATION time: a filter sitting over a
  * file scan whose root dirs' stats prove the predicate unsatisfiable
  * drops those dirs from the scan — file skipping at planning, before
  * a single byte is read. At 100 TB this is the difference between
  * "scan every snapshot dir and let parquet row-group stats save you"
  * and "never schedule the task at all": a time-range query over a
  * year of hourly appends plans only the dirs whose ranges overlap.
  */
object RangeStats {

  /** Max chars kept of a string bound (Iceberg truncates to 16 bytes;
    * we keep more because document tables filter on id-like prefixes).
    */
  val StringBoundChars = 64

  val SidecarName = ".graft-ranges.json"

  /** One column's stats: null count and optional string-encoded bounds
    * (interpreted against the column's type at prune time).
    */
  final case class ColRange(nulls: Long, min: Option[String], max: Option[String])

  /** One data dir's stats: row count + per-column ranges. */
  final case class DirStats(rows: Long, cols: Map[String, ColRange])

  private def sidecarPath(dataDir: String) = Paths.get(dataDir, SidecarName)

  /** Types whose min/max are collected and compared. TIMESTAMP_NTZ is
    * deliberately absent: its string form is session-independent but
    * not byte-ordered, and a micros encoding would need a timezone
    * convention — conservative "no bounds" keeps pruning sound.
    */
  private def boundSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | DateType | TimestampType | StringType => true
    case _: DecimalType => true
    case _ => false
  }

  // ------------------------------------------------------------------
  // write side (called by SnapshotTable.commit, once per new data dir)
  // ------------------------------------------------------------------

  /** Named aggregate Columns collecting this schema's range stats in ONE
    * pass. Attachable either to the WRITE itself via `Dataset.observe`
    * (zero re-read — the stats ride along with the write job) or to a
    * read-back `agg`. Names are positional (`c{i}_min/max/len/nulls`) so
    * [[entriesFromMetrics]] can rebuild per-column entries without any
    * column-name escaping concerns in metric keys.
    */
  def rangeAggs(fields: Seq[StructField]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, length, lit, max, min, substring, when}
    fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val nulls = count(when(c.isNull, lit(1))).as(s"c${i}_nulls")
      f.dataType match {
        case StringType =>
          Seq(min(substring(c, 1, StringBoundChars)).as(s"c${i}_min"),
            max(substring(c, 1, StringBoundChars)).as(s"c${i}_max"),
            max(length(c)).as(s"c${i}_len"), nulls)
        case dt if boundSupported(dt) =>
          Seq(min(c).as(s"c${i}_min"), max(c).as(s"c${i}_max"), nulls)
        case _ => Seq(nulls)
      }
    }
  }

  /** Decode [[rangeAggs]] metric values (external/collected types, as an
    * Observation or collected Row delivers them) back into per-column
    * entries. `overrides` substitutes whole columns — used for partition
    * columns, whose bounds must be encoded under the READ-BACK (inferred)
    * type rather than the written DataFrame's type (see
    * SnapshotTable.partitionJobStats).
    */
  def entriesFromMetrics(
      fields: Seq[StructField],
      m: Map[String, Any],
      overrides: Map[String, ColRange] = Map.empty): Seq[(String, ColRange)] =
    fields.zipWithIndex.map { case (f, i) =>
      overrides.get(f.name) match {
        case Some(r) => f.name -> r
        case None =>
          val nulls = m.get(s"c${i}_nulls") match {
            case Some(l: Long) => l
            case _ => 0L
          }
          f.dataType match {
            case StringType =>
              val mn = m.get(s"c${i}_min").collect { case s: String => s }
              val mx = m.get(s"c${i}_max").collect { case s: String => s }
              val maxLen = m.get(s"c${i}_len") match {
                case Some(l: Int) => l
                case _ => 0
              }
              // a truncated upper bound would understate the max — drop it
              f.name -> ColRange(nulls, mn, if (maxLen > StringBoundChars) None else mx)
            case dt if boundSupported(dt) =>
              f.name -> ColRange(nulls,
                m.get(s"c${i}_min").flatMap(v => store(dt, v)),
                m.get(s"c${i}_max").flatMap(v => store(dt, v)))
            case _ => f.name -> ColRange(nulls, None, None)
          }
      }
    }

  /** Persist a dir's range sidecar from already-collected entries. */
  def writeEntries(dataDir: String, rows: Long, entries: Seq[(String, ColRange)]): Unit = {
    val json = s"""{"rows":$rows,"cols":[""" + entries.map { case (n, c) =>
      val mn = c.min.map(v => s""","min":"${jsonEscape(v)}"""").getOrElse("")
      val mx = c.max.map(v => s""","max":"${jsonEscape(v)}"""").getOrElse("")
      s"""{"name":"${jsonEscape(n)}","nulls":${c.nulls}$mn$mx}"""
    }.mkString(",") + "]}"
    Files.write(sidecarPath(dataDir), json.getBytes(StandardCharsets.UTF_8)): Unit
  }

  /** Collect and persist the range sidecar for an existing dir with one
    * read-back aggregation job. The fallback path — the commit hot path
    * collects the same stats during the write via [[rangeAggs]] +
    * `observe` and never re-reads.
    */
  def writeSidecar(spark: SparkSession, dataDir: String, format: String, rows: Long): Unit = {
    val df = graft.sink.SnapshotTable.loadDir(spark, format, dataDir)
    val fields = df.schema.fields.toSeq
    val entries: Seq[(String, ColRange)] =
      if (fields.isEmpty || rows == 0L) fields.map(f => f.name -> ColRange(0L, None, None))
      else {
        val aggs = rangeAggs(fields)
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        val m: Map[String, Any] = row.schema.fieldNames.zip(row.toSeq).toMap
        entriesFromMetrics(fields, m)
      }
    writeEntries(dataDir, rows, entries)
  }

  /** External (collected) agg value -> storage string, in a rendering
    * that round-trips exactly: integral/date/timestamp as decimal
    * micros/days, floats via JDK toString (exact round-trip), decimals
    * as plain strings, booleans as 0/1.
    */
  private[graft] def store(dt: DataType, v: Any): Option[String] =
    if (v == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (f.isNaN) None else Some(f.toString)
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN) None else Some(d.toString)
      case _: DecimalType => Some(v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case BooleanType => Some(if (v.asInstanceOf[Boolean]) "1" else "0")
      case DateType => v match {
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toString)
        case d: java.time.LocalDate => Some(d.toEpochDay.toString)
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t).toString)
        case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i).toString)
        case _ => None
      }
      case _ => None
    }

  // ------------------------------------------------------------------
  // read side (consumed by GraftStatsSkipRule at optimization time)
  // ------------------------------------------------------------------

  /** Parsed sidecars, cached per dir path: data dirs are immutable and
    * the sidecar is written before the commit swap, so an entry can
    * never go stale. Existence is re-checked per call (cheap) so a
    * NON-graft path (no sidecar today, none tomorrow) stays a miss
    * without negative caching a path that later becomes a graft dir.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, DirStats]()

  def read(dataDir: String): Option[DirStats] = {
    val p = sidecarPath(dataDir)
    if (!Files.exists(p)) None
    else Option(cache.computeIfAbsent(dataDir, _ => {
      // stats are an optimization, never a correctness input: malformed
      // sidecar content degrades to "no stats, dir unskippable" rather
      // than failing the read (unlike table METADATA, where corruption
      // must fail loudly — see SnapshotTable.parse)
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      try {
        val o = graft.sink.MetadataJson.parse(json).asObj
        val rows = o.get("rows").map(_.asLong).getOrElse(-1L)
        val cols = o.get("cols").map(_.asArr.map { cv =>
          val c = cv.asObj
          c("name").asStr -> ColRange(c("nulls").asLong,
            c.get("min").map(_.asStr), c.get("max").map(_.asStr))
        }.toMap).getOrElse(Map.empty[String, ColRange])
        DirStats(rows, cols)
      } catch {
        case _: graft.sink.MetadataJson.ParseException => DirStats(-1L, Map.empty)
      }
    }))
  }

  /** True when `stats` PROVE no row of the dir can satisfy `cond`:
    * some conjunct is false for every row. Unknown stays unknown —
    * anything unparseable, unsupported, or unbounded contributes
    * nothing, so the answer errs toward scanning.
    */
  def provesEmpty(cond: Expression, stats: DirStats): Boolean = {
    if (stats.rows == 0L) return true
    splitAnd(cond).exists(provesFalse(_, stats))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def provesFalse(e: Expression, s: DirStats): Boolean = e match {
    // comparisons with a NULL literal are never true
    case BinaryComparison(_: AttributeReference, l: Literal) if l.value == null &&
        !e.isInstanceOf[EqualNullSafe] => true
    case BinaryComparison(l: Literal, _: AttributeReference) if l.value == null &&
        !e.isInstanceOf[EqualNullSafe] => true

    case EqualTo(a: AttributeReference, l: Literal) => noEq(a, l, s)
    case EqualTo(l: Literal, a: AttributeReference) => noEq(a, l, s)
    // a > v: impossible when max <= v (or the column is all null)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ <= 0)
    case GreaterThan(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ >= 0)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ < 0)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ > 0)
    case LessThan(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ >= 0)
    case LessThan(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ <= 0)
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      allNull(a, s) || cmpMin(a, l, s).exists(_ > 0)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      allNull(a, s) || cmpMax(a, l, s).exists(_ < 0)

    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      allNull(a, s) || vs.forall { v =>
        val l = v.asInstanceOf[Literal]
        l.value == null || noEq(a, l, s)
      }
    // Catalyst compiles large IN lists to InSet (values are INTERNAL)
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      allNull(a, s) || vs.forall { v =>
        v == null || noEqInternal(a, v, s)
      }

    case IsNull(a: AttributeReference) => s.cols.get(a.name).exists(_.nulls == 0L)
    case IsNotNull(a: AttributeReference) => allNull(a, s)

    case _ => false
  }

  private def allNull(a: AttributeReference, s: DirStats): Boolean =
    s.rows > 0L && s.cols.get(a.name).exists(_.nulls == s.rows)

  /** Equality with `l` impossible: the literal falls outside [min, max]. */
  private def noEq(a: AttributeReference, l: Literal, s: DirStats): Boolean =
    l.value != null &&
      (cmpMin(a, l, s).exists(_ > 0) || cmpMax(a, l, s).exists(_ < 0))

  private def noEqInternal(a: AttributeReference, v: Any, s: DirStats): Boolean = {
    val st = s.cols.get(a.name)
    st.exists(c =>
      c.min.flatMap(cmp(a.dataType, _, v)).exists(_ > 0) ||
        c.max.flatMap(cmp(a.dataType, _, v)).exists(_ < 0))
  }

  /** sign(minBound - literal), when both resolve. The stored min is a
    * LOWER bound B <= true min (string bounds are prefix-truncated),
    * so every skip decision built on it stays sound: B > v implies
    * min >= B > v, and B >= v implies min >= v. Bounds only ever
    * WEAKEN toward "don't skip".
    */
  private def cmpMin(a: AttributeReference, l: Literal, s: DirStats): Option[Int] =
    s.cols.get(a.name).flatMap(_.min).flatMap(cmp(a.dataType, _, l.value))

  private def cmpMax(a: AttributeReference, l: Literal, s: DirStats): Option[Int] =
    s.cols.get(a.name).flatMap(_.max).flatMap(cmp(a.dataType, _, l.value))

  /** sign(stored - literalInternalValue) in the column type's order;
    * None when the pairing is unsupported or either side is NaN (NaN
    * bounds are never stored; NaN literals never prove anything).
    */
  private def cmp(dt: DataType, stored: String, lit: Any): Option[Int] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val l = lit match {
          case b: Byte => b.toLong
          case sh: Short => sh.toLong
          case i: Int => i.toLong
          case lo: Long => lo
          case _ => return None
        }
        Some(java.lang.Long.compare(stored.toLong, l))
      case DateType =>
        lit match {
          case d: Int => Some(java.lang.Long.compare(stored.toLong, d.toLong))
          case _ => None
        }
      case TimestampType =>
        lit match {
          case t: Long => Some(java.lang.Long.compare(stored.toLong, t))
          case _ => None
        }
      case BooleanType =>
        lit match {
          case b: Boolean =>
            Some(java.lang.Long.compare(stored.toLong, if (b) 1L else 0L))
          case _ => None
        }
      // FloatType compares in FLOAT space: the stored bound is
      // Float.toString (shortest decimal round-tripping as Float), and
      // widening both sides to double gives DIFFERENT values
      // ("0.7".toDouble = 0.7d > 0.7f.toDouble = 0.69999998...), which
      // can overstate a bound and falsely prove a dir empty.
      case FloatType =>
        val l = lit match {
          case f: Float => f
          case _ => return None
        }
        val st = stored.toFloat
        if (l.isNaN || st.isNaN) None
        else Some(java.lang.Float.compare(st, l))
      case DoubleType =>
        val l = lit match {
          case d: Double => d
          case _ => return None
        }
        val st = stored.toDouble
        if (l.isNaN || st.isNaN) None
        else Some(java.lang.Double.compare(st, l))
      case _: DecimalType =>
        lit match {
          case d: Decimal =>
            Some(new java.math.BigDecimal(stored).compareTo(d.toJavaBigDecimal))
          case _ => None
        }
      case StringType =>
        lit match {
          case u: UTF8String => Some(UTF8String.fromString(stored).compareTo(u))
          case _ => None
        }
      case _ => None
    } catch { case _: NumberFormatException => None }

  // -- tiny JSON helpers (same escaping contract as the snapshot sidecars) --

  private def jsonEscape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"'  => "\\\""
    case c @ ('[' | ']' | '{' | '}') => f"\\u${c.toInt}%04x"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

}

/** Optimizer rule: prune file-scan root directories whose range
  * sidecars prove the filter above them unsatisfiable — the Iceberg
  * manifest-pruning step, applied at Catalyst optimization time.
  *
  * It matches `Filter(cond, LogicalRelation(HadoopFsRelation))` —
  * exactly what predicate pushdown leaves over every scan the
  * snapshot-table read plan builds (per-dir reads AND coalesced
  * multi-path scans; the filter arrives rewritten to PHYSICAL column
  * names by alias substitution, which is the name space the sidecars
  * are keyed by). Three outcomes:
  *
  *  - every root dir proves empty  -> the subtree becomes an empty
  *    LocalRelation (PropagateEmptyRelation then collapses the union
  *    branch away entirely);
  *  - some dirs prove empty (multi-path coalesced scan, always
  *    unpartitioned by construction) -> the relation is rebuilt over
  *    the surviving paths only;
  *  - nothing provable -> untouched.
  *
  * Dirs without a sidecar (external parquet, pre-feature dirs, delete
  * files) contribute "unknown" and are never skipped. The rule runs in
  * the operator-optimization fixed point, so it sees the post-pushdown
  * plan regardless of rule ordering, and its output is a fixed point
  * itself (kept dirs re-evaluate to kept).
  */
object GraftStatsSkipRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation)
        if !l.isStreaming && l.relation.isInstanceOf[HadoopFsRelation] =>
      val fsRel = l.relation.asInstanceOf[HadoopFsRelation]
      val roots = fsRel.location.rootPaths
      if (roots.isEmpty) f
      else {
        val stats = roots.map(p => p -> RangeStats.read(localPath(p)))
        if (stats.forall(_._2.isEmpty)) f
        else {
          val kept = stats.collect {
            case (p, st) if !st.exists(RangeStats.provesEmpty(cond, _)) => p
          }
          if (kept.size == roots.size) f
          else if (kept.isEmpty) LocalRelation(l.output, Nil)
          else if (fsRel.partitionSchema.nonEmpty) f
          // ^ not a coverage gap: a partitioned multi-root relation with
          //   sidecar'd roots cannot exist. Spark's partition discovery
          //   rejects sibling partitioned roots outright (CONFLICTING_
          //   DIRECTORY_STRUCTURES — each leaf infers its own base, even
          //   under an explicit basePath), so snapshot reads keep
          //   partitioned dirs on PER-DIR relations — single-root scans
          //   that the kept.isEmpty arm above already prunes whole. The
          //   only multi-root partitioned shape Spark accepts (explicit
          //   partition LEAF dirs + basePath) roots below the sidecar
          //   level, where stats resolve to None and the rule no-ops.
          else {
            val spark = fsRel.sparkSession
            val pruned = new InMemoryFileIndex(
              spark, kept, Map.empty[String, String], Some(fsRel.dataSchema),
              FileStatusCache.getOrCreate(spark), None, None)
            Filter(cond, l.copy(relation =
              fsRel.copy(location = pruned)(spark)))
          }
        }
      }
  }

  private def localPath(p: org.apache.hadoop.fs.Path): String = {
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
    else p.toString
  }
}
