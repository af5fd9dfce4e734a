package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.governance.Audit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-mode snapshot table: the Iceberg-semantics subset the engine
  * needs when no Iceberg catalog is available (this image carries no
  * Iceberg runtime jar — see SURVEY.md §7.4).
  *
  * Reproduces, on a plain filesystem, the reference's table behaviors:
  *  - atomic full-refresh overwrite (`resources/iceberg.py:59-105`) — data
  *    is written to a new immutable snapshot directory and the table's
  *    metadata pointer is swapped atomically (write-temp + atomic move),
  *    mirroring Iceberg's optimistic metadata-swap commit
  *    (`docs/deep-dive.md:66-69`);
  *  - append commits (event_stream pattern) — a new snapshot references the
  *    previous snapshot's directories plus the newly written one, so
  *    appends never rewrite old data (O(delta), not O(table), which is the
  *    property that matters at 100 TB);
  *  - snapshot history + time travel (`SELECT ... FOR SYSTEM_VERSION AS OF`,
  *    reference `aws/modules/athena/main.tf:48-67`);
  *  - snapshot expiration per `history_expire_max_snapshot_age_ms`
  *    (`table-templates/_schema.json:105-107`).
  *
  * Metadata format: one JSON file listing snapshots; each snapshot lists
  * the data directories it is composed of. Directories are immutable once
  * committed.
  */
final case class Snapshot(
    id: Long,
    committedAtMs: Long,
    // overwrite | append | replace (compaction) | overwrite_partitions
    operation: String,
    dataDirs: Seq[String],
    format: String = "parquet", // parquet | orc (per _schema.json:100-103)
    // total rows at this snapshot, recorded at commit time (Iceberg keeps
    // the same in the snapshot summary's total-records) so history
    // listings are pure metadata reads; -1 = unknown (pre-field metadata)
    rowCount: Long = -1L,
    // per-dir partition masks: partition rel-paths (e.g. "ts_day=2024-01-10")
    // a dynamic partition overwrite logically REMOVED from a carried dir.
    // Reads filter them out via a partition-column predicate, which Spark
    // prunes at planning — masked directories are never opened. Stored
    // per snapshot (self-contained), so expiring the replacing snapshot
    // can never resurrect replaced data.
    maskedDirs: Map[String, Seq[String]] = Map.empty,
    // write-audit-publish: a staged snapshot is fully committed data that
    // is NOT yet the table — reads skip it until publish() flips the flag
    // (Iceberg's WAP / branch staging workflow)
    staged: Boolean = false,
    // equality deletes (Iceberg v2 merge-on-read): each delete file masks
    // rows whose key columns match, in exactly the data dirs that existed
    // when the delete committed (`applies`) — data appended later is
    // untouched, the Iceberg sequence-number scoping realized at dir
    // granularity. Compaction applies deletes physically and drops them.
    deletes: Seq[EqualityDelete] = Nil,
    // published head this snapshot was committed against (0 = committed
    // onto an empty table; None = legacy metadata predating the field).
    // publish() compares THIS against the current head id — a dataDirs
    // comparison alone misses dir-preserving head moves (an equality
    // delete, a rollback to a same-dirs state), and flipping a staged
    // snapshot across one would silently restate the pre-delete counts
    // and drop the delete (GDPR-erased rows resurrected).
    parentId: Option[Long] = None,
    // table schema AT THIS SNAPSHOT: stable field ids + current names +
    // Spark DDL types (Iceberg's schema-per-snapshot). Reads project
    // every data dir to this schema — columns a dir predates backfill as
    // null, dropped columns disappear, renames resolve via the id. Nil =
    // legacy metadata predating schema tracking (reads fall back to the
    // strict by-name union).
    cols: Seq[TableColumn] = Nil,
    // Iceberg's last-column-id high-watermark, carried monotonically:
    // field ids are NEVER reused, so dropping a column and re-adding its
    // name yields a FRESH id and old dirs' data cannot resurrect — even
    // after history expiry erases every snapshot that knew the old id.
    lastColumnId: Int = 0,
    // free-form commit annotations (the Iceberg snapshot SUMMARY):
    // written atomically with the commit itself, so facts that must be
    // exactly-once-per-commit — the streaming (query-id, batch-id)
    // watermark behind idempotent foreachBatch appends — can never
    // drift from the data they describe. Surfaced via `$snapshots`.
    summary: Map[String, String] = Map.empty
)

/** One table column at a snapshot: a stable field id (never reused over
  * the table's lifetime), its current name, and its Spark DDL type.
  */
final case class TableColumn(id: Int, name: String, dataType: String)

/** One equality-delete file: `dir` holds the distinct key tuples,
  * `keys` names the equality columns, `applies` scopes it to the data
  * dirs present at delete time. `format` is the format the delete FILE
  * was written in — recorded per delete because the table's format can
  * change after the delete commits (a conflicting overwrite the delete
  * retried against, a future format-migrating rewrite) and the file
  * must always be read back as what it physically is. None = legacy
  * metadata predating the field (those files were written with their
  * snapshot's then-current format, which has never migrated — read
  * with `snap.format`).
  */
final case class EqualityDelete(
    dir: String, keys: Seq[String], applies: Seq[String], format: Option[String] = None,
    // Iceberg v2's SECOND delete-file flavor: a POSITIONAL delete. The
    // file holds (file_path, row_position) pairs instead of key tuples;
    // reads anti-join on physical row identity (parquet `_metadata.
    // file_path` / `row_index`), so an arbitrary-predicate point delete
    // costs O(matched rows) — no key semantics needed, no data file
    // rewritten. `keys` is then the two position column names.
    positional: Boolean = false)

/** A named reference into the snapshot history (Iceberg table refs,
  * spec §4 "Refs"): a `branch` is a movable head that branch writes
  * advance; a `tag` is an immutable bookmark. Both protect their target
  * snapshot (and its data dirs) from retention expiry — Iceberg's
  * ref-retention contract, which is what makes a tag a durable audit
  * pin rather than a name that silently dangles after
  * `expireSnapshots`. Snapshots here are self-contained (each lists
  * every data dir it is composed of), so protecting the TARGET alone is
  * sufficient — no ancestor chain needs to survive for reads.
  *
  * Per-ref retention (Iceberg's branch/tag retention policies):
  *  - `maxRefAgeMs` — the ref ITSELF expires during `expireSnapshots`
  *    once `now − committedAt(target) > maxRefAgeMs` (advancing a
  *    branch refreshes its age; Iceberg's `max-ref-age-ms`);
  *  - `minSnapshotsToKeep` (branches only) — at least this many
  *    snapshots of the branch's STAGED ancestor chain survive expiry
  *    regardless of age (`min-snapshots-to-keep`);
  *  - `maxSnapshotAgeMs` (branches only) — chain snapshots younger
  *    than this survive even past the table-level cutoff
  *    (`max-snapshot-age-ms`).
  * Published (main-lineage) history stays governed by the table-level
  * expiry arguments — branch policies scope to the history only the
  * branch can see, exactly the snapshots main retention cannot reason
  * about.
  */
final case class TableRef(name: String, kind: String, snapshotId: Long,
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None) {
  require(kind == "branch" || kind == "tag", s"ref kind must be branch|tag, got '$kind'")
  require(kind == "branch" || (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
    s"snapshot-retention fields apply to branches only; tag '$name' cannot carry them " +
      "(a tag pins exactly one snapshot — Iceberg rejects these there too)")
  require(maxRefAgeMs.forall(_ > 0) && minSnapshotsToKeep.forall(_ > 0) &&
    maxSnapshotAgeMs.forall(_ > 0),
    s"ref '$name' retention values must be positive")
}

/** A concurrent writer advanced the table between this commit's base
  * read and its metadata swap (the optimistic-commit conflict case).
  */
final case class CommitConflictException(
    table: String, expectedParent: Option[Long], actualParent: Option[Long])
  extends RuntimeException(
    s"Concurrent commit on $table: expected parent snapshot " +
      s"${expectedParent.getOrElse("<none>")}, found ${actualParent.getOrElse("<none>")}")

/** Optimistic commit gave up after exhausting `commit_num_retries`. */
final case class CommitFailedException(table: String, attempts: Int, last: CommitConflictException)
  extends RuntimeException(
    s"Commit to $table failed after $attempts attempts (commit_num_retries exhausted): " +
      last.getMessage, last)

/** The published head moved between stage and publish: publishing would
  * silently drop the rival commit's rows — restage on top of the new head.
  */
final case class PublishConflictException(table: String, snapshotId: Long)
  extends RuntimeException(
    s"Cannot publish staged snapshot $snapshotId of $table: the published head " +
      "advanced since it was staged; discard and restage on the current head")

/** One snapshot table under `root`.
  *
  * Data dirs are write-once. Every writer takes a fresh dir from
  * [[newDir]] and fills it with one `mode("overwrite").save`, or with a
  * link tree for carried and imported files; nothing writes data into
  * an existing dir, and later writes beside the data are dot-file
  * sidecars, which Spark does not read as data. So a dir's data files,
  * and the schema Spark infers for them, never change once its writer
  * returns: [[SnapshotTable.loadDir]] infers each dir's schema once and
  * reuses it. The engine removes dirs only through
  * [[SnapshotTable.deleteTree]], which forgets their schemas.
  */
final class SnapshotTable(val root: String, val fullName: String) {

  private def metadataPath = Paths.get(root, "metadata.json")

  /** A fresh write-once data dir under the root:
    * `snap-<prefix><8 hex><suffix>` (prefix `del-`/`posdel-` for delete
    * files, suffix `-carry`/`-added` for link trees). A random name per
    * writer, so two optimistic writers never share a path.
    */
  private def newDir(prefix: String = "", suffix: String = ""): String =
    Paths.get(root, s"snap-$prefix${java.util.UUID.randomUUID().toString.take(8)}$suffix").toString

  def exists: Boolean = Files.exists(metadataPath)

  /** The table has PUBLISHED state — what catalog VISIBILITY means.
    * Metadata holding only staged snapshots (an in-flight atomic CTAS's
    * data, crash debris of one) is not a visible table: per the DSv2
    * StagedTable contract no reader, lister or rival CREATE may observe
    * any state before commitStagedChanges publishes it.
    */
  def existsVisible: Boolean = snapshots.exists(s => !s.staged)

  def snapshots: Seq[Snapshot] =
    if (!exists) Nil
    else parse(new String(Files.readAllBytes(metadataPath), StandardCharsets.UTF_8))

  /** The table's published state: staged (write-audit-publish) snapshots
    * are invisible until published.
    */
  def currentSnapshot: Option[Snapshot] = snapshots.filterNot(_.staged).lastOption

  /** Read the table at its current snapshot. */
  def read(spark: SparkSession): DataFrame = readSnapshot(spark, requireCurrent.id)

  /** Time travel by timestamp (Iceberg/Athena `FOR SYSTEM_TIME AS OF`):
    * read the newest PUBLISHED snapshot committed at or before `tsMs`.
    * Commit times come from [[SnapshotTable.clockMs]] (wall clock in
    * production, injectable in tests for determinism).
    */
  def readAsOf(spark: SparkSession, tsMs: Long): DataFrame = {
    val eligible = snapshots.filterNot(_.staged).filter(_.committedAtMs <= tsMs)
    val snap = eligible.sortBy(s => (s.committedAtMs, s.id)).lastOption.getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot committed at or before $tsMs " +
          s"(earliest: ${snapshots.map(_.committedAtMs).minOption.getOrElse("<none>")})"))
    readSnapshot(spark, snap.id)
  }

  /** Time travel: read the table as of a snapshot id. */
  def readSnapshot(spark: SparkSession, snapshotId: Long): DataFrame = {
    val snap = snapshots.find(_.id == snapshotId).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot $snapshotId (available: ${snapshots.map(_.id).mkString(", ")})"))
    if (snap.dataDirs.isEmpty) emptyWithSchema(spark, snap)
    else
      // Plan growth is bounded to O(schema/layout epochs), not
      // O(#commits): consecutive dirs that are unmasked, delete-free
      // and physically identical (byte-identical TYPED column sidecars,
      // same partition layout) collapse into ONE multi-path scan — at
      // production commit cadence (hourly appends x a year ~ 9k dirs)
      // a per-dir union would hold 9k relations and planning time /
      // driver memory would grow per commit. Everything else (masked
      // dirs, delete-scoped dirs, legacy dirs without typed sidecars,
      // schema-epoch boundaries) keeps the per-dir read: each commit's
      // partition layout stays independently prunable, and a dir with a
      // partition mask gets a NOT-masked predicate on the partition
      // columns, which partition pruning resolves at planning — the
      // masked directories are skipped, not scanned-and-filtered.
      coalesceGroups(snap).map {
        case Seq(d) => readDir(spark, snap, d)
        case dirs =>
          // same sidecar content => same physical (id, name, type)
          // triples and same layout, so one mapping serves the group and
          // multi-root partition discovery sees consistent structures
          projectTo(SnapshotTable.loadDir(spark, snap.format, dirs: _*),
            snap.cols, dirColumnMapping(dirs.head, snap.cols))
      }.reduce(_ unionByName _)
  }

  /** Partition [[Snapshot.dataDirs]] into maximal consecutive runs that
    * can share one multi-path scan; singleton groups read per-dir. A dir
    * is coalescible only when nothing dir-specific applies to it: no
    * partition mask, no scoped equality delete, a TYPED columns sidecar
    * (legacy dirs' physical types are unknowable without footer reads),
    * the snapshot tracks a schema to project to, and the dir is
    * UNPARTITIONED — Spark's multi-root partition discovery rejects
    * sibling partitioned roots (CONFLICTING_DIRECTORY_STRUCTURES), so
    * partitioned dirs keep per-dir reads with independent pruning (their
    * plan growth is bounded by `compact`, which folds the commit history
    * into one dir).
    */
  private def coalesceGroups(snap: Snapshot): Seq[Seq[String]] = {
    def key(d: String): Option[String] =
      if (snap.cols.isEmpty) None
      else if (snap.maskedDirs.get(d).exists(_.nonEmpty)) None
      else if (snap.deletes.exists(_.applies.contains(d))) None
      else if (readPartitionSidecar(d).map(_._1).exists(_.nonEmpty)) None
      else typedSidecarContent(d)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Option[String], scala.collection.mutable.ArrayBuffer[String])]
    snap.dataDirs.foreach { d =>
      val k = key(d)
      if (k.isDefined && out.nonEmpty && out.last._1 == k) out.last._2 += d
      else out += ((k, scala.collection.mutable.ArrayBuffer(d)))
    }
    out.map(_._2.toSeq).toSeq
  }

  /** One dir of `snap`, masked, projected to the snapshot schema, with
    * the dir-scoped positional and equality deletes applied.
    */
  private def readDir(spark: SparkSession, snap: Snapshot, d: String): DataFrame =
    readDirInternal(spark, snap, d, keepRowId = false)

  /** [[readDir]] plus the physical row-identity columns
    * ([[SnapshotTable.RowIdFileCol]] / [[SnapshotTable.RowIdPosCol]] from
    * parquet `_metadata`) — the probe view positional deletes are
    * computed against. Deletes/masks apply as in a normal read, so a
    * probe never re-matches an already-deleted row.
    */
  private def readDirWithRowId(spark: SparkSession, snap: Snapshot, d: String): DataFrame =
    readDirInternal(spark, snap, d, keepRowId = true)

  private def readDirInternal(
      spark: SparkSession, snap: Snapshot, d: String, keepRowId: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dels = snap.deletes.filter(_.applies.contains(d))
    val (posDels, eqDels) = dels.partition(_.positional)
    // physical row identity is needed only when a positional delete is
    // in scope (or the caller probes for one): dirs without them pay
    // zero metadata-column cost
    val needRowId = keepRowId || posDels.nonEmpty
    val base0 = SnapshotTable.loadDir(spark, snap.format, d)
    val base =
      if (!needRowId) base0
      else base0.select(col("*"),
        col("_metadata.file_path").as(SnapshotTable.RowIdFileCol),
        col("_metadata.row_index").as(SnapshotTable.RowIdPosCol))
    val masked = snap.maskedDirs.get(d).filter(_.nonEmpty)
      .map(mask => base.filter(maskFilter(mask)))
      .getOrElse(base)
    // schema evolution: project the dir's PHYSICAL columns (resolved by
    // field id via the dir's schema sidecar) to the snapshot schema —
    // columns the dir predates backfill as null, dropped columns vanish,
    // renames alias. Same-type projections are cast-free, so pushdown
    // and partition pruning are unaffected; the mask filter above runs
    // on physical names (partition dirs never rename — enforced).
    val projected = projectTo(masked, snap.cols, dirColumnMapping(d, snap.cols),
      extra =
        if (!needRowId) Nil
        else Seq(col(SnapshotTable.RowIdFileCol), col(SnapshotTable.RowIdPosCol)))
    // merge-on-read, positional flavor first: anti-join each positional
    // delete file scoped to this dir on (file_path, row_index) —
    // physical row identity, no key semantics
    val afterPos = posDels.foldLeft(projected) { (df, del) =>
      df.join(broadcast(SnapshotTable.loadDir(spark, del.format.getOrElse(snap.format), del.dir)),
        Seq(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol), "left_anti")
    }
    val cleaned =
      if (needRowId && !keepRowId)
        afterPos.drop(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol)
      else afterPos
    // merge-on-read: anti-join each equality-delete file scoped to
    // this dir (delete files are key tuples — tiny, broadcast); data
    // appended after the delete is out of scope by construction.
    // Delete keys are delete-time column names; renaming an active
    // delete's key column is rejected, so they match current names.
    eqDels.foldLeft(cleaned) { (df, del) =>
      df.join(broadcast(SnapshotTable.loadDir(spark, del.format.getOrElse(snap.format), del.dir)),
        del.keys, "left_anti")
    }
  }

  private def emptyWithSchema(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.cols.isEmpty) spark.emptyDataFrame
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(snap.cols.map(c =>
        org.apache.spark.sql.types.StructField(
          c.name, org.apache.spark.sql.types.DataType.fromDDL(c.dataType)))))

  /** Project `df` to the snapshot schema `cols`, resolving each field id
    * to its physical column via `mapping`. No-op for legacy snapshots
    * (empty cols). Same-type references skip the cast entirely so the
    * projection never blocks filter pushdown or partition pruning.
    */
  private def projectTo(
      df: DataFrame, cols: Seq[TableColumn], mapping: Map[Int, String],
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    if (cols.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val present = df.columns.toSet
      df.select(cols.map { c =>
        val t = org.apache.spark.sql.types.DataType.fromDDL(c.dataType)
        mapping.get(c.id).filter(present.contains) match {
          case Some(phys) =>
            val base = col(phys)
            (if (df.schema(phys).dataType == t) base else base.cast(t)).as(c.name)
          case None => lit(null).cast(t).as(c.name)
        }
      } ++ extra: _*)
    }

  /** Equality delete (Iceberg v2 merge-on-read) — the GDPR / right-to-be-
    * forgotten primitive a training-data lake needs: erase every row whose
    * key columns match `keys`, in O(|keys|) write cost, without rewriting
    * a single data file. The distinct key tuples are written as a delete
    * file; reads anti-join it (broadcast — delete files are small) against
    * exactly the data dirs that existed at delete time, so rows APPENDED
    * after the delete with the same key survive (re-registration after
    * erasure). [[compact]] applies deletes physically and drops them —
    * the merge-on-read debt is paid once, at maintenance time.
    *
    * The recorded row count is restated with one column-pruned semi-join
    * count over the applicable dirs (the only data touched; Iceberg
    * reports estimates here — we afford exactness because the count job
    * reads key columns only). The count runs OUTSIDE the commit lock,
    * against the optimistically-read base head: data dirs are immutable,
    * so the count is stable for a given parent, and only the O(1)
    * metadata swap is serialized — concurrent appends never queue behind
    * an erasure's table scan. A conflict refreshes the base and
    * recomputes (the same pattern [[commit]] uses for the data write).
    */
  def deleteWhere(
      keys: DataFrame, keyCols: Seq[String],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"delete keys frame must carry ${keyCols.mkString(", ")} (has: ${keys.columns.mkString(", ")})")
    val spark = keys.sparkSession
    val base = requireCurrent
    val delDir = newDir(prefix = "del-")
    val keyRows = keys.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    keyRows.write.mode("overwrite").format(base.format).save(delDir)

    var cur = base
    var attempt = 0
    while (true) {
      // restate the count unserialized: matching rows in the base head's
      // dirs, one key-columns-only job over that (immutable) merged view
      val removed =
        if (cur.rowCount < 0) -1L
        else readSnapshot(spark, cur.id)
          .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
          // the delete FILE was written once, with the original base
          // head's format — a conflict can move `cur` to a head whose
          // format differs (rival overwrite), but the file's bytes don't
          .join(org.apache.spark.sql.functions.broadcast(
            SnapshotTable.loadDir(spark, base.format, delDir)), keyCols, "left_semi")
          .count()
      val total = if (cur.rowCount < 0 || removed < 0) -1L else cur.rowCount - removed
      SnapshotTable.beforeSwapHook(this, attempt)
      val res = SnapshotTable.commitLock(root).synchronized {
        val prev = snapshots
        val head = prev.filterNot(_.staged).lastOption
        if (head.map(_.id) != Some(cur.id))
          Left(CommitConflictException(fullName, Some(cur.id), head.map(_.id)))
        else {
          val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
          // cur.copy: dirs, format, masks, SCHEMA and watermark all carry
          val snap = cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
            operation = "delete", rowCount = total, staged = false,
            summary = SnapshotTable.carriedSummary(cur.summary),
            deletes = cur.deletes :+
              EqualityDelete(delDir, keyCols, cur.dataDirs, Some(base.format)),
            parentId = Some(cur.id))
          writeMetadata(prev :+ snap)
          Audit.log("table_write", fullName, Map(
            "operation" -> "equality_delete", "snapshot_id" -> id.toString))
          Right(snap)
        }
      }
      res match {
        case Right(snap) => return snap
        case Left(conflict) =>
          if (attempt >= numRetries) {
            SnapshotTable.deleteTree(new File(delDir))
            throw CommitFailedException(fullName, attempt + 1, conflict)
          }
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          // refresh the base: the next loop iteration recomputes the
          // restated count against the rival's head (its dirs enter the
          // delete's scope — the delete commits after the rival)
          cur = conflict.actualParent.flatMap(id => snapshots.find(_.id == id))
            .getOrElse(requireCurrent)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Positional delete (Iceberg v2's second merge-on-read delete
    * flavor) — the arbitrary-predicate point delete: erase every row
    * `cond` matches, in O(matched rows) write cost, without key
    * semantics and without rewriting a single data file. One probe job
    * over the logical view (masks and existing deletes applied, so an
    * already-erased row can never re-match) carries the parquet
    * physical row identity (`_metadata.file_path`, `_metadata.
    * row_index`); the matched (file, position) pairs are written as a
    * delete file that reads anti-join (broadcast — positional files
    * are small by construction). Scope is the probed data dirs, so
    * rows APPENDED after the delete — even ones matching `cond` —
    * survive, the Iceberg sequence-number contract at dir granularity.
    * Complements [[deleteWhere]] (key equality, O(|keys|) with no
    * probe) and [[deleteRows]] (copy-on-write — the right shape when
    * the match is dense and rewriting beats carrying delete files).
    * [[compact]] / [[rewriteDeletes]] pay the merge-on-read debt and
    * drop the file. Matching zero rows commits nothing.
    */
  def deletePositions(
      spark: SparkSession,
      cond: org.apache.spark.sql.Column,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    deletePositionsMatching(spark, _.filter(cond), numRetries)

  /** Merge-on-read flavor of [[deleteRowsMatching]]: `matcher` selects
    * the row set to delete (row-preserving ops only, row-id columns
    * carried through), and the matched positions become ONE positional
    * delete file — O(matched rows), zero data files rewritten.
    */
  def deletePositionsMatching(
      spark: SparkSession,
      matcher: DataFrame => DataFrame,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.col
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      require(cur.format == "parquet",
        s"positional deletes need parquet row identity (_metadata.row_index); " +
          s"$fullName is ${cur.format} — use deleteWhere or deleteRows")
      if (cur.dataDirs.isEmpty) return cur
      import org.apache.spark.sql.functions.lit
      val probe = cur.dataDirs.map(d => readDirWithRowId(spark, cur, d)
          .withColumn(SnapshotTable.RowIdDirCol, lit(d)))
        .reduce(_ unionByName _)
      val matches = matcher(probe)
        .select(col(SnapshotTable.RowIdFileCol), col(SnapshotTable.RowIdPosCol),
          col(SnapshotTable.RowIdDirCol))
      // ONE probe scan: write the (tiny) positions file, then read the
      // count AND the touched-dir scope back from it — never a second
      // pass over the table just to count, and the delete scopes to
      // exactly the dirs holding matched files, so every other dir
      // keeps the zero-metadata-cost read path
      val delDir = newDir(prefix = "posdel-")
      matches.write.mode("overwrite").format(cur.format).save(delDir)
      val delFile = SnapshotTable.loadDir(spark, cur.format, delDir)
      val removed = delFile.count()
      if (removed == 0L) {
        SnapshotTable.deleteTree(new File(delDir))
        return cur
      }
      val hitDirs = delFile.select(SnapshotTable.RowIdDirCol)
        .distinct().collect().map(_.getString(0)).toSet
      val applies = cur.dataDirs.filter(hitDirs.contains)
      val total = if (cur.rowCount < 0) -1L else cur.rowCount - removed
      SnapshotTable.beforeSwapHook(this, attempt)
      // strict CAS against the probed head: positions denote rows of
      // exactly that snapshot's files. A conflict — even a rival pure
      // append — re-probes from scratch rather than re-scoping the file
      // (scoping down after a rival REWRITE would silently skip the
      // matching rows the rival moved into new dirs — Iceberg's
      // conflicting-files validation exists for the same reason).
      val res = SnapshotTable.commitLock(root).synchronized {
        val prev = snapshots
        val head = prev.filterNot(_.staged).lastOption
        if (head.map(_.id) != Some(cur.id))
          Left(CommitConflictException(fullName, Some(cur.id), head.map(_.id)))
        else {
          val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
          val snap = cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
            operation = "delete", rowCount = total, staged = false,
            summary = SnapshotTable.carriedSummary(cur.summary),
            deletes = cur.deletes :+ EqualityDelete(delDir,
              Seq(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol),
              applies, Some(cur.format), positional = true),
            parentId = Some(cur.id))
          writeMetadata(prev :+ snap)
          Audit.log("table_write", fullName, Map(
            "operation" -> "positional_delete", "snapshot_id" -> id.toString))
          Right(snap)
        }
      }
      res match {
        case Right(snap) => return snap
        case Left(conflict) =>
          SnapshotTable.deleteTree(new File(delDir))
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Consolidate the ACTIVE positional delete files into one (Iceberg's
    * `rewrite_position_deletes` maintenance action): trickle CDC leaves
    * one small delete file per commit, and every read of a scoped dir
    * pays one anti-join per file — this folds them into a single
    * broadcast without touching any data file. Sound because a
    * (file, position) pair can only ever match rows of exactly the
    * file it names — the pairs SELF-SCOPE — so the merged entry's dir
    * scope is simply the union of the originals' (intersected with the
    * current dirs). Logical content is identical, so the commit is a
    * layout-only 'replace' (the changelog skips it, like compaction).
    * Old delete files stay on disk for time travel; expiry reclaims
    * them with their snapshots. Fewer than two files is a no-op.
    */
  def consolidatePositionalDeletes(
      spark: SparkSession,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val (pos, eq) = cur.deletes.partition(_.positional)
      if (pos.size < 2) return cur
      val union = pos.map(d =>
          SnapshotTable.loadDir(spark, d.format.getOrElse(cur.format), d.dir))
        .reduce(_ unionByName _).distinct()
      val delDir = newDir(prefix = "posdel-")
      union.write.mode("overwrite").format(cur.format).save(delDir)
      val applies = pos.flatMap(_.applies).distinct.filter(cur.dataDirs.contains)
      SnapshotTable.beforeSwapHook(this, attempt)
      val res = SnapshotTable.commitLock(root).synchronized {
        val prev = snapshots
        val head = prev.filterNot(_.staged).lastOption
        if (head.map(_.id) != Some(cur.id))
          Left(CommitConflictException(fullName, Some(cur.id), head.map(_.id)))
        else {
          val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
          val snap = cur.copy(id = id, committedAtMs = SnapshotTable.clockMs(),
            operation = "replace", staged = false,
            summary = SnapshotTable.carriedSummary(cur.summary),
            deletes = eq :+ EqualityDelete(delDir,
              Seq(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol),
              applies, Some(cur.format), positional = true),
            parentId = Some(cur.id))
          writeMetadata(prev :+ snap)
          Audit.log("table_write", fullName, Map(
            "operation" -> "rewrite_position_deletes", "snapshot_id" -> id.toString))
          Right(snap)
        }
      }
      res match {
        case Right(snap) => return snap
        case Left(conflict) =>
          SnapshotTable.deleteTree(new File(delDir))
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Merge-on-read UPDATE (Iceberg's `write.update.mode=merge-on-read`
    * shape): instead of rewriting the files holding matched rows
    * ([[updateWhere]], copy-on-write), ONE atomic commit pairs a
    * positional delete of the old row versions with an append of the
    * updated rows — O(matched rows) write cost, untouched files never
    * re-written, the sparse-update-of-a-huge-table sweet spot. The
    * riding delete scopes to the pre-commit dirs only, so the commit's
    * own re-inserted rows survive it by construction. Commits CAS
    * against the probed head (the positions are only meaningful there);
    * a conflict re-probes from scratch — a rival's overlapping erasure
    * or rewrite is re-observed, never silently overridden. Matching
    * zero rows commits nothing.
    */
  def updatePositions(
      spark: SparkSession,
      cond: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    updatePositionsMatching(spark, _.filter(cond), sets, numRetries)

  /** [[updatePositions]] generalized to a row MATCHER (a transform of
    * the probe frame to its to-update subset) for update sets no single
    * predicate can express — e.g. the null-mask anti-join pieces of a
    * multi-column NOT IN. Same contract: one positional delete file +
    * one append of the rewritten rows, no data file rewritten.
    */
  def updatePositionsMatching(
      spark: SparkSession,
      matcher: DataFrame => DataFrame,
      sets: Map[String, org.apache.spark.sql.Column],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.col
    require(sets.nonEmpty, s"merge-on-read UPDATE on $fullName needs at least one assignment")
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      require(cur.format == "parquet",
        s"merge-on-read UPDATE needs parquet row identity (_metadata.row_index); " +
          s"$fullName is ${cur.format} — use updateWhere")
      if (cur.dataDirs.isEmpty) return cur
      val schemaCols = snapshotSchema(spark, cur)
      sets.keys.foreach(k => require(schemaCols.exists(_._1 == k),
        s"UPDATE on $fullName assigns unknown column $k " +
          s"(columns: ${schemaCols.map(_._1).mkString(", ")})"))
      import org.apache.spark.sql.functions.lit
      val probe = cur.dataDirs.map(d => readDirWithRowId(spark, cur, d)
          .withColumn(SnapshotTable.RowIdDirCol, lit(d)))
        .reduce(_ unionByName _)
      val matched = matcher(probe)
      val positions = matched
        .select(col(SnapshotTable.RowIdFileCol), col(SnapshotTable.RowIdPosCol),
          col(SnapshotTable.RowIdDirCol))
      // write the positions file first, count + scope from the (tiny)
      // file — the table-sized probe runs twice total (positions write,
      // updated-rows write), never a third time for a count
      val delDir = newDir(prefix = "posdel-")
      positions.write.mode("overwrite").format(cur.format).save(delDir)
      val delFile = SnapshotTable.loadDir(spark, cur.format, delDir)
      val removed = delFile.count()
      if (removed == 0L) {
        SnapshotTable.deleteTree(new File(delDir))
        return cur
      }
      val hitDirs = delFile.select(SnapshotTable.RowIdDirCol)
        .distinct().collect().map(_.getString(0)).toSet
      val applies = cur.dataDirs.filter(hitDirs.contains)
      val updated = matched.select(schemaCols.map { case (n, t) =>
        sets.get(n).map(_.cast(t).as(n)).getOrElse(col(n))
      }: _*)
      // keep the table's partition layout on the appended dir (when the
      // partition columns are part of the schema) so pruning governs
      // the updated rows too
      val pcols = partitionColumns.filter(pc => schemaCols.exists(_._1 == pc))
      try
        return commit(updated, "update", carryPrevious = true,
          partitionCols = pcols, sortCols = WriteSortOrder.sortCols(this),
          format = cur.format, numRetries = 0,
          expectedBase = Some(Some(cur.id)),
          posDelete = Some((delDir, removed, applies)))
      catch {
        case e: CommitFailedException =>
          // the commit cleaned up its own data dir; the delete file is
          // ours to reclaim. Re-probe from the moved head — positions
          // are only valid against the snapshot they were probed from.
          SnapshotTable.deleteTree(new File(delDir))
          if (attempt >= numRetries) throw e
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Predicate keeping rows OUTSIDE every masked partition rel-path.
    * References only partition columns, so Catalyst evaluates it against
    * the partition spec at planning (directory-level skip).
    */
  private def maskFilter(masked: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val hits = masked.map { path =>
      path.split("/").toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
        else col(k).cast("string") === lit(v)
      }.reduce(_ && _)
    }
    not(hits.reduce(_ || _))
  }

  // ------------------------------------------------------------------
  // row-level UPDATE / MERGE (Iceberg copy-on-write at dir granularity)
  // ------------------------------------------------------------------

  /** Row-level UPDATE — Iceberg's copy-on-write strategy at dir
    * granularity: ONLY the dirs that physically hold matching rows are
    * rewritten (detected with one column-pruned scan, which the range
    * sidecars additionally dir-skip); every other dir carries forward
    * untouched, so the write cost is O(affected dirs), not O(table).
    * The rewritten dir bakes in the affected dirs' masks and equality
    * deletes (they are dropped from the new snapshot's scope for those
    * dirs), row count is unchanged, and the commit is the same
    * optimistic CAS every other write uses: detection + rewrite run
    * unserialized against the base head, only the metadata swap locks,
    * and a conflict re-detects against the rival head.
    *
    * `sets` values may reference any table column (by name) and are
    * cast to the column's declared type (Iceberg assignment-cast
    * semantics). Matching zero rows returns the current snapshot
    * without committing — SQL UPDATE semantics, no empty snapshot spam.
    */
  def updateWhere(
      spark: SparkSession,
      cond: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.{col, when}
    require(sets.nonEmpty, s"UPDATE on $fullName needs at least one assignment")
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val schemaCols = snapshotSchema(spark, cur)
      val names = schemaCols.map(_._1)
      sets.keys.foreach(k => require(names.contains(k),
        s"UPDATE on $fullName assigns unknown column $k (columns: ${names.mkString(", ")})"))
      val affected = affectedDirs(spark, cur, _.filter(cond))
      if (affected.isEmpty) return cur
      val (view, carryDirs) = splitForRewrite(spark, cur, affected, _.filter(cond))
      val updated = view.select(schemaCols.map { case (n, t) =>
        sets.get(n)
          .map(v => when(cond, v.cast(t)).otherwise(col(n)).as(n))
          .getOrElse(col(n))
      }: _*)
      rewriteDirs(spark, cur, affected, updated, "update",
        newTotal = cur.rowCount, attempt = attempt, carryDirs = carryDirs) match {
        case Right(snap) => return snap
        case Left(conflict) =>
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[updateWhere]] generalized to a row MATCHER for update row sets
    * no single predicate can express (the multi-column NOT IN pieces).
    * Copy-on-write at dir granularity like updateWhere: affected dirs
    * detected through the matcher, rewritten as (unmatched rows
    * verbatim) ∪ (matched rows with `sets` applied); untouched dirs
    * carry forward byte-identical. The multiset split (`exceptAll`)
    * matches the delete seam's contract: a matcher decides per row
    * CONTENT, so duplicate rows either all match or none do.
    */
  def updateRowsMatching(
      spark: SparkSession,
      matcher: DataFrame => DataFrame,
      sets: Map[String, org.apache.spark.sql.Column],
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.col
    require(sets.nonEmpty, s"UPDATE on $fullName needs at least one assignment")
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val schemaCols = snapshotSchema(spark, cur)
      val names = schemaCols.map(_._1)
      sets.keys.foreach(k => require(names.contains(k),
        s"UPDATE on $fullName assigns unknown column $k (columns: ${names.mkString(", ")})"))
      val affected = affectedDirs(spark, cur, matcher)
      if (affected.isEmpty) return cur
      val (view, carryDirs) = splitForRewrite(spark, cur, affected, matcher)
      val matched = matcher(view)
      val rewritten = matched.select(schemaCols.map { case (n, t) =>
        sets.get(n).map(_.cast(t).as(n)).getOrElse(col(n))
      }: _*)
      val untouched = view.exceptAll(matched)
        .select(schemaCols.map { case (n, _) => col(n) }: _*)
      rewriteDirs(spark, cur, affected, untouched.unionByName(rewritten),
        "update", newTotal = cur.rowCount, attempt = attempt,
        carryDirs = carryDirs) match {
        case Right(snap) => return snap
        case Left(conflict) =>
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Copy-on-write row DELETE for ARBITRARY predicates — the companion
    * to [[deleteWhere]] (which stays the right tool for key equality:
    * O(|keys|), merge-on-read, no rewrite). Dirs holding matching rows
    * are detected with one pruned scan; only those rewrite, keeping
    * exactly the rows where `cond` is false or NULL (SQL DELETE removes
    * rows where the predicate is TRUE); untouched dirs carry forward
    * byte-identical. Matching zero rows commits nothing. This is the
    * Iceberg copy-on-write delete shape: O(affected dirs), never
    * O(table).
    */
  def deleteRows(
      spark: SparkSession,
      cond: org.apache.spark.sql.Column,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    deleteRowsMatching(spark, _.filter(cond),
      keeper = Some(df => df.filter(not(coalesce(cond, lit(false))))),
      numRetries = numRetries)
  }

  /** COW delete of an arbitrary matched-row SET: `matcher` maps any
    * frame of table rows to the subset to delete using row-preserving
    * ops only (filters, anti/semi joins — never projections), so it
    * composes with the dir-affinity probe and the file-granular split
    * exactly like a plain condition. `keeper` computes the complement
    * when a cheap closed form exists (a boolean condition's negation);
    * otherwise the kept rows are the exact multiset complement
    * (`exceptAll`) — null- and NaN-safe, duplicate-exact. This is the
    * seam join-shaped DML (multi-column NOT IN) lowers onto: the
    * matched set is defined by joins against another frame, which no
    * single `Column` can express.
    */
  def deleteRowsMatching(
      spark: SparkSession,
      matcher: DataFrame => DataFrame,
      keeper: Option[DataFrame => DataFrame] = None,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val affected = affectedDirs(spark, cur, matcher)
      if (affected.isEmpty) return cur
      val (view, carryDirs) = splitForRewrite(spark, cur, affected, matcher)
      // keeper path (plain-condition deletes): the affected-row count is
      // OBSERVED during the rewrite write instead of a separate full
      // pre-write pass over affected dirs (guide §1.2). The exceptAll
      // path keeps the explicit count — its plan references `view`
      // twice, so an embedded metric would double-count; either way the
      // count is by-name, paid after (or instead of) nothing else.
      val (kept, affectedRows: (() => Long)) = keeper match {
        case Some(kf) if cur.rowCount >= 0 =>
          val o = org.apache.spark.sql.Observation(
            s"graft-affected-${java.util.UUID.randomUUID().toString.take(8)}")
          val observed = view.observe(o, org.apache.spark.sql.functions
            .count(org.apache.spark.sql.functions.lit(1)).as("__affected"))
          (kf(observed), () => o.get.get("__affected") match {
            case Some(l: Long) => l
            case _ => -1L // metric lost: total degrades to "unknown"
          })
        case Some(kf) => (kf(view), () => -1L)
        case None =>
          (view.exceptAll(matcher(view)),
            () => if (cur.rowCount < 0) -1L else view.count())
      }
      rewriteDirs(spark, cur, affected, kept, "delete",
        newTotal = if (cur.rowCount < 0) -1L else -2L,
        attempt = attempt, removedRows = affectedRows(),
        carryDirs = carryDirs) match {
        case Right(snap) => return snap
        case Left(conflict) =>
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** MERGE INTO (SQL MERGE / Iceberg copy-on-write merge): upsert
    * `source` into the table on equality `keys` (pairs of target-key ->
    * source-key column names). Matched target rows are updated (from
    * the source row or explicit assignments) or deleted; unmatched
    * source rows are inserted. The SQL cardinality rule is enforced —
    * a source with duplicate keys is rejected before any write.
    *
    * Scale shape: affected dirs are detected with one key-columns-only
    * semi-join (broadcastable source keys), only those dirs rewrite;
    * the insert anti-join reads key columns of the table only. Cost is
    * O(affected dirs + source), never O(table rewrite).
    */
  def mergeInto(
      source: DataFrame,
      keys: Seq[(String, String)],
      matched: Merge.Matched,
      notMatched: Merge.NotMatched,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    mergeClauses(source, keys,
      matched match {
        case Merge.KeepMatched => Nil
        case m => Seq(Merge.WhenMatched(m))
      },
      notMatched match {
        case Merge.Ignore => Nil
        case nm => Seq(Merge.WhenNotMatched(nm))
      },
      numRetries = numRetries)

  /** Full multi-clause MERGE: ordered `WHEN MATCHED [AND cond]` /
    * `WHEN NOT MATCHED [AND cond]` / `WHEN NOT MATCHED BY SOURCE
    * [AND cond]` clauses, each list first-true-wins per row (SQL
    * semantics). Dir detection stays a key-pruned broadcast join —
    * semi-join for matched clauses, ANTI-join (plus the clauses'
    * target-only conditions) for BY SOURCE ones — and conservative
    * under clause conditions: a dir whose candidate rows all fail every
    * condition is rewritten byte-identical rather than detected as
    * untouched (detecting that would need the full source join per dir
    * up front; the rewrite itself applies conditions exactly).
    */
  def mergeClauses(
      sourceIn: DataFrame,
      keys: Seq[(String, String)],
      matchedClauses: Seq[Merge.WhenMatched],
      notMatchedClauses: Seq[Merge.WhenNotMatched],
      notMatchedBySourceClauses: Seq[Merge.WhenNotMatchedBySource] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val source = materializeSource(sourceIn)
    val spark = source.sparkSession
    require(keys.nonEmpty, s"MERGE into $fullName needs at least one key pair")
    keys.foreach { case (_, sk) =>
      require(source.columns.contains(sk),
        s"MERGE source lacks key column $sk (has: ${source.columns.mkString(", ")})")
    }
    // duplicated source keys — an error only if one of them MATCHES a
    // target row (the SQL cardinality rule: no target row may be
    // updated/deleted twice). Duplicate keys among not-matched rows are
    // legal — they all insert. Checked per attempt against the current
    // head; the common no-dups case costs one source-side job and never
    // touches the table.
    val srcKeyCols = keys.map { case (_, sk) => col(sk) }
    val dupKeys = source.groupBy(srcKeyCols: _*).count()
      .filter(col("count") > 1)
      .select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*)
    val hasDupKeys = dupKeys.limit(1).count() > 0L

    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val schemaCols = snapshotSchema(spark, cur)
      keys.foreach { case (tk, _) =>
        require(schemaCols.exists(_._1 == tk),
          s"MERGE into $fullName keys on unknown column $tk")
      }
      // the target's distinct key tuples: one column-pruned scan,
      // reused by the cardinality check and the insert anti-join
      lazy val tableKeys = readSnapshot(spark, cur.id)
        .select(keys.map { case (tk, _) => col(tk) }: _*).distinct()
      if (hasDupKeys) {
        val dupMatched = dupKeys
          .join(tableKeys, keys.map(_._1), "left_semi").limit(1).count()
        require(dupMatched == 0L,
          s"MERGE into $fullName: multiple source rows share a key that matches a " +
            "target row — the SQL cardinality rule forbids updating one target row " +
            "twice (dedupe the source)")
      }
      // dirs holding matched target rows: key-pruned semi-join. BY SOURCE
      // clauses invert the detection — a dir is affected when it holds
      // target rows with NO source match that satisfy some clause's
      // target-only condition (the anti-join of the same broadcast keys).
      // A fully-matched dir therefore still rewrites byte-identical only
      // if a matched clause also targets it; a delivery covering every
      // key leaves untouched dirs untouched.
      val srcKeys = source.select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*).distinct()
      val matchedAffected =
        if (matchedClauses.isEmpty) Nil // matched rows stay byte-identical
        else affectedDirs(spark, cur, v =>
          v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
            keys.map(_._1), "left_semi"))
      val bySourceAffected =
        if (notMatchedBySourceClauses.isEmpty) Nil
        else affectedDirs(spark, cur, v => {
          val anyCond = notMatchedBySourceClauses
            .map(c => coalesce(c.cond.getOrElse(lit(true)), lit(false)))
            .reduce(_ || _)
          v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
              keys.map(_._1), "left_anti")
            .alias("__t").filter(anyCond)
        })
      val affected = cur.dataDirs.filter(
        (matchedAffected ++ bySourceAffected).toSet.contains)
      // the combined per-row touch predicate (matched-shape ∪ by-source
      // shape) drives the FILE-granular split: files of an affected dir
      // holding no touched row carry byte-identical instead of rewriting
      val mergeShape: DataFrame => DataFrame = v => {
        val m =
          if (matchedClauses.isEmpty) None
          else Some(v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
            keys.map(_._1), "left_semi"))
        val bs =
          if (notMatchedBySourceClauses.isEmpty) None
          else {
            val anyCond = notMatchedBySourceClauses
              .map(c => coalesce(c.cond.getOrElse(lit(true)), lit(false)))
              .reduce(_ || _)
            Some(v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
                keys.map(_._1), "left_anti")
              .alias("__t").filter(anyCond))
          }
        (m.toSeq ++ bs.toSeq).reduce(_ unionByName _)
      }
      // affected-row count OBSERVED during the rewrite write (guide §1.2
      // "don't compute things you throw away": the former standalone
      // view.count() re-ran the affected-dir scan + broadcast probe as a
      // full extra pass, O(affected dirs) at scale); rewriteDirs fetches
      // it by-name strictly after the write job that populates it
      val (view, carryDirs, affectedObs) =
        if (affected.isEmpty) (None, Nil, None)
        else {
          val (v, cds) = splitForRewrite(spark, cur, affected, mergeShape)
          val o = org.apache.spark.sql.Observation(
            s"graft-affected-${java.util.UUID.randomUUID().toString.take(8)}")
          (Some(v.observe(o, org.apache.spark.sql.functions
            .count(lit(1)).as("__affected"))), cds, Some(o))
        }
      def affectedRows: Long = affectedObs.map(_.get.get("__affected") match {
        case Some(l: Long) => l
        case _ => -1L // metric lost: total degrades to "unknown", never wrong
      }).getOrElse(0L)

      val src = source.withColumn("__s_present", lit(true)).alias("__s")
      val joinCond = keys.map { case (tk, sk) =>
        col(s"__t.$tk") === col(s"__s.$sk")
      }.reduce(_ && _)
      val matchedCol = col("__s.__s_present").isNotNull

      // first-true-wins clause predicates: pred_i = base && !c_0 && ...
      // && !c_{i-1} && c_i, with a NULL condition treated as
      // not-applied-but-keep-looking (coalesce to false)
      def clausePreds[A](base: org.apache.spark.sql.Column, conds: Seq[Option[org.apache.spark.sql.Column]])
        : Seq[org.apache.spark.sql.Column] = {
        var remaining = base
        conds.map { c =>
          val cTrue = coalesce(c.getOrElse(lit(true)), lit(false))
          val p = remaining && cTrue
          remaining = remaining && !cTrue
          p
        }
      }

      val rewritten: Option[DataFrame] = view.map { v =>
        val joined = v.alias("__t").join(src, joinCond, "left_outer")
        // matched clauses chain off the match predicate; BY SOURCE
        // clauses chain off its negation — two independent first-true-
        // wins lists over disjoint row sets, exactly SQL's contract
        val preds = clausePreds(matchedCol, matchedClauses.map(_.cond)) ++
          clausePreds(!matchedCol, notMatchedBySourceClauses.map(_.cond))
        val withPred = preds.zip(
          matchedClauses.map(_.action) ++ notMatchedBySourceClauses.map(_.action))
        withPred.foreach {
          case (_, Merge.Update(sets)) =>
            sets.keys.foreach(k => require(schemaCols.exists(_._1 == k),
              s"MERGE into $fullName assigns unknown column $k"))
          case _ => ()
        }
        val deletePred = withPred.collect { case (p, Merge.Delete) => p }
          .reduceOption(_ || _).getOrElse(lit(false))
        joined.filter(!deletePred).select(schemaCols.map { case (n, t) =>
          val keep = col(s"__t.$n")
          val chain = withPred.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            case (acc, (p, action)) =>
              val value = action match {
                case Merge.UpdateAll =>
                  if (source.columns.contains(n)) Some(col(s"__s.$n").cast(t)) else None
                case Merge.Update(sets) => sets.get(n).map(_.cast(t))
                case _ => None // Delete rows are already filtered out
              }
              value.map(v0 => acc.map(_.when(p, v0)).getOrElse(when(p, v0))).orElse(acc)
          }
          chain.map(_.otherwise(keep).as(n)).getOrElse(keep.as(n))
        }: _*)
      }

      val inserts: Option[DataFrame] =
        if (notMatchedClauses.isEmpty) None
        else {
          // table-wide unmatched source rows: anti-join against the key
          // columns only (column-pruned scan of the table)
          val unmatched = source.alias("__s").join(
            tableKeys.alias("__t"), joinCond, "left_anti")
          val preds = clausePreds(lit(true), notMatchedClauses.map(_.cond))
          val withPred = preds.zip(notMatchedClauses.map(_.action))
          val applicable = unmatched.filter(withPred.map(_._1).reduce(_ || _))
          Some(applicable.select(schemaCols.map { case (n, t) =>
            val chain = withPred.map { case (p, action) =>
              val value = action match {
                case Merge.InsertAll =>
                  val fromKey = keys.find(_._1 == n).map(_._2)
                  val src0 = fromKey.orElse(Some(n).filter(source.columns.contains))
                  src0.map(sn => col(s"__s.$sn").cast(t)).getOrElse(lit(null).cast(t))
                case Merge.Insert(sets) =>
                  sets.get(n).map(_.cast(t)).getOrElse(lit(null).cast(t))
              }
              (p, value)
            }.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (p, v0)) => Some(acc.map(_.when(p, v0)).getOrElse(when(p, v0)))
            }
            // every surviving row satisfies some pred; the otherwise is
            // unreachable but keeps the column total
            chain.get.otherwise(lit(null).cast(t)).as(n)
          }: _*))
        }

      (rewritten, inserts) match {
        case (None, None) => return cur
        // a merge that touches no dir and inserts no row is a NO-OP —
        // committing would bloat history with an empty data dir (the
        // probe is one limit-1 job over the unmatched keys)
        case (None, Some(ins)) if ins.isEmpty => return cur
        case _ =>
          val newData = (rewritten.toSeq ++ inserts.toSeq).reduce(_ unionByName _)
          val total = if (cur.rowCount < 0) -1L else -2L // -2: resolve from written rows below
          rewriteDirs(spark, cur, affected, newData, "merge",
            newTotal = total, attempt = attempt,
            removedRows = if (cur.rowCount < 0) -1L else affectedRows,
            carryDirs = carryDirs) match {
            case Right(snap) => return snap
            case Left(conflict) =>
              if (attempt >= numRetries)
                throw CommitFailedException(fullName, attempt + 1, conflict)
              Thread.sleep(SnapshotTable.backoffMs(attempt))
              attempt += 1
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Merge-on-read MERGE (Iceberg's `write.merge.mode=merge-on-read`):
    * the same ordered-clause semantics as [[mergeClauses]] — SQL
    * cardinality rule, first-true-wins matched / not-matched /
    * not-matched-by-source chains — but instead of rewriting the files
    * holding touched rows, ONE atomic commit pairs a positional delete
    * of exactly the touched row versions with an append of the
    * rewritten + inserted rows. Untouched rows of touched files are
    * never read twice or rewritten: O(touched + inserted) write cost,
    * the trickle-merge-into-a-huge-table shape. Detection stays
    * key-pruned (the same broadcast semi/anti dir probes as
    * copy-on-write), commits CAS against the probed head, and a
    * conflict re-probes from scratch.
    */
  def mergeClausesMor(
      sourceIn: DataFrame,
      keys: Seq[(String, String)],
      matchedClauses: Seq[Merge.WhenMatched],
      notMatchedClauses: Seq[Merge.WhenNotMatched],
      notMatchedBySourceClauses: Seq[Merge.WhenNotMatchedBySource] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries,
      summary: Map[String, String] = Map.empty): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val source = materializeSource(sourceIn)
    val spark = source.sparkSession
    require(keys.nonEmpty, s"MERGE into $fullName needs at least one key pair")
    keys.foreach { case (_, sk) =>
      require(source.columns.contains(sk),
        s"MERGE source lacks key column $sk (has: ${source.columns.mkString(", ")})")
    }
    val srcKeyCols = keys.map { case (_, sk) => col(sk) }
    val dupKeys = source.groupBy(srcKeyCols: _*).count()
      .filter(col("count") > 1)
      .select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*)
    val hasDupKeys = dupKeys.limit(1).count() > 0L

    var attempt = 0
    while (true) {
      val cur = requireCurrent
      require(cur.format == "parquet",
        s"merge-on-read MERGE needs parquet row identity (_metadata.row_index); " +
          s"$fullName is ${cur.format} — use mergeClauses")
      val schemaCols = snapshotSchema(spark, cur)
      keys.foreach { case (tk, _) =>
        require(schemaCols.exists(_._1 == tk),
          s"MERGE into $fullName keys on unknown column $tk")
      }
      lazy val tableKeys = readSnapshot(spark, cur.id)
        .select(keys.map { case (tk, _) => col(tk) }: _*).distinct()
      if (hasDupKeys) {
        val dupMatched = dupKeys
          .join(tableKeys, keys.map(_._1), "left_semi").limit(1).count()
        require(dupMatched == 0L,
          s"MERGE into $fullName: multiple source rows share a key that matches a " +
            "target row — the SQL cardinality rule forbids updating one target row " +
            "twice (dedupe the source)")
      }
      val srcKeys = source.select(keys.map { case (tk, sk) => col(sk).as(tk) }: _*).distinct()
      val matchedAffected =
        if (matchedClauses.isEmpty) Nil
        else affectedDirs(spark, cur, v =>
          v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
            keys.map(_._1), "left_semi"))
      val bySourceAffected =
        if (notMatchedBySourceClauses.isEmpty) Nil
        else affectedDirs(spark, cur, v => {
          val anyCond = notMatchedBySourceClauses
            .map(c => coalesce(c.cond.getOrElse(lit(true)), lit(false)))
            .reduce(_ || _)
          v.join(org.apache.spark.sql.functions.broadcast(srcKeys),
              keys.map(_._1), "left_anti")
            .alias("__t").filter(anyCond)
        })
      val affected = cur.dataDirs.filter(
        (matchedAffected ++ bySourceAffected).toSet.contains)

      val src = source.withColumn("__s_present", lit(true)).alias("__s")
      val joinCond = keys.map { case (tk, sk) =>
        col(s"__t.$tk") === col(s"__s.$sk")
      }.reduce(_ && _)
      val matchedCol = col("__s.__s_present").isNotNull
      def clausePreds(base: org.apache.spark.sql.Column, conds: Seq[Option[org.apache.spark.sql.Column]])
        : Seq[org.apache.spark.sql.Column] = {
        var remaining = base
        conds.map { c =>
          val cTrue = coalesce(c.getOrElse(lit(true)), lit(false))
          val p = remaining && cTrue
          remaining = remaining && !cTrue
          p
        }
      }

      // touched rows only: the probe carries row identity; a row where
      // some clause fires contributes its position to the delete file
      // and (unless the winning action is DELETE) its rewritten version
      // to the append — rows of the same file no clause touches are
      // never rewritten
      val touched: Option[(DataFrame, DataFrame)] =
        if (affected.isEmpty) None
        else {
          val v = affected.map(d => readDirWithRowId(spark, cur, d)
              .withColumn(SnapshotTable.RowIdDirCol, lit(d)))
            .reduce(_ unionByName _)
          val joined = v.alias("__t").join(src, joinCond, "left_outer")
          val preds = clausePreds(matchedCol, matchedClauses.map(_.cond)) ++
            clausePreds(!matchedCol, notMatchedBySourceClauses.map(_.cond))
          val withPred = preds.zip(
            matchedClauses.map(_.action) ++ notMatchedBySourceClauses.map(_.action))
          withPred.foreach {
            case (_, Merge.Update(sets)) =>
              sets.keys.foreach(k => require(schemaCols.exists(_._1 == k),
                s"MERGE into $fullName assigns unknown column $k"))
            case _ => ()
          }
          val hit = joined.filter(withPred.map(_._1).reduce(_ || _))
          val positions = hit.select(
            col(s"__t.${SnapshotTable.RowIdFileCol}").as(SnapshotTable.RowIdFileCol),
            col(s"__t.${SnapshotTable.RowIdPosCol}").as(SnapshotTable.RowIdPosCol),
            col(s"__t.${SnapshotTable.RowIdDirCol}").as(SnapshotTable.RowIdDirCol))
          val deletePred = withPred.collect { case (p, Merge.Delete) => p }
            .reduceOption(_ || _).getOrElse(lit(false))
          val rewritten = hit.filter(!deletePred).select(schemaCols.map { case (n, t) =>
            val keep = col(s"__t.$n")
            val chain = withPred.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (p, action)) =>
                val value = action match {
                  case Merge.UpdateAll =>
                    if (source.columns.contains(n)) Some(col(s"__s.$n").cast(t)) else None
                  case Merge.Update(sets) => sets.get(n).map(_.cast(t))
                  case _ => None // Delete rows are already filtered out
                }
                value.map(v0 => acc.map(_.when(p, v0)).getOrElse(when(p, v0))).orElse(acc)
            }
            chain.map(_.otherwise(keep).as(n)).getOrElse(keep.as(n))
          }: _*)
          Some((positions, rewritten))
        }

      val inserts: Option[DataFrame] =
        if (notMatchedClauses.isEmpty) None
        else {
          val unmatched = source.alias("__s").join(
            tableKeys.alias("__t"), joinCond, "left_anti")
          val preds = clausePreds(lit(true), notMatchedClauses.map(_.cond))
          val withPred = preds.zip(notMatchedClauses.map(_.action))
          val applicable = unmatched.filter(withPred.map(_._1).reduce(_ || _))
          Some(applicable.select(schemaCols.map { case (n, t) =>
            val chain = withPred.map { case (p, action) =>
              val value = action match {
                case Merge.InsertAll =>
                  val fromKey = keys.find(_._1 == n).map(_._2)
                  val src0 = fromKey.orElse(Some(n).filter(source.columns.contains))
                  src0.map(sn => col(s"__s.$sn").cast(t)).getOrElse(lit(null).cast(t))
                case Merge.Insert(sets) =>
                  sets.get(n).map(_.cast(t)).getOrElse(lit(null).cast(t))
              }
              (p, value)
            }.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (p, v0)) => Some(acc.map(_.when(p, v0)).getOrElse(when(p, v0)))
            }
            chain.get.otherwise(lit(null).cast(t)).as(n)
          }: _*))
        }

      // write the (tiny) positions file first; the count and the dir
      // scope come from IT, so the probe join runs twice total
      // (positions write, rewritten-rows write) — never a third pass
      // over the table just to count
      val delInfo: Option[(String, Long, Seq[String])] = touched.flatMap {
        case (positions, _) =>
          val dd = newDir(prefix = "posdel-")
          positions.write.mode("overwrite").format(cur.format).save(dd)
          // one job over the (tiny) positions file yields BOTH the
          // removed count and the hit-dir set (formerly a count job
          // plus a distinct+collect job)
          val hits = SnapshotTable.loadDir(spark, cur.format, dd)
            .groupBy(col(SnapshotTable.RowIdDirCol)).count().collect()
          val removed = hits.map(_.getLong(1)).sum
          if (removed == 0L) {
            SnapshotTable.deleteTree(new File(dd)); None
          } else {
            val hit = hits.map(_.getString(0)).toSet
            Some((dd, removed, cur.dataDirs.filter(hit.contains)))
          }
      }
      // a merge that touches no row and inserts none is a NO-OP — a dir
      // can pass the key-level detection while every clause condition
      // fails on its rows, and committing would bloat history
      if (delInfo.isEmpty && inserts.forall(_.isEmpty)) return cur
      val newData = (touched.map(_._2).toSeq ++ inserts.toSeq)
        .reduce(_ unionByName _)
      // keep the table's partition layout on the appended dir (when the
      // partition columns are part of the schema) so pruning governs
      // the rewritten + inserted rows too
      val pcols = partitionColumns.filter(pc => schemaCols.exists(_._1 == pc))
      try
        return commit(newData, "merge", carryPrevious = true,
          partitionCols = pcols, sortCols = WriteSortOrder.sortCols(this),
          format = cur.format, numRetries = 0,
          expectedBase = Some(Some(cur.id)), summary = summary,
          posDelete = delInfo)
      catch {
        case e: CommitFailedException =>
          delInfo.foreach(d => SnapshotTable.deleteTree(new File(d._1)))
          if (attempt >= numRetries) throw e
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The table schema as (name, Spark DataType) at `snap` — from the
    * tracked snapshot schema, or one footer read for legacy tables.
    */
  private def snapshotSchema(
      spark: SparkSession, snap: Snapshot): Seq[(String, org.apache.spark.sql.types.DataType)] =
    if (snap.cols.nonEmpty)
      snap.cols.map(c => c.name -> org.apache.spark.sql.types.DataType.fromDDL(c.dataType))
    else readSnapshot(spark, snap.id).schema.fields.toSeq.map(f => f.name -> f.dataType)

  /** Data dirs of `snap` that LOGICALLY hold rows surviving `shape` —
    * ONE job over the union of per-dir views, each tagged with its dir
    * path as a literal (input_file_name cannot be used: the equality-
    * delete anti-join makes the plan multi-source). Each union branch
    * keeps its own pushed-down filter, so the range-stats rule dir-skips
    * non-overlapping branches before the job runs.
    */
  private def affectedDirs(
      spark: SparkSession, snap: Snapshot,
      shape: DataFrame => DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    // an empty table (TRUNCATE, empty overwrite) holds no affected dir
    // — and the union below would throw on an empty reduce
    if (snap.dataDirs.isEmpty) return Nil
    val tagged = snap.dataDirs
      .map(d => readDir(spark, snap, d).withColumn("__graft_dir", lit(d)))
      .reduce(_ unionByName _)
    val dirs = shape(tagged).select("__graft_dir").distinct()
      .collect().map(_.getString(0)).toSet
    // keep snapshot order (stable dir layout in metadata)
    snap.dataDirs.filter(dirs.contains)
  }

  /** Union of the LOGICAL per-dir views (masks, schema projection and
    * equality deletes applied) for a subset of `snap`'s dirs.
    */
  private def readDirsView(
      spark: SparkSession, snap: Snapshot, dirs: Seq[String]): DataFrame =
    dirs.map(readDir(spark, snap, _)).reduce(_ unionByName _)

  /** FILE-granular copy-on-write split — the Iceberg contract that a
    * row-level mutation touching a few rows of a huge dir must not
    * rewrite the whole dir. For each affected dir that is CLEAN (no
    * partition mask, no equality delete scoped to it — a mask/delete
    * carried at file granularity would resurrect its rows), ONE extra
    * column-pruned probe job (`input_file_name`, all clean dirs
    * unioned) finds which FILES physically hold rows `shape` touches.
    * Dirs where that is a strict subset split: only the affected
    * files' rows enter the returned rewrite view; sibling files CARRY
    * byte-identical into a fresh `snap-*-carry` dir as HARD links —
    * same inode, zero data I/O, and safe against the original dir's
    * later expiry (a symlink would dangle; an object-store port makes
    * this a manifest reference / server-side copy). The carry dir
    * inherits the original's columns sidecar (same physical files),
    * an exact rebuilt partition sidecar (from the original's per-file
    * entries), and the original's range-stats sidecar (bounds over a
    * superset — conservative, stats are never a correctness input).
    *
    * Returns (rewrite view over exactly the rows that must be
    * rewritten, carry dirs to add to the snapshot alongside the
    * rewrite). Cost: O(affected files) rewrite + O(carried files)
    * metadata, never O(dir).
    */
  private def splitForRewrite(
      spark: SparkSession, snap: Snapshot, affected: Seq[String],
      shape: DataFrame => DataFrame): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val dirCol = "__graft_probe_dir"
    val fileCol = "__graft_probe_file"
    val clean = affected.filter(d =>
      snap.maskedDirs.get(d).forall(_.isEmpty) &&
        !snap.deletes.exists(_.applies.contains(d)))
    val fileHits: Map[String, Set[String]] =
      if (clean.isEmpty) Map.empty
      else {
        val probe = clean.map { d =>
          val base = SnapshotTable.loadDir(spark, snap.format, d)
            .withColumn(dirCol, lit(d))
            .withColumn(fileCol, input_file_name())
          projectTo(base, snap.cols, dirColumnMapping(d, snap.cols),
            extra = Seq(col(dirCol), col(fileCol)))
        }.reduce(_ unionByName _)
        shape(probe).select(col(dirCol), col(fileCol)).distinct()
          .collect().map(r => (r.getString(0), r.getString(1)))
          .groupBy(_._1).map { case (d, fs) =>
            d -> fs.map(x => SnapshotTable.fileUriToPath(x._2)).toSet
          }
      }
    val parts = affected.map { d =>
      val hits = fileHits.getOrElse(d, Set.empty)
      val all = listDataFiles(new File(d)).map(_.getAbsolutePath)
      // split ONLY when every probed hit resolves to a listed file and
      // some file is untouched; any URI/walk disagreement falls back to
      // the whole-dir rewrite — misclassifying an affected file as
      // carried would silently lose its mutation
      if (hits.isEmpty || !hits.subsetOf(all.toSet) || all.forall(hits.contains))
        (readDir(spark, snap, d), None)
      else {
        val carried = all.filterNot(hits.contains)
        val carryDir = newDir(suffix = "-carry")
        val dBase = new File(d).toPath
        carried.foreach { f =>
          val src = Paths.get(f)
          val target = Paths.get(carryDir, dBase.relativize(src).toString)
          Files.createDirectories(target.getParent)
          try Files.createLink(target, src): Unit
          catch { case _: java.io.IOException => Files.copy(src, target): Unit }
        }
        // columns sidecar: identical physical files, identical mapping
        if (Files.exists(columnsSidecarPath(d)))
          Files.copy(columnsSidecarPath(d), columnsSidecarPath(carryDir),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        // partition sidecar rebuilt EXACTLY from the original's
        // per-file entries (rows stay known; a legacy dir without them
        // degrades to unknown, never to a wrong number)
        val carriedSet = carried.toSet
        val origEntries = readFilesSidecar(d).getOrElse(Nil)
          .filter(e => carriedSet.contains(e._1))
        val dirPartCols = readPartitionSidecar(d).map(_._1)
          .find(_.nonEmpty).map(_.split("/").toSeq.map(_.split("=", 2)(0)))
          .getOrElse(Nil)
        val rowsByPart: Map[String, Long] = origEntries.groupBy(_._2).map {
          case (p, es) => p -> (if (es.exists(_._4 < 0)) -1L else es.map(_._4).sum)
        }
        val carriedRows =
          if (origEntries.size == carried.size && origEntries.forall(_._4 >= 0))
            origEntries.map(_._4).sum
          else -1L
        val knownFileRows = origEntries.collect {
          case (path, _, _, rows) if rows >= 0 =>
            Paths.get(carryDir, dBase.relativize(Paths.get(path)).toString)
              .toFile.getAbsolutePath -> rows
        }.toMap
        writePartitionSidecar(carryDir, dirPartCols,
          if (dirPartCols.isEmpty) Map("" -> carriedRows) else rowsByPart,
          carriedRows, snap.format, knownFileRows)
        val ranges = Paths.get(d, graft.plans.RangeStats.SidecarName)
        if (Files.exists(ranges))
          Files.copy(ranges, Paths.get(carryDir, graft.plans.RangeStats.SidecarName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        // the rewrite reads ONLY the affected files; basePath keeps the
        // hive partition columns resolving exactly as a dir read would
        val hit = all.filter(hits.contains)
        val narrow = SnapshotTable.loadDirFiles(spark, snap.format, d, hit)
        (projectTo(narrow, snap.cols, dirColumnMapping(d, snap.cols)),
          Some(carryDir))
      }
    }
    (parts.map(_._1).reduce(_ unionByName _), parts.flatMap(_._2))
  }

  /** One copy-on-write commit attempt cycle: write `replacement` as a
    * new dir, then CAS a snapshot that drops `removedDirs` (and their
    * masks / delete scopes — the rewrite baked them in) and appends the
    * new dir. `newTotal` -2 means "recompute as rowCount - removedRows
    * + written rows". Returns Left(conflict) after cleaning up the
    * orphan dir so the caller can re-detect against the new head.
    */
  private def rewriteDirs(
      spark: SparkSession,
      base: Snapshot,
      removedDirs: Seq[String],
      replacement: DataFrame,
      op: String,
      newTotal: Long,
      attempt: Int,
      // BY-NAME: evaluated once, AFTER the rewrite write, and only when
      // the new total actually needs it — callers can hand an
      // Observation-backed count collected during the write itself
      // instead of paying a separate pre-write pass over affected dirs
      removedRows: => Long = 0L,
      // file-granular COW: already-realized carry dirs (hard-linked
      // sibling files of split dirs) that join the snapshot alongside
      // the rewrite; cleaned up with the data dir on a lost CAS
      carryDirs: Seq[String] = Nil): Either[CommitConflictException, Snapshot] = {
    val pCols = partitionColumns
    val dataDir = newDir()
    val clustered0 =
      if (pCols.nonEmpty)
        replacement.repartition(pCols.map(org.apache.spark.sql.functions.col): _*)
      else replacement
    // a declared write.sort.order holds through DML rewrites too: the
    // dirs an UPDATE/MERGE/delete-paydown touches must come back
    // internally sorted, or row-level mutation would quietly erode the
    // sorted-file contract (tight range stats, cheap merge consumers)
    val declaredSorts = WriteSortOrder.sortCols(this)
    val clustered =
      if (declaredSorts.nonEmpty) clustered0.sortWithinPartitions(declaredSorts: _*)
      else clustered0
    // same single-pass stats collection as [[commit]]: row count +
    // column ranges observed during the write, partition rows + bounds
    // from one column-pruned job
    val fields = clustered.schema.fields.toSeq
    val obs = org.apache.spark.sql.Observation(
      s"graft-stats-${java.util.UUID.randomUUID().toString.take(8)}")
    val statAggs = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("__rows") +:
      graft.plans.RangeStats.rangeAggs(fields)
    clustered.observe(obs, statAggs.head, statAggs.tail: _*)
      .write.mode("overwrite").format(base.format).save(dataDir)
    val metrics: Map[String, Any] =
      try obs.get catch { case scala.util.control.NonFatal(_) => Map.empty }
    val newRows = metrics.get("__rows") match {
      case Some(l: Long) => l
      case _ => SnapshotTable.loadDir(spark, base.format, dataDir).count()
    }
    val (rowsByPart, partBounds) = partitionJobStats(spark, dataDir, pCols, base.format)
    writePartitionSidecar(dataDir, pCols, rowsByPart, newRows, base.format)
    if (base.cols.nonEmpty)
      writeColumnsSidecar(dataDir, base.cols.map(c =>
        TableColumn(c.id, c.name, c.dataType)))
    try
      if (metrics.nonEmpty)
        graft.plans.RangeStats.writeEntries(dataDir, newRows,
          graft.plans.RangeStats.entriesFromMetrics(fields, metrics, partBounds))
      else graft.plans.RangeStats.writeSidecar(spark, dataDir, base.format, newRows)
    catch { case scala.util.control.NonFatal(_) => () }
    val total =
      if (newTotal == -2L) {
        if (base.rowCount < 0) -1L
        else {
          val rr = removedRows // by-name: force exactly once, post-write
          if (rr < 0) -1L else base.rowCount - rr + newRows
        }
      } else newTotal
    SnapshotTable.beforeSwapHook(this, attempt)
    SnapshotTable.commitLock(root).synchronized {
      val prev = snapshots
      val head = prev.filterNot(_.staged).lastOption
      if (head.map(_.id) != Some(base.id)) {
        SnapshotTable.deleteTree(new File(dataDir))
        carryDirs.foreach(c => SnapshotTable.deleteTree(new File(c)))
        Left(CommitConflictException(fullName, Some(base.id), head.map(_.id)))
      } else {
        val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
        val removed = removedDirs.toSet
        val keptDeletes = base.deletes
          .map(d => d.copy(applies = d.applies.filterNot(removed)))
          .filter(_.applies.nonEmpty)
        val snap = base.copy(
          id = id, committedAtMs = SnapshotTable.clockMs(), operation = op,
          dataDirs = base.dataDirs.filterNot(removed) ++ carryDirs :+ dataDir,
          rowCount = total,
          maskedDirs = base.maskedDirs -- removed,
          staged = false,
          summary = SnapshotTable.carriedSummary(base.summary),
          deletes = keptDeletes,
          parentId = Some(base.id))
        writeMetadata(prev :+ snap)
        Audit.log("table_write", fullName, Map(
          "operation" -> op, "snapshot_id" -> id.toString,
          "rewritten_dirs" -> removedDirs.size.toString))
        Right(snap)
      }
    }
  }

  /** Incremental read: the rows ADDED between snapshot `fromId`
    * (exclusive) and snapshot `toId` (inclusive) — the changelog
    * consumption path that lets a downstream job (feature refresh,
    * training-corpus delta ingest) process only what is new instead of
    * re-scanning the table. Implemented as set difference over the two
    * snapshots' data-directory lists, so the scan I/O is O(delta)
    * regardless of table size — append commits reference the previous
    * dirs plus one new dir, and only the new dirs are read (Iceberg's
    * incremental append scan has the same contract). Only meaningful
    * along an append lineage: an intervening overwrite drops the old
    * dirs, so the "delta" is that snapshot's full rewritten state.
    * A dynamic partition overwrite's delta is its new dir (the rows it
    * ADDED); the rows it masked out of carried dirs are deletions, which
    * an additive changelog does not carry.
    */
  def readIncremental(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    val all = snapshots
    def snap(id: Long): Snapshot = all.find(_.id == id).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot $id (available: ${all.map(_.id).mkString(", ")})"))
    require(fromId <= toId, s"fromId $fromId must be <= toId $toId")
    val from = snap(fromId).dataDirs.toSet
    val to = snap(toId)
    val delta = to.dataDirs.filterNot(from)
    if (delta.isEmpty)
      // the steady-state "no new data" case must still carry the TABLE
      // schema — a schema-less empty frame would crash downstream
      // consumers (select on named columns) instead of processing 0 rows
      to.dataDirs.headOption match {
        case Some(d) =>
          projectTo(SnapshotTable.loadDir(spark, to.format, d),
            to.cols, dirColumnMapping(d, to.cols)).limit(0)
        case None => emptyWithSchema(spark, to) // table has never held data
      }
    else
      // each delta dir projected to the TO snapshot's schema, so the
      // changelog consumer sees one stable shape across evolution
      delta.map(d => projectTo(SnapshotTable.loadDir(spark, to.format, d),
        to.cols, dirColumnMapping(d, to.cols))).reduce(_ unionByName _)
  }

  /** Batch CHANGELOG read (the Iceberg `table_changes` / Delta CDF
    * role): every row-level change across the published snapshots in
    * `(fromId, toId]`, as the table columns at the `to` schema plus
    * `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.
    * Step-by-step dir diff, so scan I/O is O(changed dirs), never
    * O(table):
    *
    *  - appended dirs -> 'insert' rows;
    *  - dropped dirs -> 'delete' rows AT THE PRIOR SNAPSHOT'S
    *    VISIBILITY (masks + equality deletes applied);
    *  - a dynamic overwrite's newly masked partitions -> 'delete' rows
    *    of exactly those partitions;
    *  - a new equality delete -> 'delete' rows = its keys semi-joined
    *    against the applicable dirs (the erased rows themselves, not
    *    just the keys);
    *  - copy-on-write rewrites (UPDATE/MERGE) surface as the rewritten
    *    dirs' deletes + the replacement dir's inserts — file-level
    *    granularity, exactly Iceberg's changelog contract for
    *    overwrites;
    *  - layout-only snapshots (compaction/z-order, operation
    *    'replace') emit NOTHING: the logical content is identical, and
    *    a changelog consumer must not see a full delete+reinsert of
    *    the table (Iceberg's changelog skips REPLACE the same way).
    */
  def readChangelog(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit, not}
    val all = snapshots
    def snap(id: Long): Snapshot = all.find(_.id == id).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no snapshot $id (available: ${all.map(_.id).mkString(", ")})"))
    require(fromId <= toId, s"fromId $fromId must be <= toId $toId")
    snap(fromId): Unit
    val to = snap(toId)
    val chain = all.filterNot(_.staged)
      .filter(s => s.id >= fromId && s.id <= toId).sortBy(_.id)

    def stamp(df: DataFrame, src: Snapshot, tpe: String, commitId: Long): DataFrame =
      alignToSchema(df, src.cols, to.cols)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(commitId))

    val parts: Seq[DataFrame] = chain.sliding(2).flatMap {
      case Seq(prev, cur) if cur.operation != "replace" =>
        val prevDirs = prev.dataDirs.toSet
        val curDirs = cur.dataDirs.toSet
        val inserts = cur.dataDirs.filterNot(prevDirs).map(d =>
          stamp(readDir(spark, cur, d), cur, "insert", cur.id))
        val dirDeletes = prev.dataDirs.filterNot(curDirs).map(d =>
          stamp(readDir(spark, prev, d), prev, "delete", cur.id))
        // a dynamic overwrite masks partitions of carried dirs instead
        // of dropping the dirs — the newly masked slices are deletes
        val maskDeletes = cur.maskedDirs.toSeq.sortBy(_._1).flatMap { case (d, curMask) =>
          if (!prevDirs.contains(d) || !curDirs.contains(d)) None
          else {
            val newly = curMask.filterNot(
              prev.maskedDirs.getOrElse(d, Seq.empty).toSet)
            if (newly.isEmpty) None
            else Some(stamp(
              readDir(spark, prev, d).filter(not(maskFilter(newly))), prev, "delete", cur.id))
          }
        }
        // new equality deletes: the erased ROWS (keys semi-joined over
        // the dirs the delete scopes to, at prior visibility)
        val prevDeleteDirs = prev.deletes.map(_.dir).toSet
        val keyDeletes = cur.deletes.filterNot(d => prevDeleteDirs.contains(d.dir))
          .flatMap { del =>
            val applicable = del.applies.filter(prevDirs.contains)
            // a POSITIONAL delete's "keys" are the physical row-identity
            // columns — they exist only on a row-id read; semi-join
            // there and drop the identity columns before stamping (the
            // changelog consumer sees table columns only). This also
            // makes a merge-on-read UPDATE/MERGE commit surface exactly
            // as Iceberg's changelog contract: erased old versions as
            // 'delete', the commit's new dir as 'insert'.
            val read: String => DataFrame =
              if (del.positional) readDirWithRowId(spark, prev, _)
              else readDir(spark, prev, _)
            applicable.map(read).reduceOption(_ unionByName _)
              .map { rows =>
                val keys = SnapshotTable.loadDir(spark, del.format.getOrElse(prev.format), del.dir)
                val erased = rows.join(broadcast(keys), del.keys, "left_semi")
                val cleaned =
                  if (del.positional)
                    erased.drop(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol)
                  else erased
                stamp(cleaned, prev, "delete", cur.id)
              }
          }
        inserts ++ dirDeletes ++ maskDeletes ++ keyDeletes
      case _ => Nil
    }.toSeq

    parts.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.functions.lit
      emptyWithSchema(spark, to)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_snapshot_id", lit(null).cast("long"))
        .limit(0)
    }
  }

  /** Changelog with UPDATE pairing (Delta CDF's `update_preimage` /
    * `update_postimage`; Iceberg's create_changelog_view "compute
    * updates"): within each commit, a delete row and an insert row
    * sharing the identifier key are two versions of ONE logical row —
    * re-stamped as an update pair instead of an unrelated
    * delete+insert. Keys default to the table's `identifier.fields`
    * property (Iceberg identifier fields, comma-separated). At most one
    * delete and one insert per (commit, key) — ambiguous multiplicity
    * raises an actionable error rather than pairing arbitrarily. Best
    * consumed over merge-on-read DML, whose commits erase exactly the
    * touched row versions; copy-on-write commits surface file-level
    * churn (carried rows pair as identity updates) — the artifact
    * Iceberg documents for COW changelogs too.
    *
    * Scale: one validation aggregate + one keyed window over the
    * changelog SLICE — O(changed rows), never O(table).
    */
  def readChangelogUpdates(spark: SparkSession, fromId: Long, toId: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keys =
      if (keyCols.nonEmpty) keyCols
      else properties.get("identifier.fields")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    require(keys.nonEmpty,
      s"readChangelogUpdates on $fullName needs identifier columns: pass " +
        "keyCols or set the 'identifier.fields' table property (Iceberg " +
        "identifier fields)")
    SnapshotTable.pairChangelogUpdates(
      readChangelog(spark, fromId, toId), keys, fullName)
  }

  /** MERGE evaluates its source several times — the cardinality check,
    * the broadcast dir probes, and the rewrite/append itself. A source
    * that is more than a simple deterministic scan is materialized ONCE
    * via a lazy local checkpoint (Delta's merge source materialization,
    * for the same two reasons): an expensive lineage would re-execute
    * per consumer, and a NON-DETERMINISTIC source could yield a delete
    * computed from one evaluation paired with an append from another —
    * silent corruption, not just waste. Simple scans (project/filter
    * over a leaf, all expressions deterministic) skip the checkpoint:
    * re-reading them is cheaper than materializing.
    */
  private def materializeSource(source: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def simple(p: LogicalPlan): Boolean = (p match {
      case _: LeafNode => true
      case Project(_, c) => simple(c)
      case Filter(_, c) => simple(c)
      case SubqueryAlias(_, c) => simple(c)
      case _ => false
    }) && p.expressions.forall(_.deterministic)
    if (simple(source.queryExecution.analyzed)) source
    else source.localCheckpoint(eager = false)
  }

  /** Align a frame already projected to `fromCols`' names onto the
    * TARGET snapshot schema, resolving renames by stable field id
    * (projectTo's contract, source side keyed by the from-snapshot's
    * names). Columns the target adds backfill null; dropped columns
    * disappear.
    */
  private def alignToSchema(
      df: DataFrame, fromCols: Seq[TableColumn], toCols: Seq[TableColumn]): DataFrame =
    if (toCols.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val present = df.columns.toSet
      df.select(toCols.map { tc =>
        val t = org.apache.spark.sql.types.DataType.fromDDL(tc.dataType)
        val srcName = fromCols.find(_.id == tc.id).map(_.name).filter(present.contains)
          .orElse(Some(tc.name).filter(present.contains)) // legacy: no tracked schema
        srcName match {
          case Some(n) =>
            val base = col(n)
            (if (df.schema(n).dataType == t) base else base.cast(t)).as(tc.name)
          case None => lit(null).cast(t).as(tc.name)
        }
      }: _*)
    }

  /** Full-refresh overwrite: write `df` as a brand-new snapshot. */
  def overwrite(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, sortCols, format, numRetries)

  /** CONDITIONAL full overwrite — a true compare-and-swap: the commit
    * lands only if the published head is still exactly `expectedHead`
    * (None = empty table) at swap time; any rival commit in between
    * fails it with [[CommitFailedException]] instead of blind-retrying
    * onto the moved head. This is the primitive for read-modify-write
    * callers (e.g. the quarantine drain) whose payload was COMPUTED
    * from `expectedHead`'s state: a blind retry would silently discard
    * whatever the rival wrote; the CAS forces the caller to recompute
    * from the new head.
    */
  def overwriteIf(df: DataFrame, expectedHead: Option[Long], partitionCols: Seq[String] = Nil, format: String = "parquet"): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, Nil, format,
      numRetries = 0, expectedBase = Some(expectedHead))

  /** Append: new snapshot = previous data dirs + newly written dir.
    * `micro = true` declares a streaming-microbatch-sized delta: the
    * commit trades the per-partition stats JOB for a driver footer walk
    * and skips partition-column range bounds (see [[commit]]'s micro
    * note) — per-trigger commit cost must stay O(small), or the sink
    * throughput is capped by commit machinery rather than data volume.
    */
  def append(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries, micro: Boolean = false, summary: Map[String, String] = Map.empty): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format, numRetries, micro = micro, summary = summary)

  /** Idempotent streaming append — the Iceberg exactly-once foreachBatch
    * contract: the (queryId, batchId) watermark rides in the snapshot
    * SUMMARY, written atomically with the commit itself, so a
    * re-delivered microbatch (Spark's foreachBatch is at-least-once —
    * a crash between the sink commit and the checkpoint advance replays
    * the batch on restart) is recognized and SKIPPED (`None`) instead
    * of double-appended. Skip rule is Iceberg's: `batchId <=` the max
    * batch id already committed for this query id. Spark delivers one
    * query's batches sequentially, so check-then-commit has no
    * concurrent same-batch race; rival writers (other queries, batch
    * jobs) go through the normal optimistic CAS.
    */
  def appendOnce(
      queryId: String, batchId: Long, df: DataFrame,
      partitionCols: Seq[String] = Nil,
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      format: String = "parquet",
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Option[Snapshot] =
    if (lastCommittedBatch(queryId).exists(_ >= batchId)) None
    else Some(commit(df, "append", carryPrevious = true, partitionCols, sortCols,
      format, numRetries, micro = true, summary = Map(
        SnapshotTable.SummaryQueryId -> queryId,
        SnapshotTable.SummaryBatchId -> batchId.toString,
        // the durable per-query watermark — carried forward by every
        // later head, so it survives compaction + expiry
        s"${SnapshotTable.SummaryBatchPrefix}$queryId" -> batchId.toString)))

  /** [[mergeClausesMor]] hardened against foreachBatch's at-least-once
    * delivery — the streaming CDC upsert commit. The (queryId, batchId)
    * watermark stamps into the merge's own snapshot summary atomically
    * with the rows, so a batch re-delivered after a crash between
    * commit and checkpoint advance is recognized and skipped (None).
    * A NO-OP batch commits nothing and stamps nothing — re-running a
    * no-op is idempotent by definition, so the watermark can lag
    * no-ops safely.
    */
  def mergeOnce(
      queryId: String, batchId: Long,
      source: DataFrame,
      keys: Seq[(String, String)],
      matchedClauses: Seq[Merge.WhenMatched],
      notMatchedClauses: Seq[Merge.WhenNotMatched],
      notMatchedBySourceClauses: Seq[Merge.WhenNotMatchedBySource] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Option[Snapshot] =
    if (lastCommittedBatch(queryId).exists(_ >= batchId)) None
    else Some(mergeClausesMor(source, keys, matchedClauses, notMatchedClauses,
      notMatchedBySourceClauses, numRetries, summary = Map(
        SnapshotTable.SummaryQueryId -> queryId,
        SnapshotTable.SummaryBatchId -> batchId.toString,
        s"${SnapshotTable.SummaryBatchPrefix}$queryId" -> batchId.toString)))

  /** Highest microbatch id committed by `queryId` — a pure metadata
    * read over the published snapshots' summaries (prefix-key unions
    * and legacy display pairs both count).
    */
  def lastCommittedBatch(queryId: String): Option[Long] =
    snapshots.filterNot(_.staged)
      .flatMap(s => SnapshotTable.watermarksOf(s).get(queryId))
      .maxOption

  /** Write-audit-publish, step 1 (Iceberg WAP): commit the batch as a
    * STAGED append — the data is fully written and snapshot-referenced,
    * but reads of the table do not see it. Audit the candidate state via
    * `readSnapshot(staged.id)` (e.g. with the Quality gate), then
    * [[publish]] to make it the table or [[discardStaged]] to drop it.
    * Bad data never transits through a published state.
    */
  def stageAppend(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format,
      numRetries, stageOnly = true)

  /** Staged full-refresh: the batch is written and snapshot-referenced
    * as an INVISIBLE overwrite — published state is untouched until
    * [[publish]] flips it (or [[discardStaged]] drops it). This is the
    * data half of atomic `REPLACE TABLE ... AS SELECT`
    * ([[graft.catalog.GraftStagedTable]]): a reader never observes the
    * half-written replacement, and an aborted one leaves the table
    * byte-identical. Operation records as "overwrite" (not "replace",
    * which the changelog skips as layout-only compaction): the dir-diff
    * correctly yields full delete+insert CDC rows for the swap.
    */
  def stageOverwrite(df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "overwrite", carryPrevious = false, partitionCols, sortCols, format,
      numRetries, stageOnly = true)

  /** Zero-copy import of existing data files (the Iceberg `add_files`
    * / `snapshot` migration role, reference data layer
    * `docs/deep-dive.md:49-72`): commit a snapshot that REFERENCES the
    * source's files in place — no row is read for the import itself and
    * no byte of data is copied. The commit materializes an owned
    * manifest directory of per-file symlinks under the table root (our
    * realization of Iceberg's manifest list: an immutable, owned
    * listing that points at foreign data), so every downstream
    * mechanism — reads, sidecar stats, `$files`, expiry — works
    * unchanged, and table maintenance can only ever delete the LINKS:
    * the source files are never owned and never touched by
    * `expireSnapshots` / `removeOrphanFiles` / `discardStaged`.
    *
    * Import-time costs are the same class as Iceberg's: one footer
    * walk for record counts (O(files), driver-side, page-cached) and
    * one column-pruned stats job for partitioned layouts. Schema
    * conformance is the normal append contract enforced at swap time
    * (same-name columns must match or promote losslessly; new columns
    * evolve in). Hive-style `col=value` path segments in the source
    * are preserved, so partition pruning governs imported dirs exactly
    * like written ones.
    */
  def addFiles(
      spark: SparkSession,
      sourcePath: String,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    val src = new File(sourcePath)
    require(src.exists,
      s"add_files to $fullName: source path $sourcePath does not exist")
    val srcCanon = src.getCanonicalPath
    val rootCanon = new File(root).getCanonicalPath
    require(srcCanon != rootCanon && !srcCanon.startsWith(rootCanon + File.separator),
      s"add_files to $fullName: source $sourcePath lies inside the table " +
        "root — those files are already table-managed (import would " +
        "double-reference them)")
    val format = currentSnapshot.map(_.format).getOrElse("parquet")
    require(format == "parquet",
      s"add_files to $fullName: zero-copy import supports parquet tables " +
        s"(table format is '$format'); rewrite via a normal append instead")
    val files: Seq[(File, String)] =
      if (src.isFile) Seq(src -> src.getName)
      else listDataFiles(src).map(f =>
        f -> src.toPath.relativize(f.toPath).toString)
    require(files.nonEmpty,
      s"add_files to $fullName: $sourcePath contains no data files")
    // partition layout carried by the source's own hive-style paths;
    // mixed layouts inside one import are a corrupt source, not a merge
    val layouts = files.map(_._2.split("/").dropRight(1)
      .filter(_.contains("=")).map(_.split("=", 2)(0)).toSeq).distinct
    require(layouts.size == 1,
      s"add_files to $fullName: source mixes partition layouts " +
        s"(${layouts.map(_.mkString("/")).mkString(" vs ")}); import each layout separately")
    val partCols = layouts.head
    // record counts from footers (no data rows read) via ONE
    // distributed job over the source file list — Iceberg's add_files
    // distributes manifest building the same way, so a million-file
    // onboarding costs O(files/parallelism) of page-cached metadata
    // I/O, never hours of single-threaded driver reads. An unreadable
    // footer fails the import whole — an importer must not commit a
    // snapshot whose rowCount it cannot state.
    val srcList: Seq[(String, String)] =
      files.map { case (f, rel) => (f.toPath.toAbsolutePath.toString, rel) }
    val slices = math.max(1, math.min(srcList.size,
      spark.sparkContext.defaultParallelism * 2))
    val relRows: Map[String, Long] =
      spark.sparkContext.parallelize(srcList, slices)
        .map { case (abs, rel) =>
          rel -> SnapshotTable.parquetRecordCount(new File(abs))
        }.collect().toMap
    relRows.find(_._2 < 0).foreach { case (rel, _) =>
      throw new IllegalArgumentException(
        s"add_files to $fullName: unreadable parquet footer in $sourcePath/$rel")
    }
    val newRows = relRows.values.sum
    val dataDir = newDir(suffix = "-added")
    // any failure — a stats error, a schema-conformance reject at swap
    // time, conflict-retry exhaustion — cleans up the manifest dir: an
    // aborted import must not leave an orphaned snap-*-added dir for
    // the (age-gated) orphan sweep to chase
    try {
      // the manifest LISTING file first (the Iceberg manifest-list
      // role): one entry per imported file with source path, relative
      // path and record count. This file — not the link tree — is the
      // portable design artifact: an object-store port, where symlinks
      // don't exist, realizes the import by reading this listing.
      Files.createDirectories(Paths.get(dataDir))
      val manifestJson = srcList.sortBy(_._2).map { case (abs, rel) =>
        s"""{"path":"${jsonEscape(abs)}","rel":"${jsonEscape(rel)}","rows":${relRows(rel)}}"""
      }.mkString("[", ",", "]")
      Files.write(Paths.get(dataDir, SnapshotTable.ImportManifestName),
        manifestJson.getBytes(StandardCharsets.UTF_8)): Unit
      // local-FS realization of the manifest: one symlink per imported
      // file (metadata-only syscalls — no data I/O), partition subdirs
      // recreated as real directories so relative structure (and with
      // it dir-name pruning) is preserved byte-for-byte and the
      // unchanged dir-based read path / sidecars / expiry all apply
      files.foreach { case (f, rel) =>
        val target = Paths.get(dataDir, rel)
        Files.createDirectories(target.getParent)
        Files.createSymbolicLink(target, f.toPath.toAbsolutePath): Unit
      }
      val perFileRows: Map[String, Long] = relRows.map { case (rel, n) =>
        Paths.get(dataDir, rel).toFile.getAbsolutePath -> n
      }
      // same stats sidecars a written commit gets: per-partition rows +
      // partition-column bounds from ONE column-pruned job (partitioned
      // sources only), column ranges from one stats pass — so stats-skip
      // and $partitions/$files treat imported dirs like any other
      val (rowsByPart, partBounds) =
        partitionJobStats(spark, dataDir, partCols, format)
      val rowsByPart1 =
        if (partCols.nonEmpty) rowsByPart
        else Map("" -> newRows)
      writePartitionSidecar(dataDir, partCols, rowsByPart1, newRows, format, perFileRows)
      try {
        val df = SnapshotTable.loadDir(spark, format, dataDir)
        val fields = df.schema.fields.toSeq
        val aggs = graft.plans.RangeStats.rangeAggs(fields)
        val row = df.agg(aggs.head, aggs.tail: _*).collect().head
        val metrics = row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
          n -> row.get(i)
        }.toMap[String, Any]
        graft.plans.RangeStats.writeEntries(dataDir, newRows,
          graft.plans.RangeStats.entriesFromMetrics(fields, metrics, partBounds))
      } catch { case scala.util.control.NonFatal(_) => () }
      val writeSchema: Seq[(String, String)] =
        SnapshotTable.loadDir(spark, format, dataDir)
          .schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
      var expectedParent = currentSnapshot.map(_.id)
      var attempt = 0
      while (true) {
        trySwap(expectedParent, dataDir, newRows, "append", carryPrevious = true,
          format, Nil, stageOnly = false, writeSchema, None,
          summary = Map(
            "added-files-source" -> srcCanon,
            "added-files" -> files.size.toString)) match {
          case Right(snap) =>
            Audit.log("table_write", fullName, Map(
              "operation" -> "add_files", "snapshot_id" -> snap.id.toString,
              "source" -> srcCanon, "files" -> files.size.toString))
            return snap
          case Left(conflict) =>
            if (attempt >= numRetries)
              throw CommitFailedException(fullName, attempt + 1, conflict)
            Thread.sleep(SnapshotTable.backoffMs(attempt))
            expectedParent = conflict.actualParent
            attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    } catch {
      case scala.util.control.NonFatal(e) =>
        SnapshotTable.deleteTree(new File(dataDir))
        throw e
    }
  }

  /** Write-audit-publish, step 3: make an audited staged snapshot the
    * table. O(1) metadata flip under the commit lock; conflicts (the
    * published head moved since staging) fail with
    * [[PublishConflictException]] instead of silently dropping the
    * rival's rows.
    */
  def publish(snapshotId: Long): Snapshot =
    SnapshotTable.commitLock(root).synchronized {
      val all = snapshots
      val snap = all.find(_.id == snapshotId).getOrElse(
        throw new NoSuchElementException(
          s"Table $fullName has no snapshot $snapshotId (available: ${all.map(_.id).mkString(", ")})"))
      require(snap.staged, s"snapshot $snapshotId of $fullName is already published")
      val head = all.filterNot(_.staged).lastOption
      // compare head IDS, not dirs: an equality delete or a rollback to a
      // same-dirs state advances the head WITHOUT changing dataDirs, and
      // flipping a snapshot staged before it would restate the stage-time
      // deletes/rowCount — silently undoing the delete. Legacy staged
      // metadata (no parent_id recorded) falls back to the dirs check.
      val conflicted = snap.parentId match {
        case Some(p) => head.map(_.id).getOrElse(0L) != p
        case None    => snap.dataDirs.dropRight(1) != head.map(_.dataDirs).getOrElse(Nil)
      }
      if (conflicted)
        throw PublishConflictException(fullName, snapshotId)
      // publish is the moment the data BECOMES the table: stamp a fresh
      // commit time (Iceberg's cherry-pick does the same), so timestamp
      // time travel for instants between stage and publish is stable —
      // readAsOf(t) answers from what was published at t, and a later
      // publish can never retroactively change a past answer
      val flipped = snap.copy(staged = false, committedAtMs = SnapshotTable.clockMs())
      writeMetadata((all.filterNot(_.id == snapshotId) :+ flipped).sortBy(_.id))
      Audit.log("table_write", fullName, Map(
        "operation" -> "publish", "snapshot_id" -> snapshotId.toString))
      flipped
    }

  /** Write-audit-publish, failed-audit path: drop a staged snapshot and
    * physically delete the data no surviving snapshot references.
    */
  def discardStaged(snapshotId: Long): Unit =
    SnapshotTable.commitLock(root).synchronized {
      val all = snapshots
      val snap = all.find(_.id == snapshotId).getOrElse(
        throw new NoSuchElementException(
          s"Table $fullName has no snapshot $snapshotId (available: ${all.map(_.id).mkString(", ")})"))
      require(snap.staged,
        s"snapshot $snapshotId of $fullName is published; use expireSnapshots for history")
      val kept = all.filterNot(_.id == snapshotId)
      writeMetadata(kept)
      val liveDirs = kept.flatMap(_.dataDirs).toSet
      snap.dataDirs.filterNot(liveDirs.contains).foreach(d => SnapshotTable.deleteTree(new File(d)))
      Audit.log("table_write", fullName, Map(
        "operation" -> "stage_discard", "snapshot_id" -> snapshotId.toString))
    }

  // ------------------------------------------------------------------
  // table properties (Iceberg table properties: free-form key/value
  // metadata — write config, retention policy, ownership — persisted
  // with the table, settable via SQL TBLPROPERTIES DDL)
  // ------------------------------------------------------------------

  private def propertiesPath = Paths.get(root, ".graft-properties.json")

  def properties: Map[String, String] =
    if (!Files.exists(propertiesPath)) Map.empty
    else {
      val json = new String(Files.readAllBytes(propertiesPath), StandardCharsets.UTF_8)
      MetadataJson.parse(json).asObj.map { case (k, v) => k -> v.asStr }
    }

  private def writeProperties(props: Map[String, String]): Unit = {
    val json = props.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    val tmp = Paths.get(root, s".graft-properties.json.tmp-${System.nanoTime()}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, propertiesPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Set (upsert) table properties — `ALTER TABLE ... SET TBLPROPERTIES`. */
  def setProperties(kv: Map[String, String]): Unit =
    SnapshotTable.commitLock(root).synchronized {
      require(kv.keys.forall(_.nonEmpty), "property keys must be non-empty")
      writeProperties(properties ++ kv)
      Audit.log("table_write", fullName, Map(
        "operation" -> "set_properties", "keys" -> kv.keys.toSeq.sorted.mkString(",")))
    }

  /** Remove table properties — `ALTER TABLE ... UNSET TBLPROPERTIES`.
    * Unknown keys are ignored (SQL UNSET ... IF EXISTS semantics; Spark
    * passes plain UNSET through the same path).
    */
  def unsetProperties(keys: Seq[String]): Unit =
    SnapshotTable.commitLock(root).synchronized {
      writeProperties(properties -- keys)
      Audit.log("table_write", fullName, Map(
        "operation" -> "unset_properties", "keys" -> keys.sorted.mkString(",")))
    }

  // ------------------------------------------------------------------
  // named refs: branches + tags (Iceberg table refs)
  // ------------------------------------------------------------------

  private def refsPath = Paths.get(root, "refs.json")

  /** All named refs. Absent file = no refs (tables predate the feature
    * or never branched); the published head is always implicitly "main"
    * and is never stored.
    */
  def refs: Seq[TableRef] =
    if (!Files.exists(refsPath)) Nil
    else {
      val json = new String(Files.readAllBytes(refsPath), StandardCharsets.UTF_8)
      MetadataJson.parse(json).asArr.map { v =>
        val o = v.asObj
        // retention fields are optional — refs written before the
        // feature carry none and parse as policy-free
        TableRef(o("name").asStr, o("type").asStr, o("snapshot_id").asLong,
          maxRefAgeMs = o.get("max_ref_age_ms").map(_.asLong),
          minSnapshotsToKeep = o.get("min_snapshots_to_keep").map(_.asLong.toInt),
          maxSnapshotAgeMs = o.get("max_snapshot_age_ms").map(_.asLong))
      }
    }

  private def writeRefs(rs: Seq[TableRef]): Unit = {
    val json = rs.map { r =>
      val retention =
        r.maxRefAgeMs.map(v => s""","max_ref_age_ms":$v""").getOrElse("") +
          r.minSnapshotsToKeep.map(v => s""","min_snapshots_to_keep":$v""").getOrElse("") +
          r.maxSnapshotAgeMs.map(v => s""","max_snapshot_age_ms":$v""").getOrElse("")
      s"""{"name":"${jsonEscape(r.name)}","type":"${r.kind}","snapshot_id":${r.snapshotId}$retention}"""
    }.mkString("[", ",", "]")
    val tmp = Paths.get(root, s".refs.json.tmp-${System.nanoTime()}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, refsPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def requireRef(name: String, kind: String): TableRef =
    refs.find(r => r.name == name && r.kind == kind).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no $kind '$name' " +
          s"(refs: ${refs.map(r => s"${r.name}[${r.kind}]").mkString(", ")})"))

  private def createRef(name: String, kind: String, at: Option[Long],
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): TableRef =
    SnapshotTable.commitLock(root).synchronized {
      require(name.nonEmpty && name != "main",
        s"ref name '$name' is reserved ('main' is the published head)")
      require(!refs.exists(_.name == name),
        s"Table $fullName already has a ref named '$name'; refs are " +
          "create-once — dropRef first to repoint")
      val all = snapshots
      val target = at match {
        case Some(id) => all.find(_.id == id).getOrElse(
          throw new NoSuchElementException(
            s"Table $fullName has no snapshot $id (available: ${all.map(_.id).mkString(", ")})"))
        case None => all.filterNot(_.staged).lastOption.getOrElse(
          throw new IllegalStateException(
            s"Table $fullName has no published snapshot to ref; write first"))
      }
      val r = TableRef(name, kind, target.id,
        maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs)
      writeRefs(refs :+ r)
      Audit.log("table_write", fullName, Map(
        "operation" -> s"create_$kind", "ref" -> name,
        "snapshot_id" -> target.id.toString))
      r
    }

  /** Create a branch at `at` (default: the published head). Branch
    * appends ([[appendToBranch]]) advance it without touching the
    * published table; [[fastForward]] publishes it. Optional per-ref
    * retention (Iceberg branch retention): see [[TableRef]].
    */
  def createBranch(name: String, at: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): TableRef =
    createRef(name, "branch", at, maxRefAgeMs, minSnapshotsToKeep, maxSnapshotAgeMs)

  /** Create an immutable tag at `at` (default: the published head).
    * The tagged snapshot — and its data — survives retention expiry
    * until the tag is dropped, or until the tag outlives its own
    * optional `maxRefAgeMs` (Iceberg tag retention).
    */
  def createTag(name: String, at: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): TableRef =
    createRef(name, "tag", at, maxRefAgeMs)

  /** Drop a branch or tag. Branch-only snapshots it pointed to stay in
    * metadata (staged, invisible) until retention expires them — same
    * lifecycle as an abandoned WAP stage.
    */
  def dropRef(name: String): Unit =
    SnapshotTable.commitLock(root).synchronized {
      require(refs.exists(_.name == name),
        s"Table $fullName has no ref '$name' " +
          s"(refs: ${refs.map(_.name).mkString(", ")})")
      writeRefs(refs.filterNot(_.name == name))
      Audit.log("table_write", fullName, Map("operation" -> "drop_ref", "ref" -> name))
    }

  /** Read the table as of a named ref (branch head or tag target) —
    * the `VERSION AS OF 'ref-name'` read path.
    */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    val r = refs.find(_.name == name).getOrElse(
      throw new NoSuchElementException(
        s"Table $fullName has no ref '$name' " +
          s"(refs: ${refs.map(_.name).mkString(", ")})"))
    readSnapshot(spark, r.snapshotId)
  }

  /** Append onto a BRANCH head: same optimistic-commit cycle as
    * [[append]], but the CAS base is the branch ref's target, the
    * committed snapshot stays invisible to published reads (staged,
    * like a WAP candidate), and the ref advances atomically with the
    * metadata swap. Concurrent branch writers conflict-and-retry
    * against the ref exactly as published writers do against the head.
    */
  def appendToBranch(branch: String, df: DataFrame, partitionCols: Seq[String] = Nil, sortCols: Seq[org.apache.spark.sql.Column] = Nil, format: String = "parquet", numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot =
    commit(df, "append", carryPrevious = true, partitionCols, sortCols, format,
      numRetries, branch = Some(branch))

  /** Publish a branch: if the published head is an ancestor of the
    * branch head (the branch holds ONLY commits made on top of the
    * current table), flip the branch-only snapshots to published —
    * O(branch-length) metadata, zero data movement (Iceberg's
    * `fast_forward`). A head that advanced past the branch base means
    * divergence: fail, so the rival's rows are never silently dropped;
    * re-branch from the new head (or cherry-pick) to resolve.
    */
  def fastForward(branch: String): Snapshot =
    SnapshotTable.commitLock(root).synchronized {
      val r = requireRef(branch, "branch")
      val all = snapshots
      val mainHeadId = all.filterNot(_.staged).lastOption.map(_.id).getOrElse(0L)
      if (r.snapshotId == mainHeadId)
        return all.find(_.id == mainHeadId).getOrElse(
          throw new IllegalStateException(s"Table $fullName has no published snapshot"))
      var chain = List.empty[Snapshot]
      var curId = r.snapshotId
      while (curId != mainHeadId) {
        val s = all.find(_.id == curId).getOrElse(
          throw new IllegalStateException(
            s"branch '$branch' of $fullName references missing snapshot $curId"))
        if (!s.staged)
          // walked onto a published snapshot that is NOT the head: the
          // head moved past the branch base — divergent, not fast-forwardable
          throw PublishConflictException(fullName, r.snapshotId)
        chain ::= s
        curId = s.parentId.getOrElse(0L)
        if (curId == 0L && mainHeadId != 0L)
          throw PublishConflictException(fullName, r.snapshotId)
      }
      // same restamp rule as publish(): this is the moment the branch
      // data BECOMES the table, so timestamp time travel stays stable
      val now = SnapshotTable.clockMs()
      val flipped = chain.map(_.id).toSet
      writeMetadata(all.map(s =>
        if (flipped(s.id)) s.copy(staged = false, committedAtMs = now) else s))
      Audit.log("table_write", fullName, Map(
        "operation" -> "fast_forward", "ref" -> branch,
        "snapshot_id" -> r.snapshotId.toString,
        "published_count" -> chain.size.toString))
      snapshots.find(_.id == r.snapshotId).get
    }

  /** Cherry-pick: apply ONE append-shaped snapshot's delta onto the
    * published head as a new commit (Iceberg's `cherrypick_snapshot`).
    * This is the WAP resolution path [[publish]] refuses: when the head
    * advanced after staging, the staged snapshot's parent is stale, but
    * its DELTA (the dirs it added over its parent) is still appendable.
    * Only structurally append-shaped snapshots qualify — the target
    * must carry its parent's dirs unchanged (no masks added, no deletes
    * added, no dirs dropped); anything else (overwrite, delete, dynamic
    * overwrite) has semantics relative to its parent's state that do
    * not transplant.
    */
  def cherryPick(snapshotId: Long): Snapshot =
    SnapshotTable.commitLock(root).synchronized {
      val all = snapshots
      val snap = all.find(_.id == snapshotId).getOrElse(
        throw new NoSuchElementException(
          s"Table $fullName has no snapshot $snapshotId (available: ${all.map(_.id).mkString(", ")})"))
      val parent = snap.parentId.flatMap(p => all.find(_.id == p)).getOrElse(
        throw new IllegalStateException(
          s"cherry-pick of $snapshotId: parent snapshot " +
            s"${snap.parentId.getOrElse("<none>")} not found (expired?)"))
      val parentDirs = parent.dataDirs.toSet
      val deltaDirs = snap.dataDirs.filterNot(parentDirs)
      require(parent.dataDirs.forall(snap.dataDirs.contains) &&
        snap.deletes == parent.deletes && snap.maskedDirs == parent.maskedDirs,
        s"cherry-pick of $snapshotId (${snap.operation}): only append-shaped " +
          "snapshots transplant — the target must carry its parent's dirs, " +
          "masks and deletes unchanged")
      val head = all.filterNot(_.staged).lastOption.getOrElse(
        throw new IllegalStateException(s"Table $fullName has no published snapshot"))
      require(head.format == snap.format || deltaDirs.isEmpty,
        s"cherry-pick of $snapshotId: delta format '${snap.format}' differs " +
          s"from table format '${head.format}'")
      val deltaRows =
        if (snap.rowCount < 0 || parent.rowCount < 0) -1L
        else snap.rowCount - parent.rowCount
      val total =
        if (head.rowCount < 0 || deltaRows < 0) -1L else head.rowCount + deltaRows
      val id = all.map(_.id).max + 1
      // the picked delta's durable watermarks merge into the new head
      // (max per query — a watermark never regresses); the head's own
      // display pair is stripped, as on every head-copying commit
      val mergedWatermarks =
        (SnapshotTable.watermarksOf(head).toSeq ++ SnapshotTable.watermarksOf(snap).toSeq)
          .groupMapReduce(_._1)(_._2)(math.max)
          .map { case (q, b) => s"${SnapshotTable.SummaryBatchPrefix}$q" -> b.toString }
      val picked = head.copy(
        id = id, committedAtMs = SnapshotTable.clockMs(),
        operation = "cherry_pick",
        dataDirs = head.dataDirs ++ deltaDirs,
        rowCount = total,
        staged = false,
        summary = SnapshotTable.carriedSummary(head.summary) ++ mergedWatermarks,
        parentId = Some(head.id))
      writeMetadata(all :+ picked)
      Audit.log("table_write", fullName, Map(
        "operation" -> "cherry_pick", "snapshot_id" -> id.toString,
        "source_snapshot_id" -> snapshotId.toString,
        "delta_dirs" -> deltaDirs.size.toString))
      picked
    }

  /** Dynamic partition overwrite — Iceberg's `overwrite` with
    * partition-level replacement (Spark's
    * `partitionOverwriteMode=dynamic` semantics): exactly the partitions
    * PRESENT in `df` are replaced; everything else is untouched. The
    * batch is written as one new dir (O(delta), like an append) and the
    * replaced partitions are recorded as masks on every carried dir —
    * a pure metadata operation, no rewrite of existing data. Reads prune
    * the masked directories at planning; [[compact]] physically drops
    * them (it rewrites the masked view), and that is the mask GC.
    *
    * This is the restatement primitive a 100 TB pipeline needs: "day X
    * was re-delivered, swap it" must cost O(day), never O(table).
    */
  def overwritePartitions(
      df: DataFrame,
      partitionCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      format: String = "parquet",
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    require(partitionCols.nonEmpty,
      "dynamic partition overwrite requires declared partition columns " +
        "(an unpartitioned table has no partitions to replace — use overwrite)")
    commit(df, "overwrite_partitions", carryPrevious = true, partitionCols,
      sortCols, format, numRetries, dynamicReplace = true)
  }

  /** Small-file compaction — the Iceberg `rewrite_data_files` bin-pack
    * action. Appends accumulate one directory (with its own small files)
    * per commit; at 100 TB that degrades scans (per-file open/footer cost,
    * tiny row groups defeat the vectorized reader). Compaction rewrites
    * the CURRENT snapshot's rows into ~`targetFileBytes` output files and
    * commits the result as a new `replace` snapshot: same rows, fresh
    * physical layout. It goes through the same optimistic CAS as any
    * commit, so a concurrent append conflicts rather than being silently
    * dropped; history is preserved (pre-compaction snapshots stay
    * time-travelable until expiry, and expiry then reclaims the
    * small-file dirs).
    *
    * Scale notes: for unpartitioned tables the rewrite is SHUFFLE-FREE —
    * `coalesce(n)` packs existing input splits into n writer tasks
    * (bin-packing concatenates; it never needs a cluster-wide exchange).
    * For partitioned tables the commit path's existing
    * repartition-by-partition-value clustering applies, which is the
    * exchange that guarantees O(1) files per partition directory.
    */
  def compact(
      spark: SparkSession,
      targetFileBytes: Long = SnapshotTable.DefaultTargetFileBytes,
      partitionCols: Seq[String] = Nil,
      numRetries: Int = SnapshotTable.DefaultCommitRetries,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil): Snapshot = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val snap = requireCurrent
    // derive the partition layout from the table itself when the caller
    // does not re-declare it: compacting a partitioned table must not
    // silently rewrite it as one unpartitioned dir (rows would survive
    // but partition pruning — the layout's whole point — would be lost).
    // A table with a DECLARED transform spec compacts under the CURRENT
    // spec, re-deriving every directory column from its source — this
    // is what migrates old partition epochs into the evolved layout
    // (Iceberg's rewrite_data_files after updateSpec does the same);
    // physical layouts without a declaration keep their established
    // columns.
    val declared = DeclaredPartitionSpec.read(root)
    val pCols =
      if (partitionCols.nonEmpty) partitionCols
      else if (declared.nonEmpty) declared.map(DeclaredPartitionSpec.derivedName)
      else partitionColumns
    val nOut = math.max(1L, (dataBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df0 = read(spark)
    val df =
      if (partitionCols.isEmpty && declared.nonEmpty)
        declared.map(TableSink.transformColumn).foldLeft(df0) {
          case (d, (nm, c)) => d.withColumn(nm, c)
        }
      else df0
    // clustered rewrite (Iceberg sort/zorder strategy): range-partition on
    // the cluster key so each output file covers a contiguous key range —
    // with a z-value key (functions.ZOrder) that is a compact region in
    // EVERY clustered dimension, the layout that makes file/row-group
    // stat skipping work for predicates on any of them. One range
    // exchange, the price of re-clustering; plain bin-packing stays
    // shuffle-free via coalesce.
    val packed =
      if (clusterBy.nonEmpty) df.repartitionByRange(nOut, clusterBy: _*)
      else if (pCols.nonEmpty) df
      else df.coalesce(nOut)
    // a declared write.sort.order governs ANY rewrite of the table's
    // files: compaction must not undo the sorted-file contract (tight
    // range stats, cheap merge consumers) the property promises. An
    // explicit clusterBy wins — the caller asked for that layout.
    val sorts =
      if (clusterBy.nonEmpty) clusterBy else WriteSortOrder.sortCols(this)
    commit(packed, "replace", carryPrevious = false, pCols,
      sorts, snap.format, numRetries)
  }

  /** Pay down merge-on-read debt WITHOUT a full compaction — the
    * Iceberg `rewrite_position_deletes`-shaped maintenance action for
    * this engine's equality deletes: rewrite ONLY the dirs some delete
    * file applies to (deletes and masks baked in), drop the delete
    * entries, and carry every untouched dir forward as-is. Reads then
    * stop paying the per-scan anti-join on those dirs. Cost is
    * O(delete-scoped dirs), never O(table) — on a 100 TB table with a
    * few GDPR deletes this rewrites the handful of old dirs the keys
    * landed in, where [[compact]] would rewrite everything.
    */
  def rewriteDeletes(
      spark: SparkSession,
      numRetries: Int = SnapshotTable.DefaultCommitRetries): Snapshot = {
    var attempt = 0
    while (true) {
      val cur = requireCurrent
      val affected = cur.deletes.flatMap(_.applies).distinct
        .filter(cur.dataDirs.contains)
      if (affected.isEmpty) return cur // no-op: nothing to pay down
      // the logical view of exactly those dirs (deletes + masks applied)
      val view = readDirsView(spark, cur, affected)
      rewriteDirs(spark, cur, affected, view, "rewrite_deletes",
        newTotal = cur.rowCount, attempt = attempt) match {
        case Right(snap) => return snap
        case Left(conflict) =>
          if (attempt >= numRetries)
            throw CommitFailedException(fullName, attempt + 1, conflict)
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Partition columns of the current snapshot's physical layout,
    * UNIONED across every referenced dir's stats sidecar (pure metadata
    * — sidecars are tiny JSON). The union, not just the newest dir,
    * matters: an append written without re-declaring partitionCols
    * produces one flat dir, and deriving the layout from it alone would
    * make compact silently flatten the table and let rename/drop bypass
    * the partition-column guards while older dirs' paths and masks still
    * key by the name. Nil for unpartitioned tables.
    */
  def partitionColumns: Seq[String] =
    currentSnapshot.toSeq.flatMap(_.dataDirs)
      .flatMap(d => readPartitionSidecar(d).map(_._1).find(_.nonEmpty))
      .flatMap(_.split("/").toSeq.map(_.split("=", 2)(0)))
      .distinct

  /** Data files referenced by the current snapshot (hidden/marker files
    * excluded) — the signal compaction exists to shrink.
    */
  def dataFileCount: Long =
    currentSnapshot.map(_.dataDirs.map(d => listDataFiles(new File(d)).size.toLong).sum)
      .getOrElse(0L)

  /** Total bytes of data files referenced by the current snapshot (pure
    * filesystem metadata — no data read).
    */
  def dataBytes: Long =
    currentSnapshot.map(_.dataDirs.map(d => listDataFiles(new File(d)).map(_.length).sum).sum)
      .getOrElse(0L)

  private def listDataFiles(dir: File): Seq[File] = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
    children.filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .flatMap(f => if (f.isDirectory) listDataFiles(f) else Seq(f))
  }

  /** Per-partition stats of the CURRENT snapshot — the Iceberg
    * `$partitions` metadata table (file count + row count per partition,
    * reference surfaces the same via Athena metadata queries,
    * `aws/modules/athena/main.tf:56-67`). A PURE metadata read: each
    * commit wrote a stats sidecar beside its (immutable) data dir, so the
    * listing merges O(dirs × partitions) tiny JSON files and never opens
    * a data file — the result is a driver-local frame, same bound as
    * Iceberg materializing $partitions from manifests. `row_count` is -1
    * when any contributing dir predates the sidecar (unknown stays
    * unknown rather than inventing a number).
    */
  def partitionStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    snap.dataDirs.foreach { d =>
      val masked = snap.maskedDirs.getOrElse(d, Nil).toSet
      // a dynamic overwrite's masked partitions are logically absent
      // from this dir — their stats must not count
      readPartitionSidecar(d).filterNot(e => masked.contains(e._1)).foreach {
        case (p, f, r) =>
          val (f0, r0) = merged.getOrElse(p, (0L, 0L))
          merged(p) = (f0 + f, if (r0 < 0 || r < 0) -1L else r0 + r)
      }
    }
    import spark.implicits._
    merged.toSeq.sortBy(_._1).map { case (p, (f, r)) => (p, f, r) }
      .toDF("partition_path", "file_count", "row_count")
  }

  /** Per-FILE listing of the current snapshot (the Iceberg `$files`
    * metadata-table role): path, owning data dir, partition rel-path,
    * size in bytes, record count. A PURE metadata read: every commit
    * wrote a per-file sidecar beside its (immutable) data dir — the
    * Iceberg manifest-entry role — so serving `$files` merges tiny JSON
    * sidecars and opens ZERO data files or parquet footers, the same
    * bound as `$partitions`. At 100 TB (millions of files) that is the
    * difference between a metadata query and minutes of single-threaded
    * driver footer I/O. Dirs written before the file sidecar existed
    * fall back to a walk + footer read, per dir. Files of
    * dynamically-masked partitions are excluded: physically present but
    * logically replaced, exactly like Iceberg's dead files awaiting
    * orphan cleanup.
    */
  def fileStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val rows = readManifest(snap.id).getOrElse(
      snap.dataDirs.flatMap(dirFileEntries(snap, _)))
    import spark.implicits._
    rows.toDF("file_path", "data_dir", "partition_path", "size_bytes", "record_count")
  }

  /** Manifest listing of the current snapshot (the Iceberg `$manifests`
    * metadata-table role). The engine's manifest analog is the per-dir
    * files sidecar (one immutable JSON beside each immutable data dir),
    * so `$manifests` lists one row per data dir of the current
    * snapshot: sidecar path, owning dir, the snapshot that first
    * introduced the dir (`added_snapshot_id` — dirs are immutable, so
    * first appearance IS the add), whether the current snapshot added
    * it, and the dir's live file/row totals (masked partitions
    * excluded). Pure metadata: snapshot JSON + tiny sidecars, zero data
    * or footer I/O — same bound as `$files`/`$partitions`.
    */
  /** dir -> the PUBLISHED snapshot that first listed it (dirs are
    * immutable, so first appearance IS the add) — the lineage rule
    * `$manifests` and `$entries` share.
    */
  private def dirAddedSnapshotIds: Map[String, Long] =
    snapshots.filterNot(_.staged)
      .flatMap(s => s.dataDirs.map(_ -> s.id))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).min }

  def manifestStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val firstSeen = dirAddedSnapshotIds
    import spark.implicits._
    snap.dataDirs.map { d =>
      val entries = dirFileEntries(snap, d)
      val rows = entries.map(_._5)
      val addedId = firstSeen.getOrElse(d, snap.id)
      (filesSidecarPath(d).toString, d, addedId, addedId == snap.id,
        entries.size.toLong,
        if (rows.exists(_ < 0)) -1L else rows.sum)
    }.toDF("manifest_path", "data_dir", "added_snapshot_id",
      "added_by_current", "file_count", "row_count")
  }

  /** Manifest-entry listing of the current snapshot (the Iceberg
    * `$entries` metadata-table role): one row per data file with its
    * lifecycle status against the current commit — 1 = ADDED (its dir
    * first appears in the current snapshot), 0 = EXISTING (carried from
    * an earlier commit; `snapshot_id` is the adding commit), 2 = DELETED
    * (the file's dir was live in the parent snapshot and the current
    * commit removed it; `snapshot_id` is the removing commit — the
    * audit row Iceberg keeps so a reader can see what a commit
    * retired). Pure metadata: snapshot JSON + per-dir sidecars, zero
    * data or footer I/O at any table size.
    */
  def entryStats(spark: SparkSession): DataFrame = {
    val snap = requireCurrent
    val firstSeen = dirAddedSnapshotIds
    val live = snap.dataDirs.flatMap { d =>
      val addedId = firstSeen.getOrElse(d, snap.id)
      dirFileEntries(snap, d).map { case (path, dir, part, bytes, rows) =>
        (if (addedId == snap.id) 1 else 0, addedId, path, dir, part, bytes, rows)
      }
    }
    val removed = snap.parentId.filter(_ != 0L)
      .flatMap(pid => snapshots.find(_.id == pid)).toSeq
      .flatMap { p =>
        p.dataDirs.filterNot(snap.dataDirs.contains).flatMap { d =>
          dirFileEntries(p, d).map { case (path, dir, part, bytes, rows) =>
            (2, snap.id, path, dir, part, bytes, rows)
          }
        }
      }
    import spark.implicits._
    (live ++ removed).toDF("status", "snapshot_id", "file_path", "data_dir",
      "partition_path", "size_bytes", "record_count")
  }

  /** One dir's $files entries (sidecar-served; legacy dirs fall back to
    * a walk + footer read), masked partitions excluded.
    */
  private def dirFileEntries(
      snap: Snapshot, d: String): Seq[(String, String, String, Long, Long)] = {
    val masked = snap.maskedDirs.getOrElse(d, Nil).toSet
    readFilesSidecar(d) match {
      case Some(entries) =>
        entries.filterNot(e => masked.contains(e._2))
          .map { case (path, p, bytes, rows) => (path, d, p, bytes, rows) }
      case None =>
        val base = new File(d)
        listDataFiles(base)
          .map { f =>
            val partition = unescapePath(base.toPath.relativize(f.toPath.getParent).toString)
            (f, partition)
          }
          .filterNot { case (_, p) => masked.contains(p) }
          .map { case (f, partition) =>
            val records =
              if (snap.format == "parquet") SnapshotTable.parquetRecordCount(f) else -1L
            (f.getAbsolutePath, d, partition, f.length(), records)
          }
    }
  }

  private def manifestFilePath(snapshotId: Long) =
    Paths.get(root, s"manifest-$snapshotId.json")

  /** Consolidated manifest for exactly this snapshot id, if one was
    * rewritten: the whole $files listing in ONE metadata open instead
    * of one sidecar per dir. Paths are stored root-relative (the
    * object-store-portable form).
    */
  private def readManifest(snapshotId: Long): Option[Seq[(String, String, String, Long, Long)]] = {
    val p = manifestFilePath(snapshotId)
    // read-then-catch, not exists-then-read: rewriteManifests deletes
    // stale manifests under the commit lock, which readers don't take —
    // a concurrent lister that loses that race falls back to the
    // per-dir sidecars instead of surfacing NoSuchFileException
    val json =
      try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => return None }
    SnapshotTable.manifestReads.inc(root)
    Some(MetadataJson.parse(json).asArr.map { v =>
      val o = v.asObj
      val dir = Paths.get(root, o("dir").asStr).toString
      (new File(dir, o("file").asStr).getAbsolutePath,
        dir, o("partition").asStr, o("bytes").asLong, o("rows").asLong)
    })
  }

  /** Iceberg's `rewrite_manifests`: consolidate the per-dir file
    * sidecars of the CURRENT snapshot into one root-level manifest
    * listing, so a $files query on a 10,000-commit table opens ONE
    * metadata file instead of one per dir — at object-store latency,
    * the difference between a metadata query and 10,000 sequential
    * GETs. Pure metadata (the data layout is untouched); keyed by
    * snapshot id, so any later commit naturally bypasses it (falls back
    * to per-dir sidecars) until the next rewrite; stale manifests of
    * earlier snapshots are dropped with the write. Returns
    * (data_dirs, data_files) consolidated.
    */
  def rewriteManifests(): (Int, Int) =
    SnapshotTable.commitLock(root).synchronized {
      val snap = requireCurrent
      val entries = snap.dataDirs.flatMap(dirFileEntries(snap, _))
      // absolute on both sides: dirFileEntries returns absolute FILE
      // paths, and relativize throws on mixed absolute/relative inputs
      // (a relative warehouse root is legal)
      val rootPath = Paths.get(root).toAbsolutePath
      val json = entries.map { case (abs, d, part, bytes, rows) =>
        val dirPath = Paths.get(d).toAbsolutePath
        val relDir = rootPath.relativize(dirPath).toString
        val relFile = dirPath.relativize(Paths.get(abs)).toString
        s"""{"dir":"${jsonEscape(relDir)}","file":"${jsonEscape(relFile)}",""" +
          s""""partition":"${jsonEscape(part)}","bytes":$bytes,"rows":$rows}"""
      }.mkString("[", ",", "]")
      val tmp = Paths.get(root, s".manifest.json.tmp-${System.nanoTime()}")
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifestFilePath(snap.id),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
      Option(new File(root).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".json") &&
          f.getName != s"manifest-${snap.id}.json")
        .foreach(f => f.delete(): Unit)
      Audit.log("table_write", fullName, Map(
        "operation" -> "rewrite_manifests",
        "data_dirs" -> snap.dataDirs.size.toString,
        "data_files" -> entries.size.toString))
      (snap.dataDirs.size, entries.size)
    }

  /** Roll the table back to an earlier snapshot's state (Iceberg
    * `rollback_to_snapshot`) — the bad-load undo: a NEW snapshot is
    * committed that references the target's exact state (dirs, masks,
    * deletes, row count), so the rollback is itself history (auditable,
    * time-travelable, re-rollbackable) and costs zero data I/O. The bad
    * snapshots stay readable by id until expiry reclaims them.
    */
  def rollback(snapshotId: Long): Snapshot =
    SnapshotTable.commitLock(root).synchronized {
      val all = snapshots
      val target = all.find(_.id == snapshotId).getOrElse(
        throw new NoSuchElementException(
          s"Table $fullName has no snapshot $snapshotId (available: ${all.map(_.id).mkString(", ")})"))
      require(!target.staged,
        s"snapshot $snapshotId of $fullName is staged; publish or discard it instead")
      val id = all.map(_.id).maxOption.getOrElse(0L) + 1
      // parent = the rollback TARGET, not the abandoned head: the new
      // snapshot's STATE derives from the target, and the $history
      // parent chain (is_current_ancestor) must mark the bad lineage
      // abandoned — exactly what Iceberg's rollback does by repointing
      val snap = target.copy(
        id = id, committedAtMs = SnapshotTable.clockMs(),
        operation = "rollback",
        summary = SnapshotTable.carriedSummary(target.summary),
        parentId = Some(snapshotId))
      writeMetadata(all :+ snap)
      Audit.log("table_write", fullName, Map(
        "operation" -> "rollback", "snapshot_id" -> id.toString,
        "target_snapshot_id" -> snapshotId.toString))
      snap
    }

  /** Drop snapshots older than `olderThanMs` (never the current one) and
    * delete data directories no surviving snapshot references.
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Seq[Long] =
    // same lock as commit(): maintenance must not interleave with an
    // in-flight append's read-modify-write of the metadata pointer
    SnapshotTable.commitLock(root).synchronized { expireLocked(olderThanMs, retainLast) }

  private def expireLocked(olderThanMs: Long, retainLast: Int = 1): Seq[Long] = {
    val all = snapshots
    if (all.isEmpty) return Nil
    // never expire the published head; aged STAGED snapshots do expire
    // (an audit abandoned past the retention window is dead weight) —
    // UNLESS a named ref pins them: tag targets and branch heads (and
    // their data) survive until the ref is dropped, Iceberg's
    // ref-retention contract. Targets alone suffice: snapshots are
    // self-contained, no ancestor chain is needed to read one.
    val now = SnapshotTable.clockMs()
    // per-ref retention, pass 1: a ref older than its own max-ref-age-ms
    // expires WITH this maintenance run (Iceberg's max-ref-age-ms; age =
    // now − committedAt of the ref's CURRENT target, so advancing a
    // branch refreshes its age). Its target then competes for survival
    // like any unprotected snapshot.
    val (agedOut, liveRefs) = refs.partition(r =>
      r.maxRefAgeMs.exists(maxAge =>
        all.find(_.id == r.snapshotId).exists(s => now - s.committedAtMs > maxAge)))
    if (agedOut.nonEmpty) {
      writeRefs(liveRefs)
      agedOut.foreach(r => Audit.log("table_write", fullName, Map(
        "operation" -> "expire_ref", "ref" -> r.name, "kind" -> r.kind)))
    }
    val currentOpt = all.filterNot(_.staged).lastOption
    // per-ref retention, pass 2: a branch with min-snapshots-to-keep /
    // max-snapshot-age-ms protects that many (or that young) a prefix of
    // its STAGED ancestor chain — the history only the branch can see,
    // which the table-level arguments cannot reason about. Published
    // ancestors stay governed by olderThanMs/retainLast (the walk stops
    // at the first published snapshot), and the head itself is already
    // protected as the ref target.
    val chainProtected: Set[Long] = liveRefs
      .filter(r => r.kind == "branch" &&
        (r.minSnapshotsToKeep.isDefined || r.maxSnapshotAgeMs.isDefined))
      .flatMap { r =>
        val chain = scala.collection.mutable.ListBuffer.empty[Snapshot]
        var curId: Option[Long] = Some(r.snapshotId)
        var walking = true
        while (walking && curId.isDefined) {
          all.find(_.id == curId.get) match {
            case Some(s) if s.staged || chain.isEmpty =>
              chain += s; curId = s.parentId
            case _ => walking = false
          }
        }
        val minKeep = r.minSnapshotsToKeep.getOrElse(1)
        chain.zipWithIndex.collect {
          case (s, i) if i < minKeep ||
            r.maxSnapshotAgeMs.exists(a => now - s.committedAtMs <= a) => s.id
        }
      }.toSet
    val refIds = liveRefs.map(_.snapshotId).toSet ++ chainProtected
    // retain_last (Iceberg expire_snapshots): the newest N PUBLISHED
    // snapshots survive regardless of age — a rollback window is a
    // count guarantee, not an age guarantee, under bursty commit rates
    val retained = all.filterNot(_.staged).takeRight(math.max(1, retainLast))
      .map(_.id).toSet
    val (expired, kept0) =
      all.filterNot(currentOpt.contains)
        .partition(s => s.committedAtMs < olderThanMs && !refIds.contains(s.id) &&
          !retained.contains(s.id))
    val kept = (kept0 ++ currentOpt).sortBy(_.id)
    val liveDirs = kept.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir)).toSet
    if (expired.nonEmpty) {
      writeMetadata(kept)
      expired.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir))
        .distinct.filterNot(liveDirs.contains).foreach { d =>
          SnapshotTable.deleteTree(new File(d))
        }
    }
    sweepOrphans(liveDirs, olderThanMs): Unit
    expired.map(_.id)
  }

  /** Delete snap-* dirs no snapshot references — the residue of a commit
    * whose process died between data write and swap (the in-process
    * retry-exhaustion path already cleans up after itself). An in-flight
    * commit's dir is written OUTSIDE the commit lock, so recency is the
    * only signal distinguishing "being committed right now" from
    * "abandoned" — and the sweep cutoff is therefore clamped to the
    * fixed [[SnapshotTable.orphanSafetyAgeMs]], independent of the
    * snapshot-expiry cutoff: expireSnapshots(now) is a legal
    * retain-only-current call, and sweeping at that cutoff would delete
    * a concurrent commit's freshly written dir in its write-to-swap
    * window (the commit then succeeds referencing deleted data). Table
    * formats decouple orphan-file age from snapshot expiry for exactly
    * this reason.
    */
  private def sweepOrphans(liveDirs: Set[String], olderThanMs: Long): Seq[String] = {
    val cutoff = math.min(
      olderThanMs, System.currentTimeMillis() - SnapshotTable.orphanSafetyAgeMs)
    val rootFile = new File(root)
    val dead = Option(rootFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .filterNot(f => liveDirs.contains(f.getPath) || liveDirs.contains(f.getAbsolutePath))
      .filter(_.lastModified() < cutoff)
    dead.foreach(SnapshotTable.deleteTree)
    dead.map(_.getPath).toSeq
  }

  /** Remove data directories no snapshot (published OR staged)
    * references — the residue of commits whose process died between
    * data write and metadata swap (Iceberg's `remove_orphan_files`
    * action, exposed standalone so storage hygiene does not have to
    * ride along with snapshot expiry). The same recency clamp as
    * [[sweepOrphans]] applies: a dir younger than the safety age is
    * never touched, because an in-flight commit's dir is written
    * OUTSIDE the commit lock and recency is the only signal separating
    * "being committed right now" from "abandoned". Returns the removed
    * dir paths. O(#dirs) filesystem metadata — no data is read.
    */
  def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis()): Seq[String] =
    SnapshotTable.commitLock(root).synchronized {
      val live = snapshots.flatMap(s => s.dataDirs ++ s.deletes.map(_.dir)).toSet
      val removed = sweepOrphans(live, olderThanMs)
      if (removed.nonEmpty)
        Audit.log("table_write", fullName, Map(
          "operation" -> "remove_orphan_files",
          "removed_dirs" -> removed.size.toString))
      removed
    }

  private def requireCurrent: Snapshot = currentSnapshot.getOrElse(
    throw new RuntimeException(
      s"Table $fullName is not registered in the warehouse. " +
        "Create it first (Pipeline.ensureTable / DDL) before reading or writing - " +
        "the equivalent of the reference's 'run terraform apply' remediation."))

  /** Optimistic commit protocol, mirroring Iceberg's (reference:
    * per-table `commit_num_retries`, `table-templates/_schema.json:109-111`;
    * bounded exponential backoff as in the catalog-connect retry,
    * `dagster/lakehouse/resources/iceberg.py:46`):
    *
    *  1. read the table's current snapshot id (the commit BASE) — no lock;
    *  2. write the data directory ONCE, to a unique immutable path — the
    *     expensive O(delta) step runs unserialized, so concurrent writers
    *     overlap on the cluster instead of queueing;
    *  3. swap the metadata pointer under the per-table lock IF the base
    *     is still current; a concurrent commit in the window makes the
    *     swap fail, and only the O(1) swap is retried against the
    *     refreshed base — never the data write;
    *  4. after `numRetries` conflicts, raise CommitFailedException.
    *
    * Readers always see a consistent table (the pointer swap is atomic).
    * Cross-PROCESS writers would additionally need the compare-and-swap
    * to live in a real catalog; parquet-mode scopes it to the JVM.
    */
  private def commit(
      df: DataFrame,
      op: String,
      carryPrevious: Boolean,
      partitionCols: Seq[String],
      sortCols: Seq[org.apache.spark.sql.Column],
      format: String,
      numRetries: Int,
      dynamicReplace: Boolean = false,
      stageOnly: Boolean = false,
      branch: Option[String] = None,
      summary: Map[String, String] = Map.empty,
      micro: Boolean = false,
      // Some(head) pins the commit base for CAS semantics (overwriteIf):
      // the caller computed its payload FROM that head, so pair it with
      // numRetries = 0 — a conflict must surface, not blind-retry
      expectedBase: Option[Option[Long]] = None,
      // (delete-file dir, rows it removes, dirs it scopes to): a
      // POSITIONAL delete riding the same snapshot as the data write —
      // the merge-on-read UPDATE/MERGE shape (delete old positions +
      // append new rows, one atomic commit). The scope is the matched
      // files' dirs only; callers must pair this with expectedBase CAS
      // pinning (the positions were probed against exactly that head).
      posDelete: Option[(String, Long, Seq[String])] = None): Snapshot = {
    // dispatch per the template vocabulary (parquet|orc|avro,
    // `table-templates/_schema.json:100-103`). avro is served by
    // graft.source.GraftAvroFileFormat (avro-core-backed; this
    // distribution ships avro-1.12.1 but not the spark-avro module).
    require(SnapshotTable.SupportedFormats.contains(format),
      s"Unknown write_format '$format' for $fullName " +
        s"(supported: ${SnapshotTable.SupportedFormats.mkString(", ")})")
    // the commit BASE: the caller's CAS pin when given, else the branch
    // ref's target for branch appends, else the published head
    val base = expectedBase.getOrElse(branch match {
      case Some(b) => Some(requireRef(b, "branch").snapshotId)
      case None => currentSnapshot.map(_.id)
    })
    // unique dir per attempt: the final snapshot id is unknown until the
    // swap wins, and two optimistic writers must never share a path
    val dataDir = newDir()
    // cluster rows per the declared write.distribution-mode before a
    // partitioned write (default hash-by-partition-key: without it every
    // task writes a file into every partition directory — tasks x
    // partitions small files, the classic explosion; `range` spreads hot
    // partition values over balanced tasks instead; `none` trusts the
    // caller's layout). See WriteDistribution.
    val clustered = WriteDistribution.cluster(this, df, partitionCols, sortCols)
    val sorted = if (sortCols.nonEmpty) clustered.sortWithinPartitions(sortCols: _*) else clustered
    // Row count + column range stats ride along with the WRITE itself
    // (Dataset.observe → CollectMetrics inside the write job): min/max/
    // null per column and the row count are aggregated by the write
    // tasks, so neither a footer-count pass nor a stats re-read pass
    // over the fresh dir exists. (Iceberg collects the same stats inside
    // its writers; observe is the Spark-native equivalent.)
    val fields = sorted.schema.fields.toSeq
    val obs = org.apache.spark.sql.Observation(
      s"graft-stats-${java.util.UUID.randomUUID().toString.take(8)}")
    val statAggs = org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("__rows") +:
      graft.plans.RangeStats.rangeAggs(fields)
    // operative parquet bloom filters (Iceberg's
    // `write.parquet.bloom-filter-enabled.column.<col>` table property):
    // declared per-column filters are written into every parquet file's
    // footer, so point lookups on high-cardinality non-sort columns
    // skip row groups the min/max stats can't rule out. Properties are
    // a tiny sidecar read; unknown columns are simply ignored by the
    // parquet writer (declaring a filter never breaks a write).
    val bloomOpts: Map[String, String] =
      if (format != "parquet") Map.empty
      else properties.collect {
        case (k, v) if k.startsWith(SnapshotTable.BloomEnabledPrefix) =>
          s"parquet.bloom.filter.enabled#${k.stripPrefix(SnapshotTable.BloomEnabledPrefix)}" -> v
        case (k, v) if k.startsWith(SnapshotTable.BloomNdvPrefix) =>
          s"parquet.bloom.filter.expected.ndv#${k.stripPrefix(SnapshotTable.BloomNdvPrefix)}" -> v
      }
    val writer = sorted.observe(obs, statAggs.head, statAggs.tail: _*)
      .write.mode("overwrite").format(format).options(bloomOpts)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .save(dataDir)
    val metrics: Map[String, Any] =
      try obs.get catch { case scala.util.control.NonFatal(_) => Map.empty }
    // row count of the NEW dir, recorded into snapshot metadata so
    // history listings never rescan data. Normally free (observed during
    // the write); the fallback footer count is O(files), not O(rows).
    // Computed once, outside the swap loop: the dir is immutable across
    // retries.
    val filesWritten = listDataFiles(new File(dataDir)).nonEmpty
    val newRows =
      if (!filesWritten) 0L
      else metrics.get("__rows") match {
        case Some(l: Long) => l
        case _ => SnapshotTable.loadDir(df.sparkSession, format, dataDir).count()
      }
    // an EMPTY batch (zero rows — whether it wrote nothing at all or a
    // handful of 0-row part files, which some plans emit) commits
    // METADATA-ONLY: the dir is never referenced (a file-less dir would
    // fail schema inference on later reads; 0-row files are dead weight)
    // and the stats jobs are skipped, but the commit itself still
    // happens, so carried state and the SUMMARY advance exactly like a
    // non-empty append (the streaming exactly-once watermark must move
    // on empty microbatches too, or a replay after one would
    // double-deliver). TRUNCATE TABLE rides this same path.
    val wroteFiles = filesWritten && newRows > 0L
    // per-partition stats sidecar (the manifest-stats role): file counts
    // from a directory walk; for partitioned tables ONE column-pruned
    // job yields both the per-partition row counts and the partition
    // columns' bounds in read-back type space — O(delta) like the write
    // itself, never O(table), and reading no data columns.
    // A MICRO commit (streaming microbatch) must not pay a whole extra
    // Spark job for a delta of a few files: per-partition row counts
    // come from a driver-side footer walk of the just-written dir
    // (O(files-in-batch) page-cached metadata reads, no job), and the
    // partition columns' range bounds are skipped — partition pruning
    // still governs those dirs by NAME, and the next compaction rewrites
    // them with full stats. Exactly Iceberg's streaming profile: thin
    // commit-time manifests, enriched by maintenance.
    val (rowsByPart, partBounds, microFileRows) =
      if (!wroteFiles)
        (Map.empty[String, Long], Map.empty[String, graft.plans.RangeStats.ColRange],
          Map.empty[String, Long])
      else if (micro && format == "parquet" && partitionCols.nonEmpty) {
        val (byPart, byFile) = microPartitionRows(dataDir)
        (byPart, Map.empty[String, graft.plans.RangeStats.ColRange], byFile)
      } else {
        val (byPart, bounds) = partitionJobStats(df.sparkSession, dataDir, partitionCols, format)
        (byPart, bounds, Map.empty[String, Long])
      }
    if (wroteFiles)
      writePartitionSidecar(dataDir, partitionCols, rowsByPart, newRows, format,
        microFileRows)
    // column range sidecar (the Iceberg manifest min/max role), consumed
    // by the stats-skip optimizer rule to drop non-overlapping dirs at
    // planning. Stats are an optimization, never a correctness input — a
    // collection failure must not fail the commit (the dir simply stays
    // unskippable).
    try
      if (!wroteFiles) ()
      else if (metrics.nonEmpty) {
        val entries =
          graft.plans.RangeStats.entriesFromMetrics(fields, metrics, partBounds)
        // a micro commit collected no read-back-typed partition bounds;
        // the observe metrics hold them in WRITTEN type space, which can
        // disagree with the inferred read-back type and prune unsoundly
        // — record NO entry (absent = unknown = never skipped) instead
        val sound =
          if (micro && partitionCols.nonEmpty)
            entries.filterNot(e => partitionCols.contains(e._1))
          else entries
        graft.plans.RangeStats.writeEntries(dataDir, newRows, sound)
      } else graft.plans.RangeStats.writeSidecar(df.sparkSession, dataDir, format, newRows)
    catch { case scala.util.control.NonFatal(_) => () }
    // partitions the batch REPLACES = the partitions it wrote (dynamic
    // overwrite semantics); read once from the just-written sidecar
    val replaced: Seq[String] =
      if (dynamicReplace && wroteFiles)
        readPartitionSidecar(dataDir).map(_._1).filter(_.nonEmpty)
      else Nil

    // the written schema (name -> DDL type), the input to field-id
    // resolution at swap time (the head may change across retries)
    val writeSchema: Seq[(String, String)] =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql)

    var expectedParent = base
    var attempt = 0
    while (true) {
      SnapshotTable.beforeSwapHook(this, attempt)
      trySwap(expectedParent, dataDir, newRows, op, carryPrevious, format, replaced,
        stageOnly, writeSchema, branch, summary, emptyWrite = !wroteFiles,
        posDelete = posDelete) match {
        case Right(snap) =>
          // the file-less dir of an empty batch is not referenced by the
          // snapshot — remove it rather than leaving _SUCCESS litter
          if (!wroteFiles) SnapshotTable.deleteTree(new File(dataDir))
          Audit.log("table_write", fullName, Map(
            "operation" -> op, "snapshot_id" -> snap.id.toString,
            "attempts" -> (attempt + 1).toString))
          return snap
        case Left(conflict) =>
          if (attempt >= numRetries) {
            // the data dir was written but will never be referenced by any
            // snapshot — delete it now, or every exhausted commit would
            // permanently orphan a snapshot-sized directory on disk
            SnapshotTable.deleteTree(new File(dataDir))
            throw CommitFailedException(fullName, attempt + 1, conflict)
          }
          Thread.sleep(SnapshotTable.backoffMs(attempt))
          expectedParent = conflict.actualParent
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One compare-and-swap attempt: inside the per-table lock, verify the
    * base snapshot is still current, then append the new snapshot to the
    * metadata. Append carry-forward and format compatibility are resolved
    * against the CURRENT state (a retried append carries the concurrent
    * writer's data forward — Iceberg's fast-append semantics).
    */
  private def trySwap(
      expectedParent: Option[Long],
      dataDir: String,
      newRows: Long,
      op: String,
      carryPrevious: Boolean,
      format: String,
      replaced: Seq[String],
      stageOnly: Boolean,
      writeSchema: Seq[(String, String)],
      branch: Option[String] = None,
      summary: Map[String, String] = Map.empty,
      emptyWrite: Boolean = false,
      posDelete: Option[(String, Long, Seq[String])] = None): Either[CommitConflictException, Snapshot] =
    SnapshotTable.commitLock(root).synchronized {
      val prev = snapshots
      // commits CAS against (and carry from) the PUBLISHED head: staged
      // snapshots are invisible to the table and must not parent rivals.
      // Branch appends CAS against (and carry from) the branch ref's
      // target instead — concurrent branch writers conflict on the REF.
      val head = branch match {
        case Some(b) =>
          val r = requireRef(b, "branch")
          Some(prev.find(_.id == r.snapshotId).getOrElse(
            throw new IllegalStateException(
              s"branch '$b' of $fullName references missing snapshot ${r.snapshotId}")))
        case None => prev.filterNot(_.staged).lastOption
      }
      val actualParent = head.map(_.id)
      if (actualParent != expectedParent)
        Left(CommitConflictException(fullName, expectedParent, actualParent))
      else {
        head.filter(_.dataDirs.nonEmpty).foreach { last =>
          if (carryPrevious)
            require(last.format == format,
              s"Append format '$format' differs from table format '${last.format}' for " +
                s"$fullName; carried snapshot dirs must stay one format")
        }
        val carryForward =
          if (carryPrevious) head.map(_.dataDirs).getOrElse(Nil) else Nil
        val prevMasks =
          if (carryPrevious) head.map(_.maskedDirs).getOrElse(Map.empty)
          else Map.empty[String, Seq[String]]
        // a plain append carries masks forward untouched; a dynamic
        // overwrite additionally masks the replaced partitions on every
        // carried dir (resolved against the CURRENT state, like the dirs)
        val masks =
          if (replaced.isEmpty) prevMasks
          else carryForward.map { d =>
            d -> (prevMasks.getOrElse(d, Nil) ++ replaced).distinct
          }.toMap
        // carried total resolves against the CURRENT state (a retried
        // append counts the rival's rows too); an unknown (-1) carried
        // count stays unknown rather than inventing a number. A dynamic
        // overwrite subtracts the newly masked rows, resolved from the
        // carried dirs' stats sidecars (pure metadata).
        val carriedRows =
          if (carryPrevious) head.map(_.rowCount).getOrElse(0L) else 0L
        val carriedDeletes0 =
          if (carryPrevious) head.map(_.deletes).getOrElse(Nil) else Nil
        val removedRows: Long =
          if (replaced.isEmpty || carriedRows < 0) 0L
          else {
            val perDir = carryForward.map { d =>
              val already = prevMasks.getOrElse(d, Nil).toSet
              val newMask = replaced.filterNot(already)
              if (newMask.isEmpty) 0L
              // sidecar counts are commit-time PHYSICAL counts; rows an
              // equality delete later removed are still in them, and the
              // carried total was already restated after the delete —
              // subtracting the raw sidecar count would double-count
              // those rows. Unknown beats understated (the $snapshots
              // listing and volume sensor consume this number).
              else if (carriedDeletes0.exists(_.applies.contains(d))) -1L
              else {
                val byPart = readPartitionSidecar(d).map(e => e._1 -> e._3).toMap
                val rows = newMask.map(p => byPart.getOrElse(p, 0L))
                if (rows.exists(_ < 0)) -1L else rows.sum
              }
            }
            if (perDir.exists(_ < 0)) -1L else perDir.sum
          }
        val posRemoved = posDelete.map(_._2).getOrElse(0L)
        val total =
          if (carriedRows < 0 || removedRows < 0 || posRemoved < 0) -1L
          else carriedRows - removedRows - posRemoved + newRows
        val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
        // schema continuity (Iceberg field ids): columns resolve ids by
        // NAME against the head; genuinely new columns draw fresh ids
        // from the never-reused watermark. An append MERGES the head
        // schema with the batch's (new columns evolve in, columns the
        // batch omits stay — old dirs backfill null either way) and
        // REQUIRES same-name batch columns to conform to the table type
        // (equal, or an Iceberg-legal narrower type that upcasts
        // losslessly on read — int into a promoted long column); a wider
        // batch is rejected (promote the column first via
        // updateColumnType, or the read path would silently truncate).
        // An overwrite/replace adopts the batch's schema outright, ids
        // kept stable for surviving names.
        val headCols = head.map(_.cols).getOrElse(Nil)
        val watermark0 = (Seq(head.map(_.lastColumnId).getOrElse(0)) ++
          prev.flatMap(_.cols.map(_.id))).max
        var nextId = watermark0
        val byName = headCols.map(c => c.name -> c).toMap
        val dfCols: Seq[TableColumn] = writeSchema.map { case (n, t) =>
          byName.get(n) match {
            case Some(c) if carryPrevious =>
              val batchT = org.apache.spark.sql.types.DataType.fromDDL(t)
              val colT = org.apache.spark.sql.types.DataType.fromDDL(c.dataType)
              require(batchT == colT || SnapshotTable.isSafePromotion(batchT, colT),
                s"append to $fullName: column $n is ${c.dataType} but the batch " +
                  s"writes $t — a lossy read-time cast; widen the column first " +
                  "(updateColumnType) or conform the batch")
              TableColumn(c.id, n, c.dataType)
            case Some(c) =>
              // overwrite adopts the batch's type; the id survives by name
              TableColumn(c.id, n, t)
            case None => nextId += 1; TableColumn(nextId, n, t)
          }
        }
        val cols =
          if (!carryPrevious || headCols.isEmpty) dfCols
          else headCols ++ dfCols.filterNot(c => byName.contains(c.name))
        // the dir's sidecar records what was PHYSICALLY written: the
        // batch's columns (and the batch's TYPES — which can lag the
        // table type after a promotion) under the ids just resolved.
        // An empty write references no dir, so there is none to annotate.
        if (!emptyWrite)
          writeColumnsSidecar(dataDir,
            dfCols.zip(writeSchema).map { case (c, (_, t)) => TableColumn(c.id, c.name, t) })
        // deletes carry forward with their dirs: dropping one on append
        // would resurrect erased rows. The new dir is NOT in any delete's
        // applies set — appended data is out of the deletes' scope (a
        // riding positional delete scopes to the HEAD's dirs only, so a
        // merge-on-read UPDATE's own re-inserted rows survive it).
        val snap = Snapshot(id, SnapshotTable.clockMs(), op,
          if (emptyWrite) carryForward else carryForward :+ dataDir, format, total, masks,
          // branch commits stay invisible to published reads until
          // fastForward flips them — the same mechanism as a WAP stage
          staged = stageOnly || branch.isDefined,
          deletes = carriedDeletes0 ++ posDelete.map { case (delDir, _, scope) =>
            EqualityDelete(delDir,
              Seq(SnapshotTable.RowIdFileCol, SnapshotTable.RowIdPosCol),
              applies = scope.filter(
                head.map(_.dataDirs).getOrElse(Nil).contains), Some(format),
              positional = true)
          },
          parentId = Some(actualParent.getOrElse(0L)),
          cols = cols,
          lastColumnId = math.max(watermark0, nextId),
          // every new head carries the UNION of its parent's per-query
          // streaming watermarks (as durable prefix keys) under this
          // commit's own annotations — so compaction and expiry can
          // collapse history to one snapshot without ever regressing
          // the exactly-once guarantee. Per-query max wins on conflict.
          summary = {
            val inherited = head.map(SnapshotTable.watermarksOf).getOrElse(Map.empty)
            val ownMarks = SnapshotTable.watermarksOf(
              Snapshot(0L, 0L, "probe", Nil, summary = summary))
            val merged = (inherited.keySet ++ ownMarks.keySet).map { q =>
              s"${SnapshotTable.SummaryBatchPrefix}$q" ->
                math.max(inherited.getOrElse(q, Long.MinValue),
                  ownMarks.getOrElse(q, Long.MinValue)).toString
            }.toMap
            summary ++ merged
          })
        writeMetadata(prev :+ snap)
        // advance the branch ref atomically with the metadata swap
        // (same lock): readers of the ref see old-head-or-new-head,
        // never a dangling intermediate
        branch.foreach { b =>
          writeRefs(refs.map(r =>
            if (r.name == b && r.kind == "branch") r.copy(snapshotId = id) else r))
        }
        Right(snap)
      }
    }

  /** Partition-spec EVOLUTION (Iceberg `updateSpec().commit()`):
    * metadata-only — the new transforms govern FUTURE writes; dirs
    * written under the old layout keep it and reads prune each epoch
    * with its own transforms (the hidden-partitioning rule checks
    * per-dir applicability). [[compact]] rewrites old epochs into the
    * current layout when the owner chooses. At 100 TB this is the only
    * viable contract: re-partitioning a table eagerly would be a full
    * rewrite of everything.
    */
  def updatePartitionSpec(spec: Seq[graft.template.PartitionField]): Unit =
    SnapshotTable.commitLock(root).synchronized {
      requireCurrent: Unit
      val old = DeclaredPartitionSpec.read(root)
      DeclaredPartitionSpec.evolve(root, spec)
      Audit.log("table_write", fullName, Map(
        "operation" -> "update_partition_spec",
        "old_spec" -> old.map(p => s"${p.transform}(${p.column})").mkString(","),
        "new_spec" -> spec.map(p => s"${p.transform}(${p.column})").mkString(",")))
    }

  // ------------------------------------------------------------------
  // schema evolution (Iceberg metadata-only add / rename / drop)
  // ------------------------------------------------------------------

  /** Table schema at the published head (field id, name, DDL type).
    * Nil for a legacy table that predates schema tracking.
    */
  def schema: Seq[TableColumn] = requireCurrent.cols

  /** Register an EMPTY table with a declared schema (the DDL
    * `CREATE TABLE` primitive): one metadata-only snapshot with field
    * ids 1..n and no data dirs. Reads return zero rows with the
    * declared schema; the first write commits on top, resolving its
    * column ids by name against this schema.
    */
  def create(colsDdl: Seq[(String, String)], format: String = "parquet"): Snapshot = {
    require(colsDdl.nonEmpty, s"cannot create $fullName with no columns")
    colsDdl.foreach { case (_, t) =>
      org.apache.spark.sql.types.DataType.fromDDL(t): Unit // validate early
    }
    SnapshotTable.commitLock(root).synchronized {
      // staged-only metadata (crash debris of an aborted atomic CTAS, or
      // a rival CTAS still in flight) is not a visible table — CREATE
      // wins by publishing first; the in-flight rival's own commit then
      // detects the foreign published state and fails its CTAS
      val prev = snapshots
      require(prev.forall(_.staged), s"table $fullName already exists")
      val id = prev.map(_.id).maxOption.getOrElse(0L) + 1
      val cols = colsDdl.zipWithIndex.map { case ((n, t), i) => TableColumn(i + 1, n, t) }
      val snap = Snapshot(id, SnapshotTable.clockMs(), "create", Nil, format,
        rowCount = 0L, parentId = Some(0L), cols = cols, lastColumnId = cols.size)
      writeMetadata(prev :+ snap)
      Audit.log("table_write", fullName, Map(
        "operation" -> "create", "snapshot_id" -> id.toString))
      snap
    }
  }

  /** Add a column as a METADATA-ONLY commit: no data file is touched,
    * existing rows read back null in the new column (Iceberg
    * `ALTER TABLE ADD COLUMN` semantics). The id is fresh — never
    * recycled — per the last-column-id watermark.
    */
  def addColumn(spark: SparkSession, name: String, dataTypeDdl: String): Snapshot = {
    org.apache.spark.sql.types.DataType.fromDDL(dataTypeDdl) // validate early
    schemaCommit(spark) { (cols, nextId) =>
      require(!cols.exists(_.name == name),
        s"column $name already exists on $fullName")
      cols :+ TableColumn(nextId, name, dataTypeDdl)
    }
  }

  /** Rename a column, metadata-only: the field id is stable, so every
    * existing dir keeps serving its physical column under the new name.
    * Rejected for physical partition columns (their directory paths and
    * masks carry the name) and for key columns of active equality
    * deletes (delete files store key NAMES; compact first).
    */
  def renameColumn(spark: SparkSession, from: String, to: String): Snapshot =
    schemaCommit(spark) { (cols, _) =>
      require(cols.exists(_.name == from), s"no column $from on $fullName")
      require(!cols.exists(_.name == to),
        s"column $to already exists on $fullName")
      require(!partitionColumns.contains(from),
        s"cannot rename partition column $from of $fullName: partition " +
          "directory paths and masks are keyed by name")
      require(!currentSnapshot.exists(_.deletes.exists(_.keys.contains(from))),
        s"column $from keys an active equality delete on $fullName; " +
          "compact (which applies deletes physically) before renaming")
      cols.map(c => if (c.name == from) c.copy(name = to) else c)
    }

  /** Widen a column's type, metadata-only (Iceberg type promotion):
    * `int -> long`, `float -> double`, or decimal precision growth at
    * fixed scale. No data file is touched — existing dirs keep their
    * physical (narrower) type, recorded in their sidecars, and the read
    * path upcasts losslessly; subsequent appends may write either the
    * promoted type or the legacy narrower one. Narrowing (and any other
    * conversion) is rejected: it would corrupt existing data at read
    * time.
    */
  def updateColumnType(spark: SparkSession, name: String, newTypeDdl: String): Snapshot = {
    val to = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
    schemaCommit(spark) { (cols, _) =>
      val cur = cols.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $fullName"))
      val from = org.apache.spark.sql.types.DataType.fromDDL(cur.dataType)
      require(SnapshotTable.isSafePromotion(from, to),
        s"cannot change column $name of $fullName from ${cur.dataType} to " +
          s"$newTypeDdl: only widening promotions are allowed " +
          "(int -> long, float -> double, decimal precision growth)")
      cols.map(c => if (c.name == name) c.copy(dataType = newTypeDdl) else c)
    }
  }

  /** Drop a column, metadata-only: data files keep the bytes, reads stop
    * projecting them. Re-adding the same NAME later yields a fresh field
    * id, so the old bytes can never resurrect under the new column.
    */
  def dropColumn(spark: SparkSession, name: String): Snapshot =
    schemaCommit(spark) { (cols, _) =>
      require(cols.exists(_.name == name), s"no column $name on $fullName")
      require(cols.size > 1, s"cannot drop the last column of $fullName")
      require(!partitionColumns.contains(name),
        s"cannot drop partition column $name of $fullName: the physical " +
          "layout is keyed by it (rewrite via compact with a new layout)")
      cols.filterNot(_.name == name)
    }

  /** One metadata-only schema commit under the table lock: resolve the
    * head's columns (deriving ids once for a legacy table), apply `f`,
    * append an `operation = "schema"` snapshot carrying the head's data
    * unchanged. Zero data I/O.
    */
  private def schemaCommit(spark: SparkSession)(
      f: (Seq[TableColumn], Int) => Seq[TableColumn]): Snapshot =
    SnapshotTable.commitLock(root).synchronized {
      val all = snapshots
      val cur = all.filterNot(_.staged).lastOption.getOrElse(requireCurrent)
      val base =
        if (cur.cols.nonEmpty) cur.cols
        else {
          // legacy table: derive ids 1..n from the current merged schema
          // (one driver-side footer read)
          val derived = readSnapshot(spark, cur.id).schema.fields.zipWithIndex.map {
            case (fld, i) => TableColumn(i + 1, fld.name, fld.dataType.sql)
          }.toSeq
          // pin the derived mapping onto every legacy dir AS A SIDECAR
          // while the names are still pre-change: without it, a dir
          // without a sidecar resolves ids by CURRENT name, so a later
          // rename would silently stop matching the dir's physical
          // column and read existing data back as null. Recorded per
          // dir with the dir's own physical columns/types (one footer
          // read each — a one-time upgrade cost, under the table lock).
          val byName = derived.map(c => c.name -> c.id).toMap
          cur.dataDirs.filterNot(d => Files.exists(columnsSidecarPath(d))).foreach { d =>
            val phys = SnapshotTable.loadDir(spark, cur.format, d).schema.fields.toSeq
            writeColumnsSidecar(d, phys.flatMap(f =>
              byName.get(f.name).map(id => TableColumn(id, f.name, f.dataType.sql))))
          }
          derived
        }
      val watermark = (Seq(cur.lastColumnId) ++ base.map(_.id) ++
        all.flatMap(_.cols.map(_.id))).max
      val updated = f(base, watermark + 1)
      val id = all.map(_.id).maxOption.getOrElse(0L) + 1
      val snap = cur.copy(
        id = id, committedAtMs = SnapshotTable.clockMs(), operation = "schema",
        staged = false, parentId = Some(cur.id), cols = updated,
        summary = SnapshotTable.carriedSummary(cur.summary),
        lastColumnId = (watermark +: updated.map(_.id)).max)
      writeMetadata(all :+ snap)
      Audit.log("table_write", fullName, Map(
        "operation" -> "schema", "snapshot_id" -> id.toString))
      snap
    }

  private def columnsSidecarPath(dataDir: String) =
    Paths.get(dataDir, ".graft-columns.json")

  /** Record the field-id -> physical-(name, type) mapping of a freshly
    * written dir (the Iceberg name-mapping role), beside the immutable
    * data. The TYPE is the physically-written one — after a column
    * promotion it can be narrower than the table type, and the scan
    * coalescer must never merge dirs whose physical types differ.
    */
  private def writeColumnsSidecar(dataDir: String, cols: Seq[TableColumn]): Unit = {
    val json = cols.map(c =>
      s"""{"id":${c.id},"name":"${jsonEscape(c.name)}","type":"${jsonEscape(c.dataType)}"}""")
      .mkString("[", ",", "]")
    Files.write(columnsSidecarPath(dataDir), json.getBytes(StandardCharsets.UTF_8)): Unit
  }

  /** Field-id -> physical-column-name mapping recorded when `dataDir`
    * was written; a dir predating the sidecar resolves every id by its
    * CURRENT name (legacy by-name semantics). Sidecars written before
    * the type field parse fine (type optional).
    */
  private def dirColumnMapping(dataDir: String, cols: Seq[TableColumn]): Map[Int, String] = {
    if (cols.isEmpty) return Map.empty
    val p = columnsSidecarPath(dataDir)
    if (Files.exists(p)) {
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      MetadataJson.parse(json).asArr.map { v =>
        val o = v.asObj
        o("id").asLong.toInt -> o("name").asStr
      }.toMap
    } else cols.map(c => c.id -> c.name).toMap
  }

  /** Raw columns-sidecar content of a dir, used as the scan coalescer's
    * schema-identity key: byte-identical TYPED sidecars imply the same
    * physical (id, name, type) triples, so the dirs can share one
    * multi-path scan. None = no sidecar, or a pre-type legacy sidecar
    * (whose physical types are unknowable without a footer read) —
    * such dirs always read per-dir.
    */
  private def typedSidecarContent(dataDir: String): Option[String] = {
    val p = columnsSidecarPath(dataDir)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .filter(_.contains("\"type\""))
  }

  private def sidecarPath(dataDir: String) =
    Paths.get(dataDir, ".graft-partitions.json")

  /** ONE column-pruned job over a freshly written PARTITIONED dir
    * yielding both sidecar inputs at once: per-partition-directory row
    * counts AND the partition columns' min/max/null stats. Bounds are
    * collected in READ-BACK (inferred) type space: partition values are
    * parsed back from directory names at scan time, so their scan
    * attributes carry the INFERRED types — bounds recorded under the
    * written DataFrame's types could disagree (e.g. a string column of
    * numeric-looking values reads back as IntegerType, where
    * lexicographic and numeric min differ) and unsoundly prune. The job
    * reads no data columns: partition values come from paths and row
    * counts from file metadata. No-op for unpartitioned dirs — their
    * stats all come from the write-time observation.
    */
  private def partitionJobStats(
      spark: SparkSession,
      dataDir: String,
      partitionCols: Seq[String],
      format: String): (Map[String, Long], Map[String, graft.plans.RangeStats.ColRange]) =
    if (partitionCols.isEmpty) (Map.empty, Map.empty)
    else {
      import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
      val df = SnapshotTable.loadDir(spark, format, dataDir)
      val inferred = partitionCols.map(c => df.schema(c).dataType)
      val n = partitionCols.size
      // string-cast keys render partition values the way Spark renders
      // the DIRECTORY names — a Catalyst string cast — so sidecar keys
      // line up with the walked (unescaped) paths. JVM toString diverges
      // for e.g. timestamps ('…00:00:00.0' vs the dir's '…00:00:00'),
      // which would split entries into files-only/rows-only halves.
      // Keys are aliased __k{i} so the raw columns stay resolvable
      // inside the aggregates.
      val keys = partitionCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("string").as(s"__k$i")
      }
      val aggs = count(lit(1)).as("__rows") +:
        partitionCols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).as(s"p${i}_min"), max(col(c)).as(s"p${i}_max"),
            count(when(col(c).isNull, lit(1))).as(s"p${i}_nulls"))
        }
      // the per-group collect is bounded: a backfill commit touching
      // 100k+ partitions must not hold them all on the driver. Past the
      // cap the per-partition row counts degrade to unknown (-1 in the
      // sidecar — unknown stays unknown) and the dir-level column bounds
      // come from ONE global aggregate row instead, so stats-skip keeps
      // working at any partition cardinality.
      val cap = spark.conf.getOption(SnapshotTable.PartitionStatsCapKey)
        .flatMap(_.toIntOption).getOrElse(SnapshotTable.PartitionStatsCapDefault)
      val grouped0 = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        .limit(cap + 1).collect()
      if (grouped0.length > cap) {
        val global = df.agg(aggs.tail.head, aggs.tail.tail: _*).collect().head
        val bounds = partitionCols.zipWithIndex.map { case (c, i) =>
          val mn = Option(global.get(i * 3))
          val mx = Option(global.get(i * 3 + 1))
          val nulls = global.getLong(i * 3 + 2)
          val range = inferred(i) match {
            case org.apache.spark.sql.types.StringType =>
              graft.plans.RangeStats.ColRange(nulls,
                mn.map(_.asInstanceOf[String]
                  .take(graft.plans.RangeStats.StringBoundChars)),
                mx.map(_.asInstanceOf[String])
                  .filter(_.length <= graft.plans.RangeStats.StringBoundChars))
            case dt =>
              graft.plans.RangeStats.ColRange(nulls,
                mn.flatMap(graft.plans.RangeStats.store(dt, _)),
                mx.flatMap(graft.plans.RangeStats.store(dt, _)))
          }
          c -> range
        }.toMap
        return (Map.empty, bounds)
      }
      val grouped = grouped0
      val rowsByPart = grouped.map { r =>
        val path = partitionCols.indices.map { i =>
          val v = if (r.isNullAt(i)) null else r.getString(i)
          s"${partitionCols(i)}=${if (v == null) "__HIVE_DEFAULT_PARTITION__" else v}"
        }.mkString("/")
        path -> r.getLong(n)
      }.toMap
      // fold the per-group (per-partition-value) extrema into dir-level
      // bounds driver-side — O(#partitions) external Comparables
      def fold(vs: Seq[Any], takeMin: Boolean): Option[Any] =
        vs.reduceLeftOption { (a, b) =>
          val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
          if ((c <= 0) == takeMin) a else b
        }
      val bounds = partitionCols.zipWithIndex.map { case (c, i) =>
        val mins = grouped.toSeq.flatMap(r => Option(r.get(n + 1 + i * 3)))
        val maxs = grouped.toSeq.flatMap(r => Option(r.get(n + 2 + i * 3)))
        val nulls = grouped.map(_.getLong(n + 3 + i * 3)).sum
        val range = inferred(i) match {
          case org.apache.spark.sql.types.StringType =>
            // same truncation contract as data-column string bounds
            graft.plans.RangeStats.ColRange(nulls,
              fold(mins, takeMin = true).map(_.asInstanceOf[String]
                .take(graft.plans.RangeStats.StringBoundChars)),
              fold(maxs, takeMin = false).map(_.asInstanceOf[String])
                .filter(_.length <= graft.plans.RangeStats.StringBoundChars))
          case dt =>
            graft.plans.RangeStats.ColRange(nulls,
              fold(mins, takeMin = true).flatMap(graft.plans.RangeStats.store(dt, _)),
              fold(maxs, takeMin = false).flatMap(graft.plans.RangeStats.store(dt, _)))
        }
        c -> range
      }.toMap
      (rowsByPart, bounds)
    }

  /** Per-partition and per-file row counts of a freshly written parquet
    * dir from its FOOTERS, driver-side — the micro-commit substitute for
    * [[partitionJobStats]]'s Spark job. Cost is O(files in this delta)
    * page-cached metadata reads; an unreadable footer degrades its
    * partition's count to unknown (-1), never to a wrong number.
    */
  private def microPartitionRows(dataDir: String): (Map[String, Long], Map[String, Long]) = {
    val base = new File(dataDir)
    val perFile = listDataFiles(base).map { f =>
      val part = unescapePath(base.toPath.relativize(f.toPath.getParent).toString)
      (f.getAbsolutePath, part, SnapshotTable.parquetRecordCount(f))
    }
    val byPart = perFile.groupBy(_._2).map { case (p, fs) =>
      p -> (if (fs.exists(_._3 < 0)) -1L else fs.map(_._3).sum)
    }
    (byPart, perFile.map(e => e._1 -> e._3).toMap)
  }

  private def writePartitionSidecar(
      dataDir: String,
      partitionCols: Seq[String],
      rowsByPart: Map[String, Long],
      totalRows: Long,
      format: String = "parquet",
      knownFileRows: Map[String, Long] = Map.empty): Unit = {
    val base = new File(dataDir)
    val grouped: Map[String, Seq[File]] = listDataFiles(base).groupBy { f =>
      unescapePath(base.toPath.relativize(f.toPath.getParent).toString)
    }
    val filesByPart: Map[String, Long] =
      grouped.map { case (k, v) => k -> v.size.toLong }
    val stats: Seq[(String, Long, Long)] =
      if (partitionCols.isEmpty)
        Seq(("", filesByPart.getOrElse("", 0L), totalRows))
      else
        (filesByPart.keySet ++ rowsByPart.keySet).toSeq.sorted.map { p =>
          (p, filesByPart.getOrElse(p, 0L), rowsByPart.getOrElse(p, -1L))
        }
    val json = stats.map { case (p, f, r) =>
      s"""{"partition":"${jsonEscape(p)}","files":$f,"rows":$r}"""
    }.mkString("[", ",", "]")
    Files.write(sidecarPath(dataDir), json.getBytes(StandardCharsets.UTF_8)): Unit
    // per-FILE sidecar (the Iceberg manifest-entry role): path, size and
    // record count recorded AT COMMIT TIME for the just-written dir, so
    // the `$files` metadata table is a pure sidecar merge — zero data or
    // footer I/O at query time. Commit-time cost is O(files in this
    // delta), the same class as Iceberg writing its manifest; a
    // single-file partition reuses the already-known partition row count
    // and skips even the (page-cached) footer read.
    val knownRows = stats.map { case (p, _, r) => p -> r }.toMap
    val fileEntries = stats.flatMap { case (p, _, _) =>
      val fs = grouped.getOrElse(p, Nil).sortBy(_.getName)
      fs.map { f =>
        val rows = knownFileRows.getOrElse(f.getAbsolutePath,
          if (fs.size == 1 && knownRows.getOrElse(p, -1L) >= 0) knownRows(p)
          else if (format == "parquet") SnapshotTable.parquetRecordCount(f)
          else -1L)
        val rel = base.toPath.relativize(f.toPath).toString
        s"""{"file":"${jsonEscape(rel)}","partition":"${jsonEscape(p)}","bytes":${f.length()},"rows":$rows}"""
      }
    }
    Files.write(filesSidecarPath(dataDir),
      fileEntries.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)): Unit
  }

  private def filesSidecarPath(dataDir: String) =
    Paths.get(dataDir, ".graft-files.json")

  /** Per-file sidecar entries of one dir: (absolute path, partition,
    * bytes, rows). None when the dir predates the file sidecar — the
    * caller falls back to the legacy walk-and-footer path for that dir
    * only.
    */
  private def readFilesSidecar(dataDir: String): Option[Seq[(String, String, Long, Long)]] = {
    val p = filesSidecarPath(dataDir)
    if (!Files.exists(p)) None
    else {
      SnapshotTable.sidecarReads.inc(root)
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      Some(MetadataJson.parse(json).asArr.map { v =>
        val o = v.asObj
        (new File(dataDir, o("file").asStr).getAbsolutePath,
          o("partition").asStr, o("bytes").asLong, o("rows").asLong)
      })
    }
  }

  /** Sidecar entries for one data dir; a dir written before the sidecar
    * existed falls back to walked file counts with unknown (-1) rows.
    */
  private def readPartitionSidecar(dataDir: String): Seq[(String, Long, Long)] = {
    val p = sidecarPath(dataDir)
    if (Files.exists(p)) {
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      MetadataJson.parse(json).asArr.map { v =>
        val o = v.asObj
        (o("partition").asStr, o("files").asLong, o("rows").asLong)
      }
    } else {
      val base = new File(dataDir)
      listDataFiles(base).groupBy { f =>
        unescapePath(base.toPath.relativize(f.toPath.getParent).toString)
      }.map { case (k, v) => (k, v.size.toLong, -1L) }.toSeq
    }
  }

  /** Reverse Hive-style %XX partition-dir escaping (dates, months, hours
    * and buckets never need it; string partition values with spaces or
    * slashes do).
    */
  private def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** JSON string escape. Structural characters ([]{}）are emitted as
    * \uXXXX escapes — legal JSON, and it keeps the regex parser's
    * non-greedy array/object anchors exact even when a partition VALUE
    * (which can be any string a column holds) contains brackets.
    */
  private def jsonEscape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"'  => "\\\""
    case c @ ('[' | ']' | '{' | '}') => f"\\u${c.toInt}%04x"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[sink] def writeMetadata(snaps: Seq[Snapshot]): Unit = {
    Files.createDirectories(Paths.get(root))
    val json = snaps.map { s =>
      val dirs = s.dataDirs.map(d => "\"" + jsonEscape(d) + "\"")
        .mkString("[", ",", "]")
      val masked =
        if (s.maskedDirs.forall(_._2.isEmpty)) ""
        else {
          val entries = s.maskedDirs.toSeq.sortBy(_._1).collect {
            case (d, ps) if ps.nonEmpty =>
              "\"" + jsonEscape(d) + "\":" +
                ps.map(p => "\"" + jsonEscape(p) + "\"").mkString("[", ",", "]")
          }.mkString("{", ",", "}")
          s""""masked_dirs":$entries,"""
        }
      val parent = s.parentId.map(p => s""""parent_id":$p,""").getOrElse("")
      val lastCol =
        if (s.lastColumnId > 0) s""""last_column_id":${s.lastColumnId},""" else ""
      val colsJson =
        if (s.cols.isEmpty) ""
        else s.cols.map(c =>
          s"""{"id":${c.id},"name":"${jsonEscape(c.name)}","type":"${jsonEscape(c.dataType)}"}""")
          .mkString(""""cols":[""", ",", "],")
      val staged = if (s.staged) """"staged":true,""" else ""
      val summaryJson =
        if (s.summary.isEmpty) ""
        else s.summary.toSeq.sortBy(_._1).map { case (k, v) =>
          "\"" + jsonEscape(k) + "\":\"" + jsonEscape(v) + "\""
        }.mkString(""""summary":{""", ",", "},")
      val dels =
        if (s.deletes.isEmpty) ""
        else {
          val entries = s.deletes.map { d =>
            val ks = d.keys.map(k => "\"" + jsonEscape(k) + "\"").mkString("[", ",", "]")
            val as = d.applies.map(a => "\"" + jsonEscape(a) + "\"").mkString("[", ",", "]")
            val fmt = d.format.map(f => s""","fmt":"${jsonEscape(f)}"""").getOrElse("")
            val pos = if (d.positional) ""","pos":true""" else ""
            s"""{"dir":"${jsonEscape(d.dir)}","keys":$ks,"applies":$as$fmt$pos}"""
          }.mkString("[", ",", "]")
          s""""deletes":$entries,"""
        }
      s"""{"id":${s.id},"committed_at_ms":${s.committedAtMs},"operation":"${s.operation}","format":"${s.format}","row_count":${s.rowCount},$parent$lastCol$colsJson$staged$summaryJson$masked$dels"data_dirs":$dirs}"""
    }.mkString("[", ",", "]")
    // atomic metadata swap: temp file + atomic move, the commit point.
    val tmp = Paths.get(root, s".metadata.json.tmp-${System.nanoTime()}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metadataPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Parse the snapshots metadata through [[MetadataJson]] (a real
    * tokenizer, not a shape regex: correct for ALL legal JSON, and
    * corrupted metadata fails loudly with an offset instead of silently
    * dropping snapshots). "format", "row_count" and "masked_dirs" are
    * optional on read: metadata written before each field existed
    * defaults to parquet / unknown (-1) / no masks.
    */
  private[sink] def parse(json: String): Seq[Snapshot] =
    MetadataJson.parse(json).asArr.map { v =>
      val o = v.asObj
      def optLong(k: String) = o.get(k).map(_.asLong)
      val cols = o.get("cols").map(_.asArr.map { cv =>
        val c = cv.asObj
        TableColumn(c("id").asLong.toInt, c("name").asStr, c("type").asStr)
      }).getOrElse(Nil)
      val summary = o.get("summary")
        .map(_.asObj.map { case (k, sv) => k -> sv.asStr }).getOrElse(Map.empty[String, String])
      val masked = o.get("masked_dirs")
        .map(_.asObj.map { case (k, mv) => k -> mv.asArr.map(_.asStr) })
        .getOrElse(Map.empty[String, Seq[String]])
      val deletes = o.get("deletes").map(_.asArr.map { dv =>
        val d = dv.asObj
        EqualityDelete(d("dir").asStr, d("keys").asArr.map(_.asStr),
          d("applies").asArr.map(_.asStr), d.get("fmt").map(_.asStr),
          positional = d.get("pos").exists(_.asBool))
      }).getOrElse(Nil)
      Snapshot(o("id").asLong, o("committed_at_ms").asLong, o("operation").asStr,
        o("data_dirs").asArr.map(_.asStr),
        o.get("format").map(_.asStr).getOrElse("parquet"),
        optLong("row_count").getOrElse(-1L),
        masked,
        staged = o.get("staged").exists(_.asBool),
        deletes = deletes,
        parentId = optLong("parent_id"),
        cols = cols,
        lastColumnId = optLong("last_column_id").map(_.toInt).getOrElse(0),
        summary = summary)
    }

}

object SnapshotTable {

  /** The update-pairing core of [[SnapshotTable.readChangelogUpdates]],
    * static so the STREAMING changelog path can apply it per microbatch
    * (a foreachBatch body sees a plain DataFrame with the same
    * `_change_type` / `_commit_snapshot_id` columns). Within each
    * commit, a delete row and an insert row sharing the identifier key
    * re-stamp as `update_preimage` / `update_postimage`; ambiguous
    * multiplicity per (commit, key) raises — IN-PLAN via `assert_true`
    * riding the same keyed window that pairs, so the changelog slice
    * executes exactly ONCE (a separate validation aggregate would scan
    * the whole multi-dir union twice). The error therefore surfaces at
    * the consuming action, wrapped in Spark's task failure.
    */
  def pairChangelogUpdates(
      cl: org.apache.spark.sql.DataFrame, keys: Seq[String],
      tableName: String = "<changelog>"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, col, lit, sum, when}
    require(keys.nonEmpty, s"pairChangelogUpdates on $tableName needs identifier columns")
    keys.foreach(k => require(cl.columns.contains(k),
      s"identifier column $k is not in the changelog schema " +
        s"(${cl.columns.mkString(", ")})"))
    val groupCols = (keys :+ "_commit_snapshot_id").map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols: _*)
    val msg = s"changelog of $tableName has a commit with multiple rows per " +
      s"identifier (${keys.mkString(", ")}): identifier fields must be " +
      "unique per commit side to pair updates — fix the keys or read the " +
      "raw changelog"
    cl.withColumn("_nd",
        sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(w))
      .withColumn("_ni",
        sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        // assert_true returns NULL when the check holds (and throws per
        // offending row otherwise); referencing it INSIDE the kept
        // expression stops column pruning from optimizing the check away
        when(assert_true(col("_nd") <= 1 && col("_ni") <= 1, lit(msg)).isNull &&
          col("_nd") === 1 && col("_ni") === 1,
          when(col("_change_type") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change_type")))
      .drop("_nd", "_ni")
  }

  /** Snapshot-summary keys of the exactly-once streaming watermark.
    * The per-query key (`SummaryBatchPrefix` + queryId) is the DURABLE
    * watermark: every new published head carries the union of its
    * parent's per-query watermarks forward (trySwap; head-copying
    * commits inherit via `copy`), so maintenance that collapses history
    * — compaction + expiry down to one snapshot — can never regress the
    * exactly-once guarantee. The query-id/batch-id pair is display
    * metadata describing which batch THIS commit was.
    */
  /** Column names carrying the parquet physical row identity through a
    * positional-delete probe or read (`_metadata.file_path` /
    * `_metadata.row_index`, re-aliased so they survive the snapshot-
    * schema projection and cannot collide with user columns).
    */
  val RowIdFileCol = "__graft_pd_file"
  val RowIdPosCol = "__graft_pd_pos"

  /** Third column of a positional delete file: the data DIR containing
    * the matched file, written so the delete's `applies` scope can be
    * derived from the (tiny) delete file itself — a single-row delete
    * then scopes to ONE dir, and every other dir keeps the zero-cost
    * read path. Ignored by the read-side anti-join (keys are file+pos).
    */
  val RowIdDirCol = "__graft_pd_dir"

  val SummaryQueryId = "streaming.query-id"
  val SummaryBatchId = "streaming.batch-id"
  val SummaryBatchPrefix = "streaming.batch-id."

  /** Session conf capping how many per-partition stat groups one commit
    * may collect onto the driver; past it the commit degrades its
    * per-partition row counts to unknown instead of OOMing the driver
    * on a 100k-partition backfill.
    */
  val PartitionStatsCapKey = "graft.partition-stats.max-entries"
  val PartitionStatsCapDefault = 100000

  /** The per-query watermarks a snapshot carries: durable prefix keys
    * plus the legacy display-pair form (pre-prefix metadata).
    */
  private[graft] def watermarksOf(s: Snapshot): Map[String, Long] = {
    val prefixed = s.summary.collect {
      case (k, v) if k.startsWith(SummaryBatchPrefix) &&
        v.toLongOption.isDefined =>
        k.stripPrefix(SummaryBatchPrefix) -> v.toLong
    }
    val legacy = for {
      q <- s.summary.get(SummaryQueryId)
      b <- s.summary.get(SummaryBatchId).flatMap(_.toLongOption)
    } yield q -> b
    // prefix form wins (it is the carried union; legacy is this commit's own)
    legacy.toMap ++ prefixed
  }

  /** Summary a head-COPYING metadata commit (rollback, cherry-pick,
    * schema change, delete, rewrite) inherits from its source snapshot:
    * the durable per-query watermark prefix keys carry forward, but the
    * source's OWN display pair (which microbatch THAT commit was) does
    * not — an ADD COLUMN or rollback is not a streaming microbatch, and
    * reporting it as one in `$snapshots` misleads. Mirrors what trySwap
    * does for fresh commits.
    */
  private[graft] def carriedSummary(summary: Map[String, String]): Map[String, String] =
    summary - SummaryQueryId - SummaryBatchId

  /** Table-property prefixes declaring per-column parquet bloom filters
    * (Iceberg's write properties; value for the enabled prefix is
    * "true"/"false", for the ndv prefix the expected distinct count).
    */
  val BloomEnabledPrefix = "write.parquet.bloom-filter-enabled.column."
  val BloomNdvPrefix = "write.parquet.bloom-filter-expected-ndv.column."


  /** Write formats this engine can materialize (avro is declared by the
    * template vocabulary but needs the external spark-avro module).
    */
  val SupportedFormats: Set[String] = Set("parquet", "orc", "avro")

  /** Default `commit_num_retries` when the template declares none
    * (Iceberg's own `commit.retry.num-retries` default).
    */
  val DefaultCommitRetries: Int = 4

  /** Iceberg-legal lossless type promotions (the evolution spec's
    * widening set): int -> long, float -> double, decimal precision
    * growth at fixed scale. Everything else — narrowing, scale change,
    * cross-family casts — is lossy or value-changing and rejected.
    */
  def isSafePromotion(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        f.scale == t.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Default compaction target file size — Iceberg's
    * `write.target-file-size-bytes` default (512 MB).
    */
  val DefaultTargetFileBytes: Long = 512L * 1024 * 1024

  /** Commit-time clock — wall clock in production, injectable in tests
    * and fixtures so `committedAtMs` (and thus [[SnapshotTable.readAsOf]]
    * time travel) is deterministic.
    */
  @volatile private[graft] var clockMs: () => Long = () => System.currentTimeMillis()

  /** Exponential-backoff base between conflicting swap attempts
    * (wait = min(base << attempt, base*10), the tenacity
    * `wait_exponential(multiplier=1, max=10)` shape at base = 1 s).
    * Test-tunable so conflict specs don't sleep for real seconds.
    */
  @volatile private[sink] var backoffBaseMs: Long = 1000L

  /** Wait before swap attempt `attempt+1` — tenacity
    * wait_exponential(multiplier=1, max=10) shape, scaled by the
    * test-tunable base. The shift is clamped: `commit_num_retries` is
    * template-controlled and unbounded, and `base << 53+` overflows Long
    * into a negative Thread.sleep argument; min(base<<4, base*10) =
    * base*10, so the clamp never changes an in-range wait.
    */
  /** Count of footer opens — the spec's evidence that the `$files`
    * SERVING path is sidecar-only (footer reads happen at commit time
    * and in legacy fallback, never when listing a sidecar-backed table).
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Footer opens ON THE CURRENT THREAD — the concurrency-immune form
    * of the zero-footer serving-path pins: a sidecar fallback would
    * read footers on the CALLING (driver) thread, so an equality pin
    * on this counter cannot be perturbed by concurrent queries or
    * executor-side footer walks on other threads.
    */
  private[graft] val footerReadsLocal = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private[graft] def footerReadsOnThread: Long = footerReadsLocal.get()

  /** Metadata-I/O counters of the $files serving paths — per-dir file
    * sidecars vs a consolidated manifest — so specs and in-query pins
    * can prove WHICH path served a listing (the scale contract of
    * rewrite_manifests is exactly "one open instead of one per dir").
    */
  private[graft] val sidecarReads = new PerRootCounter
  private[graft] val manifestReads = new PerRootCounter

  /** Diagnostic read counter SCOPED PER TABLE ROOT: a pin on one
    * table's serving path must not be perturbed by concurrent queries
    * touching other tables' sidecars (suites and the bench run
    * queries in parallel).
    */
  final class PerRootCounter {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def inc(root: String): Unit =
      m.computeIfAbsent(root, _ => new java.util.concurrent.atomic.AtomicLong(0L))
        .incrementAndGet(): Unit
    def get(root: String): Long = Option(m.get(root)).map(_.get()).getOrElse(0L)
  }

  /** Footer opens made on a NON-executor (driver) thread — the spec's
    * evidence that bulk import (`addFiles`) distributes its footer walk
    * as a Spark job instead of a driver-side per-file loop. Local-mode
    * executor task threads are named "Executor task launch worker-*".
    */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `input_file_name()` returns the scan's file URI (`file:///…`,
    * possibly URL-encoded); normalize to a local filesystem path for
    * comparison against walked [[java.io.File]] paths. Non-URI strings
    * pass through unchanged.
    */
  private[sink] def fileUriToPath(u: String): String =
    if (u.startsWith("file:"))
      try java.nio.file.Paths.get(java.net.URI.create(u)).toString
      catch { case scala.util.control.NonFatal(_) => u.stripPrefix("file:") }
    else u

  /** Name of the import manifest listing file [[SnapshotTable.addFiles]]
    * writes into its snap-*-added dir (the Iceberg manifest-list role):
    * one JSON entry per imported file — absolute source path, relative
    * path, footer record count. Underscore-prefixed so Spark's file
    * listing and [[listDataFiles]] both skip it. The symlink tree
    * beside it is the local-FS *realization* of this listing; on object
    * storage (no symlinks) a port reads the manifest itself.
    */
  val ImportManifestName = "_import_manifest.json"

  /** One shared Hadoop conf for footer reads: Configuration construction
    * parses the default XML resources (~10 ms), which a per-file fresh
    * instance would pay on every footer of a commit-time sidecar walk.
    * Used read-only.
    */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** A parquet file's record count from its FOOTER — metadata pages
    * only, no data I/O (-1 when unreadable).
    */
  private[sink] def parquetRecordCount(f: File): Long =
    try {
      footerReads.incrementAndGet(): Unit
      footerReadsLocal.set(footerReadsLocal.get() + 1L)
      if (!Thread.currentThread().getName.startsWith("Executor task launch"))
        driverFooterReads.incrementAndGet(): Unit
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  private[sink] def backoffMs(attempt: Int): Long =
    math.min(backoffBaseMs << math.min(attempt, 4), backoffBaseMs * 10)

  /** Minimum age an unreferenced snap-* dir must reach before the
    * orphan sweep may delete it, independent of the snapshot-expiry
    * cutoff (Iceberg's remove-orphan-files action defaults to 3 days
    * for the same reason). Conservative default; test-tunable.
    */
  @volatile private[sink] var orphanSafetyAgeMs: Long = 24L * 3600 * 1000

  /** Test seam: invoked at the start of every swap attempt (table,
    * attempt index) so specs can inject a concurrent commit into the
    * conflict window deterministically. No-op in production.
    */
  @volatile private[graft] var beforeSwapHook: (SnapshotTable, Int) => Unit = (_, _) => ()

  private val commitLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** One lock object per table root (JVM-wide writer serialization). */
  private[graft] def commitLock(root: String): Object =
    commitLocks.getOrElseUpdate(new java.io.File(root).getAbsolutePath, new Object)

  /** SQL settings that change the schema Spark infers for a data dir:
    * Parquet/ORC footer conversion and partition-value typing.
    */
  private val InferenceConfs: Seq[String] = {
    import org.apache.spark.sql.internal.SQLConf
    Seq(SQLConf.PARTITION_COLUMN_TYPE_INFERENCE, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.CASE_SENSITIVE, SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.TIMESTAMP_TYPE,
      SQLConf.LEGACY_TIME_PARSER_POLICY, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.PARQUET_SCHEMA_MERGING_ENABLED, SQLConf.ORC_SCHEMA_MERGING_ENABLED).map(_.key)
  }

  /** Most data dirs whose schema [[dirSchemas]] holds at once. */
  private val DirSchemaCap = 4096

  /** The schema Spark inferred the first time each data dir was loaded,
    * by absolute dir path, then by (format, values of
    * [[InferenceConfs]]). Exact because data dirs are write-once (see
    * the class doc). Least recently used dirs drop out past
    * [[DirSchemaCap]]; [[deleteTree]] drops the dirs it deletes.
    */
  private val dirSchemas =
    new java.util.LinkedHashMap[String, Map[(String, Seq[String]), StructType]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[(String, Seq[String]), StructType]]): Boolean =
        size() > DirSchemaCap
    }

  private def absPath(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString

  /** Test seam: forget every memoized schema, so the next load of each
    * dir infers afresh.
    */
  private[sink] def forgetDirSchemas(): Unit = dirSchemas.synchronized(dirSchemas.clear())

  /** Load engine-written data dirs. The first load of a dir infers its
    * schema (for Parquet, one Spark job reading footers); later loads
    * pass that schema to the reader and run no job. Dirs after the
    * first must share its physical layout (the scan coalescer's
    * groups) and read with its schema. Fails, naming the dir, when a
    * dir no longer holds data files.
    */
  private[graft] def loadDir(spark: SparkSession, format: String, dirs: String*): DataFrame =
    dirSchema(spark, format, dirs.head) match {
      case Some(s) =>
        val df = spark.read.format(format).schema(s).load(dirs: _*)
        requireDataFiles(df)
        df
      case None =>
        val df = spark.read.format(format).load(dirs.head)
        rememberSchema(spark, format, dirs.head, df.schema)
        if (dirs.size == 1) df else loadDir(spark, format, dirs: _*)
    }

  /** `files` of the data dir `dir`, read with `dir` as basePath and
    * `dir`'s schema, so partition columns type as in a read of the dir.
    */
  private[graft] def loadDirFiles(
      spark: SparkSession, format: String, dir: String, files: Seq[String]): DataFrame = {
    val s = dirSchema(spark, format, dir).getOrElse(loadDir(spark, format, dir).schema)
    spark.read.format(format).schema(s).option("basePath", dir).load(files: _*)
  }

  private def inferenceKey(spark: SparkSession, format: String): (String, Seq[String]) =
    (format, InferenceConfs.map(k => spark.conf.getOption(k).orNull))

  private def dirSchema(spark: SparkSession, format: String, dir: String): Option[StructType] = {
    val key = inferenceKey(spark, format)
    val path = absPath(dir)
    dirSchemas.synchronized(Option(dirSchemas.get(path)).flatMap(_.get(key)))
  }

  private def rememberSchema(
      spark: SparkSession, format: String, dir: String, schema: StructType): Unit = {
    val key = inferenceKey(spark, format)
    val path = absPath(dir)
    dirSchemas.synchronized {
      dirSchemas.put(path,
        Option(dirSchemas.get(path)).getOrElse(Map.empty) + (key -> schema)): Unit
    }
  }

  /** With a known schema Spark plans a dir whose files are gone as an
    * empty scan; fail instead, naming the dir. A missing dir already
    * fails in Spark with PATH_NOT_FOUND.
    */
  private def requireDataFiles(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collectFirst { case r: HadoopFsRelation => r.location }
      .foreach { loc =>
        val files = loc.inputFiles
        loc.rootPaths
          .find(r => !files.exists(_.startsWith(r.toUri.toString.stripSuffix("/") + "/")))
          .foreach(r => throw new java.io.FileNotFoundException(s"data dir ${r.toUri.getPath} " +
            "holds no data files: it was deleted or emptied outside the engine"))
      }
  }

  /** Delete `f` and everything under it, dropping the memoized schema
    * of every data dir at or below it.
    */
  private[graft] def deleteTree(f: File): Unit = {
    val path = absPath(f.getPath)
    dirSchemas.synchronized {
      dirSchemas.keySet.removeIf(k => k == path || k.startsWith(path + File.separator)): Unit
    }
    def rm(g: File): Unit = {
      if (g.isDirectory) Option(g.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      g.delete(): Unit
    }
    rm(f)
  }

  /** Warehouse layout: `<warehouse>/<namespace>.<name>/`. */
  def apply(warehouse: String, namespace: String, name: String): SnapshotTable =
    new SnapshotTable(Paths.get(warehouse, s"$namespace.$name").toString, s"$namespace.$name")
}
