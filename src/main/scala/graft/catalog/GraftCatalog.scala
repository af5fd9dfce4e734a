package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import graft.sink.SnapshotTable
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `TableCatalog` over [[SnapshotTable]] — the SQL front
  * door the reference exposes through its query console (SQL is its
  * primary read entry point: `docs/architecture.md:78,109`, with
  * pre-provisioned time-travel queries `aws/modules/athena/main.tf:48-67`).
  * Registering
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * makes every snapshot table addressable from plain SQL:
  * {{{
  *   SELECT * FROM graft.testdata.events
  *   SELECT * FROM graft.testdata.events VERSION AS OF 1
  *   SELECT * FROM graft.testdata.events TIMESTAMP AS OF '1970-01-01 00:00:01.5'
  *   INSERT INTO graft.testdata.events SELECT ...
  *   ALTER TABLE graft.testdata.events ADD COLUMN src STRING
  * }}}
  * Time travel goes through Spark's own `loadTable(ident, version |
  * timestamp)` catalog hooks, DDL through `createTable`/`alterTable`
  * (mapped onto the metadata-only schema-evolution commits), writes
  * through the V1 write fallback onto the optimistic snapshot-commit
  * protocol.
  *
  * Execution path: with [[graft.GraftExtensions]] installed (the
  * library's standard activation), an analyzer rule INLINES each
  * resolved graft relation into the table's native scan plan — the same
  * pruned, pushdown-friendly multi-scan `SnapshotTable.read` builds —
  * so SQL reads plan identically to Scala-API reads (partition pruning
  * and filter pushdown visible in the same physical plan; pinned by
  * PlanSpec). Without the extensions the table still serves reads
  * through a V1Scan fallback (column-pruned, filters applied by Spark
  * post-scan) — correct, just less optimal. The catalog resolves its
  * warehouse per query from session conf, so one catalog instance can
  * serve a session whose warehouse moves (test fixtures do).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = "graft"
  private var initOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options
  }

  override def name(): String = catalogName

  /** Warehouse root, resolved DYNAMICALLY from the session conf (the
    * catalog instance is cached per session by CatalogManager with its
    * init options frozen; fixtures repoint the warehouse between
    * queries).
    */
  private def warehouse: String =
    Option(SQLConf.get.getConfString(s"spark.sql.catalog.$catalogName.warehouse", null))
      .orElse(Option(initOptions.get("warehouse")))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName needs spark.sql.catalog.$catalogName.warehouse"))

  private def tableOf(ident: Identifier): SnapshotTable = {
    require(ident.namespace.length == 1,
      s"graft tables are <namespace>.<name>; got ${ident.toString}")
    // team-namespace access matrix: every catalog route (read, INSERT,
    // DDL, drop) resolves its table here, so `team-%` restriction can't
    // be bypassed by picking a different statement shape
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
      graft.governance.AccessControl.checkNamespaceAccess(
        ident.namespace.head, s"${ident.namespace.head}.${ident.name}", s))
    SnapshotTable(warehouse, ident.namespace.head, ident.name)
  }

  private def checkTeamAccess(bare: String, full: String, verb: String): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
      graft.governance.AccessControl.checkTableAccess(s, bare, full, verb))

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `graft.<ns>.<table>.snapshots` /
    // `.partitions` / `.history` (the reference pre-provisions the same
    // listings as named Athena queries, aws/modules/athena/main.tf:48-67)
    if (ident.namespace.length == 2 && GraftCatalog.MetaTables.contains(ident.name)) {
      // metadata tables are reads of the base table: same access matrix
      org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
        graft.governance.AccessControl.checkNamespaceAccess(
          ident.namespace()(0), s"${ident.namespace()(0)}.${ident.namespace()(1)}", s))
      checkTeamAccess(ident.namespace()(1),
        s"${ident.namespace()(0)}.${ident.namespace()(1)}", "read")
      val t = SnapshotTable(warehouse, ident.namespace()(0), ident.namespace()(1))
      if (!t.existsVisible) throw new NoSuchTableException(ident)
      return new GraftSparkTable(t, None, None, Some(ident.name))
    }
    val t = tableOf(ident)
    if (!t.existsVisible) throw new NoSuchTableException(ident)
    checkTeamAccess(ident.name, t.fullName, "read")
    new GraftSparkTable(t, None, None,
      mvStorage = GraftViewStore.read(warehouse, ident)
        .exists(GraftViewSql.isMaterialized))
  }

  /** Time travel: `VERSION AS OF <snapshot-id | 'ref-name'>` — a
    * non-numeric version resolves as a named ref (branch head or tag
    * target), Iceberg's ref-addressable read.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = tableOf(ident)
    if (!t.existsVisible) throw new NoSuchTableException(ident)
    checkTeamAccess(ident.name, t.fullName, "read")
    val id = try version.toLong catch {
      case _: NumberFormatException =>
        t.refs.find(_.name == version).map(_.snapshotId).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName.${ident.toString}: VERSION AS OF takes a snapshot id " +
              s"or a ref name, got '$version' " +
              s"(refs: ${t.refs.map(_.name).mkString(", ")})"))
    }
    new GraftSparkTable(t, Some(id), None)
  }

  /** Time travel: `TIMESTAMP AS OF <ts>` (Spark passes MICROseconds). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = tableOf(ident)
    if (!t.existsVisible) throw new NoSuchTableException(ident)
    checkTeamAccess(ident.name, t.fullName, "read")
    new GraftSparkTable(t, None, Some(Math.floorDiv(timestampMicros, 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && tableOf(ident).existsVisible

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    val prefix = namespace.head + "."
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(f => Identifier.of(namespace, f.getName.stripPrefix(prefix)))
      // an in-flight atomic CTAS's staged-only root is not a table yet
      .filter(id => tableOf(id).existsVisible)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val t = tableOf(ident)
    if (t.existsVisible) throw new TableAlreadyExistsException(ident)
    if (GraftViewStore.exists(warehouse, ident))
      throw new IllegalArgumentException(
        s"cannot create table ${ident.toString}: a VIEW with that name exists")
    // `PARTITIONED BY (days(ts), bucket(16, id), region, ...)` — the
    // Iceberg transform vocabulary, mapped onto the engine's template
    // PartitionFields and persisted beside the table metadata; every
    // catalog write derives the directory columns from it (hidden
    // partitioning: the derived column materializes with the first
    // write, exactly like template-declared `partition_spec`).
    val spec = partitions.toSeq.map(GraftCatalog.toPartitionField)
    spec.foreach(p => require(schema.fieldNames.contains(p.column),
      s"PARTITIONED BY references unknown column ${p.column}"))
    val fmt = Option(properties.get("format")).getOrElse("parquet")
    // operative TBLPROPERTIES validate BEFORE anything lands on disk —
    // the CREATE fails whole, not a later write (and not half-created)
    val user = properties.asScala.toMap -- GraftCatalog.ReservedProperties
    GraftCatalog.validateOperativeProps(user)
    t.create(schema.fields.toSeq.map(f => f.name -> f.dataType.sql), fmt)
    if (spec.nonEmpty) GraftCatalog.writePartitionSpec(t.root, spec)
    // persist user TBLPROPERTIES (Spark-managed keys stay out: they are
    // engine-computed on read, not stored state)
    if (user.nonEmpty) t.setProperties(user)
    new GraftSparkTable(t, None, None)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) --------------------
  // `CREATE TABLE ... AS SELECT` / `REPLACE TABLE ... AS SELECT` /
  // `CREATE OR REPLACE TABLE ... AS SELECT` route through these instead
  // of create-then-write: the query result lands as a STAGED snapshot
  // (invisible to every reader) and commitStagedChanges publishes it as
  // one O(1) metadata flip — a failed query leaves no half-created
  // table (CTAS) and a byte-untouched live table (RTAS).

  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val t = tableOf(ident)
    if (t.existsVisible) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(t, schema,
      partitions.toSeq.map(GraftCatalog.toPartitionField),
      properties.asScala.toMap, replace = false)
  }

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val t = tableOf(ident)
    if (!t.existsVisible) throw new NoSuchTableException(ident)
    checkTeamAccess(ident.name, t.fullName, "write")
    new GraftStagedTable(t, schema,
      partitions.toSeq.map(GraftCatalog.toPartitionField),
      properties.asScala.toMap, replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val t = tableOf(ident)
    new GraftStagedTable(t, schema,
      partitions.toSeq.map(GraftCatalog.toPartitionField),
      properties.asScala.toMap, replace = t.existsVisible)
  }

  // ---- stored procedures (the Iceberg CALL system.* vocabulary) ----
  // `CALL graft.system.expire_snapshots(...)` etc. — each resolves the
  // 'ns.table' argument under THIS catalog's warehouse and executes the
  // same engine primitive the Scala API exposes.

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, { (ref, requiresTable) =>
      val parts = ref.split("\\.", 2)
      require(parts.length == 2,
        s"procedure table argument must be '<namespace>.<table>', got '$ref'")
      // maintenance procedures MUTATE the table (compact, expire,
      // rollback, cherry-pick): namespace matrix + writer-level in the
      // per-team table matrix
      org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
        graft.governance.AccessControl.checkNamespaceAccess(parts(0), ref, s, "write")
        graft.governance.AccessControl.checkTableAccess(s, parts(1), ref, "write")
      }
      val t = SnapshotTable(warehouse, parts(0), parts(1))
      if (requiresTable && !t.existsVisible)
        throw new NoSuchTableException(Identifier.of(Array(parts(0)), parts(1)))
      t
    })

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.list()
    else Array.empty

  /** DDL schema evolution, mapped onto the metadata-only commits. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tableOf(ident)
    if (!t.existsVisible) throw new NoSuchTableException(ident)
    checkTeamAccess(ident.name, t.fullName, "alter")
    val spark = SparkSession.active
    changes.foreach {
      case c: TableChange.AddColumn =>
        require(c.fieldNames.length == 1, "nested ADD COLUMN is not supported")
        t.addColumn(spark, c.fieldNames.head, c.dataType.sql)
      case c: TableChange.RenameColumn =>
        require(c.fieldNames.length == 1, "nested RENAME COLUMN is not supported")
        t.renameColumn(spark, c.fieldNames.head, c.newName)
      case c: TableChange.DeleteColumn =>
        require(c.fieldNames.length == 1, "nested DROP COLUMN is not supported")
        t.dropColumn(spark, c.fieldNames.head)
      case c: TableChange.UpdateColumnType =>
        require(c.fieldNames.length == 1, "nested ALTER COLUMN is not supported")
        t.updateColumnType(spark, c.fieldNames.head, c.newDataType.sql)
      case c: TableChange.SetProperty =>
        require(!GraftCatalog.ReservedProperties.contains(c.property),
          s"property '${c.property}' is engine-managed and cannot be set")
        // operative properties validate at SET time: a typo'd sort
        // order or bloom config fails the ALTER, not some later
        // unrelated INSERT deep inside a write task
        GraftCatalog.validateOperativeProps(Map(c.property -> c.value))
        t.setProperties(Map(c.property -> c.value))
      case c: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(c.property))
      case other =>
        throw new UnsupportedOperationException(s"unsupported table change: $other")
    }
    new GraftSparkTable(t, None, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    GraftViewStore.read(warehouse, ident)
      .filter(GraftViewSql.isMaterialized)
      .foreach(_ => throw new IllegalArgumentException(
        s"${ident.toString} is a MATERIALIZED view's storage table — " +
          "CALL graft.system.drop_materialized_view instead"))
    val t = tableOf(ident)
    if (!t.exists) return false
    checkTeamAccess(ident.name, t.fullName, "alter")
    graft.sink.SnapshotTable.deleteTree(new java.io.File(t.root))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported: snapshot metadata records absolute dir paths")

  // ---- namespaces: derived from the warehouse's <ns>.<table> layout ----

  // ---- saved views (ViewCatalog) -----------------------------------
  // The reference pre-provisions its user-facing entry points as named
  // Athena queries (aws/modules/athena/main.tf:26-67); the engine's
  // equivalent is a persisted view sidecar per namespace. The SQL
  // statements (CREATE/DROP/SHOW VIEW + view reads) arrive through
  // GraftViewSql (parser + resolution rule — Spark 4.1's own SQL layer
  // only plans view DDL for the v1 session catalog); this API is the
  // programmatic front door over the same store.

  private def viewIdent(ident: Identifier): Identifier = {
    require(ident.namespace.length == 1,
      s"graft views are <namespace>.<name>; got ${ident.toString}")
    ident
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace.toArray)
    GraftViewStore.list(warehouse, namespace.head).toArray
  }

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View =
    GraftViewStore.read(warehouse, viewIdent(ident))
      .map(new GraftView(catalogName, _))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && GraftViewStore.exists(warehouse, ident)

  override def createView(info: ViewInfo): org.apache.spark.sql.connector.catalog.View = {
    val ident = viewIdent(info.ident)
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
      graft.governance.AccessControl.checkNamespaceAccess(
        ident.namespace.head, s"${ident.namespace.head}.${ident.name}", s))
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    if (tableOf(ident).existsVisible)
      throw new IllegalArgumentException(
        s"cannot create view ${ident.toString}: a TABLE with that name exists")
    // validate exactly as the SQL command does: the expanded body must
    // analyze, so an unresolvable view can never be persisted
    val spark = org.apache.spark.sql.SparkSession.active
    val userAliases = info.columnAliases.toSeq
    val (qNames, schema) =
      GraftViewSql.validate(spark, catalogName, ident, info.sql, userAliases)
    val sv = GraftViewStore.StoredView(
      namespace = ident.namespace.head,
      name = ident.name,
      sql = info.sql,
      currentCatalog = catalogName,
      currentNamespace = Seq(ident.namespace.head),
      schemaJson = schema.json,
      queryColumnNames = qNames,
      columnAliases = userAliases,
      properties = info.properties.asScala.toMap)
    GraftViewStore.write(warehouse, sv)
    new GraftView(catalogName, sv)
  }

  override def alterView(ident: Identifier, changes: ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val sv = GraftViewStore.read(warehouse, viewIdent(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    require(!GraftViewSql.isMaterialized(sv),
      s"${ident.toString} is a MATERIALIZED view: its properties carry " +
        "engine-managed refresh watermarks and cannot be edited")
    val props = changes.foldLeft(sv.properties) {
      case (p, set: ViewChange.SetProperty) => p + (set.property -> set.value)
      case (p, rm: ViewChange.RemoveProperty) => p - rm.property
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported view change $other")
    }
    val updated = sv.copy(properties = props)
    GraftViewStore.write(warehouse, updated)
    new GraftView(catalogName, updated)
  }

  override def dropView(ident: Identifier): Boolean = {
    GraftViewStore.read(warehouse, ident)
      .filter(GraftViewSql.isMaterialized)
      .foreach(_ => throw new IllegalArgumentException(
        s"${ident.toString} is a MATERIALIZED view — " +
          "CALL graft.system.drop_materialized_view to drop it with its storage"))
    ident.namespace.length == 1 && GraftViewStore.delete(warehouse, ident)
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    viewIdent(oldIdent); viewIdent(newIdent)
    GraftViewStore.read(warehouse, oldIdent)
      .filter(GraftViewSql.isMaterialized)
      .foreach(_ => throw new IllegalArgumentException(
        s"${oldIdent.toString} is a MATERIALIZED view: its name binds the " +
          "storage table — drop and recreate instead of renaming"))
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    if (tableOf(newIdent).existsVisible)
      throw new IllegalArgumentException(
        s"cannot rename view to ${newIdent.toString}: a TABLE with that name exists")
    GraftViewStore.rename(warehouse, oldIdent, newIdent)
  }

  override def listNamespaces(): Array[Array[String]] =
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("."))
      .map(_.getName.split("\\.", 2)(0)).distinct.sorted
      .map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && listNamespaces().exists(_.sameElements(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    require(namespace.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
  // namespaces materialize with their first table; nothing to create

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "drop tables individually; graft namespaces carry no metadata")
}

object GraftCatalog {
  /** Metadata-table names resolvable as `graft.<ns>.<table>.<meta>`. */
  val MetaTables: Set[String] =
    Set("snapshots", "history", "partitions", "files", "manifests", "entries",
      "refs", "deletes", "position_deletes")

  /** Keys the engine computes on read (or Spark manages itself) — never
    * stored as user properties and not settable via DDL.
    */
  val ReservedProperties: Set[String] =
    Set("provider", "format", "current-snapshot-id", "location", "owner",
      "external", "is_managed_location")

  /** Spark connector Transform -> engine PartitionField. Names cover
    * both the SQL forms (`days(ts)`) and the Expressions factories.
    */
  private[catalog] def toPartitionField(t: Transform): graft.template.PartitionField = {
    def refName: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"partition transform must reference one top-level column, got $t")
      refs(0).fieldNames()(0)
    }
    def intArg: Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value().isInstanceOf[Number] =>
        l.value().asInstanceOf[Number].intValue()
    }.getOrElse(throw new IllegalArgumentException(
      s"partition transform $t needs an integer argument"))
    t.name() match {
      case "identity"          => graft.template.PartitionField(refName, "identity")
      case "years" | "year"    => graft.template.PartitionField(refName, "year")
      case "months" | "month"  => graft.template.PartitionField(refName, "month")
      case "days" | "day"      => graft.template.PartitionField(refName, "day")
      case "hours" | "hour"    => graft.template.PartitionField(refName, "hour")
      case "bucket"            => graft.template.PartitionField(refName, "bucket", intArg)
      case "truncate"          => graft.template.PartitionField(refName, "truncate", intArg)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' (supported: identity, year(s), " +
          "month(s), day(s), hour(s), bucket, truncate)")
    }
  }

  /** Validate OPERATIVE table properties (the ones writes consume) at
    * DDL time — a typo'd sort order or bloom config must fail the
    * CREATE/ALTER that declares it, not some later unrelated write.
    */
  private[catalog] def validateOperativeProps(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      if (k == graft.sink.WriteSortOrder.Key)
        graft.sink.WriteSortOrder.parse(v): Unit
      if (k == graft.sink.WriteDistribution.Key)
        graft.sink.WriteDistribution.parse(v): Unit
      if (k.startsWith(graft.sink.SnapshotTable.BloomEnabledPrefix))
        require(v == "true" || v == "false",
          s"'$k' must be true or false, got '$v'")
      if (k.startsWith(graft.sink.SnapshotTable.BloomNdvPrefix))
        require(v.toLongOption.exists(_ > 0),
          s"'$k' must be a positive integer, got '$v'")
    }

  /** Engine PartitionField -> Spark connector Transform (the inverse of
    * [[toPartitionField]], used to report declared specs back to Spark).
    */
  private[catalog] def toTransform(p: graft.template.PartitionField): Transform =
    p.transform match {
      case "identity" => Expressions.identity(p.column)
      case "year"     => Expressions.years(p.column)
      case "month"    => Expressions.months(p.column)
      case "day"      => Expressions.days(p.column)
      case "hour"     => Expressions.hours(p.column)
      case "bucket"   => Expressions.bucket(p.n, p.column)
      case "truncate" => Expressions.apply("truncate",
        Expressions.literal(p.n), Expressions.column(p.column))
      case other => throw new IllegalStateException(s"bad stored transform $other")
    }

  private[catalog] def writePartitionSpec(
      root: String, spec: Seq[graft.template.PartitionField]): Unit =
    graft.sink.DeclaredPartitionSpec.write(root, spec)

  private[catalog] def readPartitionSpec(root: String): Seq[graft.template.PartitionField] =
    graft.sink.DeclaredPartitionSpec.read(root)
}

object GraftSparkTable {

  /** Translate a pushed DELETE condition (a conjunction array) into
    * equality-delete key tuples: `(keyCols, rows)`. Accepted: any number
    * of `EqualTo` on distinct columns plus at most one `In`, whose
    * values fan the tuples out. None for anything else — the caller
    * reports not-deletable instead of approximating.
    */
  private[catalog] def keyRows(
      filters: Array[org.apache.spark.sql.sources.Filter]): Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    if (filters.isEmpty) return None
    val eqs = filters.collect { case EqualTo(a, v) => (a, v) }.toSeq
    val ins = filters.collect { case i: In => i }.toSeq
    if (eqs.size + ins.size != filters.length) return None // unsupported shape present
    if (ins.size > 1) return None
    val eqCols = eqs.map(_._1)
    val allCols = eqCols ++ ins.map(_.attribute)
    if (allCols.distinct.size != allCols.size) return None // repeated column => range-ish
    ins.headOption match {
      case None => Some((eqCols, Seq(eqs.map(_._2))))
      case Some(in) =>
        if (in.values.isEmpty) return None
        Some((allCols, in.values.toSeq.map(v => eqs.map(_._2) :+ v)))
    }
  }
}

/** One [[SnapshotTable]] (optionally pinned to a snapshot id or an
  * as-of timestamp) exposed through the DSv2 `Table` interface.
  *
  * The PRIMARY read path is the [[graft.GraftExtensions]] analyzer rule
  * that inlines [[dataFrame]]'s plan into the query; the V1Scan here is
  * the extension-less fallback (column-pruned inner plan, Spark applies
  * filters post-scan). Writes go through the V1 write fallback onto
  * `append`/`overwrite`, preserving the table's partition layout.
  */
final class GraftSparkTable(
    val snapTable: SnapshotTable,
    val pinnedVersion: Option[Long],
    val pinnedAsOfMs: Option[Long],
    val metaKind: Option[String] = None,
    // MATERIALIZED-view storage: engine-managed, SQL writes refuse with
    // a pointer to CALL refresh_materialized_view
    val mvStorage: Boolean = false) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The table's native scan plan at the pinned state — exactly what
    * the Scala API serves (coalesced multi-path scans, masks, deletes,
    * schema projection). Metadata tables serve their listing instead:
    * pure metadata reads (snapshot JSON + sidecars), zero data I/O —
    * the Iceberg `$snapshots`/`$partitions` contract.
    */
  def dataFrame(spark: SparkSession): DataFrame = metaKind match {
    case Some("snapshots") =>
      import spark.implicits._
      snapTable.snapshots
        .map(sn => (sn.id, sn.committedAtMs, sn.operation, sn.rowCount,
          sn.staged, sn.parentId.getOrElse(-1L), sn.dataDirs.size, sn.summary))
        .toDF("snapshot_id", "committed_at_ms", "operation", "row_count",
          "staged", "parent_id", "data_dir_count", "summary")
    case Some("history") =>
      import spark.implicits._
      // is_current_ancestor (Iceberg $history): whether the snapshot is
      // on the parent chain of the current head — false marks lineage a
      // rollback abandoned (reads of those commits' ids still work;
      // they are just not ancestors of today's table)
      val published = snapTable.snapshots.filterNot(_.staged)
      val ancestors = {
        val byId = published.map(s => s.id -> s).toMap
        val b = scala.collection.mutable.Set.empty[Long]
        var cur = snapTable.currentSnapshot.map(_.id)
        while (cur.isDefined && !b.contains(cur.get)) {
          b += cur.get
          cur = byId.get(cur.get).flatMap(_.parentId).filter(_ != 0L)
        }
        b.toSet
      }
      published
        .map(sn => (sn.id, sn.committedAtMs, sn.operation, sn.parentId.getOrElse(-1L),
          ancestors.contains(sn.id)))
        .toDF("snapshot_id", "committed_at_ms", "operation", "parent_id",
          "is_current_ancestor")
    case Some("partitions") => snapTable.partitionStats(spark)
    case Some("files") => snapTable.fileStats(spark)
    case Some("manifests") => snapTable.manifestStats(spark)
    case Some("entries") => snapTable.entryStats(spark)
    case Some("refs") =>
      import spark.implicits._
      // the published head surfaces as the implicit `main` branch,
      // Iceberg's $refs shape
      val main = snapTable.currentSnapshot
        .map(sn => ("main", "branch", sn.id,
          None: Option[Long], None: Option[Int], None: Option[Long])).toSeq
      (main ++ snapTable.refs.map(r => (r.name, r.kind, r.snapshotId,
        r.maxRefAgeMs, r.minSnapshotsToKeep, r.maxSnapshotAgeMs)))
        .toDF("name", "type", "snapshot_id",
          "max_reference_age_in_ms", "min_snapshots_to_keep",
          "max_snapshot_age_in_ms")
    case Some("deletes") =>
      import spark.implicits._
      // the ACTIVE merge-on-read delete files (Iceberg's delete-files
      // metadata view): one row per delete file still anti-joined at
      // read time — kind (equality | positional), its key columns, and
      // how many data dirs it scopes to. Pure metadata (snapshot JSON);
      // compaction/rewrite paying the debt empties this listing.
      snapTable.currentSnapshot.map(_.deletes).getOrElse(Nil)
        .map(d => (d.dir,
          if (d.positional) "positional" else "equality",
          d.keys, d.applies.size,
          d.format.getOrElse(snapTable.currentSnapshot.map(_.format).getOrElse("parquet"))))
        .toDF("path", "kind", "key_columns", "applies_dir_count", "file_format")
    case Some("position_deletes") =>
      // Iceberg's position_deletes table: the ACTIVE (data file, row
      // position) pairs themselves, each stamped with the delete file
      // it came from. Reads only the (tiny) delete files, never data.
      import org.apache.spark.sql.functions.{col, lit}
      val posDels = snapTable.currentSnapshot.map(_.deletes).getOrElse(Nil)
        .filter(_.positional)
      posDels
        .map { d =>
          graft.sink.SnapshotTable.loadDir(spark,
              d.format.getOrElse(snapTable.currentSnapshot.map(_.format).getOrElse("parquet")),
              d.dir)
            .select(
              col(graft.sink.SnapshotTable.RowIdFileCol).as("file_path"),
              col(graft.sink.SnapshotTable.RowIdPosCol).as("pos"),
              lit(d.dir).as("delete_file"))
        }
        .reduceOption(_ unionByName _)
        .getOrElse {
          import spark.implicits._
          Seq.empty[(String, Long, String)].toDF("file_path", "pos", "delete_file")
        }
    case Some(other) => throw new IllegalArgumentException(
      s"unknown metadata table '$other' (supported: ${GraftCatalog.MetaTables.mkString(", ")})")
    case None => pinnedVersion match {
      case Some(v) => snapTable.readSnapshot(spark, v)
      case None => pinnedAsOfMs match {
        case Some(ts) => snapTable.readAsOf(spark, ts)
        case None     => snapTable.read(spark)
      }
    }
  }

  override def name(): String =
    snapTable.fullName + metaKind.map("." + _).getOrElse("")

  override lazy val schema: StructType = dataFrame(SparkSession.active).schema

  override def partitioning(): Array[Transform] =
    if (metaKind.isDefined) Array.empty
    else {
      // DDL-declared transforms report as declared (days(ts), ...);
      // write-established layouts report identity of the dir columns
      val declared = GraftCatalog.readPartitionSpec(snapTable.root)
      if (declared.nonEmpty) declared.map(GraftCatalog.toTransform).toArray
      else snapTable.partitionColumns.map(Expressions.identity).toArray
    }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    // persisted user TBLPROPERTIES first; engine-computed keys overlay
    snapTable.properties.foreach { case (k, v) => m.put(k, v) }
    m.put("provider", "graft")
    snapTable.currentSnapshot.foreach { s =>
      m.put("format", s.format)
      m.put("current-snapshot-id", s.id.toString)
    }
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required.getOrElse(schema)
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftV1Relation(GraftSparkTable.this, required, context).asInstanceOf[T]
      }
    }

  /** `DELETE FROM graft.ns.t WHERE <keys>` — mapped onto the
    * merge-on-read EQUALITY DELETE (the GDPR erasure primitive): no
    * data file is rewritten; the matching key tuples become a delete
    * file anti-joined at read until compaction applies it physically.
    * Supported shapes are exactly the equality-delete-expressible ones:
    * a conjunction of `col = v` (one composite key tuple), optionally
    * with one `col IN (...)` fanning out the tuples. Anything else
    * (ranges, disjunctions over different columns) reports
    * not-deletable rather than silently over- or under-deleting.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    metaKind.isEmpty && pinnedVersion.isEmpty && pinnedAsOfMs.isEmpty &&
      GraftSparkTable.keyRows(filters).isDefined

  private def teamCheck(verb: String): Unit = {
    if (verb == "write") require(!mvStorage,
      s"${snapTable.fullName} is a MATERIALIZED view: its storage is " +
        "engine-managed — CALL graft.system.refresh_materialized_view instead")
    SparkSession.getActiveSession.foreach(s =>
      graft.governance.AccessControl.checkTableAccess(
        s, snapTable.fullName.split("\\.", 2).last, snapTable.fullName, verb))
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    teamCheck("write")
    val (keyCols, rows) = GraftSparkTable.keyRows(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE on ${name()} supports equality predicates (col = v [AND ...], " +
          s"one col IN (...)); got: ${filters.mkString(", ")}"))
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField}
    // build the key tuples as strings, then cast to the TABLE's column
    // types so the anti-join keys match regardless of literal widths
    val sschema = StructType(keyCols.map(StructField(_, StringType)).toArray)
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach(r => jrows.add(org.apache.spark.sql.Row.fromSeq(
      r.map(v => if (v == null) null else v.toString))))
    val keys = spark.createDataFrame(jrows, sschema)
      .select(keyCols.map(c => col(c).cast(schema(c).dataType).as(c)): _*)
    snapTable.deleteWhere(keys, keyCols): Unit
  }

  /** `TRUNCATE TABLE graft.ns.t` — an empty overwrite snapshot: the
    * schema survives, history survives (pre-truncate snapshots still
    * time-travel; expiry governs their lifetime), and the commit is
    * METADATA-ONLY via the empty-write path — no dir is written or
    * referenced. Not the v1 "delete the directory" truncate: a
    * snapshot table's past is part of its contract.
    */
  override def truncateTable(): Boolean = {
    teamCheck("write")
    require(metaKind.isEmpty && pinnedVersion.isEmpty && pinnedAsOfMs.isEmpty,
      s"cannot TRUNCATE ${name()}: metadata tables and pinned reads are read-only")
    val spark = SparkSession.active
    // a ZERO-partition empty frame (not scan.limit(0), which still runs
    // one task and writes one empty part file): no tasks, no files —
    // the commit takes the metadata-only empty-write path. Schema from
    // the head snapshot's tracked columns (O(1) metadata), not from
    // building the full merged read plan (O(dirs) sidecar walks).
    val headSchema = StructType(snapTable.schema.map(c =>
      org.apache.spark.sql.types.StructField(c.name,
        org.apache.spark.sql.types.DataType.fromDDL(c.dataType))).toArray)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      if (headSchema.nonEmpty) headSchema else snapTable.read(spark).schema)
    snapTable.overwrite(empty,
      format = snapTable.currentSnapshot.map(_.format).getOrElse("parquet"))
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(metaKind.isEmpty,
      s"metadata table ${name()} is read-only")
    require(pinnedVersion.isEmpty && pinnedAsOfMs.isEmpty,
      s"cannot write to ${snapTable.fullName} at a pinned VERSION/TIMESTAMP")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ow: Boolean): Unit = {
              teamCheck("write")
              val fmt = snapTable.currentSnapshot.map(_.format).getOrElse("parquet")
              val declared = GraftCatalog.readPartitionSpec(snapTable.root)
              val (toWrite, pCols) =
                if (declared.nonEmpty) {
                  // DDL-declared hidden partitioning: RE-derive every
                  // directory column from its source column (a stale or
                  // null value arriving in the derived slot — e.g. an
                  // INSERT with a named column list — must not leak
                  // into the layout)
                  val derived = declared.map(graft.sink.TableSink.transformColumn)
                  (derived.foldLeft(data) { case (d, (nm, c)) => d.withColumn(nm, c) },
                    derived.map(_._1))
                } else
                  // preserve the write-established layout across SQL writes
                  (data, snapTable.partitionColumns)
              // branch-routed SQL writes (Iceberg's `spark.wap.branch`
              // session conf): INSERT INTO lands on the named branch —
              // invisible to published reads until fastForward — so a
              // whole SQL pipeline can stage-audit-publish without its
              // statements naming the branch anywhere
              val branch = Option(org.apache.spark.sql.internal.SQLConf.get
                .getConfString("spark.graft.write.branch", null)).filter(_.nonEmpty)
              // declared write sort order (the write.sort.order table
              // property): every catalog write lands internally sorted
              val sorts = graft.sink.WriteSortOrder.sortCols(snapTable)
              branch match {
                case Some(b) =>
                  require(!(overwrite || ow),
                    s"INSERT OVERWRITE cannot target branch '$b': branch " +
                      "writes are append-only (overwrite the branch via " +
                      "fastForward after auditing, or drop and re-branch)")
                  snapTable.appendToBranch(b, toWrite, pCols, sorts, format = fmt): Unit
                case None =>
                  if (overwrite || ow) snapTable.overwrite(toWrite, pCols, sorts, format = fmt)
                  else snapTable.append(toWrite, pCols, sorts, format = fmt): Unit
              }
            }
          }
      }
    }
  }
}

/** Atomic CTAS / RTAS (the Iceberg `StagedTable` role). The query's
  * result is fully written and committed as a STAGED snapshot —
  * invisible to every reader — and only [[commitStagedChanges]]
  * publishes it, an O(1) metadata flip under the table's commit lock.
  * A failed query aborts instead: CREATE leaves no table behind,
  * REPLACE leaves the live table byte-untouched; no reader ever
  * observes an intermediate state. REPLACE preserves snapshot history
  * (pre-replace snapshots stay time-travelable), evolves the declared
  * partition spec to the new DDL's transforms (old dirs keep their
  * layout), and replaces the user TBLPROPERTIES wholesale — the new
  * table definition wins. Reference DDL shape: the console's CTAS
  * provisioning, `aws/modules/athena/main.tf:26-45`.
  */
final class GraftStagedTable(
    t: SnapshotTable,
    schema0: StructType,
    spec: Seq[graft.template.PartitionField],
    props: Map[String, String],
    replace: Boolean) extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  spec.foreach(p => require(schema0.fieldNames.contains(p.column),
    s"PARTITIONED BY references unknown column ${p.column}"))
  GraftCatalog.validateOperativeProps(props -- GraftCatalog.ReservedProperties)

  // declared write sort order from the NEW definition's TBLPROPERTIES
  // (a REPLACE must sort by the new declaration, not the old table's)
  private val sortCols: Seq[org.apache.spark.sql.Column] =
    props.get(graft.sink.WriteSortOrder.Key).map { v =>
      val fields = graft.sink.WriteSortOrder.parse(v)
      val unknown = fields.map(_.column).filterNot(schema0.fieldNames.contains)
      require(unknown.isEmpty,
        s"${graft.sink.WriteSortOrder.Key} references unknown column(s) " +
          unknown.mkString(", "))
      fields.map(graft.sink.TableSink.sortColumn)
    }.getOrElse(Nil)

  private val fmt = props.getOrElse("format", "parquet")
  private def userProps: Map[String, String] = props -- GraftCatalog.ReservedProperties
  @volatile private var stagedId: Option[Long] = None

  private def createEmpty(): Unit = {
    t.create(schema0.fields.toSeq.map(f => f.name -> f.dataType.sql), fmt)
    if (spec.nonEmpty) GraftCatalog.writePartitionSpec(t.root, spec)
    if (userProps.nonEmpty) t.setProperties(userProps)
  }

  override def name(): String = t.fullName
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] =
    spec.map(GraftCatalog.toTransform).toArray
  override def properties(): util.Map[String, String] = props.asJava
  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged write IS a full refresh already; nothing to truncate
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ow: Boolean): Unit = {
              // hidden partitioning: derive every directory column from
              // its source column per the DDL transforms — the same
              // contract as the catalog's INSERT path
              val derived = spec.map(graft.sink.TableSink.transformColumn)
              val toWrite = derived.foldLeft(data) {
                case (d, (nm, c)) => d.withColumn(nm, c)
              }
              val pCols = derived.map(_._1)
              stagedId =
                if (replace)
                  Some(t.stageOverwrite(toWrite, pCols, sortCols, format = fmt).id)
                else
                  // CREATE: stage ONLY — the staged snapshot (and its
                  // column ids, derived from the query result) is
                  // invisible to every reader, lister and rival CREATE
                  // until commitStagedChanges publishes it; nothing of
                  // the table exists before commit, per the StagedTable
                  // contract
                  Some(t.stageAppend(toWrite, pCols, sortCols, format = fmt).id)
            }
          }
      }
    }

  /** Replace the user TBLPROPERTIES wholesale and evolve the declared
    * spec — ONLY called after the data flip succeeded (see ordering
    * note in [[commitStagedChanges]]).
    */
  private def adoptNewDefinition(): Unit = {
    graft.sink.DeclaredPartitionSpec.write(t.root, spec)
    val stale = t.properties.keys.toSeq
    if (stale.nonEmpty) t.unsetProperties(stale)
    if (userProps.nonEmpty) t.setProperties(userProps)
  }

  /** A zero-partition empty frame with the DDL schema — writes no
    * tasks, no files; its commit takes the metadata-only path.
    */
  private def emptyFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)

  override def commitStagedChanges(): Unit =
    SnapshotTable.commitLock(t.root).synchronized {
      stagedId match {
        case Some(id) =>
          if (replace) {
            // ORDER MATTERS: publish first (it CAS-checks the head and
            // throws on conflict WITHOUT mutating anything), adopt the
            // new spec/properties only after the data flip succeeded —
            // the reverse order would leave a conflicted REPLACE's new
            // metadata clobbering the untouched old table. Both steps
            // run under the table lock, so no rival writer interleaves.
            t.publish(id): Unit
            adoptNewDefinition()
          } else {
            // CREATE: this flip is the table's birth — nothing was
            // visible before it. A rival that PUBLISHED the same name
            // while our query ran (plain CREATE, or a rival CTAS that
            // committed first) owns the table; our CTAS fails whole,
            // leaving the rival byte-untouched. Rival STAGED snapshots
            // (a CTAS still in flight) don't block us — the loser's own
            // commit will detect our published state here.
            if (t.snapshots.exists(s => !s.staged && s.id != id)) {
              t.discardStaged(id)
              throw new IllegalStateException(
                s"CREATE TABLE ${t.fullName} AS SELECT lost the create " +
                  "race: the table was created concurrently while the " +
                  "query ran; it remains untouched (retry as INSERT or " +
                  "REPLACE TABLE)")
            }
            t.publish(id): Unit
            if (spec.nonEmpty) GraftCatalog.writePartitionSpec(t.root, spec)
            if (userProps.nonEmpty) t.setProperties(userProps)
          }
        case None =>
          // no staged write: Spark routes plain (non-AS-SELECT)
          // REPLACE TABLE / CREATE OR REPLACE TABLE DDL through the
          // staging catalog too — materialize the new EMPTY definition
          if (replace) {
            // empty overwrite adopting the new schema (history kept,
            // like RTAS), then the new spec/properties
            t.overwrite(emptyFrame(SparkSession.active), format = fmt): Unit
            adoptNewDefinition()
          } else if (!t.existsVisible) createEmpty()
      }
    }

  override def abortStagedChanges(): Unit =
    // under the table's commit lock: the foreign-state check and any
    // root removal must be atomic against a rival CTAS staging into the
    // same (not-yet-visible) root concurrently
    SnapshotTable.commitLock(t.root).synchronized {
      // idempotent: a CTAS that lost the create race already discarded
      // its stage inside commitStagedChanges — the abort Spark issues
      // right after must be a no-op, not a NoSuchElementException that
      // masks the race error
      stagedId.filter(id => t.snapshots.exists(s => s.id == id && s.staged))
        .foreach { id =>
        if (replace)
          // RTAS: drop the staged snapshot and its data; the published
          // table was never touched
          t.discardStaged(id)
        else {
          // CREATE: nothing was ever visible. If our staged snapshot is
          // the ONLY state under the root, remove the root wholesale —
          // no trace remains. Foreign snapshots (a rival in-flight CTAS's
          // stage, or a published table that won the name) must survive:
          // drop only ours.
          val foreign = t.snapshots.exists(_.id != id)
          if (foreign) t.discardStaged(id)
          else {
            graft.sink.SnapshotTable.deleteTree(new java.io.File(t.root))
          }
        }
      }
    }
}

/** Extension-less fallback relation: executes the (column-pruned)
  * native plan and hands Spark the rows; Spark re-applies every filter
  * on top. Pruning/pushdown still happen INSIDE the inner plan's scans.
  */
private final class GraftV1Relation(
    table: GraftSparkTable,
    required: Option[StructType],
    context: SQLContext) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = required.getOrElse(table.schema)
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val df = table.dataFrame(context.sparkSession)
    val pruned = required match {
      case Some(s) if s.fieldNames.nonEmpty =>
        df.select(s.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
      case Some(_) => // COUNT(*)-style empty projection
        df.select()
      case None => df
    }
    pruned.rdd
  }
}
