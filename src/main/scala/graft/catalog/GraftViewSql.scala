package graft.catalog

import org.apache.spark.sql.{AnalysisException, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

/** SQL front door for SAVED VIEWS over the graft catalog — the engine's
  * form of the reference's named queries (`aws/modules/athena/main.tf:
  * 26-67` pre-provisions DDL + time-travel statements as saved,
  * user-facing entry points; a console user "runs the named query").
  *
  * Spark 4.1 ships the DSv2 [[org.apache.spark.sql.connector.catalog.ViewCatalog]]
  * interface but its SQL layer only plans view DDL against the v1
  * session catalog (`ResolveSessionCatalog` raises on any other
  * catalog before extension resolution rules can run). So, exactly like
  * Iceberg's Spark extensions, the statements are intercepted one level
  * earlier:
  *
  *  - [[GraftViewSqlParser]] (a delegating `ParserInterface` installed
  *    by [[graft.GraftExtensions]]) rewrites parsed
  *    `CREATE [OR REPLACE] VIEW` / `DROP VIEW` / `SHOW VIEWS`
  *    statements that target a graft catalog by FULLY-QUALIFIED name
  *    (`graft.ns.v` — the contract; 1/2-part names keep their vanilla
  *    session-catalog/temp-view meaning untouched) into runnable
  *    commands over [[GraftViewStore]].
  *  - [[GraftViewRule]] (resolution rule) expands reads: any
  *    `UnresolvedRelation` naming a stored view is substituted by its
  *    parsed SQL body — re-expanded TEXT, so the view always reflects
  *    current table state, and time-travel clauses inside the body
  *    (`VERSION AS OF` / `TIMESTAMP AS OF`) resolve through the
  *    catalog's own time-travel hooks.
  *
  * Name scoping inside a view body: BARE table names bind to the
  * view's own catalog + namespace (captured at creation — the same
  * scoping a saved Athena query gets from its workgroup database);
  * CTE-bound names are left alone. Nested views expand recursively
  * with an explicit seen-set, so a reference cycle fails with a clear
  * "recursive view" error instead of an analyzer loop. Creation
  * analyzes the expanded body up front: a view that would not resolve
  * is rejected at CREATE time, never discovered at first read.
  */
object GraftViewSql {

  /** Is `name` configured as a graft catalog? Conf-only (never
    * instantiates a catalog at parse time).
    */
  def isGraftCatalogName(name: String): Boolean =
    Option(SQLConf.get.getConfString(s"spark.sql.catalog.$name", null))
      .contains(classOf[GraftCatalog].getName)

  /** Fully-qualified (3-part) graft-catalog object name → identifier. */
  def target(parts: Seq[String]): Option[(String, Identifier)] = parts match {
    case Seq(cat, ns, name) if isGraftCatalogName(cat) =>
      Some((cat, Identifier.of(Array(ns), name)))
    case _ => None
  }

  def warehouseOf(catalogName: String): String =
    Option(SQLConf.get.getConfString(s"spark.sql.catalog.$catalogName.warehouse", null))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName needs spark.sql.catalog.$catalogName.warehouse"))

  /** Stored view for fully-qualified `parts`, if one exists. A graft
    * catalog registered WITHOUT a warehouse simply has no views (the
    * missing-conf error surfaces on the catalog's own operations, not
    * as a failure of every unrelated statement this probe touches).
    */
  def storedView(parts: Seq[String]): Option[(String, Identifier, GraftViewStore.StoredView)] =
    target(parts).flatMap { case (cat, ident) =>
      Option(SQLConf.get.getConfString(s"spark.sql.catalog.$cat.warehouse", null))
        .flatMap(wh => GraftViewStore.read(wh, ident))
        .map((cat, ident, _))
    }

  private def viewKey(cat: String, ident: Identifier): String =
    s"$cat.${ident.namespace.head}.${ident.name}"

  /** Parse a view body and bind its relation names: bare names (not
    * CTE-bound) get the view's creation context, and nested graft
    * views expand recursively.
    */
  private[catalog] def expandBody(
      spark: SparkSession, sql: String, currentCatalog: String,
      currentNamespace: Seq[String], seen: Set[String]): LogicalPlan = {
    val parsed = GraftSqlShim.parsePlan(spark, sql)
    // CTE names are collected from ANYWHERE in the body (scopes are not
    // tracked): an over-excluded bare name keeps vanilla resolution
    // semantics instead of view-namespace binding. The trade-off is a
    // body that names a CTE after a graft table in a DIFFERENT scope —
    // there the bare name resolves in session scope (or fails analysis
    // at CREATE, never silently at read); precise scoping would need a
    // full resolver. Qualify such names explicitly.
    val cteNames = parsed.collect {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    // relations under a time-travel clause: expanding a TEXT view there
    // would produce an unplannable tree — refuse with a pointer inward
    // (materialized views' storage tables time-travel normally)
    val timeTraveled: Set[LogicalPlan] = parsed.collect {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => tt.relation
    }.toSet
    parsed.transformUp {
      case u: UnresolvedRelation if !u.isStreaming =>
        val parts = u.multipartIdentifier
        val qualified =
          if (parts.length == 1 && cteNames(parts.head.toLowerCase)) parts
          else if (parts.length == 1 && currentNamespace.nonEmpty)
            (currentCatalog +: currentNamespace) :+ parts.head
          else if (parts.length == 2) currentCatalog +: parts
          else parts
        storedView(qualified) match {
          case Some((cat, ident, sv)) if !GraftViewSql.isMaterialized(sv) =>
            if (timeTraveled(u)) throw new IllegalArgumentException(
              s"${qualified.mkString(".")} is a VIEW: time travel applies to " +
                "tables — put VERSION AS OF / TIMESTAMP AS OF inside the view body")
            expandView(spark, cat, ident, sv, seen)
          case Some(_) if qualified ne parts => // materialized: serve storage
            u.copy(multipartIdentifier = qualified)
          case Some(_) => u
          case None if qualified ne parts =>
            u.copy(multipartIdentifier = qualified)
          case None => u
        }
    }
  }

  /** One view → its substituted plan: expanded body, creation-time
    * column aliases re-applied, wrapped in a SubqueryAlias so column
    * references can qualify as `v.col`.
    */
  private[catalog] def expandView(
      spark: SparkSession, cat: String, ident: Identifier,
      sv: GraftViewStore.StoredView, seen: Set[String]): LogicalPlan = {
    val key = viewKey(cat, ident)
    if (seen(key)) throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3071",
      messageParameters = Map("msg" ->
        s"recursive view $key detected (cycle: ${(seen + key).mkString(" -> ")})"))
    graft.governance.AccessControl.checkNamespaceAccess(
      ident.namespace.head, s"${ident.namespace.head}.${ident.name}", spark)
    val body = expandBody(spark, sv.sql, sv.currentCatalog, sv.currentNamespace, seen + key)
    val named =
      if (sv.columnAliases.isEmpty) body
      else Project(sv.queryColumnNames.zip(sv.columnAliases).map { case (q, a) =>
        Alias(UnresolvedAttribute.quoted(q), a)()
      }, body)
    SubqueryAlias(Seq(cat, ident.namespace.head, ident.name), named)
  }

  /** Analyze a candidate view body as reads will see it; returns the
    * query's output names and the view schema (with user aliases
    * applied). Shared by the SQL command and the ViewCatalog API so a
    * view that cannot resolve is impossible to persist.
    */
  private[catalog] def validate(
      spark: SparkSession, cat: String, ident: Identifier, sql: String,
      userAliases: Seq[String]): (Seq[String], StructType) = {
    val expanded = expandBody(spark, sql, cat, Seq(ident.namespace.head),
      seen = Set(viewKey(cat, ident)))
    val analyzed = GraftSqlShim.analyzed(spark, expanded)
    val qNames = analyzed.output.map(_.name)
    if (userAliases.nonEmpty) {
      require(userAliases.length == qNames.length,
        s"CREATE VIEW ${viewKey(cat, ident)}: ${userAliases.length} column " +
          s"aliases for a ${qNames.length}-column query")
      require(qNames.distinct.length == qNames.length,
        s"CREATE VIEW ${viewKey(cat, ident)}: the query emits duplicate column " +
          s"names (${qNames.diff(qNames.distinct).distinct.mkString(", ")}); " +
          "alias them in the query before aliasing the view")
    }
    val finalNames = if (userAliases.nonEmpty) userAliases else qNames
    val schema = StructType(analyzed.schema.fields.zip(finalNames).map {
      case (f, n) => f.copy(name = n)
    })
    (qNames, schema)
  }

  /** Is this stored view a MATERIALIZED view (storage-table-backed)? */
  def isMaterialized(sv: GraftViewStore.StoredView): Boolean =
    sv.properties.get(GraftMaterializedView.MaterializedProp).contains("true")

  /** SHOW VIEWS pattern semantics: '*' = any chars, '|' = alternation,
    * case-insensitive (Spark's session-catalog behavior).
    */
  private[catalog] def matchesPattern(name: String, pattern: Option[String]): Boolean =
    pattern.forall(_.split("\\|").exists { p =>
      val rx = p.trim.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*")
      java.util.regex.Pattern.compile(rx, java.util.regex.Pattern.CASE_INSENSITIVE)
        .matcher(name).matches()
    })
}

/** Delegating parser that lowers view DDL on fully-qualified graft
  * names into runnable commands; everything else passes through
  * verbatim (including temp-view and session-catalog view DDL).
  */
final class GraftViewSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = rewrite(delegate.parsePlan(sqlText))

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case CreateView(UnresolvedIdentifier(parts, _), userCols, comment, collation,
        props, originalText, _, allowExisting, replace, _)
        if GraftViewSql.target(parts).isDefined =>
      require(collation.isEmpty,
        s"CREATE VIEW ${parts.mkString(".")}: DEFAULT COLLATION is not supported")
      require(userCols.forall(_._2.isEmpty),
        s"CREATE VIEW ${parts.mkString(".")}: per-column COMMENTs are not supported")
      val sql = originalText.getOrElse(throw new IllegalArgumentException(
        s"CREATE VIEW ${parts.mkString(".")}: missing view query text"))
      GraftCreateViewCommand(parts, userCols.map(_._1), comment, props, sql,
        allowExisting, replace)
    case DropView(UnresolvedIdentifier(parts, _), ifExists)
        if GraftViewSql.target(parts).isDefined =>
      GraftDropViewCommand(parts, ifExists)
    case AlterViewAs(u: org.apache.spark.sql.catalyst.analysis.UnresolvedView,
        originalText, _) if GraftViewSql.storedView(u.multipartIdentifier).isDefined =>
      GraftAlterViewAsCommand(u.multipartIdentifier, originalText)
    case SetViewProperties(u: org.apache.spark.sql.catalyst.analysis.UnresolvedView,
        props) if GraftViewSql.storedView(u.multipartIdentifier).isDefined =>
      GraftViewPropertiesCommand(u.multipartIdentifier, set = props,
        unset = Nil, unsetIfExists = true)
    case UnsetViewProperties(u: org.apache.spark.sql.catalyst.analysis.UnresolvedView,
        keys, ifExists) if GraftViewSql.storedView(u.multipartIdentifier).isDefined =>
      GraftViewPropertiesCommand(u.multipartIdentifier, set = Map.empty,
        unset = keys, unsetIfExists = ifExists)
    case RenameTable(u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView,
        newName, true) if GraftViewSql.storedView(u.multipartIdentifier).isDefined =>
      GraftRenameViewCommand(u.multipartIdentifier, newName)
    case ShowCreateTable(
        u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView, _, output)
        if GraftViewSql.storedView(u.multipartIdentifier).isDefined =>
      GraftShowCreateViewCommand(u.multipartIdentifier, output)
    case ShowViews(UnresolvedNamespace(parts, _), pattern, output)
        if parts.length == 2 && GraftViewSql.isGraftCatalogName(parts.head) =>
      GraftShowViewsCommand(parts.head, parts(1), pattern, output)
    case other =>
      // time travel ON a view must fail with a pointer inward, and the
      // analyzer's relation resolution throws a bare "not found" for
      // time-travel relations before any extension rule can run — so
      // the clear error is raised here, at parse time
      other.foreach {
        case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
          tt.relation match {
            case u: UnresolvedRelation
                if GraftViewSql.storedView(u.multipartIdentifier)
                  .exists(v => !GraftViewSql.isMaterialized(v._3)) =>
              // a MATERIALIZED view's storage is a snapshot table whose
              // own history time-travels; only TEXT views refuse
              throw new IllegalArgumentException(
                s"${u.multipartIdentifier.mkString(".")} is a VIEW: time travel " +
                  "applies to tables — put VERSION AS OF / TIMESTAMP AS OF " +
                  "inside the view body")
            case _ =>
          }
        case _ =>
      }
      other
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** CREATE [OR REPLACE] VIEW graft.ns.v [(c1, c2)] [COMMENT ...]
  * [TBLPROPERTIES ...] AS <query> — validates by analyzing the
  * expanded body, then persists the sidecar.
  */
final case class GraftCreateViewCommand(
    parts: Seq[String],
    userAliases: Seq[String],
    comment: Option[String],
    props: Map[String, String],
    sql: String,
    allowExisting: Boolean,
    replace: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViewSql.target(parts).get
    val wh = GraftViewSql.warehouseOf(cat)
    graft.governance.AccessControl.checkNamespaceAccess(
      ident.namespace.head, s"${ident.namespace.head}.${ident.name}", spark)
    if (graft.sink.SnapshotTable(wh, ident.namespace.head, ident.name).existsVisible)
      throw new IllegalArgumentException(
        s"cannot CREATE VIEW $cat.${parts.drop(1).mkString(".")}: a TABLE with " +
          "that name already exists")
    if (GraftViewStore.exists(wh, ident) && !replace) {
      if (allowExisting) return Nil
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    }
    val (qNames, schema) = GraftViewSql.validate(spark, cat, ident, sql, userAliases)
    GraftViewStore.write(wh, GraftViewStore.StoredView(
      namespace = ident.namespace.head,
      name = ident.name,
      sql = sql,
      currentCatalog = cat,
      currentNamespace = Seq(ident.namespace.head),
      schemaJson = schema.json,
      queryColumnNames = qNames,
      columnAliases = userAliases,
      properties = props ++ comment.map("comment" -> _)))
    Nil
  }
}

final case class GraftDropViewCommand(parts: Seq[String], ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViewSql.target(parts).get
    graft.governance.AccessControl.checkNamespaceAccess(
      ident.namespace.head, s"${ident.namespace.head}.${ident.name}", spark)
    val wh = GraftViewSql.warehouseOf(cat)
    GraftViewStore.read(wh, ident).foreach(sv =>
      require(!GraftViewSql.isMaterialized(sv),
        s"${parts.mkString(".")} is a MATERIALIZED view — " +
          "CALL graft.system.drop_materialized_view to drop it with its storage"))
    if (!GraftViewStore.delete(wh, ident) && !ifExists)
      throw new NoSuchViewException(ident)
    Nil
  }
}

/** ALTER VIEW graft.ns.v AS <query> — re-validate and swap the body;
  * properties survive, user column aliases reset (the new query's own
  * names are the contract, exactly Spark's session-catalog semantics).
  */
final case class GraftAlterViewAsCommand(parts: Seq[String], sql: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViewSql.target(parts).get
    val wh = GraftViewSql.warehouseOf(cat)
    val sv = GraftViewStore.read(wh, ident).getOrElse(
      throw new NoSuchViewException(ident))
    require(!GraftViewSql.isMaterialized(sv),
      s"${parts.mkString(".")} is a MATERIALIZED view: redefine it with " +
        "CALL graft.system.drop_materialized_view + create_materialized_view")
    graft.governance.AccessControl.checkNamespaceAccess(
      ident.namespace.head, s"${ident.namespace.head}.${ident.name}", spark)
    val (qNames, schema) = GraftViewSql.validate(spark, cat, ident, sql, Nil)
    GraftViewStore.write(wh, sv.copy(sql = sql, schemaJson = schema.json,
      queryColumnNames = qNames, columnAliases = Nil))
    Nil
  }
}

/** ALTER VIEW ... SET/UNSET TBLPROPERTIES over the sidecar store. */
final case class GraftViewPropertiesCommand(
    parts: Seq[String], set: Map[String, String],
    unset: Seq[String], unsetIfExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViewSql.target(parts).get
    val wh = GraftViewSql.warehouseOf(cat)
    val sv = GraftViewStore.read(wh, ident).getOrElse(
      throw new NoSuchViewException(ident))
    require(!GraftViewSql.isMaterialized(sv),
      s"${parts.mkString(".")} is a MATERIALIZED view: its properties carry " +
        "engine-managed refresh watermarks and cannot be edited")
    if (!unsetIfExists) {
      val missing = unset.filterNot(sv.properties.contains)
      require(missing.isEmpty,
        s"ALTER VIEW ${parts.mkString(".")} UNSET TBLPROPERTIES: " +
          s"missing ${missing.mkString(", ")} (use IF EXISTS)")
    }
    GraftViewStore.write(wh,
      sv.copy(properties = sv.properties ++ set -- unset))
    Nil
  }
}

/** ALTER VIEW ... RENAME TO — the sidecar moves within its warehouse. */
final case class GraftRenameViewCommand(parts: Seq[String], newName: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViewSql.target(parts).get
    val wh = GraftViewSql.warehouseOf(cat)
    // RENAME TO takes the bare target (ns.v or v) within the same catalog
    val toIdent = newName match {
      case Seq(n) => Identifier.of(ident.namespace, n)
      case Seq(ns, n) => Identifier.of(Array(ns), n)
      case Seq(`cat`, ns, n) => Identifier.of(Array(ns), n)
      case other => throw new IllegalArgumentException(
        s"cannot RENAME view across catalogs: ${other.mkString(".")}")
    }
    GraftViewStore.read(wh, ident).foreach(sv =>
      require(!GraftViewSql.isMaterialized(sv),
        s"${parts.mkString(".")} is a MATERIALIZED view: its name binds the " +
          "storage table — drop and recreate instead of renaming"))
    if (GraftViewStore.exists(wh, toIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(toIdent)
    require(!graft.sink.SnapshotTable(
        wh, toIdent.namespace.head, toIdent.name).existsVisible,
      s"cannot RENAME view to ${toIdent.toString}: a TABLE with that name " +
        "exists (the view would shadow it for every SQL read)")
    GraftViewStore.rename(wh, ident, toIdent)
    Nil
  }
}

/** SHOW CREATE TABLE on a saved view: render the re-runnable DDL. */
final case class GraftShowCreateViewCommand(
    parts: Seq[String], override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (cat, ident, sv) = GraftViewSql.storedView(parts).get
    val cols =
      if (sv.columnAliases.isEmpty) ""
      else sv.columnAliases.mkString(" (", ", ", ")")
    val props =
      if (sv.properties.isEmpty) ""
      else sv.properties.toSeq.sorted
        .map { case (k, v) => s"'$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    Seq(Row(
      s"CREATE VIEW $cat.${ident.namespace.head}.${ident.name}$cols$props AS\n${sv.sql}"))
  }
}

final case class GraftShowViewsCommand(
    catalogName: String, namespace: String, pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftViewStore.list(GraftViewSql.warehouseOf(catalogName), namespace)
      .filter(id => GraftViewSql.matchesPattern(id.name, pattern))
      .map(id => Row(namespace, id.name, false))
  }
}

/** Resolution rule: substitute stored-view reads with their expanded
  * bodies. Write-shaped statements targeting a view raise a clear
  * error (a saved query is not a table).
  */
final class GraftViewRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val writeTargets: Set[LogicalPlan] = plan.collect {
      case i: InsertIntoStatement => i.table
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
    }.flatMap(_.collect { case u: UnresolvedRelation => u: LogicalPlan }).toSet
    val timeTravelTargets: Set[LogicalPlan] = plan.collect {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => tt.relation
    }.toSet
    plan.resolveOperatorsUp {
      // one sidecar read per relation per iteration: non-views return
      // unchanged (a no-op for the fixpoint), views branch on the result
      case u: UnresolvedRelation if !u.isStreaming =>
        GraftViewSql.storedView(u.multipartIdentifier) match {
          case None => u
          case Some((cat, ident, sv)) =>
            if (writeTargets(u)) throw new IllegalArgumentException(
              if (GraftViewSql.isMaterialized(sv))
                s"${u.multipartIdentifier.mkString(".")} is a MATERIALIZED VIEW: its " +
                  "storage is engine-managed — CALL refresh_materialized_view instead"
              else s"${u.multipartIdentifier.mkString(".")} is a VIEW (a saved query): " +
                "it cannot be a write or DML target")
            if (GraftViewSql.isMaterialized(sv)) u // serve the STORAGE table
            else {
              if (timeTravelTargets(u)) throw new IllegalArgumentException(
                s"${u.multipartIdentifier.mkString(".")} is a VIEW: time travel applies " +
                  "to tables — put VERSION AS OF / TIMESTAMP AS OF inside the view body")
              GraftViewSql.expandView(spark, cat, ident, sv, Set.empty)
            }
        }
    }
  }
}

/** MATERIALIZED views: a saved query whose result is PRECOMPUTED into a
  * real snapshot table (the dashboard / serving-layer half of the
  * named-query surface — Iceberg's materialized-view shape: view
  * metadata + storage table + refresh state). The sidecar stores the
  * query text plus one SNAPSHOT-ID WATERMARK per source table captured
  * at refresh; staleness is an O(#sources) metadata probe, never a
  * scan. Reads hit the storage table directly — plain pruned scans,
  * and (being a snapshot table) the MV's own HISTORY time-travels.
  * Managed via `CALL graft.system.{create,refresh,drop}_materialized_
  * view` (Spark's parser has no MV grammar; the procedure surface is
  * the Iceberg-idiomatic home for engine-managed maintenance anyway).
  */
object GraftMaterializedView {

  val MaterializedProp = "materialized"
  private val WatermarkPrefix = "mv.watermark."

  def warehouseOfTable(t: graft.sink.SnapshotTable): String =
    java.nio.file.Paths.get(t.root).getParent.toString

  /** The graft catalog name bound to `warehouse` in the session conf —
    * procedures receive only a table handle, so the name-resolution
    * context is recovered from the catalog registration itself.
    */
  def catalogNameFor(warehouse: String): String = {
    val norm = java.nio.file.Paths.get(warehouse).normalize().toString
    val names = SQLConf.get.getAllConfs.collect {
      case (k, v) if k.startsWith("spark.sql.catalog.") && !k.drop(18).contains(".") &&
          v == classOf[GraftCatalog].getName => k.drop(18)
    }.filter { n =>
      Option(SQLConf.get.getConfString(s"spark.sql.catalog.$n.warehouse", null))
        .exists(w => java.nio.file.Paths.get(w).normalize().toString == norm)
    }.toSeq.sorted
    names.headOption.getOrElse(throw new IllegalArgumentException(
      s"no graft catalog registered for warehouse $warehouse — set " +
        "spark.sql.catalog.<name> and spark.sql.catalog.<name>.warehouse"))
  }

  /** Source GRAFT TABLES of an expanded view body (nested views already
    * expanded away), with their current snapshot ids.
    */
  private def sourceWatermarks(
      spark: SparkSession, cat: String, ident: Identifier,
      sql: String): Map[String, String] = {
    val expanded = GraftViewSql.expandBody(
      spark, sql, cat, Seq(ident.namespace.head), Set(s"$cat.${ident.toString}"))
    expanded.collect { case u: UnresolvedRelation =>
      GraftViewSql.target(u.multipartIdentifier)
    }.flatten.distinct.flatMap { case (c, id) =>
      val t = graft.sink.SnapshotTable(
        GraftViewSql.warehouseOf(c), id.namespace.head, id.name)
      t.currentSnapshot.map(s =>
        s"$WatermarkPrefix$c.${id.namespace.head}.${id.name}" -> s.id.toString)
    }.toMap
  }

  /** CREATE: validate + compute + commit storage + persist sidecar. */
  def create(spark: SparkSession, t: graft.sink.SnapshotTable,
      sql: String): (Long, Int) = {
    val wh = warehouseOfTable(t)
    val cat = catalogNameFor(wh)
    val Array(ns, name) = t.fullName.split("\\.", 2)
    val ident = Identifier.of(Array(ns), name)
    require(!GraftViewStore.exists(wh, ident),
      s"cannot create materialized view ${t.fullName}: a view with that name exists")
    require(!t.existsVisible,
      s"cannot create materialized view ${t.fullName}: a table with that name exists")
    val (qNames, schema) = GraftViewSql.validate(spark, cat, ident, sql, Nil)
    // capture watermarks BEFORE computing: a commit racing the refresh
    // marks the MV stale rather than silently fresh
    val marks = sourceWatermarks(spark, cat, ident, sql)
    val expanded = GraftViewSql.expandBody(
      spark, sql, cat, Seq(ns), Set(s"$cat.${ident.toString}"))
    val snap = t.overwrite(GraftSqlShim.ofRows(spark, expanded))
    try {
      GraftViewStore.write(wh, GraftViewStore.StoredView(
        namespace = ns, name = name, sql = sql, currentCatalog = cat,
        currentNamespace = Seq(ns), schemaJson = schema.json,
        queryColumnNames = qNames, columnAliases = Nil,
        properties = Map(MaterializedProp -> "true") ++ marks))
    } catch {
      case e: Throwable =>
        // a storage table without its sidecar is an ORPHAN: it blocks
        // re-create ("a table with that name exists") yet cannot be
        // dropped via drop_materialized_view. Roll the storage back so
        // a failed create leaves no trace.
        deleteTableDir(t)
        throw e
    }
    (snap.rowCount, marks.size)
  }

  /** Per-source freshness: (source, recorded id, current id, fresh). */
  def status(t: graft.sink.SnapshotTable): Seq[(String, Long, Long, Boolean)] = {
    val wh = warehouseOfTable(t)
    val Array(ns, name) = t.fullName.split("\\.", 2)
    val sv = mvSidecar(wh, ns, name)
    sv.properties.toSeq.collect {
      case (k, rec) if k.startsWith(WatermarkPrefix) =>
        val full = k.stripPrefix(WatermarkPrefix)
        val Array(c, sns, sname) = full.split("\\.", 3)
        val cur = graft.sink.SnapshotTable(GraftViewSql.warehouseOf(c), sns, sname)
          .currentSnapshot.map(_.id).getOrElse(-1L)
        (full, rec.toLong, cur, rec.toLong == cur)
    }.sortBy(_._1)
  }

  /** REFRESH: recompute iff any source moved; returns (refreshed, rows,
    * stale sources at entry).
    */
  def refresh(spark: SparkSession, t: graft.sink.SnapshotTable)
      : (Boolean, Long, Seq[String]) = {
    val wh = warehouseOfTable(t)
    val cat = catalogNameFor(wh)
    val Array(ns, name) = t.fullName.split("\\.", 2)
    val sv = mvSidecar(wh, ns, name)
    val stale = status(t).filterNot(_._4).map(_._1)
    if (stale.isEmpty)
      return (false, t.currentSnapshot.map(_.rowCount).getOrElse(0L), Nil)
    val ident = Identifier.of(Array(ns), name)
    val marks = sourceWatermarks(spark, cat, ident, sv.sql)
    val expanded = GraftViewSql.expandBody(
      spark, sv.sql, sv.currentCatalog, sv.currentNamespace,
      Set(s"$cat.${ident.toString}"))
    val snap = t.overwrite(GraftSqlShim.ofRows(spark, expanded))
    GraftViewStore.write(wh, sv.copy(properties =
      sv.properties.filterNot(_._1.startsWith(WatermarkPrefix)) ++ marks))
    (true, snap.rowCount, stale)
  }

  /** DROP: sidecar first, then the storage table's directory. */
  def drop(t: graft.sink.SnapshotTable): Boolean = {
    val wh = warehouseOfTable(t)
    val Array(ns, name) = t.fullName.split("\\.", 2)
    mvSidecar(wh, ns, name) // require it IS a materialized view
    GraftViewStore.delete(wh, Identifier.of(Array(ns), name)): Unit
    deleteTableDir(t)
    true
  }

  /** Remove a storage table's directory tree (create-rollback + drop). */
  private def deleteTableDir(t: graft.sink.SnapshotTable): Unit =
    graft.sink.SnapshotTable.deleteTree(new java.io.File(t.root))

  private def mvSidecar(wh: String, ns: String, name: String): GraftViewStore.StoredView = {
    val sv = GraftViewStore.read(wh, Identifier.of(Array(ns), name)).getOrElse(
      throw new IllegalArgumentException(s"$ns.$name is not a materialized view"))
    require(GraftViewSql.isMaterialized(sv),
      s"$ns.$name is a plain view, not a materialized view")
    sv
  }
}
