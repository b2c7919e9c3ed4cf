package graft.mor

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.lake.LakeTable

/** Delegating SQL parser for the engine's DDL spellings Spark's grammar
  * lacks — today exactly one statement, the Delta-spelled shallow clone:
  *
  * {{{ CREATE TABLE [IF NOT EXISTS] dst SHALLOW CLONE src [LOCATION 'p'] }}}
  *
  * Everything else falls through to the session parser verbatim (the
  * standard extension-parser shape: one regex gate, zero cost on the
  * non-matching path). The bootstrap sibling needs no parser — `CREATE
  * TABLE … USING graft.mor OPTIONS (bootstrap '<dir>')` is already plain
  * Spark DDL routed by [[DefaultSource]]. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val CloneStmt =
    ("""(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)""" +
      """(?:\s+LOCATION\s+'([^']*)')?\s*;?\s*""").r

  /** Delta-spelled table maintenance: `OPTIMIZE t [ZORDER BY (c1, c2)]`
    * (→ compact / z-order clustering compaction) and `VACUUM t` (→
    * clean). Same routing as the CALL procedures — these are the
    * spellings an analyst's runbook already contains. */
  private val OptimizeStmt =
    ("""(?is)\s*OPTIMIZE\s+([\w.`]+)""" +
      """(?:\s+ZORDER\s+BY\s+\(?\s*([\w`]+(?:\s*,\s*[\w`]+)*)\s*\)?)?\s*;?\s*""").r
  private val VacuumStmt = """(?is)\s*VACUUM\s+([\w.`]+)\s*;?\s*""".r

  /** Hudi 1.0 index DDL: `CREATE INDEX record_index ON t` builds the
    * record-level index at the current compaction boundary;
    * `CREATE INDEX <name> ON t (c1[, c2])` declares secondary bloom
    * index columns (published by the NEXT compaction's stats pass — the
    * async-indexer contract). */
  private val CreateIndexStmt =
    ("""(?is)\s*CREATE\s+INDEX\s+([\w`]+)\s+ON\s+(?:TABLE\s+)?([\w.`]+)""" +
      """(?:\s*\(\s*([\w`]+(?:\s*,\s*[\w`]+)*)\s*\))?\s*;?\s*""").r

  private val ShowIndexesStmt =
    """(?is)\s*SHOW\s+INDEXES\s+(?:ON|FROM|IN)\s+([\w.`]+)\s*;?\s*""".r

  /** Materialized-view DDL (the persistent-registry surface of
    * [[graft.lake.MatViews]] / [[graft.plans.ViewRewrite]]):
    *
    * {{{
    *   CREATE MATERIALIZED VIEW [IF NOT EXISTS] v ON t
    *     GROUP BY c1[, c2] AS (count, sum(x), avg(y), min(z), max(w))
    *     [LOCATION 'p']
    *   REFRESH MATERIALIZED VIEW v
    *   DROP MATERIALIZED VIEW [IF EXISTS] v
    *   SHOW MATERIALIZED VIEWS ON t
    * }}}
    *
    * Vanilla Spark has no MATERIALIZED VIEW statements, so these always
    * intercept (no `graftManaged` gate needed). */
  private val CreateMatViewStmt =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.`]+)\s+ON\s+(?:TABLE\s+)?([\w.`]+)""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """\s+GROUP\s+BY\s+([\w`]+(?:\s*,\s*[\w`]+)*)\s+AS\s+\((.+)\)""" +
      """(?:\s+LOCATION\s+'([^']*)')?\s*;?\s*""").r
  private val RefreshMatViewStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*""".r
  private val DropMatViewStmt =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*""".r
  private val ShowMatViewsStmt =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s+(?:ON|FROM|IN)\s+([\w.`]+)\s*;?\s*""".r

  private def clean(ident: String): String = ident.replace("`", "")

  /** `count` / `count(*)` / `fn(col)` tokens of the AS (...) list. */
  private def parseMeasures(s: String): Seq[graft.lake.MatViews.MeasureSpec] = {
    val FnCol = """(?i)(count|sum|min|max|avg)\s*\(\s*(\*|[\w`]+)\s*\)""".r
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map {
      case t if t.equalsIgnoreCase("count") =>
        graft.lake.MatViews.MeasureSpec("count", "")
      case FnCol(fn, "*") if fn.equalsIgnoreCase("count") =>
        graft.lake.MatViews.MeasureSpec("count", "")
      case FnCol(fn, c) if !"*".equals(c) =>
        graft.lake.MatViews.MeasureSpec(fn.toLowerCase, clean(c))
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: measure '$other' must be count, " +
          "count(*), or count|sum|min|max|avg(<column>)")
    }
  }

  /** Parse-time gate for spellings OTHER formats also own (`OPTIMIZE`,
    * `VACUUM`, `CREATE INDEX`, `SHOW INDEXES`): intercept only when the
    * named table resolves on a graft surface, so a mixed-catalog session
    * keeps the native/other-format handling of those statements (ADVICE
    * r13 — previously this parser hijacked them for ALL table names).
    * No active session, or a resolution error, intercepts anyway: the
    * graft command's runtime error names the actual problem. The
    * graft-only spellings (SHALLOW CLONE, MATERIALIZED VIEW) skip the
    * gate — no other parser accepts them. */
  private def graftManaged(name: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.forall { spark =>
      try GraftMaintenance.isManaged(spark, clean(name))
      catch { case scala.util.control.NonFatal(_) => true }
    }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CloneStmt(ine, dst, src, loc) =>
      GraftCloneTableCommand(clean(dst), clean(src), Option(loc), ine != null)
    case CreateMatViewStmt(ine, v, t, where, gcols, meas, loc) =>
      GraftCreateMatViewCommand(clean(v), clean(t),
        gcols.split(',').map(c => clean(c.trim)).toSeq.filter(_.nonEmpty),
        parseMeasures(meas), Option(where).map(_.trim).filter(_.nonEmpty),
        Option(loc), ine != null)
    case RefreshMatViewStmt(v) => GraftRefreshMatViewCommand(clean(v))
    case DropMatViewStmt(ife, v) =>
      GraftDropMatViewCommand(clean(v), ife != null)
    case ShowMatViewsStmt(t) => GraftShowMatViewsCommand(clean(t))
    case OptimizeStmt(tbl, zcols) if graftManaged(tbl) =>
      GraftOptimizeCommand(clean(tbl),
        Option(zcols).toSeq.flatMap(_.split(',')).map(c => clean(c.trim))
          .filter(_.nonEmpty))
    case VacuumStmt(tbl) if graftManaged(tbl) => GraftVacuumCommand(clean(tbl))
    case CreateIndexStmt(name, tbl, cols) if graftManaged(tbl) =>
      GraftCreateIndexCommand(clean(name), clean(tbl),
        Option(cols).toSeq.flatMap(_.split(','))
          .map(c => clean(c.trim)).filter(_.nonEmpty))
    case ShowIndexesStmt(tbl) if graftManaged(tbl) =>
      GraftShowIndexesCommand(clean(tbl))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** `CREATE TABLE dst SHALLOW CLONE src [LOCATION 'p']` — the SQL spelling
  * of [[LakeTable.cloneTo]] (the CALL
  * `graft_ops.clone_table` twin): resolves the source through either
  * table surface — a `graft.mor` session-catalog table (its OPTIONS give
  * path/keys/partition) or a [[graft.GraftCatalog]]-registered handle —
  * clones zero-copy to LOCATION (default: `<warehouse>/<dst>`), and
  * registers the clone on the SAME surface the source came from, so the
  * new name is immediately SELECT-able. All clone semantics (compaction-
  * boundary refusals, the `clone_<dst>` source pin, divergence isolation)
  * live in the engine verb — this command only routes. `IF NOT EXISTS`
  * downgrades an existing destination NAME to a no-op; an existing
  * destination DIRECTORY is refused by the verb itself. */
case class GraftCloneTableCommand(dst: String, src: String,
                                  location: Option[String],
                                  ifNotExists: Boolean)
    extends LeafRunnableCommand {

  private def tid(n: String): TableIdentifier = n.split('.') match {
    case Array(t) => TableIdentifier(t)
    case Array(db, t) => TableIdentifier(t, Some(db))
    case _ => throw new IllegalArgumentException(
      s"SHALLOW CLONE: cannot parse table name '$n'")
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val dstId = tid(dst)
    val dstTaken = spark.sessionState.catalog.tableExists(dstId) ||
      graft.GraftCatalog.lookup(spark, dst).isDefined
    if (dstTaken) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(
        s"SHALLOW CLONE: destination table '$dst' already exists")
    }
    val dstPath = location.getOrElse(
      new Path(spark.sessionState.conf.warehousePath,
        dstId.identifier).toString)
    MorDml.morOptions(spark, tid(src)) match {
      case Some(opts) =>
        val t = LakeTable.fromOptions(spark, opts, src)
        t.cloneTo(dstPath)
        // register the clone as its own graft.mor catalog table: the
        // same keys/partition declaration over the new path
        val partOpt = t.partitionCol.map(p => s", partition '$p'").getOrElse("")
        spark.sql(s"CREATE TABLE ${dstId.quotedString} USING `graft.mor` " +
          s"OPTIONS (path '$dstPath', keys '${t.keyCols.mkString(",")}'$partOpt)")
        ()
      case None => graft.GraftCatalog.handleOf(spark, src) match {
        case Some(t) => graft.GraftCatalog.register(spark, dst, t.cloneTo(dstPath))
        case None => throw new IllegalArgumentException(
          s"SHALLOW CLONE: source '$src' is neither a graft.mor catalog " +
            "table nor a GraftCatalog-registered handle")
      }
    }
    Seq.empty
  }
}

/** Shared table resolution for the maintenance DDL: a `graft.mor`
  * session-catalog table (OPTIONS give path/keys/partition) or a
  * [[graft.GraftCatalog]]-registered handle — the same two surfaces the
  * CALL procedures and SHALLOW CLONE resolve. */
private[mor] object GraftMaintenance {
  private[mor] def tid(n: String): TableIdentifier = n.split('.') match {
    case Array(t) => TableIdentifier(t)
    case Array(db, t) => TableIdentifier(t, Some(db))
    case _ => throw new IllegalArgumentException(s"cannot parse table name '$n'")
  }

  /** True when `name` resolves on either graft surface — the parser's
    * interception gate. A 3-part or otherwise unparseable name is not
    * ours (→ delegate). */
  def isManaged(spark: SparkSession, name: String): Boolean =
    try MorDml.morOptions(spark, tid(name)).isDefined ||
      graft.GraftCatalog.lookup(spark, name).isDefined
    catch { case scala.util.control.NonFatal(_) => false }

  def resolve(spark: SparkSession, name: String, verb: String): LakeTable =
    MorDml.morOptions(spark, tid(name)).map(LakeTable.fromOptions(spark, _, name))
      .orElse(graft.GraftCatalog.handleOf(spark, name))
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: '$name' is neither a graft.mor catalog table nor a " +
          "GraftCatalog-registered handle"))
}

/** `OPTIMIZE t [ZORDER BY (c1, c2)]` — the Delta maintenance spelling
  * routed onto the engine's compaction verbs ([[LakeTable.runCompaction]]):
  * plain → mode `full` (partitioned: every child), ZORDER BY → mode
  * `zorder` (partitioned: every child re-clustered). Semantics — boundary
  * creation, manifest stats/blooms publication, record-index refresh —
  * all live in the verbs; this command only routes. */
case class GraftOptimizeCommand(table: String, zorderCols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaintenance.resolve(spark, table, "OPTIMIZE")
      .runCompaction(if (zorderCols.isEmpty) "full" else "zorder", zorderCols)
    Seq.empty
  }
}

/** `VACUUM t` — the Delta spelling of [[LakeTable.clean]]: remove
  * unreferenced files past the retention point (savepoint pins, unfolded
  * stragglers and the live boundary all survive — the verb's contract). */
case class GraftVacuumCommand(table: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaintenance.resolve(spark, table, "VACUUM").clean()
    Seq.empty
  }
}

/** `CREATE INDEX …` — the Hudi 1.0 index-DDL spellings:
  *
  *  - `CREATE INDEX record_index ON t` → [[MorTable.buildRecordIndex]]
  *    (both table forms; refuses before the first compaction like the
  *    verb itself — indexes describe a compacted base).
  *  - `CREATE INDEX <name> ON t (c1[, c2])` → declare secondary bloom
  *    index columns ([[MorTable.indexColumns]]) and compact, so the
  *    per-file filters EXIST when the statement returns (Hudi's
  *    CREATE INDEX runs the indexer synchronously); the build rides the
  *    compaction's single stats pass, never a dedicated scan, and later
  *    plain compactions inherit the column set from the manifest header.
  *    Single-table form only. */
/** `SHOW INDEXES ON t` — the index family's observability verb: one row
  * per index at the CURRENT compaction boundary (a declared-but-not-yet-
  * compacted secondary column set is not listed — what you see is what
  * the reads can prune on). Partitioned tables report per child; a
  * metadata-only listing, zero data jobs. */
case class GraftShowIndexesCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("index_name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("kind", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("columns", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("partition", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenance.resolve(spark, table, "SHOW INDEXES")
    // per-child metadata listings run CONCURRENTLY on a partitioned table:
    // at 10^4+ partitions a serial driver loop turned a metadata command
    // into minutes
    t.mapChildren(c => (c.hasRecordIndex(), c.indexedColumns())).flatMap {
      case (v, (hasRli, idxCols)) =>
        val rli = if (hasRli)
          Seq(Row("record_index", "record_level", t.keyCols.mkString(","), v))
        else Nil
        rli ++ idxCols.map(c => Row(s"${c}_bloom", "secondary_bloom", c, v))
    }
  }
}

case class GraftCreateIndexCommand(name: String, table: String,
                                   cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenance.resolve(spark, table, "CREATE INDEX")
    if (cols.isEmpty) {
      require(name.equalsIgnoreCase("record_index"),
        s"CREATE INDEX $name: a column-free index must be the " +
          "record_index; secondary indexes need a column list")
      t.buildRecordIndex()
    } else {
      // declare (on every child of a partitioned table) and compact, so
      // each manifest publishes the per-file filters before the statement
      // returns (the synchronous-indexer contract); later plain
      // compactions inherit the column set from the manifest header
      t.indexColumns(cols).runCompaction("full")
    }
    Seq.empty
  }
}

/** `CREATE MATERIALIZED VIEW v ON t GROUP BY … AS (…)` — declares, FULLY
  * BUILDS, persists and registers a materialized view over a graft base
  * table ([[graft.lake.MatViews]]):
  *
  *  1. the view table materializes at LOCATION (default
  *     `<warehouse>/<v>`) as a mor table keyed by the group columns;
  *  2. the spec (group cols, measures, maintained-seq watermark) persists
  *     in the BASE table's manifest plane (`manifest/views.json`), so
  *     EVERY future session that touches the base auto-registers the
  *     rewrite — the reference's persistent-catalog contract
  *     (rds-cdc-flink-hudi-stack.ts:458-519) for MVs;
  *  3. `v` registers as a `graft.mor` catalog table (directly SELECTable;
  *     its `mv.*` OPTIONS let REFRESH/DROP resolve the declaration).
  *
  * One view per base table (the optimizer registry is keyed by base
  * path); unpartitioned bases only in this release. */
case class GraftCreateMatViewCommand(view: String, base: String,
                                     groupCols: Seq[String],
                                     measures: Seq[graft.lake.MatViews.MeasureSpec],
                                     where: Option[String],
                                     location: Option[String],
                                     ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.lake.MatViews
    require(groupCols.nonEmpty, "CREATE MATERIALIZED VIEW needs GROUP BY columns")
    // both table forms: a partitioned base maintains off its parent
    // timeline / cross-child changelog
    val bt = GraftMaintenance.resolve(spark, base, "CREATE MATERIALIZED VIEW")
    val baseCols = bt.read().columns.toSet
    val viewId = GraftMaintenance.tid(view)
    val taken = spark.sessionState.catalog.tableExists(viewId) ||
      graft.GraftCatalog.lookup(spark, view).isDefined
    if (taken) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: '$view' already exists")
    }
    // several views per base are fine (the rewrite picks by shape, exact
    // grouping preferred) — only a NAME collision in the declaration
    // plane is refused (the catalog-name check above covers the common
    // case; this covers a declaration orphaned of its catalog entry)
    val existing = MatViews.readSpecs(spark, bt.path)
    require(!existing.exists(_.name == view),
      s"CREATE MATERIALIZED VIEW: base '$base' already declares '$view'")
    // validate referenced columns against the base schema up front — the
    // build would fail anyway, but name the declaration error
    val missing = (groupCols ++ measures.map(_.arg).filter(_.nonEmpty))
      .filterNot(baseCols.contains)
    require(missing.isEmpty,
      s"CREATE MATERIALIZED VIEW: column(s) ${missing.mkString(", ")} not in " +
        s"base '$base' (${baseCols.toSeq.sorted.mkString(", ")})")
    val viewPath = location.getOrElse(
      new Path(spark.sessionState.conf.warehousePath, viewId.identifier).toString)
    val spec0 = MatViews.ViewSpec(view, viewPath, groupCols, measures, 0L,
      where = where.getOrElse(""))
    val spec = MatViews.build(spark, bt.path, bt.keyCols, bt.partitionCol, spec0)
    val partOpt = bt.partitionCol.map(pc => s", 'mv.basepartition' = '$pc'").getOrElse("")
    spark.sql(s"CREATE TABLE ${viewId.quotedString} USING `graft.mor` OPTIONS " +
      s"(path '$viewPath', keys '${groupCols.mkString(",")}', " +
      s"'mv.base' = '${bt.path}', 'mv.basekeys' = '${bt.keyCols.mkString(",")}', " +
      s"'mv.name' = '${spec.name}'$partOpt)")
    MatViews.autoRegister(spark, bt.path, bt.keyCols, bt.partitionCol)
    Seq.empty
  }
}

/** `REFRESH MATERIALIZED VIEW v` — one affected-group maintenance cycle
  * ([[graft.lake.MatViews.refresh]]): brings the view to the base's
  * current commit seq and advances the persisted watermark, after which
  * every session serves the view again. No-op when already fresh. The
  * view's catalog `mv.*` OPTIONS point back at the base's persisted
  * declaration. */
case class GraftRefreshMatViewCommand(view: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val verb = "REFRESH MATERIALIZED VIEW"
    val opts = MorDml.morOptions(spark, GraftMaintenance.tid(view)).getOrElse(
      throw new IllegalArgumentException(
        s"$verb: '$view' is not a graft.mor catalog table"))
    val basePath = opts.getOrElse("mv.base", throw new IllegalArgumentException(
      s"$verb: '$view' is not a materialized view (no mv.base option)"))
    val baseKeys = opts.getOrElse("mv.basekeys", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    val name = opts.getOrElse("mv.name", view)
    val spec = graft.lake.MatViews.readSpecs(spark, basePath)
      .find(_.name == name).getOrElse(throw new IllegalStateException(
        s"$verb: declaration of '$name' missing from $basePath/manifest/" +
          "views.json (dropped concurrently?)"))
    graft.lake.MatViews.refresh(spark, basePath, baseKeys,
      opts.get("mv.basepartition"), spec)
    Seq.empty
  }
}

/** `DROP MATERIALIZED VIEW [IF EXISTS] v` — removes the persisted
  * declaration, unregisters the rewrite, drops the view table's data and
  * its catalog entry. Cleanup is best-effort past the mv.* resolution: a
  * base table dropped out from under the view must not strand the view's
  * catalog entry undropppable. */
case class GraftDropMatViewCommand(view: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import scala.util.control.NonFatal
    val optsOpt = MorDml.morOptions(spark, GraftMaintenance.tid(view))
    optsOpt.flatMap(o => o.get("mv.base").map((o, _))) match {
      case None =>
        if (!ifExists) throw new IllegalArgumentException(
          s"DROP MATERIALIZED VIEW: '$view' is not a materialized view")
      case Some((opts, basePath)) =>
        val name = opts.getOrElse("mv.name", view)
        try graft.lake.MatViews.removeSpec(spark, basePath, name)
        catch { case NonFatal(_) => () } // base dir gone: nothing to remove
        graft.plans.ViewRewrite.unregister(basePath, name)
        try LakeTable.fromOptions(spark, opts, view).drop()
        catch { case NonFatal(_) => () }
        spark.sql(s"DROP TABLE IF EXISTS ${GraftMaintenance.tid(view).quotedString}")
        ()
    }
    Seq.empty
  }
}

/** `SHOW MATERIALIZED VIEWS ON t` — the declarations persisted on the
  * base table, with live freshness (watermark vs current timeline).
  * Metadata-only. */
case class GraftShowMatViewsCommand(base: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view_name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("group_cols", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("measures", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("maintained_seq", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("fresh", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("where_clause", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenance.resolve(spark, base, "SHOW MATERIALIZED VIEWS")
    val live = t.commits().lastOption.map(_.seq).getOrElse(0L)
    graft.lake.MatViews.readSpecs(spark, t.path).map { s =>
      Row(s.name, s.groupCols.mkString(","),
        s.measures.map(m => if (m.arg.isEmpty) m.fn else s"${m.fn}(${m.arg})")
          .mkString(","),
        s.maintainedSeq, s.maintainedSeq == live, s.where)
    }
  }
}
