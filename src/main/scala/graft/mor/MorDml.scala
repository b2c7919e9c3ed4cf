package graft.mor

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import graft.lake.LakeTable

/** SQL-text row-level DML over graft.mor tables — `DELETE FROM t WHERE …`,
  * `UPDATE t SET … WHERE …`, `MERGE INTO t USING s ON … WHEN …` typed by an
  * analyst resolve onto the engine verbs that already exist
  * ([[graft.lake.MorTable.deleteWhere]]/`updateWhere`/changelog apply).
  * The reference's entire user surface is SQL (`CDC-Hudi-Notebook
  * .zpln:2317,:2757`) and Hudi-on-Spark accepts all three statements; with
  * only the v1 relation, Spark's analyzer used to reject them ("only
  * supported with v2 tables") while the semantics sat one call away.
  *
  * Wiring: Spark's parser already produces `DeleteFromTable` /
  * `UpdateTable` / `MergeIntoTable` plans and resolves their expressions
  * against the relation; this POST-HOC resolution rule (it must see fully
  * resolved children, and must run before checkAnalysis rejects v1
  * targets) rewrites the plan onto a driver-side command. Condition and
  * assignment expressions are rebound BY NAME (a fresh scan has fresh
  * exprIds, so the analyzed attribute references cannot be reused
  * directly): DELETE/UPDATE references see the target row; MERGE
  * expressions are qualified `t.`/`s.` by which side's output carried the
  * attribute — the same aliases [[graft.lake.MorTable.mergeInto]]
  * documents.
  */
class MorDmlResolution(spark: SparkSession) extends Rule[LogicalPlan] {

  private object MorTarget {
    @annotation.tailrec
    def unapply(plan: LogicalPlan): Option[MorRelation] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case lr: LogicalRelation if lr.relation.isInstanceOf[MorRelation] =>
        Some(lr.relation.asInstanceOf[MorRelation])
      case _ => None
    }
  }

  /** Rebind a resolved expression by NAME for evaluation against a fresh
    * scan of the same table (DELETE/UPDATE: every reference is a target
    * column). */
  private def byName(e: Expression): Column =
    GraftSqlShim.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** MERGE form: qualify references `s.`/`t.` by originating side. */
  private def bySide(e: Expression, sourceOut: AttributeSet): Column =
    GraftSqlShim.column(e.transform {
      case a: AttributeReference if sourceOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
      case a: AttributeReference =>
        UnresolvedAttribute(Seq("t", a.name))
    })

  private def assignKey(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"graft.mor DML supports only top-level column assignments, got ${other.sql}")
  }

  /** Assignment-name → Column map; duplicate assignments to one column
    * fail loudly (a silent toMap would keep the LAST and drop the rest —
    * standard SQL rejects `SET a = 1, a = 2`). */
  private def assignMap(assigns: Seq[Assignment], q: Expression => Column)
      : Map[String, Column] = {
    val named = assigns.map(a => assignKey(a) -> q(a.value))
    val dup = named.map(_._1).groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate assignment to column(s) ${dup.mkString(", ")}")
    named.toMap
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // SQL ALTER TABLE ADD COLUMN(S): the v1 command's own run() allowlists
    // file formats only — reroute onto the engine's additive-evolution
    // commit before it can refuse. DROP/RENAME COLUMN stay refused by
    // Spark's session catalog ("only supported with v2 tables"), loudly.
    case a: org.apache.spark.sql.execution.command.AlterTableAddColumnsCommand
        if MorDml.morOptions(spark, a.table).isDefined =>
      GraftAddColumnsCommand(a.table, a.colsToAdd)

    // SQL ALTER TABLE … DROP PARTITION: the v1 command's run() requires a
    // Hive partition provider and refuses datasource tables — reroute the
    // standard DDL spelling onto the engine verb (the same
    // PartitionedMorTable.dropPartitions behind CALL
    // graft_ops.drop_partition: table-locked, mid-publish-writer refusal)
    case d: org.apache.spark.sql.execution.command.AlterTableDropPartitionCommand
        if MorDml.morOptions(spark, d.tableName).isDefined =>
      GraftDropPartitionCommand(d.tableName, d.specs, d.ifExists)

    // SQL SHOW PARTITIONS: the v1 command's run() requires a Hive
    // partition provider — reroute onto the engine's metadata listing
    case p: org.apache.spark.sql.execution.command.ShowPartitionsCommand
        if MorDml.morOptions(spark, p.tableName).isDefined =>
      GraftShowPartitionsCommand(p.tableName, p.output, p.spec)

    case d @ DeleteFromTable(MorTarget(rel), cond) if d.childrenResolved && cond.resolved =>
      // WHERE-implied key/partition pins route the statement through the
      // point read / pruned partition set instead of a snapshot scan
      val eqs = MorDml.litEqValues(spark, cond)
      GraftDeleteCommand(rel, byName(cond),
        MorDml.pinnedRecordKeys(rel.keys, eqs),
        rel.partitionCol.toSeq.flatMap(pc => eqs.getOrElse(pc, Nil)))

    case u @ UpdateTable(MorTarget(rel), assigns, cond)
        if u.childrenResolved && assigns.forall(_.resolved) && cond.forall(_.resolved) =>
      val set = assignMap(assigns, byName)
      val eqs = cond.map(MorDml.litEqValues(spark, _)).getOrElse(Map.empty)
      GraftUpdateCommand(rel, set, cond.map(byName).getOrElse(lit(true)),
        MorDml.pinnedRecordKeys(rel.keys, eqs),
        rel.partitionCol.toSeq.flatMap(pc => eqs.getOrElse(pc, Nil)))

    case m @ MergeIntoTable(MorTarget(rel), source, cond,
        matched, notMatched, notMatchedBySource, _) if m.resolved =>
      val srcOut = source.outputSet
      def q(e: Expression): Column = bySide(e, srcOut)
      def updOrDel(a: MergeAction, where: String): MorMergeAction = a match {
        case UpdateAction(c, assigns, _) =>
          MorMergeAction("U", c.map(q).getOrElse(lit(true)), assignMap(assigns, q))
        case DeleteAction(c) =>
          MorMergeAction("D", c.map(q).getOrElse(lit(true)), Map.empty)
        case other => throw new UnsupportedOperationException(
          s"graft.mor MERGE: unsupported $where action $other")
      }
      val matchedSql = matched.map(updOrDel(_, "matched"))
      val insertSql: Seq[MorMergeAction] = notMatched.map {
        case InsertAction(c, assigns) =>
          MorMergeAction("I", c.map(q).getOrElse(lit(true)), assignMap(assigns, q))
        case other => throw new UnsupportedOperationException(
          s"graft.mor MERGE: unsupported not-matched action $other")
      }
      // NOT MATCHED BY SOURCE: UPDATE/DELETE over target rows with no
      // source match (their conditions reference the target only — the
      // analyzer enforces it)
      val nmbsSql = notMatchedBySource.map(updOrDel(_, "not-matched-by-source"))
      // Key-equality detection for the key-pruned target read: when the
      // ON condition's conjuncts equate EVERY record-key column of the
      // target to a source-side expression, the (left-join) merge can
      // resolve its target through the bloom/range-pruned point read —
      // extra conjuncts are fine (restricting the target to the source's
      // key set is an identity on any join that implies key equality).
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo}
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      val keyEq: Map[String, Expression] = conjuncts(cond).flatMap {
        case EqualTo(t: AttributeReference, se)
            if !srcOut.contains(t) && se.references.subsetOf(srcOut) => Some(t.name -> se)
        case EqualTo(se, t: AttributeReference)
            if !srcOut.contains(t) && se.references.subsetOf(srcOut) => Some(t.name -> se)
        case _ => None
      }.toMap
      val keyEquiSrc: Option[Seq[Column]] =
        if (rel.keys.nonEmpty && rel.keys.forall(keyEq.contains))
          Some(rel.keys.map(k => q(keyEq(k))))
        else None
      GraftMergeCommand(rel, source, q(cond), matchedSql, insertSql, nmbsSql,
        keyEquiSrc)
  }
}

/** One WHEN clause, pre-converted: kind ∈ U/D/I, fire condition, column
  * assignments (`t.`/`s.`-qualified Columns). */
final case class MorMergeAction(kind: String, cond: Column, set: Map[String, Column])

/** Surface [[MorRelation.rowCountStat]] and [[MorRelation.ndvStat]] to the
  * planner: v1 relations have no rowCount hook, but
  * `LogicalRelation.computeStats` prefers the catalog table's
  * `CatalogStatistics` — attach one (size + rowCount + per-column
  * distinct counts) whenever a catalog-read mor relation has no
  * ANALYZE-written stats. Under CBO this is what join estimation,
  * CostBasedJoinReorder and FilterEstimation (equality selectivity =
  * 1/NDV) consume; without CBO the attached sizeInBytes equals what the
  * relation already reported, so plans are unchanged. */
class MorRelationStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case lr: LogicalRelation if lr.relation.isInstanceOf[MorRelation] &&
        lr.catalogTable.exists(_.stats.isEmpty) =>
      val rel = lr.relation.asInstanceOf[MorRelation]
      rel.rowCountStat match {
        case Some(n) =>
          import org.apache.spark.sql.types._
          // min/max in CatalogColumnStat's EXTERNAL string form, per the
          // column's actual type (the manifest records double-cast
          // bounds). A numeric column without bounds reads as an EMPTY
          // ValueInterval to FilterEstimation — every equality would
          // estimate zero rows — so NDV attaches for a column only when
          // its type is bounds-free (string) or its bounds are in hand.
          def ext(dt: DataType, v: Double): Option[String] = dt match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some(math.round(v).toString)
            case FloatType | DoubleType => Some(v.toString)
            case _ => None
          }
          val dtOf = lr.relation.schema.fields.map(f => f.name -> f.dataType).toMap
          val colStats = rel.ndvStat.flatMap { case (c, ndv) =>
            val dt = dtOf.get(c)
            val bounds = rel.colBoundsStat.get(c)
            val (mn, mx) = (for { d <- dt; (lo, hi) <- bounds }
              yield (ext(d, lo), ext(d, hi))).getOrElse((None, None))
            val boundsFree = dt.contains(StringType)
            if (mn.isEmpty && !boundsFree) None
            else Some(
              // clamp to the row count: HLL noise above it would read as
              // "more groups than rows". nullCount rides along as 0 —
              // FilterEstimation's guards need both, and a mor column's
              // null share is below the NDV estimate's own noise floor
              c -> CatalogColumnStat(
                distinctCount = Some(BigInt(math.min(ndv, n))),
                min = mn, max = mx, nullCount = Some(BigInt(0))))
          }
          lr.copy(catalogTable = Some(lr.catalogTable.get.copy(
            stats = Some(CatalogStatistics(BigInt(rel.sizeInBytes),
              Some(BigInt(n)), colStats)))))
        case None => lr
      }
  }
}

/** SQL time-travel syntax over graft.mor catalog tables — `SELECT … FROM t
  * VERSION AS OF <seq>` / `TIMESTAMP AS OF <ts>` (the Hudi/Delta read
  * surface; the engine verb is [[graft.lake.MorTable.readAt]], oracle
  * `s15`): a RESOLUTION rule (the parser's `RelationTimeTravel` is an
  * unresolved leaf that checkAnalysis would reject for a v1 table)
  * resolves the identifier through the session catalog, checks the
  * provider, and rebuilds the relation with `asOf` pinned — a timestamp
  * resolves to the LAST commit at or before it via the table's timeline
  * (commit wall-clock millis), exactly Hudi's `as.of.instant` rule. */
class MorTimeTravelResolution(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}

  private def morOptions(ident: Seq[String]): Option[Map[String, String]] =
    ident match {
      case Seq(t) =>
        MorDml.morOptions(spark, org.apache.spark.sql.catalyst.TableIdentifier(t))
      case Seq(db, t) =>
        MorDml.morOptions(spark,
          org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      case _ => None
    }

  private def toEpochMs(e: Expression): Long = e.eval() match {
    case l: Long => Math.floorDiv(l, 1000L) // timestamp literal: epoch micros
    case s: org.apache.spark.unsafe.types.UTF8String =>
      MorDml.sessionTsToMs(spark, s.toString) // session-tz, same as asOfTimestamp
    case other => throw new UnsupportedOperationException(
      s"TIMESTAMP AS OF expects a timestamp or timestamp-string literal, got $other")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version)
        if morOptions(u.multipartIdentifier).isDefined =>
      val opts = morOptions(u.multipartIdentifier).get
      val (path, keys, partCol) =
        LakeTable.options(opts, u.multipartIdentifier.mkString("."))
      val asOf: Long = version match {
        case Some(v) => v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"VERSION AS OF expects a commit seq for graft.mor tables, got '$v'"))
        case None =>
          val ms = toEpochMs(ts.getOrElse(throw new IllegalStateException(
            s"time travel with neither version nor timestamp: $tt")))
          // a partitioned table resolves through its PARENT timeline (the
          // table-global token space), never the parent dir read as an
          // unpartitioned (empty) timeline
          LakeTable.resolve(spark, path, keys, partCol).commits()
            .filter(_.commitMs <= ms).lastOption.map(_.seq)
            .getOrElse(throw new IllegalArgumentException(
              s"no commit at or before timestamp $ms ms on $path"))
      }
      val rel = MorRelation(
        org.apache.spark.sql.SQLContext.getOrCreate(spark.sparkContext),
        path, keys, asOf = Some(asOf), partitionCol = partCol,
        partitionValues = opts.get("partitionvalues")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty))
      LogicalRelation(rel)
  }
}

private[graft] object MorDml {
  /** Options of a catalog-registered graft.mor table (the `path` option is
    * promoted to storage.locationUri by the catalog; keys lowercased). */
  def morOptions(spark: SparkSession,
                 tid: org.apache.spark.sql.catalyst.TableIdentifier)
      : Option[Map[String, String]] = {
    val catalog = spark.sessionState.catalog
    if (!catalog.tableExists(tid)) return None
    val meta = catalog.getTableMetadata(tid)
    if (!meta.provider.exists(_.equalsIgnoreCase("graft.mor"))) None
    else {
      val props = meta.storage.properties.map { case (k, v) => k.toLowerCase -> v }
      Some(meta.storage.locationUri.map(u => props + ("path" -> u.toString))
        .getOrElse(props))
    }
  }

  /** The table behind a `graft.mor` catalog table. */
  def table(spark: SparkSession,
            tid: org.apache.spark.sql.catalyst.TableIdentifier): LakeTable =
    LakeTable.fromOptions(spark, morOptions(spark, tid).getOrElse(
      throw new IllegalStateException(s"$tid is not a graft.mor table")), tid.toString)

  /** Literal equality sets implied by a resolved predicate's CONJUNCTS:
    * column name → the literal string values (Spark-cast rendering, so
    * they match `_record_key`/partition-dir construction exactly) that an
    * `=`/`IN` conjunct pins the bare column to. OR-trees, casts around
    * the attribute, and non-literal sides contribute nothing — no pruning
    * there, which is always safe. Multiple conjuncts on one column
    * intersect. */
  def litEqValues(spark: SparkSession, cond: Expression): Map[String, Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Cast, EqualTo, In, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def asStr(l: Literal): Option[String] =
      Option(Cast(l, org.apache.spark.sql.types.StringType, zone).eval()).map(_.toString)
    conjuncts(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) => asStr(l).map(v => a.name -> Seq(v))
      case EqualTo(l: Literal, a: AttributeReference) => asStr(l).map(v => a.name -> Seq(v))
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val strs = vs.map(v => asStr(v.asInstanceOf[Literal]))
        if (strs.forall(_.isDefined)) Some(a.name -> strs.flatten) else None
      case _ => None
    }.groupBy(_._1).map { case (c, vs) =>
      c -> vs.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted
    }
  }

  /** The record keys a predicate pins, when EVERY key column is equality-
    * pinned: the cross product of per-column value sets rendered as the
    * table's `concat_ws("|")` record key. None = not fully pinned (or the
    * combination count exceeds the point-read cap) — callers fall back to
    * the snapshot-scan path. Some(Nil) = provably no row matches. */
  def pinnedRecordKeys(keys: Seq[String],
                       eqs: Map[String, Seq[String]]): Option[Seq[String]] =
    if (keys.isEmpty || !keys.forall(eqs.contains)) None
    else {
      val combos = keys.map(eqs).foldLeft(Seq(Seq.empty[String])) { (acc, vs) =>
        if (acc.size.toLong * vs.size > graft.lake.MorTable.mergeKeyCollectCap)
          return None
        for (a <- acc; v <- vs) yield a :+ v
      }
      Some(combos.map(_.mkString("|")))
    }

  /** Partition set a partitioned DML statement may touch, combining the
    * relation-declared `partitionValues` restriction with WHERE-pinned
    * partition equality. None = provably empty (the statement is a
    * no-op); Some(Nil) = unrestricted. */
  def dmlPartitionValues(present: Seq[String], declared: Seq[String],
                         whereVals: Seq[String]): Option[Seq[String]] = {
    val where = if (whereVals.isEmpty) None
                else Some(whereVals.filter(present.toSet))
    (declared.nonEmpty, where) match {
      case (true, Some(w)) =>
        val i = declared.intersect(w); if (i.isEmpty) None else Some(i)
      case (true, None) => Some(declared)
      case (false, Some(w)) => if (w.isEmpty) None else Some(w)
      case (false, None) => Some(Nil)
    }
  }

  /** The table verbs behind a relation, partitioned-aware. */
  def guards(rel: MorRelation): Unit =
    require(rel.asOf.isEmpty && rel.sinceSeq.isEmpty && rel.changelogFrom.isEmpty,
      "graft.mor: DML on a time-travel, incremental or CDC read is meaningless")

  /** Parse a timestamp string through Spark's SESSION-timezone Cast — the
    * one resolution shared by SQL `TIMESTAMP AS OF` string literals and
    * the `asOfTimestamp` reader option. (A JVM-default-zone
    * `java.sql.Timestamp.valueOf` would let the two advertised-equivalent
    * surfaces resolve the same string to different commits whenever
    * `spark.sql.session.timeZone` differs from the JVM default.) */
  def sessionTsToMs(spark: SparkSession, s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    Cast(Literal(s), org.apache.spark.sql.types.TimestampType, Some(zone)).eval() match {
      case micros: Long => Math.floorDiv(micros, 1000L)
      case _ => throw new IllegalArgumentException(
        s"cannot parse timestamp string '$s'")
    }
  }
}

/** SQL `ALTER TABLE t ADD COLUMNS (…)` on a graft.mor catalog table: the
  * engine publishes the empty widened-schema commit
  * ([[graft.lake.MorTable.addColumns]] — O(1) metadata, no data rewrite,
  * old commits read the new columns as null via the `s34` unionByName
  * path), then the CATALOG schema is set to the engine's post-commit
  * reality so the v1 resolve-time schema check and later `INSERT INTO`s
  * (which cast by the catalog schema) line up. */
case class GraftAddColumnsCommand(
    tid: org.apache.spark.sql.catalyst.TableIdentifier,
    cols: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val widened = MorDml.table(spark, tid).addColumns(cols).read().schema
    spark.sessionState.catalog.alterTableDataSchema(tid, widened)
    spark.sessionState.catalog.refreshTable(tid)
    Seq.empty
  }
}

/** SQL `ALTER TABLE t DROP PARTITION (p='v')[, PARTITION (p='w')]` on a
  * graft.mor catalog table (the ANSI spelling of the partition-TTL verb):
  * routes onto [[graft.lake.PartitionedMorTable.dropPartitions]] — which
  * serializes under the table lock and refuses when a writer is provably
  * mid-publish — then refreshes the catalog entry. Refused loudly on an
  * unpartitioned table and on a spec naming anything but the table's one
  * partition column. `IF EXISTS` downgrades missing partitions to no-ops
  * (standard semantics); dropped data is physically deleted (there is no
  * Hive trash here, so PURGE and plain drops behave identically). */
case class GraftDropPartitionCommand(
    tid: org.apache.spark.sql.catalyst.TableIdentifier,
    specs: Seq[Map[String, String]],
    ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = MorDml.table(spark, tid)
    val pcol = t.partitionCol.getOrElse(throw new UnsupportedOperationException(
      s"ALTER TABLE DROP PARTITION: graft.mor table $tid is not partitioned"))
    val values = specs.map { spec =>
      require(spec.size == 1 && spec.keys.head.equalsIgnoreCase(pcol),
        s"partition spec (${spec.keys.mkString(", ")}) must name exactly " +
          s"the table's partition column ($pcol)")
      spec.values.head
    }
    if (!ifExists) {
      val present = t.partitions().toSet
      val missing = values.filterNot(present)
      require(missing.isEmpty,
        s"partition(s) not found: ${missing.map(v => s"$pcol=$v").mkString(", ")} " +
          "(use IF EXISTS to ignore)")
    }
    t.dropPartitions(values)
    spark.sessionState.catalog.refreshTable(tid)
    Seq.empty
  }
}

/** SQL `SHOW PARTITIONS t [PARTITION (p='v')]` on a graft.mor catalog
  * table: the v1 command's run() demands a Hive partition provider, so
  * the standard spelling is rerouted onto the engine's partition listing
  * ([[graft.lake.PartitionedMorTable.partitions]] — the parent manifest's
  * child-directory set, a metadata read with zero data jobs). Rows render
  * the RAW `<col>=<value>` form (the same encoding `partitions()` and the
  * stats rows speak — deliberately NOT the Hive-escaped staged-dir form:
  * a partition value lives in three encodings that never string-match —
  * raw, Hive escapePathName, Hadoop-Path URI — so every surface declares
  * which one it emits and consumers key on exactly that), sorted; an
  * optional spec filters to its value (compared raw, for the same
  * reason). Refused loudly on an unpartitioned table. */
case class GraftShowPartitionsCommand(
    tid: org.apache.spark.sql.catalyst.TableIdentifier,
    override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    spec: Option[Map[String, String]])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = MorDml.table(spark, tid)
    val pcol = t.partitionCol.getOrElse(throw new UnsupportedOperationException(
      s"SHOW PARTITIONS: graft.mor table $tid is not partitioned"))
    spec.foreach { sp =>
      require(sp.size == 1 && sp.keys.head.equalsIgnoreCase(pcol),
        s"partition spec (${sp.keys.mkString(", ")}) must name exactly " +
          s"the table's partition column ($pcol)")
    }
    val want = spec.map(_.values.head)
    t.partitions().filter(v => want.forall(_ == v)).sorted
      .map(v => Row(s"$pcol=$v"))
  }
}

/** `pointKeys`/`wherePartValues`: resolution-time proof that the WHERE
  * clause pins the record keys / partition values — the statement then
  * resolves its matches through the key-pruned point read and/or a
  * pruned partition set instead of a full snapshot scan (at 100 TB,
  * `DELETE FROM t WHERE key = 'x'` must cost a point read, not a table
  * scan — the same discipline the SELECT surface's PrunedFilteredScan
  * routing already has). */
case class GraftDeleteCommand(rel: MorRelation, cond: Column,
                              pointKeys: Option[Seq[String]] = None,
                              wherePartValues: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    MorDml.guards(rel)
    val t = rel.table
    // None: the predicate proves no partition can match
    MorDml.dmlPartitionValues(t.partitions(), rel.partitionValues, wherePartValues)
      .foreach { vals =>
        pointKeys match {
          case Some(ks) => t.deleteWhereKeys(ks, cond, values = vals)
          case None => t.deleteWhere(cond, values = vals)
        }
      }
    Seq.empty
  }
}

case class GraftUpdateCommand(rel: MorRelation, set: Map[String, Column],
                              cond: Column,
                              pointKeys: Option[Seq[String]] = None,
                              wherePartValues: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    MorDml.guards(rel)
    // updateWhere rewrites images and re-upserts under the SAME key — an
    // assignment to a key column would insert a new key and strand the old
    // row, so refuse it (Hudi's record-key immutability rule)
    val badKeys = set.keySet.intersect(rel.keys.toSet)
    require(badKeys.isEmpty,
      s"UPDATE cannot reassign record key column(s) ${badKeys.mkString(", ")}")
    val t = rel.table
    // None: the predicate proves no partition can match
    MorDml.dmlPartitionValues(t.partitions(), rel.partitionValues, wherePartValues)
      .foreach { vals =>
        pointKeys match {
          case Some(ks) => t.updateWhereKeys(ks, cond, set, values = vals)
          case None => t.updateWhere(cond, set, values = vals)
        }
      }
    Seq.empty
  }
}

/** SQL `MERGE INTO`, compiled to ONE changelog micro-batch commit: the
  * source joins the current snapshot on the (arbitrary) merge condition,
  * each row resolves its FIRST matching WHEN clause (SQL action-order
  * semantics, a when()-chain per column), and the resulting op/before/
  * after envelope applies through the same exactly-once
  * [[graft.lake.MorTable.applyChangelog]] path as CDC ingestion — so
  * commit cost is O(|source| matches), never a table rewrite, and the
  * plan shape is the ONE key-equi/condition join AQE broadcasts for the
  * typical small merge batch. When the resolver proved the ON condition
  * implies record-key equality (`keyEquiSrc`) and no NOT MATCHED BY
  * SOURCE clause forces a full-outer scan, the target side resolves
  * through the KEY-PRUNED point read ([[graft.lake.MorTable.readForKeyBatch]]:
  * listing-level bloom/range file pruning for bounded sources,
  * scan-and-join past the cap) — at 100 TB a 1,000-row MERGE touches the
  * probe-hit files, never the full snapshot. The MERGE cardinality rule
  * is enforced (two source rows resolving to one target key fail loudly
  * rather than nondeterministically), and an INSERT clause that leaves
  * any record-key column null fails loudly rather than silently
  * collapsing the key (concat_ws skips nulls). */
case class GraftMergeCommand(rel: MorRelation, source: LogicalPlan,
                             cond: Column,
                             matched: Seq[MorMergeAction],
                             inserts: Seq[MorMergeAction],
                             nmbs: Seq[MorMergeAction] = Nil,
                             keyEquiSrc: Option[Seq[Column]] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    MorDml.guards(rel)
    val keyCols = rel.keys
    require((matched ++ nmbs).flatMap(_.set.keySet).toSet.intersect(keyCols.toSet).isEmpty,
      "MERGE cannot reassign record key column(s) in an UPDATE clause")
    // PIN the source before deriving probe keys: the key-collect inside
    // readForKeyBatch and the merge join each execute this plan — a
    // nondeterministic source could present keys at join time that the
    // collected probe set never saw, pruning their target rows from the
    // key-restricted read and misrouting matched rows as inserts. Lazy
    // localCheckpoint: the key-collect job materializes the blocks, the
    // join replays them — no extra job. Only needed when the key-pruned
    // target path is actually taken.
    val srcRows = GraftSqlShim.ofRows(spark, source)
    val pinnedSrc =
      if (keyEquiSrc.isDefined && nmbs.isEmpty) srcRows.localCheckpoint(eager = false)
      else srcRows
    val src = pinnedSrc.withColumn("__srcm", lit(true)).alias("s")
    // key-pruned target: sound only for the source-sided (left) join —
    // NOT MATCHED BY SOURCE must see every target row, so it keeps the
    // full read
    val srcKeys = keyEquiSrc.map(ks =>
      src.select(graft.lake.CommitRows.recordKey(ks).as("__pk")))
      .filter(_ => nmbs.isEmpty)
    val readDf = srcKeys match {
      case Some(k) => rel.table.readForKeyBatch(k, rel.partitionValues)
      case None => rel.table.read(rel.partitionValues)
    }
    val dataCols = readDf.columns.toSeq
    val tgt = readDf.withColumn("__matched", lit(true)).alias("t")
    // NOT MATCHED BY SOURCE must examine every target row (inherent to
    // its semantics) → full outer; without those clauses the join stays
    // source-sided and the scan cost O(|source| probes)
    val joined = src.join(tgt, cond, if (nmbs.isEmpty) "left_outer" else "full_outer")
    val isMatched = col("s.__srcm").isNotNull && col("t.__matched").isNotNull
    val srcOnly = col("s.__srcm").isNotNull && col("t.__matched").isNull
    val tgtOnly = col("s.__srcm").isNull

    // first-matching-WHEN-clause semantics: an ordered when()-chain (no
    // otherwise → null = "no clause fired, row untouched")
    def chain(actions: Seq[MorMergeAction], value: MorMergeAction => Column): Column =
      actions.foldLeft(when(lit(false), lit(null))) { (w, a) => w.when(a.cond, value(a)) }
    def chainOr(actions: Seq[MorMergeAction], value: MorMergeAction => Column,
                empty: Column): Column =
      if (actions.isEmpty) empty else chain(actions, value)
    val op = when(isMatched, chainOr(matched, a => lit(a.kind), lit(null).cast("string")))
      .when(srcOnly, chainOr(inserts, a => lit(a.kind), lit(null).cast("string")))
      .otherwise(chainOr(nmbs, a => lit(a.kind), lit(null).cast("string")))
    def afterOf(c: String): Column = {
      val tCol = col(s"t.$c")
      when(isMatched, chainOr(matched, a => a.set.getOrElse(c, tCol), tCol))
        .when(srcOnly, chainOr(inserts, a => a.set.getOrElse(c, lit(null)), lit(null)))
        .otherwise(chainOr(nmbs, a => a.set.getOrElse(c, tCol), tCol))
    }
    val keyOf = graft.lake.CommitRows.recordKey(keyCols.map(k =>
      when(isMatched || tgtOnly, col(s"t.$k"))
        .otherwise(chainOr(inserts, a => a.set.getOrElse(k, lit(null)), lit(null)))))
    val env = joined.select(
      op.as("op"), keyOf.as("key"),
      struct(dataCols.map(c => col(s"t.$c").cast(readDf.schema(c).dataType).as(c)): _*).as("before"),
      struct(dataCols.map(c => afterOf(c).cast(readDf.schema(c).dataType).as(c)): _*).as("after"),
      lit(0L).as("seq"))
      .filter(col("op").isNotNull)
      .localCheckpoint(true) // pinned: cardinality check + commit reuse it
    // One validation pass over the pinned envelope: the MERGE cardinality
    // rule (one envelope row per key, else the LWW window would resolve
    // the conflict nondeterministically) AND the insert key-null rule (an
    // INSERT clause omitting a key column or assigning it null would
    // silently collapse the record key — concat_ws skips nulls)
    val insertKeyNull = col("op") === "I" &&
      keyCols.map(k => col(s"after.$k").isNull).reduce(_ || _)
    val chk = env.groupBy(col("key"))
      .agg(count(lit(1)).as("__n"),
        max(when(insertKeyNull, lit(1)).otherwise(lit(0))).as("__nullkey"))
      .agg(max(col("__n")).as("dup"), max(col("__nullkey")).as("nullkey"))
      .first()
    require(chk.isNullAt(1) || chk.getInt(1) == 0,
      "MERGE INSERT must assign every record-key column a non-null value " +
        s"(keys: ${keyCols.mkString(", ")})")
    require(chk.isNullAt(0) || chk.getLong(0) <= 1L,
      "MERGE cardinality violation: multiple source rows resolve to one target key")
    rel.table.applyChangelog(env)
    Seq.empty
  }
}
