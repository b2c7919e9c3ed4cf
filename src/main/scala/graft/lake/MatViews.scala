package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.ViewRewrite

/** Persistent MATERIALIZED-VIEW registry — the declaration half of the MV
  * story (the optimizer half is [[graft.plans.ViewRewrite]], which r13
  * shipped session-local/programmatic only). The reference's whole catalog
  * story is cross-engine persistent metadata (its Hudi table registers in
  * Glue so Athena — a different engine — serves it live:
  * `lib/rds-cdc-flink-hudi-stack.ts:458-519`); this is that contract for
  * MVs: a view DECLARED via DDL in one session is auto-registered and
  * served (when fresh) by every FUTURE session that touches the base
  * table, with zero programmatic setup.
  *
  * Persistence plane: `<basePath>/manifest/views.json` (the policy.json
  * discipline — atomic tmp+rename, regex-parsed flat JSON), one spec per
  * view holding (name, view table path, group cols, measures, and the
  * MAINTAINED-SEQ WATERMARK = the base commit seq the view last folded).
  * Freshness at query time is `maintainedSeq == base.timeline.last.seq`,
  * re-read from the file — metadata-sized, and correct across sessions
  * and processes (a refresh in session A makes the view servable in
  * session B's very next query).
  *
  * The view itself is a keyed mor table (keys = the group columns), so
  * maintenance inherits exactly-once commits, time travel and compaction.
  * Maintained columns are derived from the measure list by a FIXED naming
  * scheme (`n`, `cnt_<arg>`, `sum_<arg>`, `min_<arg>`, `max_<arg>`; avg =
  * the decomposed (sum, cnt) pair) — the rewrite never sees user-facing
  * names, it matches Catalyst aggregate shapes.
  *
  * REFRESH is an affected-group partial recompute off the changelog:
  * groups touched by any commit past the watermark (before- OR after-
  * image — a group a row LEFT must shrink) recompute from the base
  * restricted to those groups, dead groups delete from the view. This is
  * O(changes × affected-group size) — uniform across all five measure
  * fns, and the only sound incremental shape for min/max under deletes
  * (a pure ±delta algebra cannot shrink a max). At 100 TB the restriction
  * is a broadcast semi-join of a metadata-sized touched-group set against
  * the base scan, and the base scan itself prunes to those groups'
  * row-group ranges when the group column carries colstats. */
object MatViews {

  /** One declared measure (`fn` ∈ count|sum|min|max|avg; `arg` empty only
    * for count(*)). */
  final case class MeasureSpec(fn: String, arg: String)

  /** A persisted view declaration. `maintainedSeq` is the freshness
    * watermark: the base commit seq whose state the view reflects;
    * `where` ("" = none) restricts the view to rows satisfying the SQL
    * predicate — the rewrite then answers only queries filtered by a
    * semantically-equal predicate. */
  final case class ViewSpec(name: String, viewPath: String,
                            groupCols: Seq[String],
                            measures: Seq[MeasureSpec],
                            maintainedSeq: Long,
                            where: String = "")

  private def viewsFile(basePath: String) =
    new Path(new Path(basePath), "manifest/views.json")

  // ------------------------------------------------------- persistence

  private def fsOf(spark: SparkSession, basePath: String) =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readSpecs(spark: SparkSession, basePath: String): Seq[ViewSpec] = {
    val fs = fsOf(spark, basePath)
    val p = viewsFile(basePath)
    if (!fs.exists(p)) return Seq.empty
    val json = new String(MorTable.readFully(fs, p), StandardCharsets.UTF_8)
    // `where` is optional in the wire format (round-14 files omit it when
    // empty; pre-filtered-view files never carry it)
    val viewRe = ("""\{"name":"""" + MorTable.jsEscapedRe +
      """","viewPath":"""" + MorTable.jsEscapedRe +
      """","groupCols":\[([^\]]*)\],"measures":\[([^\]]*)\],""" +
      """(?:"where":"""" + MorTable.jsEscapedRe + """",)?""" +
      """"maintainedSeq":(\d+)\}""").r
    val strRe = ("\"" + MorTable.jsEscapedRe + "\"").r
    viewRe.findAllMatchIn(json).map { m =>
      def strs(s: String): Seq[String] =
        strRe.findAllMatchIn(s).map(x => MorTable.jsUnescape(x.group(1))).toSeq
      val ms = strs(m.group(4)).map { t =>
        val i = t.indexOf(':')
        MeasureSpec(t.substring(0, i), t.substring(i + 1))
      }
      ViewSpec(MorTable.jsUnescape(m.group(1)), MorTable.jsUnescape(m.group(2)),
        strs(m.group(3)), ms, m.group(6).toLong,
        Option(m.group(5)).map(MorTable.jsUnescape).getOrElse(""))
    }.toSeq
  }

  def writeSpecs(spark: SparkSession, basePath: String,
                 specs: Seq[ViewSpec]): Unit = {
    val fs = fsOf(spark, basePath)
    def js(s: String) = "\"" + MorTable.jsEscape(s) + "\""
    val body = specs.map { v =>
      val whereField = if (v.where.isEmpty) "" else s""""where":${js(v.where)},"""
      s"""{"name":${js(v.name)},"viewPath":${js(v.viewPath)},""" +
        s""""groupCols":[${v.groupCols.map(js).mkString(",")}],""" +
        s""""measures":[${v.measures.map(m => js(s"${m.fn}:${m.arg}")).mkString(",")}],""" +
        whereField +
        s""""maintainedSeq":${v.maintainedSeq}}"""
    }.mkString("[", ",", "]")
    val dir = viewsFile(basePath).getParent
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".views.json.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(s"""{"views":$body}""".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(viewsFile(basePath), false)
    if (!fs.rename(tmp, viewsFile(basePath)))
      throw new java.io.IOException(s"views.json write failed under $dir")
    ()
  }

  /** Insert-or-replace one spec (by name) in the base's views file. */
  def upsertSpec(spark: SparkSession, basePath: String, spec: ViewSpec): Unit =
    synchronized {
      val rest = readSpecs(spark, basePath).filterNot(_.name == spec.name)
      writeSpecs(spark, basePath, rest :+ spec)
    }

  def removeSpec(spark: SparkSession, basePath: String, name: String): Unit =
    synchronized {
      val specs = readSpecs(spark, basePath)
      // no-op when absent — a write here would RECREATE the manifest dir
      // under a concurrently-dropped base table
      if (specs.exists(_.name == name))
        writeSpecs(spark, basePath, specs.filterNot(_.name == name))
    }

  // ------------------------------------------------ maintained columns

  /** Aggregate columns the view table maintains for these measures, in a
    * deterministic order. `n` = count(*) is ALWAYS maintained — the
    * rewrite's count(*) answer, and refresh's group-death detector. */
  def maintainedAggs(measures: Seq[MeasureSpec]): Seq[Column] = {
    val cols = scala.collection.mutable.LinkedHashMap[String, Column]()
    cols("n") = count(lit(1)).as("n")
    measures.foreach { m =>
      m.fn match {
        case "count" if m.arg.nonEmpty =>
          cols(s"cnt_${m.arg}") = count(col(m.arg)).as(s"cnt_${m.arg}")
        case "count" => () // count(*) rides n
        case "sum" => cols(s"sum_${m.arg}") = sum(col(m.arg)).as(s"sum_${m.arg}")
        case "min" => cols(s"min_${m.arg}") = min(col(m.arg)).as(s"min_${m.arg}")
        case "max" => cols(s"max_${m.arg}") = max(col(m.arg)).as(s"max_${m.arg}")
        case "avg" =>
          // decomposed pair; cnt is count(arg) (non-null), NOT n — avg
          // ignores nulls, count(*) does not
          cols(s"sum_${m.arg}") = sum(col(m.arg)).as(s"sum_${m.arg}")
          cols(s"cnt_${m.arg}") = count(col(m.arg)).as(s"cnt_${m.arg}")
        case other => throw new IllegalArgumentException(
          s"materialized view measure must be count|sum|min|max|avg, got '$other'")
      }
    }
    cols.values.toSeq
  }

  /** The [[ViewRewrite.Measure]]s these specs answer (fixed naming). */
  def rewriteMeasures(measures: Seq[MeasureSpec]): Seq[ViewRewrite.Measure] = {
    val declared = measures.map { m =>
      m.fn match {
        case "count" if m.arg.isEmpty => ViewRewrite.Measure("count", "", "n")
        case "count" => ViewRewrite.Measure("count", m.arg, s"cnt_${m.arg}")
        case "avg" => ViewRewrite.Measure("avg", m.arg, s"sum_${m.arg}", s"cnt_${m.arg}")
        case fn => ViewRewrite.Measure(fn, m.arg, s"${fn}_${m.arg}")
      }
    }
    // count(*) is always maintained, so always answerable
    (ViewRewrite.Measure("count", "", "n") +: declared).distinct
  }

  // --------------------------------------------------- register / serve

  /** The base commit seq a view is fresh against — the parent timeline
    * (the table-global token space) on a partitioned base, whose
    * changelog/travel reads span every child: identity is per
    * (partition, key) there, which is exactly what read()/readChangelog()
    * describe, so the group algebra is unchanged. */
  private def lastSeq(base: LakeTable): Long =
    base.commits().lastOption.map(_.seq).getOrElse(0L)

  /** Register every persisted view of `basePath` with the optimizer rule
    * — called from the DataSource read surface, so a FRESH session's
    * first query over the base table arms the rewrite with zero
    * programmatic setup. Freshness re-reads the persisted watermark at
    * rewrite time (cross-session correct); the view plan caches per view
    * commit seq ([[ViewRewrite.analyzedViewPlan]]). One fs.exists on
    * tables with no views — the only cost on the common path. */
  def autoRegister(spark: SparkSession, basePath: String,
                   baseKeys: Seq[String], partitionCol: Option[String]): Unit = {
    val specs =
      try readSpecs(spark, basePath)
      catch { case scala.util.control.NonFatal(_) => return }
    if (specs.isEmpty) return // common path: one fs.exists, no handles
    val base = LakeTable.resolve(spark, basePath, baseKeys, partitionCol)
    specs.foreach { spec =>
      val vt = MorTable.resolve(spark, spec.viewPath, spec.groupCols)
      ViewRewrite.register(ViewRewrite.ViewDef(
        basePath = basePath,
        groupCols = spec.groupCols,
        measures = rewriteMeasures(spec.measures),
        viewScan = () => vt.read(),
        isFresh = () => {
          val live = lastSeq(base)
          readSpecs(spark, basePath).find(_.name == spec.name)
            .exists(_.maintainedSeq == live)
        },
        version = () => vt.timeline().lastOption.map(_.seq).getOrElse(-1L),
        name = spec.name,
        filterSql = Some(spec.where).filter(_.nonEmpty)))
    }
  }

  /** The base restricted to a spec's WHERE predicate (identity when
    * none). Applied to every build/refresh read, so the view only ever
    * sees — and the rewrite only ever serves — the declared slice. */
  private def filtered(df: DataFrame, spec: ViewSpec): DataFrame =
    if (spec.where.isEmpty) df
    else df.filter(org.apache.spark.sql.functions.expr(spec.where))

  // ----------------------------------------------------- build / refresh

  /** Initial full build: aggregate the base state AT its current commit
    * seq into the view table (batch 1) and persist the spec at that
    * watermark. */
  def build(spark: SparkSession, basePath: String, baseKeys: Seq[String],
            partitionCol: Option[String], spec: ViewSpec): ViewSpec = {
    val base = LakeTable.resolve(spark, basePath, baseKeys, partitionCol)
    val seq = lastSeq(base)
    require(seq > 0L,
      s"CREATE MATERIALIZED VIEW: base table $basePath has no commits — " +
        "load it first")
    val vt = MorTable.resolve(spark, spec.viewPath, spec.groupCols)
    val aggs = maintainedAggs(spec.measures)
    val agg = filtered(base.readAt(seq), spec)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    vt.upsert(agg, orderWithinBatch = Nil, batchId = 1L)
    val done = spec.copy(maintainedSeq = seq)
    upsertSpec(spark, basePath, done)
    done
  }

  /** One maintenance cycle: bring the view from its watermark to the
    * base's current seq by affected-group partial recompute (see object
    * doc). Idempotent across retries — view commits are batch-tagged by
    * the target seq. No-op when already fresh. On a partitioned base the
    * touched groups come from the cross-child changelog; when the grouping
    * includes the partition column, "affected groups" = churned partitions
    * — the restriction prunes the recompute to exactly those children's
    * timelines. */
  def refresh(spark: SparkSession, basePath: String, baseKeys: Seq[String],
              partitionCol: Option[String], spec: ViewSpec): ViewSpec = {
    val base = LakeTable.resolve(spark, basePath, baseKeys, partitionCol)
    val to = lastSeq(base)
    if (to == spec.maintainedSeq) return spec
    val vt = MorTable.resolve(spark, spec.viewPath, spec.groupCols)
    val g = spec.groupCols
    val cl = base.readChangelog(spec.maintainedSeq, to)
    // touched groups: after-images of I/U plus BEFORE-images of U/D —
    // metadata-sized (distinct groups), checkpointed so both consumers
    // below share one computation
    val after = cl.filter(col("op").isin("I", "U")).select(g.map(col): _*)
    val before = cl.filter(col("op").isin("U", "D"))
      .select(g.map(c => col(s"before_$c").as(c)): _*)
    val touched = after.union(before).distinct().localCheckpoint(true)
    // recompute exactly those groups from the base state AT `to` (under
    // the view's WHERE slice — touched groups are a SUPERSET for filtered
    // views, since a changed row may sit outside the predicate; the
    // filtered recompute of a superset is still exact, rows leaving the
    // slice shrink their group and slice-empty groups die below)
    val aggs = maintainedAggs(spec.measures)
    val refreshed = filtered(base.readAt(to), spec)
      .join(broadcast(touched), g, "left_semi")
      .groupBy(g.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)
    // groups that died (touched but no surviving base rows) leave the view
    // — folded into the SAME delta commit as the refreshed groups (they
    // are key-disjoint by construction), one commit round instead of two
    val dead = touched.join(refreshed.select(g.map(col): _*), g, "left_anti")
    vt.upsertAndDelete(refreshed, dead, batchId = 2L * to + 1)
    val done = spec.copy(maintainedSeq = to)
    upsertSpec(spark, basePath, done)
    done
  }
}
