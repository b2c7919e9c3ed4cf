package graft.lake

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL CALL-procedure surface for lake table services — the Hudi
  * spark-sql procedures analog (`CALL run_compaction(table => …)`,
  * `CALL run_clean(…)`, `CALL show_commits(…)`, savepoint management;
  * Hudi exposes exactly this operational surface over its tables, and the
  * reference's notebook drives compaction/clean cadence declaratively —
  * `CDC-Hudi-Notebook.zpln:292` — so the operator-facing verbs belong in
  * SQL, not only on the Scala handle).
  *
  * Wiring: Spark 4's DSv2 procedure API —
  * `spark.sql.catalog.graft_ops = graft.lake.GraftProcedureCatalog`
  * registers this catalog, after which `CALL graft_ops.<proc>(…)` parses,
  * binds by parameter name (named-argument syntax included), and executes
  * on the driver. Tables are resolved by CATALOG NAME through
  * [[graft.GraftCatalog]] — the same registry the SELECT surface uses, so
  * anything queryable is also operable. Procedure output is a LocalScan
  * (rows materialize driver-side; every result here is metadata-sized —
  * timeline listings, savepoint maps, one-row acks — never data).
  *
  * All concurrency safety lives in the table (OCC seq claim, `unfolded`
  * straggler protocol, clean-vs-reader isolation) — a CALL is exactly the
  * corresponding handle method, so racing a live writer is covered by the
  * existing MultiWriterSpec contracts.
  */
class GraftProcedureCatalog extends ProcedureCatalog {
  import GraftProcedureCatalog._

  private var catName: String = "graft_ops"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) procedures.keys.toArray.sorted.map(Identifier.of(Array.empty, _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    procedures.getOrElse(ident.name().toLowerCase(java.util.Locale.ROOT),
      throw new NoSuchElementException(
        s"unknown procedure ${ident.name()}; have: ${procedures.keys.toSeq.sorted.mkString(", ")}"))
}

object GraftProcedureCatalog {

  /** One procedure: fixed IN parameters, fixed output schema, driver-side
    * body. Binding is trivial (no overloads), so unbound == bound. */
  private final case class Proc(
      pname: String,
      describe: String,
      params: Seq[ProcedureParameter],
      outSchema: StructType,
      body: Seq[Any] => Seq[Seq[Any]])
    extends UnboundProcedure with BoundProcedure {

    override def name(): String = pname
    override def description(): String = describe
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // up-front NULL rejection: every body destructures `case Seq(tbl:
      // String, …)`, so a NULL argument would surface as an opaque
      // MatchError — name the offending parameter instead
      val nulls = params.indices.filter(input.isNullAt)
      if (nulls.nonEmpty) throw new IllegalArgumentException(
        s"CALL $pname: NULL argument for parameter" +
          s"${if (nulls.size > 1) "s" else ""} " +
          nulls.map(i => s"'${params(i).name()}'").mkString(", ") +
          " (all parameters are non-nullable)")
      val args = params.indices.map { i =>
        if (input.isNullAt(i)) null
        else params(i).dataType() match {
          case StringType => input.getUTF8String(i).toString
          case IntegerType => input.getInt(i)
          case LongType => input.getLong(i)
          case t => throw new IllegalArgumentException(s"unsupported param type $t")
        }
      }
      val out = body(args).map { cells =>
        new GenericInternalRow(cells.map {
          case s: String => UTF8String.fromString(s)
          case x => x.asInstanceOf[AnyRef]
        }.toArray[Any]): InternalRow
      }.toArray
      Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = outSchema
      }).iterator()
    }
  }

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
  private def inDefault(n: String, t: DataType, sql: String) =
    ProcedureParameter.in(n, t).defaultValue(sql).build()

  private def resolve(name: String): LakeTable =
    graft.GraftCatalog.handleOf(SparkSession.active, name).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' is not a registered graft table (GraftCatalog.register it first)"))

  private val ack = StructType(Seq(
    StructField("action", StringType, nullable = false),
    StructField("detail", StringType, nullable = false)))

  private val procedures: Map[String, UnboundProcedure] = Seq[Proc](
    Proc("run_compaction",
      "compact a lake table: mode full|minor|zorder|due (zorder_cols comma-separated; partition narrows a partitioned table to one child)",
      Seq(in("table", StringType),
        inDefault("mode", StringType, "'full'"),
        inDefault("zorder_cols", StringType, "''"),
        inDefault("partition", StringType, "''")),
      ack,
      { case Seq(tbl: String, mode: String, zcols: String, part: String) =>
        // the partition argument narrows a partitioned table to ONE child
        val (action, detail) = resolve(tbl).runCompaction(mode,
          zcols.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          Seq(part).filter(_.nonEmpty))
        Seq(Seq(action, detail))
      }),
    Proc("create_record_index",
      "build the record-level index (exact key -> base-file postings) at " +
        "the current compaction boundary; later compactions refresh it",
      Seq(in("table", StringType)),
      ack,
      { case Seq(tbl: String) =>
        val t = resolve(tbl)
        t.buildRecordIndex()
        // the ack names what was indexed: the table, or its partitions
        val scope = if (t.partitionCol.isEmpty) tbl else s"${t.partitions().size} partitions"
        Seq(Seq("indexed", scope))
      }),
    Proc("refresh_materialized_view",
      "one affected-group maintenance cycle for the table's DDL-declared " +
        "materialized view(s) (name '' = every view); advances each " +
        "persisted freshness watermark so the rewrite serves again",
      Seq(in("table", StringType), inDefault("name", StringType, "''")),
      ack,
      { case Seq(tbl: String, name: String) =>
        val spark = SparkSession.active
        val t = resolve(tbl)
        val specs = MatViews.readSpecs(spark, t.path)
          .filter(s => name.isEmpty || s.name == name)
        require(specs.nonEmpty,
          s"CALL refresh_materialized_view: no materialized view" +
            s"${if (name.nonEmpty) s" '$name'" else "s"} declared on '$tbl'")
        specs.map { s =>
          val done = MatViews.refresh(spark, t.path, t.keyCols, t.partitionCol, s)
          Seq("refreshed", s"${done.name} -> seq ${done.maintainedSeq}")
        }
      }),
    Proc("show_materialized_views",
      "declared materialized views of the table with live freshness",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("view_name", StringType, nullable = false),
        StructField("group_cols", StringType, nullable = false),
        StructField("measures", StringType, nullable = false),
        StructField("maintained_seq", LongType, nullable = false),
        StructField("fresh", StringType, nullable = false),
        StructField("where_clause", StringType, nullable = false))),
      { case Seq(tbl: String) =>
        val spark = SparkSession.active
        val t = resolve(tbl)
        val live = t.commits().lastOption.map(_.seq).getOrElse(0L)
        MatViews.readSpecs(spark, t.path).map { s =>
          Seq(s.name, s.groupCols.mkString(","),
            s.measures.map(m => if (m.arg.isEmpty) m.fn else s"${m.fn}(${m.arg})")
              .mkString(","),
            Long.box(s.maintainedSeq), String.valueOf(s.maintainedSeq == live),
            s.where)
        }
      }),
    Proc("run_clean", "remove unreferenced files past the retention point",
      Seq(in("table", StringType)),
      StructType(Seq(StructField("removed", IntegerType, nullable = false))),
      { case Seq(tbl: String) =>
        Seq(Seq(Int.box(resolve(tbl).clean())))
      }),
    Proc("create_savepoint", "pin the current commit under a name",
      Seq(in("table", StringType), in("name", StringType)),
      StructType(Seq(StructField("seq", LongType, nullable = false))),
      { case Seq(tbl: String, nm: String) =>
        Seq(Seq(Long.box(resolve(tbl).savepoint(nm))))
      }),
    Proc("restore_savepoint", "physically roll the table back to a savepoint",
      Seq(in("table", StringType), in("name", StringType)),
      StructType(Seq(StructField("rolled_back", IntegerType, nullable = false))),
      { case Seq(tbl: String, nm: String) =>
        Seq(Seq(Int.box(resolve(tbl).restore(nm))))
      }),
    Proc("show_savepoints", "list savepoint pins",
      Seq(in("table", StringType)),
      StructType(Seq(StructField("name", StringType, nullable = false),
        StructField("seq", LongType, nullable = false))),
      { case Seq(tbl: String) =>
        resolve(tbl).savepoints().toSeq.sortBy(_._2).map { case (n, s) => Seq(n, Long.box(s)) }
      }),
    Proc("show_commits", "timeline listing (parent timeline for partitioned tables)",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("seq", LongType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("batch_id", LongType, nullable = false),
        StructField("commit_ms", LongType, nullable = false),
        StructField("insert_only", BooleanType, nullable = false))),
      { case Seq(tbl: String) =>
        resolve(tbl).commits().sortBy(_.seq).map(i =>
          Seq(Long.box(i.seq), i.kind, Long.box(i.batchId), Long.box(i.commitMs),
            Boolean.box(i.insertOnly)))
      }),
    Proc("show_fsview", "file-system view: per-partition base/delta file counts and bytes at current freshness",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("partition", StringType, nullable = false),
        StructField("last_compact_seq", LongType, nullable = true),
        StructField("base_files", IntegerType, nullable = false),
        StructField("base_bytes", LongType, nullable = false),
        StructField("live_deltas", IntegerType, nullable = false),
        StructField("delta_files", IntegerType, nullable = false),
        StructField("delta_bytes", LongType, nullable = false))),
      { case Seq(tbl: String) =>
        // driver-side metadata: one listStatus per live dir, no Spark job
        def row(part: String, v: MorTable.FsView): Seq[Any] =
          Seq(part, v.lastCompactSeq.map(Long.box).orNull, Int.box(v.baseFiles),
            Long.box(v.baseBytes), Int.box(v.liveDeltas),
            Int.box(v.deltaFiles), Long.box(v.deltaBytes))
        resolve(tbl).children().map { case (v, c) => row(v, c.fsView()) }
      }),
    Proc("show_files", "newest external-manifest file listing with per-file key bounds",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("min_key", StringType, nullable = true),
        StructField("max_key", StringType, nullable = true))),
      { case Seq(tbl: String) =>
        // metadata-sized: one row per base file, no Spark job
        resolve(tbl).children().flatMap(_._2.manifestFileStats()).sortBy(_._1).map { case (f, mn, mx) =>
          Seq(f, mn.orNull, mx.orNull)
        }
      }),
    Proc("show_policy", "declared write/compaction/clustering policy (persisted, inherited by fresh handles)",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("delta_commits", IntegerType, nullable = false),
        StructField("delta_seconds", LongType, nullable = false),
        StructField("write_tasks", IntegerType, nullable = false),
        StructField("target_file_mb", IntegerType, nullable = false),
        StructField("zorder_cols", StringType, nullable = false),
        StructField("cluster_every", IntegerType, nullable = false),
        StructField("clean_every", IntegerType, nullable = false),
        StructField("savepoint_ttl_seconds", LongType, nullable = false))),
      { case Seq(tbl: String) =>
        val p = MorTable.readPolicy(SparkSession.active, resolve(tbl).path)
          .getOrElse(MorTable.Policy())
        Seq(Seq(Int.box(p.deltaCommits), Long.box(p.deltaSeconds),
          Int.box(p.writeTasks), Int.box(p.targetFileMB),
          p.zorderCols.mkString(","), Int.box(p.clusterEvery),
          Int.box(p.cleanEvery), Long.box(p.savepointTTLSeconds)))
      }),
    Proc("export_snapshot", "write the current snapshot to a plain parquet directory (Hudi snapshot-exporter analog)",
      Seq(in("table", StringType), in("path", StringType)),
      StructType(Seq(StructField("exported_rows", LongType, nullable = false))),
      { case Seq(tbl: String, out: String) =>
        // one distributed write of the merged snapshot — any engine reads
        // the result with zero lake logic (the escape-hatch/offboarding verb)
        val df = resolve(tbl).read()
        df.write.mode("errorifexists").parquet(out)
        Seq(Seq(Long.box(
          SparkSession.active.read.parquet(out).count())))
      }),
    Proc("clone_table",
      "zero-copy shallow clone of a table's compacted base(s) into dst",
      Seq(in("table", StringType), in("dst", StringType)),
      ack,
      { case Seq(tbl: String, dst: String) =>
        resolve(tbl).cloneTo(dst)
        Seq(Seq("cloned", dst))
      }),
    Proc("bootstrap",
      "zero-copy adopt an external parquet dir as the table's first base",
      Seq(in("table", StringType), in("source", StringType)),
      ack,
      { case Seq(tbl: String, src: String) =>
        // both table forms: the partitioned route adopts a Hive
        // `<partitionCol>=<v>/` layout per child (PartitionedMorTable
        // .bootstrap), the unpartitioned one a flat parquet dir
        resolve(tbl).bootstrap(src)
        Seq(Seq("bootstrapped", src))
      }),
    Proc("show_stats",
      "table statistics from metadata: exact/estimated row counts plus per-stat-column NDV and bounds (ANALYZE-style, zero data jobs)",
      Seq(in("table", StringType)),
      StructType(Seq(
        StructField("stat", StringType, nullable = false),
        StructField("column", StringType, nullable = false),
        StructField("value", StringType, nullable = false))),
      { case Seq(tbl: String) =>
        // everything below is driver-side metadata (timeline listings +
        // cached manifest headers): exact_live_rows is the metadata-only
        // COUNT(*) answer (empty = not at a clean boundary, a real count
        // would scan); est_live_rows the planner's bounded overestimate
        def rows(exact: Option[Long], est: Option[Long], bytes: Long,
                 ndv: Map[String, Long], bounds: Map[String, (Double, Double)]): Seq[Seq[Any]] =
          exact.map(n => Seq[Any]("exact_live_rows", "", n.toString)).toSeq ++
            est.map(n => Seq[Any]("est_live_rows", "", n.toString)).toSeq ++
            Seq(Seq[Any]("live_bytes", "", bytes.toString)) ++
            ndv.toSeq.sortBy(_._1).map { case (c, n) =>
              Seq[Any]("ndv", c, n.toString) } ++
            bounds.toSeq.sortBy(_._1).flatMap { case (c, (mn, mx)) =>
              Seq(Seq[Any]("min", c, mn.toString), Seq[Any]("max", c, mx.toString)) }
        val t = resolve(tbl)
        rows(t.exactLiveRowCount(), t.liveRowCount(), t.liveBytes(), t.colNdv(),
          t.colBounds())
      }),
    Proc("drop_partition", "drop a partition's storage and metadata (TTL verb)",
      Seq(in("table", StringType), in("value", StringType)),
      StructType(Seq(StructField("dropped", StringType, nullable = false))),
      { case Seq(tbl: String, v: String) =>
        val t = resolve(tbl)
        if (t.partitionCol.isEmpty) throw new IllegalArgumentException(
          "drop_partition needs a partitioned table")
        t.dropPartitions(Seq(v)).map(d => Seq(d))
      })
  ).map(p => p.pname -> (p: UnboundProcedure)).toMap
}
