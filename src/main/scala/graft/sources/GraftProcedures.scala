package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.runtime.Catalog

/** SQL-addressable maintenance for [[GraftCatalog]] warehouses via
  * Spark 4's DSv2 stored procedures — `CALL cat.system.<proc>(...)`,
  * the addressing mode Iceberg/Trino use for table maintenance (the
  * reference's warehouse is Iceberg behind Trino, where compaction and
  * stats collection are `CALL system.*` procedures; an operator of a
  * 1000-executor cluster drives maintenance from SQL, not from a JVM
  * with library access). Each procedure resolves `table` as
  * `<layer>.<table>` inside the owning catalog and returns its effect
  * as rows, so orchestration can assert on the result set:
  *
  *  - `analyze(table)` — collect the [[GraftStats]] file-skipping
  *    manifest; returns the incremental footer-read count.
  *  - `cluster(table, sort_by)` — range-clustering rewrite
  *    ([[Catalog.clusterByName]]) followed by a re-analyze, so a
  *    selective predicate on the sort column schedules O(1) files.
  *  - `compact(table)` — whole-table layout-preserving rewrite
  *    ([[Catalog.compactByName]]); returns visible data-file counts
  *    before/after.
  *  - `compact_partitions(table, min_files)` — incremental: rewrite
  *    only the hive partitions that accreted >= min_files files
  *    ([[Catalog.compactPartitionsByName]]); one row per compacted
  *    partition, zero rows = nothing touched (and nothing read).
  *  - `rollback_to_commit(table, commit)` — restore the state as of a
  *    commit-journal id ([[GraftCommits.rollbackToCommit]]; Iceberg's
  *    rollback_to_snapshot). The journal is the table's one history:
  *    `<table>.commits` lists it, `VERSION AS OF 'c<id>'` reads it.
  *  - `remove_orphans(table, older_than_ms)` — delete abandoned staged
  *    files and committer scratch older than the grace
  *    ([[Catalog.removeOrphansByName]]).
  *  - `expire_versions(table)` — fold the journal prefix at or below
  *    its retention floor into a checkpoint and drop those records
  *    ([[GraftCommits.expire]]; Iceberg's expire_snapshots).
  *  - `rewrite_deletes(table)` — materialize merge-on-read deletion
  *    vectors into clean data files ([[GraftDv.rewriteDeletes]];
  *    Iceberg's rewrite_position_delete_files folded into the data
  *    rewrite).
  *  - `analyze_bloom(table, columns, fpp)` — per-file Bloom filters
  *    for equality/IN skipping on high-cardinality unsorted columns
  *    ([[GraftBloom]]; the Delta bloom-index / Iceberg puffin mode).
  *
  * `SHOW PROCEDURES` / `DESCRIBE PROCEDURE` come free from the
  * catalog's listProcedures/description.
  */
object GraftProcedures {

  val Namespace = "system"

  def names: Array[String] =
    Array("analyze", "analyze_bloom", "cluster", "compact",
      "compact_partitions", "evolve_partitioning", "expire_versions",
      "refresh_materialized_view", "remove_orphans", "rewrite_deletes",
      "rollback_to_commit", "table_state")

  def load(procName: String, engine: () => Catalog,
      catName: () => String = () => ""): UnboundProcedure =
    procName match {
      case "analyze" => new AnalyzeProc(engine)
      case "analyze_bloom" => new AnalyzeBloomProc(engine)
      case "cluster" => new ClusterProc(engine)
      case "compact" => new CompactProc(engine)
      case "compact_partitions" => new CompactPartitionsProc(engine)
      case "evolve_partitioning" => new EvolvePartitioningProc(engine)
      case "expire_versions" => new ExpireVersionsProc(engine)
      case "refresh_materialized_view" =>
        new RefreshMaterializedViewProc(catName)
      case "remove_orphans" => new RemoveOrphansProc(engine)
      case "rewrite_deletes" => new RewriteDeletesProc(engine)
      case "rollback_to_commit" => new RollbackToCommitProc(engine)
      case "table_state" => new TableStateProc(engine)
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other (one of ${names.mkString(", ")})")
    }

  /** A data-reading filter/register build over a RENAMED column would
    * read pre-rename files as all-null under the new name (parquet
    * resolves strictly by name) and publish entries that silently
    * mis-prune or mis-estimate — refuse until compact materializes.
    */
  private def requireNoAliases(spark: SparkSession, dir: Path,
      cols: Seq[String], what: String): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aliases = GraftTableMeta.read(fs, dir).renameAliases
    cols.foreach { c =>
      require(!aliases.contains(c.toLowerCase),
        s"$what: column $c was renamed and its pre-rename files are not " +
          "yet materialized — CALL system.compact first")
    }
  }

  private def splitIdent(tableArg: UTF8String): (String, String) = {
    val s = String.valueOf(tableArg)
    s.split('.') match {
      case Array(layer, table) => (layer, table)
      case _ => throw new IllegalArgumentException(
        s"table must be '<layer>.<table>', got '$s'")
    }
  }

  /** Visible data files under a table dir (recursive, underscore/dot
    * sidecars excluded) — the before/after evidence compact returns.
    */
  private def dataFileCount(engine: Catalog, layer: String,
      table: String): Int = {
    val dir = new Path(engine.path(layer, table))
    val fs = dir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    def walk(p: Path): Int = fs.listStatus(p).map { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0
      else if (st.isDirectory) walk(st.getPath)
      else 1
    }.sum
    if (fs.exists(dir)) walk(dir) else 0
  }

  private final class ResultScan(schema: StructType,
      result: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = result
  }

  private def one(schema: StructType, row: InternalRow): JIterator[Scan] =
    Collections.singletonList(
      new ResultScan(schema, Array(row)): Scan).iterator()

  private abstract class MaintenanceProc(procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    // side-effecting by design: never constant-folded or re-invoked
    override def isDeterministic: Boolean = false
  }

  private final class AnalyzeProc(engine: () => Catalog)
    extends MaintenanceProc("analyze") {
    override def description(): String =
      "collect the per-file min/max data-skipping manifest " +
        "(incremental; returns files newly analyzed). ndv_columns " +
        "additionally attaches mergeable HyperLogLog NDV registers " +
        "for the named columns (one incremental data pass) — the " +
        "distinct-count statistics CBO join/aggregate estimation reads"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build(),
      ProcedureParameter.in("ndv_columns", StringType)
        .defaultValue("''")
        .comment("col[,col...] to collect NDV registers for (optional)")
        .build())
    private val out = StructType(Seq(
      StructField("files_analyzed", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val eng = engine()
      val n = eng.analyze(layer, table)
      val ndvCols = Option(input.getUTF8String(1)).map(String.valueOf)
        .getOrElse("").split(',').map(_.trim).filter(_.nonEmpty).toSeq
      if (ndvCols.nonEmpty) {
        require(eng.format == "parquet",
          s"ndv_columns needs parquet; ${eng.format} unsupported")
        val spark = SparkSession.active
        val dir = new Path(eng.path(layer, table))
        requireNoAliases(spark, dir, ndvCols, "ndv_columns")
        val df = spark.table(eng.sqlIdent(layer, table))
        val parts = spark.sessionState.catalogManager.catalog(eng.sqlName)
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
            Array(layer), table))
          .partitioning().toSeq.collect {
            case t if t.name == "identity" =>
              t.references().head.fieldNames.mkString(".")
          }
        GraftStats.analyzeNdv(spark, dir, df.schema, parts, ndvCols)
      }
      one(out, InternalRow(n))
    }
  }

  /** Operational visibility for the maintenance policies
    * ([[GraftMaintenance]], r13 verdict item 1): one row of the live
    * numbers each bounded-growth cliff is measured by, so an operator
    * (or an alerting query) sees the cliffs coming — the eq-del key
    * map's distance to its read-refusal cap, the DV'd-file count a
    * `dv.rewrite_threshold` would act on, and the tombstone bytes
    * `retired.expire_ms` / `remove_orphans` would reclaim.
    */
  private final class TableStateProc(engine: () => Catalog)
    extends MaintenanceProc("table_state") {
    override def description(): String =
      "report a table's operational sidecar state: live data " +
        "files/bytes, merge-on-read deletion vectors (files + " +
        "positions), equality-delete sidecars/keys vs the read cap, " +
        "and tombstoned generations (commits/files/bytes) — the " +
        "numbers the maintenance policies act on"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build())
    private val out = StructType(Seq(
      StructField("live_files", IntegerType, nullable = false),
      StructField("live_bytes", LongType, nullable = false),
      StructField("dv_files", IntegerType, nullable = false),
      StructField("dv_positions", LongType, nullable = false),
      StructField("eqdel_sidecars", IntegerType, nullable = false),
      StructField("eqdel_keys", LongType, nullable = false),
      StructField("eqdel_key_cap", LongType, nullable = false),
      StructField("retired_commits", IntegerType, nullable = false),
      StructField("retired_files", IntegerType, nullable = false),
      StructField("retired_bytes", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val eng = engine()
      val spark = SparkSession.active
      val dir = new Path(eng.path(layer, table))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val liveStatuses = GraftEvolved.listVisible(fs, dir)
      val liveFiles = liveStatuses.size
      val liveBytes = liveStatuses.map(_.getLen).sum
      val dvs = GraftDv.list(fs, dir).toSeq
      val dvPositions =
        dvs.map { case (_, p) => GraftDv.read(fs, p).ords.length.toLong }.sum
      val eqSidecars = GraftEqDel.list(fs, dir).length
      val eqKeys = GraftEqDel.countKeys(fs, dir)
      val cap = spark.conf.getOption(GraftEqDel.MaxKeysConf).map(_.toLong)
        .getOrElse(GraftEqDel.MaxKeysDefault)
      val (rCommits, rFiles, rBytes) = GraftRetired.stats(fs, dir)
      one(out, InternalRow(liveFiles, liveBytes, dvs.size, dvPositions,
        eqSidecars, eqKeys, cap, rCommits, rFiles, rBytes))
    }
  }

  private final class ClusterProc(engine: () => Catalog)
    extends MaintenanceProc("cluster") {
    override def description(): String =
      "range-clustering rewrite ordered by sort_by (comma-separated " +
        "columns), then re-analyze — makes every file's min/max a " +
        "tight slice so the skipping manifest prunes selective scans"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table> (plain layout)").build(),
      ProcedureParameter.in("sort_by", StringType)
        .comment("col[,col...]; leading column drives the ranges").build(),
      ProcedureParameter.in("target_file_bytes", LongType)
        .defaultValue((128L << 20).toString)
        .comment("rewrite file sizing").build(),
      ProcedureParameter.in("strategy", StringType)
        .defaultValue("'range'")
        .comment("'range' (lexicographic) or 'zorder' (Morton " +
          "interleave of exactly two integral columns: files become " +
          "tight in BOTH dimensions)").build())
    private val out = StructType(Seq(
      StructField("files", IntegerType, nullable = false),
      StructField("files_analyzed", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val sortCols = String.valueOf(input.getUTF8String(1))
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val eng = engine()
      val files = eng.clusterByName(layer, table, sortCols, input.getLong(2),
        String.valueOf(input.getUTF8String(3)))
      // the rewrite just retired every analyzed file: refresh the
      // manifest in the same call so skipping works immediately
      val analyzed = eng.analyze(layer, table)
      one(out, InternalRow(files, analyzed))
    }
  }

  private final class CompactProc(engine: () => Catalog)
    extends MaintenanceProc("compact") {
    override def description(): String =
      "whole-table layout-preserving compaction (bucket tags and " +
        "partition dirs survive); returns file counts before/after. " +
        "On a table with an evolved partition spec this is the " +
        "MIGRATION: every row is rewritten under the current spec and " +
        "the evolution is finalized (spec columns merge into the " +
        "anchor; partition-granular operations re-admit)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build())
    private val out = StructType(Seq(
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val eng = engine()
      val before = dataFileCount(eng, layer, table)
      eng.compactByName(layer, table)
      // finalize a partition-spec evolution: the rewrite above landed
      // EVERY row under the current spec, so the evolved columns can
      // merge into the anchor — one metadata commit under the lock
      val dir = new Path(eng.path(layer, table))
      val fs = dir.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      val m = GraftTableMeta.read(fs, dir)
      if (m.evolvedCols.nonEmpty)
        GraftCommitLock.withLock(fs, dir, "evolve-finalize") {
          val m2 = GraftTableMeta.read(fs, dir) // re-read under the lock
          if (m2.evolvedCols.nonEmpty)
            GraftTableMeta.write(fs, dir, m2.copy(
              partitionCols = m2.partitionCols ++ m2.evolvedCols,
              evolvedCols = Nil))
        }
      one(out, InternalRow(before, dataFileCount(eng, layer, table)))
    }
  }

  /** Partition SPEC EVOLUTION ([[GraftEvolved]], r13 item 3 —
    * Iceberg's `ALTER TABLE ... ADD PARTITION FIELD`, addressed as a
    * procedure because vanilla Spark SQL has no parser surface for
    * it). Metadata-only: appends a data column to the partition spec;
    * existing files stay where they are and new writes lay out the
    * extended spec, keeping the column in their data too.
    */
  private final class EvolvePartitioningProc(engine: () => Catalog)
    extends MaintenanceProc("evolve_partitioning") {
    override def description(): String =
      "append a data column to the table's partition spec (add_column) " +
        "or remove an evolved one (drop_column) — metadata-only; " +
        "Iceberg's ADD/DROP PARTITION FIELD. Existing files stay valid " +
        "under their own era's layout; new writes land under the " +
        "current spec. CALL system.compact migrates and finalizes"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build(),
      ProcedureParameter.in("add_column", StringType)
        .comment("data column to append to the partition spec")
        .defaultValue("''").build(),
      ProcedureParameter.in("drop_column", StringType)
        .comment("EVOLVED partition column to remove from the spec " +
          "(new writes stop laying it out; anchor columns refuse)")
        .defaultValue("''").build())
    private val out = StructType(Seq(
      StructField("partition_spec", StringType, nullable = false),
      StructField("anchor", StringType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val addName = String.valueOf(input.getUTF8String(1)).trim
      val dropName = String.valueOf(input.getUTF8String(2)).trim
      require(addName.nonEmpty != dropName.nonEmpty,
        "evolve_partitioning: exactly one of add_column / drop_column")
      val eng = engine()
      require(eng.format == "parquet",
        s"evolve_partitioning needs parquet; format is ${eng.format}")
      val dir = new Path(eng.path(layer, table))
      val spark = SparkSession.active
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      GraftCommitLock.withLock(fs, dir, "evolve-partitioning") {
        val m = GraftTableMeta.read(fs, dir)
        val m2 =
          if (addName.nonEmpty && GraftTransforms.isTransform(addName)) {
            // HIDDEN-PARTITIONING transform field (r14 item 3 —
            // Iceberg's days/truncate/bucket partition transforms):
            // the DERIVED token is laid out for new files; the source
            // stays an ordinary data column in every era
            val sp = GraftTransforms.parseOpt(addName).get
            val schema = m.schema.getOrElse(
              throw new IllegalArgumentException(
                s"$layer.$table has no schema sidecar (object-API " +
                  "table): evolve_partitioning needs a SQL-created table"))
            GraftTransforms.validate(sp, schema)
            require(!m.evolvedCols.exists(c =>
                GraftTransforms.parseOpt(c).exists(_.raw == sp.raw)),
              s"evolve_partitioning: ${sp.raw} is already in the spec")
            require(!(m.partitionCols ++ m.evolvedCols)
                .exists(_.equalsIgnoreCase(sp.fieldName)),
              s"evolve_partitioning: ${sp.fieldName} collides with an " +
                "existing partition column")
            require(m.bucketSpec.isEmpty,
              "evolve_partitioning is not supported on bucketed tables")
            require(!m.renameAliases.contains(sp.source.toLowerCase),
              s"evolve_partitioning: ${sp.source} was renamed and " +
                "pre-rename files are not yet materialized — CALL " +
                "system.compact first")
            m.copy(evolvedCols = m.evolvedCols :+ sp.raw)
          } else if (addName.nonEmpty) {
            val colName = addName
            val schema = m.schema.getOrElse(
              throw new IllegalArgumentException(
                s"$layer.$table has no schema sidecar (object-API " +
                  "table): evolve_partitioning needs a SQL-created table"))
            val f = schema.fields.find(_.name.equalsIgnoreCase(colName))
              .getOrElse(throw new IllegalArgumentException(
                s"evolve_partitioning: column $colName not in schema"))
            require(GraftPartitionedCow.dirRenderable(f.dataType),
              s"evolve_partitioning: ${f.name} type " +
                s"${f.dataType.simpleString} has ambiguous directory " +
                "rendering (supported: string, integral, boolean, date)")
            require(!(m.partitionCols ++ m.evolvedCols)
                .exists(_.equalsIgnoreCase(colName)),
              s"evolve_partitioning: ${f.name} is already a partition column")
            require(m.bucketSpec.isEmpty,
              "evolve_partitioning is not supported on bucketed tables")
            require(!m.renameAliases.contains(f.name.toLowerCase),
              s"evolve_partitioning: ${f.name} was renamed and pre-rename " +
                "files are not yet materialized — CALL system.compact first")
            require((m.partitionCols.size + m.evolvedCols.size + 1) <
                schema.fields.length,
              "evolve_partitioning: every column would be a partition column")
            m.copy(evolvedCols = m.evolvedCols :+ f.name)
          } else {
            // DROP PARTITION FIELD: metadata-only — new writes stop
            // laying the column out; files already laid out under it
            // keep reading through their own era's chain (the column
            // is a data column in every era, so filters stay exact —
            // only its chain-token pruning degrades on the old era)
            val colName = GraftTransforms.parseOpt(dropName)
              .map(_.raw).getOrElse(dropName)
            require(!m.partitionCols.exists(_.equalsIgnoreCase(colName)),
              s"evolve_partitioning: $colName is an ANCHOR partition " +
                "column — every era's directory identity depends on it " +
                "and it cannot be dropped (rewrite via CTAS instead)")
            require(m.evolvedCols.exists(_.equalsIgnoreCase(colName)),
              s"evolve_partitioning: $colName is not an evolved " +
                s"partition column (spec: ${(m.partitionCols ++
                  m.evolvedCols).mkString(",")})")
            val remaining =
              m.evolvedCols.filterNot(_.equalsIgnoreCase(colName))
            if (remaining.isEmpty) {
              // reverting to the PLAIN layout hands scans back to
              // Spark's partition inference, which refuses (or worse,
              // misreads) mixed directory depths — only safe when no
              // file still lives under an evolved-era chain
              val anchorDepth = m.partitionCols.size
              val deep = GraftEvolved.listVisible(fs, dir).exists { st =>
                val rel = st.getPath.getParent.toUri.getPath
                  .stripPrefix(dir.toUri.getPath).stripPrefix("/")
                rel.nonEmpty && rel.split('/').count(_.contains('=')) >
                  anchorDepth
              }
              require(!deep,
                s"evolve_partitioning: dropping $colName would revert " +
                  "to the plain layout while files still live under " +
                  "evolved-era directories — CALL system.compact to " +
                  "migrate them first")
            }
            m.copy(evolvedCols = remaining)
          }
        GraftTableMeta.write(fs, dir, m2)
        one(out, InternalRow(
          UTF8String.fromString(
            (m2.partitionCols ++ m2.evolvedCols).mkString(",")),
          UTF8String.fromString(m2.partitionCols.mkString(","))))
      }
    }
  }

  /** Per-file Bloom filters for point-lookup skipping ([[GraftBloom]]):
    * the pruning tier min/max cannot provide on high-cardinality
    * unsorted columns — the Delta bloom-index / Iceberg puffin mode.
    */
  private final class AnalyzeBloomProc(engine: () => Catalog)
    extends MaintenanceProc("analyze_bloom") {
    override def description(): String =
      "build per-file Bloom filters for the named columns (equality/IN " +
        "probes then schedule only files whose filter admits the value " +
        "— point-lookup skipping where min/max proves nothing)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table> (parquet)").build(),
      ProcedureParameter.in("columns", StringType)
        .comment("col[,col...] — integral or string, non-partition").build(),
      ProcedureParameter.in("fpp", DoubleType)
        .defaultValue("0.01")
        .comment("false-positive probability (bits per row trade-off)")
        .build())
    private val out = StructType(Seq(
      StructField("files_built", IntegerType, nullable = false),
      StructField("files_covered", IntegerType, nullable = false),
      StructField("columns", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val cols = String.valueOf(input.getUTF8String(1))
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val fpp = input.getDouble(2)
      val eng = engine()
      require(eng.tableExists(layer, table), s"$layer.$table does not exist")
      require(eng.format == "parquet",
        s"analyze_bloom builds over parquet; ${eng.format} unsupported")
      val spark = SparkSession.active
      val dir = new Path(eng.path(layer, table))
      requireNoAliases(spark, dir, cols, "analyze_bloom")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val meta = GraftTableMeta.read(fs, dir)
      val schema = meta.schema.getOrElse(
        spark.read.parquet(dir.toString).schema)
      val partCols =
        if (meta.partitionCols.nonEmpty) meta.partitionCols
        else schema.fieldNames.toSeq.filter { n =>
          // layout-inferred partition columns: present as dirs only
          fs.listStatus(dir).exists(st => st.isDirectory &&
            st.getPath.getName.startsWith(n + "="))
        }
      val (built, covered, ncols) = GraftBloom.analyze(spark, dir, schema,
        partCols, cols, fpp)
      one(out, InternalRow(built, covered, ncols))
    }
  }

  /** Merge-on-read compaction: materialize [[GraftDv]] deletion
    * vectors back into clean data files (positions applied, vectors
    * dropped, bucket tags and partition dirs preserved), then refresh
    * the skipping manifest so the replacements are covered. Cost is
    * proportional to files WITH deletions — the maintenance half of
    * `delete_mode = merge-on-read`.
    */
  private final class RewriteDeletesProc(engine: () => Catalog)
    extends MaintenanceProc("rewrite_deletes") {
    override def description(): String =
      "materialize merge-on-read deletion vectors into clean files " +
        "(per-file rewrite; bucket tags survive); returns files " +
        "rewritten, positions applied, stale vectors swept"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build())
    private val out = StructType(Seq(
      StructField("files_rewritten", IntegerType, nullable = false),
      StructField("positions_applied", LongType, nullable = false),
      StructField("vectors_swept", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val eng = engine()
      require(eng.tableExists(layer, table), s"$layer.$table does not exist")
      val dir = new Path(eng.path(layer, table))
      // equality deletes materialize first (they refuse to coexist
      // with positional vectors, so at most one phase does real work)
      val (eqFiles, _) = GraftEqDel.materialize(SparkSession.active, dir)
      val (dvFiles, positions, swept) = GraftDv.rewriteDeletes(
        SparkSession.active, dir)
      val files = eqFiles + dvFiles
      // replacements are new, uncovered files: refresh the skipping
      // manifest so min/max pruning resumes over them
      if (files > 0) eng.analyze(layer, table)
      one(out, InternalRow(files, positions, swept))
    }
  }

  private final class RemoveOrphansProc(engine: () => Catalog)
    extends MaintenanceProc("remove_orphans") {
    override def description(): String =
      "delete abandoned staged files / committer scratch older than " +
        "the grace period; engine sidecars and visible data untouched"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build(),
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue((3L * 24 * 3600 * 1000).toString)
        .comment("grace: never delete younger than this").build())
    private val out = StructType(Seq(
      StructField("files_deleted", IntegerType, nullable = false),
      StructField("bytes_reclaimed", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val (files, bytes) =
        engine().removeOrphansByName(layer, table, input.getLong(1))
      one(out, InternalRow(files, bytes))
    }
  }

  private final class ExpireVersionsProc(engine: () => Catalog)
    extends MaintenanceProc("expire_versions") {
    override def description(): String =
      "expire the commit journal's prefix at or below its retention " +
        "floor (the newest replace/rollback/genesis record): folded " +
        "into a checkpoint, records dropped — Iceberg's expire_snapshots"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build())
    private val out = StructType(Seq(
      StructField("journal_records_expired", IntegerType,
        nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val dir = new Path(engine().path(layer, table))
      val fs = dir.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      // assignment/state/feeds read checkpoint + tail from here on
      one(out, InternalRow(GraftCommits.expire(fs, dir)))
    }
  }

  /** `refresh_materialized_view(table, full)` — fold the base table's
    * change feed above the MV's recorded position into the backing
    * aggregate ([[graft.runtime.GraftMaterializedViews]]): the refresh
    * costs the CHANGE (exact `_change_epoch` pushdown), never the base
    * table. `full => true` recomputes from the stored SQL (the
    * re-bootstrap path once the feed's retention horizon passed the
    * MV's position).
    */
  private final class RefreshMaterializedViewProc(cat: () => String)
    extends MaintenanceProc("refresh_materialized_view") {
    override def description(): String =
      "incrementally fold the base table's change feed into a " +
        "materialized view (counting-IVM; full => true recomputes)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<view>").build(),
      ProcedureParameter.in("full", BooleanType)
        .defaultValue("false")
        .comment("true = recompute from the stored SQL").build())
    private val out = StructType(Seq(
      StructField("change_rows_folded", LongType, nullable = false),
      StructField("position", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val full = !input.isNullAt(1) && input.getBoolean(1)
      val (n, pos) = graft.runtime.GraftMaterializedViews.refresh(
        SparkSession.active, cat(), layer, table, full)
      one(out, InternalRow(n, pos))
    }
  }

  /** Per-commit rollback ([[GraftCommits.rollbackToCommit]], r14 item
    * 2): restore the file + deletion-vector state as of ANY journaled
    * commit — Iceberg's `rollback_to_snapshot` for the commit journal.
    */
  private final class RollbackToCommitProc(engine: () => Catalog)
    extends MaintenanceProc("rollback_to_commit") {
    override def description(): String =
      "restore the table state as of a commit-journal id (see " +
        "<table>.commits): post-commit files retire, superseded " +
        "instances rename back from their tombstones, deletion vectors " +
        "replay; the rollback floors the changes feed (CDC consumers " +
        "re-bootstrap)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build(),
      ProcedureParameter.in("commit", LongType)
        .comment("a commit_id from <table>.commits").build())
    private val out = StructType(Seq(
      StructField("restored_files", IntegerType, nullable = false),
      StructField("retired_files", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val target = input.getLong(1)
      val eng = engine()
      require(eng.tableExists(layer, table), s"$layer.$table does not exist")
      val dir = new Path(eng.path(layer, table))
      val fs = dir.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      val (restored, retired) =
        GraftCommits.rollbackToCommit(fs, dir, target)
      one(out, InternalRow(restored, retired))
    }
  }

  private final class CompactPartitionsProc(engine: () => Catalog)
    extends MaintenanceProc("compact_partitions") {
    override def description(): String =
      "incremental compaction: rewrite only hive partitions with >= " +
        "min_files visible files; one row per compacted partition"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("<layer>.<table>").build(),
      ProcedureParameter.in("min_files", IntegerType)
        .defaultValue("4").comment("rewrite threshold").build())
    private val out = StructType(Seq(
      StructField("partition", StringType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val (layer, table) = splitIdent(input.getUTF8String(0))
      val minFiles = input.getInt(1)
      val dirs = engine().compactPartitionsByName(layer, table, minFiles)
      Collections.singletonList(new ResultScan(out,
        dirs.map(d => InternalRow(UTF8String.fromString(d))).toArray)
        : Scan).iterator()
    }
  }
}
