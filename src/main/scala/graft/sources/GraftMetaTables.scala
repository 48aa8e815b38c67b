package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES, addressed as nested identifiers —
  * `SELECT ... FROM cat.ns.t.files` / `cat.ns.t.commits` (Iceberg's
  * `db.table.files` / `db.table.snapshots` inspection surface; the
  * reference operates Iceberg v2 tables, process_covid_raw.py:102-105,
  * whose operators inspect exactly these).
  *
  * All are [[LocalScan]]s: the rows are the driver-side directory
  * bookkeeping every scan already pays (file listing, sidecar headers)
  * — never data reads. Planned as `LocalTableScanExec`: zero tasks,
  * zero file opens, any size table. `files` row counts come from the
  * [[GraftStats]] skipping manifest when one exists (the same metadata
  * the count(*) fast path serves); files outside the manifest report
  * NULL records rather than paying a footer read.
  */
private[sources] object GraftMetaTables {

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("partition", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("records", LongType, nullable = true),
    StructField("stream_epoch", LongType, nullable = true),
    StructField("has_dv", BooleanType, nullable = false)))

  val CommitsSchema: StructType = StructType(Seq(
    StructField("commit_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("added_files", IntegerType, nullable = false),
    StructField("removed_files", IntegerType, nullable = false),
    StructField("dv_positions", LongType, nullable = false),
    StructField("feed_visible", BooleanType, nullable = false),
    StructField("servable", BooleanType, nullable = false)))

  /** `<table>.commits`: the commit journal ([[GraftCommits]]) — every
    * batch commit as an addressable row (Iceberg's `snapshots` table).
    * `servable` reports whether `VERSION AS OF 'c<id>'` can still
    * reconstruct the state (tombstones not yet GC'd). Zero-task
    * LocalScan like its siblings.
    */
  def commitsRows(spark: SparkSession, tableDir: Path)
      : Array[InternalRow] = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recs = GraftCommits.list(fs, tableDir)
    // the BOUNDARY checkpoint: the newest one below the retained
    // records (the expiry floor's fold) — the replay seed, and the row
    // that keeps the retention floor visible rather than silent
    val boundaryCk = recs.headOption match {
      case Some(first) =>
        GraftCommits.checkpointAtOrBefore(fs, tableDir, first.id - 1)
      case None => GraftCommits.latestCheckpoint(fs, tableDir)
    }
    val ckRow = boundaryCk.map { ck =>
      val row = new GenericInternalRow(8)
      row.update(0, ck.id)
      row.update(1,
        UTF8String.fromString(s"checkpoint(floor=${ck.floor})"))
      row.update(2, ck.ts * 1000L)
      row.update(3, ck.files.size)
      row.update(4, 0)
      row.update(5, ck.dv.valuesIterator.map(_.length.toLong).sum)
      row.update(6, false)
      row.update(7, ck.files.forall { case (rel, addId) =>
        GraftCommits.resolveInstance(fs, tableDir, recs, rel, addId)
          .isDefined
      })
      row: InternalRow
    }
    // ONE incremental replay over the retained records (seeded from
    // the boundary checkpoint when the prefix was expired) — not a
    // per-row stateAndRecs, which would re-list and re-read the whole
    // journal O(n²) times for a single `.commits` query
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    boundaryCk.foreach(ck => live ++= ck.files)
    val recRows = recs.map { r =>
      r.removes.foreach(rm => live.remove(rm.rel))
      r.adds.foreach(a => live.update(a, r.id))
      val row = new GenericInternalRow(8)
      row.update(0, r.id)
      row.update(1, UTF8String.fromString(r.kind))
      row.update(2, r.ts * 1000L)
      row.update(3, r.adds.length)
      row.update(4, r.removes.length)
      row.update(5, r.dv.valuesIterator.map(_.length.toLong).sum)
      row.update(6, r.feedVisible)
      row.update(7, live.forall { case (rel, addId) =>
        GraftCommits.resolveInstance(fs, tableDir, recs, rel, addId)
          .isDefined
      })
      row: InternalRow
    }
    (ckRow.toSeq ++ recRows).toArray
  }

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    // NULL when ANY file of the partition lacks a manifest-identity
    // row count — a partial sum would read as a total
    StructField("records", LongType, nullable = true)))

  /** `<table>.partitions`: the [[filesRows]] listing rolled up per
    * partition directory (Iceberg's `partitions` table). Same zero-task
    * LocalScan contract; records only serve when EVERY file of the
    * partition has an identity-valid manifest entry.
    */
  def partitionsRows(spark: SparkSession, tableDir: Path)
      : Array[InternalRow] = {
    val files = filesRows(spark, tableDir)
    files.groupBy(_.getUTF8String(1).toString).toSeq.sortBy(_._1).map {
      case (part, rows) =>
        val row = new GenericInternalRow(4)
        row.update(0, UTF8String.fromString(part))
        row.update(1, rows.length.toLong)
        row.update(2, rows.map(_.getLong(2)).sum)
        row.update(3,
          if (rows.exists(_.isNullAt(3))) null
          else java.lang.Long.valueOf(rows.map(_.getLong(3)).sum))
        row: InternalRow
    }.toArray
  }

  /** `<table>.files`: one row per live data file. */
  def filesRows(spark: SparkSession, tableDir: Path): Array[InternalRow] = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tableDir)) return Array.empty
    val dirUri = tableDir.toUri.getPath
    def rel(p: Path): String =
      p.toUri.getPath.stripPrefix(dirUri).stripPrefix("/")
    val stats = GraftStats.read(fs, tableDir)
    val dvs = GraftDv.list(fs, tableDir)
    GraftEvolved.listVisible(fs, tableDir).map { st =>
      val r = rel(st.getPath)
      val dir = r.lastIndexOf('/') match {
        case -1 => ""
        case i => r.take(i)
      }
      val row = new GenericInternalRow(6)
      row.update(0, UTF8String.fromString(r))
      row.update(1, UTF8String.fromString(dir))
      row.update(2, st.getLen)
      // manifest identity check (same rule as the skipping tiers): a
      // row count only serves if the entry still matches the live
      // file — a stale count must report NULL, never silently wrong
      row.update(3, stats.get(r)
        .filter(s => s.size == st.getLen &&
          s.mtime == st.getModificationTime)
        .map(s => java.lang.Long.valueOf(s.rows)).orNull)
      row.update(4, GraftEqDel.emissionOf(st.getPath.getName)
        .map(e => java.lang.Long.valueOf(e._2)).orNull)
      row.update(5, dvs.contains(r))
      row: InternalRow
    }.toArray
  }
}

/** A read-only metadata table: fixed schema, rows computed fresh at
  * every scan build (the listing must see the current directory state,
  * same contract as the data scans).
  */
private[sources] final class GraftMetaTable(
    tableName: String, metaSchema: StructType,
    rowsFn: () => Array[InternalRow])
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = metaSchema
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows(): Array[InternalRow] = rowsFn()
        override def description(): String = tableName
      }
    }
}
