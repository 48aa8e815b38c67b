package graft

import org.apache.spark.sql.functions._
import graft.runtime.Catalog

/** Storage-maintenance semantics: small-files compaction and
  * schema-evolution reads.
  */
class CatalogMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("compact collapses many small files into few, preserving rows") {
    val cat = Catalog(spark, tmpDir("compact-wh"))
    val df = (0L until 10000L).toDF("id").repartition(40)
    cat.createOrReplace(df, "raw", "t")
    assert(parquetFiles(cat.path("raw", "t")).size >= 40)
    val written = cat.compact("raw", "t")
    assert(written == 1) // 10k longs are far under one target file
    assert(parquetFiles(cat.path("raw", "t")).size == 1)
    assert(cat.read("raw", "t").as[Long].collect().toSet ==
      (0L until 10000L).toSet)
  }

  test("compact keeps hive partition layout when partition cols are given") {
    val cat = Catalog(spark, tmpDir("compact-part"))
    val df = (0L until 1000L).map(i => (s"d${i % 3}", i)).toDF("d", "v")
      .repartition(20)
    cat.append(df, "ods", "t", Seq("d"))
    cat.compact("ods", "t", partitionCols = Seq("d"))
    val back = cat.read("ods", "t")
    // partition column survives as a hive directory (still readable +
    // prunable), and every row is intact
    assert(back.select("d").distinct().as[String].collect().toSet ==
      Set("d0", "d1", "d2"))
    assert(back.select("v").as[Long].collect().toSet == (0L until 1000L).toSet)
  }

  test("compactByName preserves bucket tags: streamed epochs collapse, join stays exchange-free (r10 item 3)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("compact-bucketed")
    val cat = Catalog(spark, root)
    val name = cat.sqlName
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.dds")
    spark.sql(s"CREATE TABLE $name.dds.sfacts (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $name.dds.sdims (k BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $name.dds.sdims " +
      "SELECT id, concat('t', id % 5) FROM range(0, 120)")
    // 5 streamed epochs accrete one file per bucket per epoch
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("compact-bucketed-cp"))
      .toTable(s"$name.dds.sfacts")
    (0 until 5).foreach { e =>
      mem.addData((0L until 24L).map(i => (e * 24L + i, e * 1000L + i)): _*)
      q.processAllAvailable()
    }
    q.stop()
    val before = parquetFiles(s"$root/dds/sfacts").size
    assert(before >= 10, s"expected epoch accretion, got $before files")
    cat.compactByName("dds", "sfacts")
    val files = parquetFiles(s"$root/dds/sfacts")
    assert(files.size < before && files.size <= 8,
      s"compaction did not collapse files: $before -> ${files.size}")
    // every compacted file keeps its bucket tag
    assert(files.forall(_.getName.matches(".*-b\\d{5}\\..*")),
      s"compaction dropped bucket tags: ${files.map(_.getName).mkString(", ")}")
    // rows intact
    assert(spark.table(s"$name.dds.sfacts").as[(Long, Long)].collect().toSet ==
      (0 until 5).flatMap(e => (0L until 24L).map(i =>
        (e * 24L + i, e * 1000L + i))).toSet)
    // and the same-spec join still plans with zero ShuffleExchange
    val joined = spark.table(s"$name.dds.sfacts")
      .join(spark.table(s"$name.dds.sdims"), Seq("k"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"compaction lost the storage-partitioned join:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() == 120)
  }

  test("compactPartitionsByName compacts ONLY the accreted partitions (r11)") {
    val root = tmpDir("compact-incr")
    val cat = Catalog(spark, root)
    val name = cat.sqlName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ods")
    spark.sql(s"CREATE TABLE $name.ods.ev (id BIGINT, v BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    // one clean insert for d0/d2, then SIX appends hammering only d1
    spark.sql(s"INSERT INTO $name.ods.ev " +
      "SELECT /*+ REPARTITION(1) */ id, id, concat('d', id % 3) " +
      "FROM range(0, 300) WHERE id % 3 != 1")
    (0 until 6).foreach { i =>
      spark.sql(s"INSERT INTO $name.ods.ev " +
        s"SELECT /*+ REPARTITION(1) */ id, id, 'd1' " +
        s"FROM range(${300 + i * 10}, ${310 + i * 10})")
    }
    def filesIn(rel: String) = parquetFiles(s"$root/ods/ev/$rel")
    val d0Before = filesIn("day=d0").map(f => (f.getName, f.length, f.lastModified))
    val d2Before = filesIn("day=d2").map(f => (f.getName, f.length, f.lastModified))
    assert(filesIn("day=d1").size >= 6)

    val compacted = cat.compactPartitionsByName("ods", "ev", minFiles = 4)
    assert(compacted == Seq("day=d1"), s"got $compacted")
    // d1 collapsed; d0/d2 untouched down to mtimes
    assert(filesIn("day=d1").size == 1,
      s"d1 not compacted: ${filesIn("day=d1").map(_.getName)}")
    assert(filesIn("day=d0").map(f => (f.getName, f.length, f.lastModified))
      == d0Before, "compaction rewrote an un-accreted partition (d0)")
    assert(filesIn("day=d2").map(f => (f.getName, f.length, f.lastModified))
      == d2Before, "compaction rewrote an un-accreted partition (d2)")
    // rows intact
    assert(spark.table(s"$name.ods.ev").count() == 260)
    assert(spark.table(s"$name.ods.ev").where(col("day") === "d1").count() == 60)
    // idempotent: a second pass finds nothing to do
    assert(cat.compactPartitionsByName("ods", "ev", minFiles = 4).isEmpty)
  }

  test("compact is lossless on schema-evolved tables") {
    val cat = Catalog(spark, tmpDir("compact-evolved"))
    cat.append(Seq((1L, "a")).toDF("id", "s"), "raw", "t", Seq.empty)
    cat.append(Seq((2L, "b", 9.5)).toDF("id", "s", "x"), "raw", "t", Seq.empty)
    cat.compact("raw", "t")
    // the column only the second file carried must survive the rewrite
    val back = cat.read("raw", "t")
    assert(back.columns.toSet == Set("id", "s", "x"))
    assert(back.filter(col("id") === 2L).select("x").as[Double].head() == 9.5)
  }

  test("partitioned compaction writes ~one file per partition directory") {
    val cat = Catalog(spark, tmpDir("compact-dirs"))
    val df = (0L until 3000L).map(i => (s"d${i % 3}", i)).toDF("d", "v")
      .repartition(15)
    cat.append(df, "ods", "t", Seq("d"))
    cat.compact("ods", "t", partitionCols = Seq("d"))
    // before the partition-aware repartition fix, every write task
    // dropped a file into every directory it touched
    for (part <- Seq("d=d0", "d=d1", "d=d2")) {
      val n = parquetFiles(s"${cat.path("ods", "t")}/$part").size
      assert(n == 1, s"$part has $n files after compaction")
    }
  }

  test("readMerged unions schemas across appends; plain read does not") {
    val cat = Catalog(spark, tmpDir("evolve-wh"))
    cat.append(Seq((1L, "a")).toDF("id", "s"), "raw", "t", Seq.empty)
    cat.append(Seq((2L, "b", 9.5)).toDF("id", "s", "x"), "raw", "t", Seq.empty)
    val merged = cat.readMerged("raw", "t")
    assert(merged.columns.toSet == Set("id", "s", "x"))
    assert(merged.filter(col("id") === 1L).select("x").first().isNullAt(0))
    assert(merged.filter(col("id") === 2L).select("x").as[Double].head() == 9.5)
  }

  test("readMerged refuses formats without per-file schemas") {
    val cat = Catalog(spark, tmpDir("evolve-csv"), "csv")
    intercept[IllegalArgumentException] { cat.readMerged("raw", "t") }
  }
}
