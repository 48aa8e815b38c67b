package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.runtime.Catalog
import graft.sources.GraftDv

/** Merge-on-read deletion vectors ([[graft.sources.GraftDv]]):
  * `delete_mode = 'merge-on-read'` turns DELETE into positional
  * sidecars — no data-file rewrite — applied on every read surface
  * (SQL scans, bucketed scans, COW carryover, object-API path reads,
  * archived versions). The safety property under test throughout: a
  * deleted row must NEVER resurrect, and any staleness fails LOUDLY.
  */
class GraftDvSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(extra: Map[String, String] = Map.empty)
      : (String, String) = {
    n += 1
    val name = s"gdv${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-dv-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    extra.foreach { case (k, v) =>
      spark.conf.set(s"spark.sql.catalog.$name.$k", v)
    }
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFileState(root: String, rel: String)
      : Map[String, (Long, Long)] = {
    val fs = fsOf(root)
    val base = new Path(s"$root/$rel")
    def walk(p: Path): Seq[(String, (Long, Long))] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("_") || nm.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq((st.getPath.toString,
          (st.getLen, st.getModificationTime)))
      }
    walk(base).toMap
  }

  private def dvCount(root: String, rel: String): Int = {
    val fs = fsOf(root)
    val d = new Path(s"$root/$rel/${GraftDv.DirName}")
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count(_.getPath.getName.endsWith(".dv"))
  }

  test("MOR DELETE: rows disappear, data files do not change, vectors appear") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10 FROM range(0, 1000)")
    val before = dataFileState(root, "ods/t")

    spark.sql(s"DELETE FROM $cat.ods.t WHERE k >= 100 AND k < 200")

    assert(dataFileState(root, "ods/t") == before,
      "merge-on-read DELETE must not rewrite or retire data files")
    assert(dvCount(root, "ods/t") > 0, "no deletion vector was written")
    assert(spark.table(s"$cat.ods.t").count() == 900)
    assert(spark.table(s"$cat.ods.t")
      .where(col("k") >= 100 && col("k") < 200).count() == 0)
    // untouched rows intact, values intact
    assert(spark.table(s"$cat.ods.t").agg(sum("v")).head.getLong(0) ==
      (0L until 1000L).filterNot(k => k >= 100 && k < 200).map(_ * 10).sum)
  }

  test("deletes accumulate across statements; filters push down correctly on DV'd files") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id % 7 FROM range(0, 1000)")

    spark.sql(s"DELETE FROM $cat.ods.t WHERE v = 3")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k < 50")

    val expect = (0L until 1000L).map(k => (k, k % 7))
      .filterNot { case (k, v) => v == 3 || k < 50 }
    assert(spark.table(s"$cat.ods.t").as[(Long, Long)].collect().toSet ==
      expect.toSet)
    // a selective pushed predicate over a DV'd file: the DV reader is
    // filter-stripped (ordinals must count every row) and the Filter
    // above re-applies the predicate — parity is the proof
    assert(spark.table(s"$cat.ods.t").where(col("k") === 300)
      .as[(Long, Long)].collect().toSeq == Seq((300L, 300L % 7)))
    assert(spark.table(s"$cat.ods.t").where(col("v") === 3).count() == 0)
  }

  test("metadata tiers decline under vectors: COUNT/MIN/MAX come from the scan and are right") {
    val (cat, root) = freshCatalog(Map("auto_analyze" -> "true"))
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 500)")
    // manifest-answered while clean (sanity: the fast tier IS active)
    assert(spark.table(s"$cat.ods.t").count() == 500)

    spark.sql(s"DELETE FROM $cat.ods.t WHERE k >= 490")
    // the manifest still claims 500; only the DV-applying scan is right
    val agg = spark.table(s"$cat.ods.t")
      .agg(count(lit(1)), max(col("k")), min(col("k"))).head
    assert(agg.getLong(0) == 490, "COUNT must not come from stale metadata")
    assert(agg.getLong(1) == 489, "MAX must not come from stale metadata")
    assert(agg.getLong(2) == 0)
  }

  test("COW UPDATE reads through vectors: no resurrection, superseded vectors dropped") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, 0 FROM range(0, 300)")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k < 100")
    assert(dvCount(root, "ods/t") > 0)

    // back to copy-on-write (UPDATE on a MOR table is delta-based —
    // GraftMorDeltaSpec's tier): the COW rewrite's carryover must NOT
    // contain the deleted rows
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
      s"('${GraftDv.ModeKey}')")
    spark.sql(s"UPDATE $cat.ods.t SET v = 1 WHERE k >= 250")

    val rows = spark.table(s"$cat.ods.t").as[(Long, Long)].collect().toSet
    assert(rows == (100L until 300L).map(k =>
      (k, if (k >= 250) 1L else 0L)).toSet,
      "deleted rows resurrected (or update misapplied) through the rewrite")
    // the rewrite replaced every file of the (unpartitioned) table:
    // its vectors are superseded and swept
    assert(dvCount(root, "ods/t") == 0,
      "superseded deletion vectors survived the rewrite")
  }

  test("bucketed table: vectors apply inside bucket groups; storage-partitioned join stays exchange-free") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.a (k BIGINT, v BIGINT) " +
      s"PARTITIONED BY (bucket(4, k)) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"CREATE TABLE $cat.ods.b (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.ods.a SELECT id, id FROM range(0, 400)")
    spark.sql(s"INSERT INTO $cat.ods.b SELECT id, id * 2 FROM range(0, 400)")

    spark.sql(s"DELETE FROM $cat.ods.a WHERE v % 10 = 7")
    assert(dvCount(root, "ods/a") > 0)
    assert(spark.table(s"$cat.ods.a").count() == 360)

    val joined = spark.table(s"$cat.ods.a")
      .join(spark.table(s"$cat.ods.b"), "k")
    assert(joined.count() == 360)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"same-spec bucketed join shuffled with vectors present:\n$plan")
    // deleted keys are gone from the join too
    assert(joined.where(col("v") % 10 === 7).count() == 0)
  }

  test("scans stay COLUMNAR under live vectors; batch rebuilds only where deletions land (r12 item 1)") {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // mixed copyable types (long, string, decimal) + a hive partition
    // column — the batch carries partition constants too
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, s STRING, " +
      "d DECIMAL(12,2), g STRING) PARTITIONED BY (g) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    // 30k rows -> several parquet batches (default 4096 rows/batch):
    // exercises pass-through batches, partially-deleted batches, and
    // an entirely-deleted batch range
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, concat('s', id), " +
      "CAST(id AS DECIMAL(12,2)) / 4, concat('p', id % 2) " +
      "FROM range(0, 30000)")
    spark.sql(s"DELETE FROM $cat.ods.t " +
      "WHERE k % 1000 = 7 OR (k >= 8192 AND k < 16384)")
    assert(dvCount(root, "ods/t") > 0)

    def columnarScans(df: org.apache.spark.sql.DataFrame): Seq[Boolean] = {
      df.collect() // finalize AQE
      df.queryExecution.executedPlan.collect {
        case s: BatchScanExec => s.supportsColumnar
      }
    }
    val full = spark.table(s"$cat.ods.t")
    val modes = columnarScans(full)
    assert(modes.nonEmpty && modes.forall(identity),
      "scan de-vectorized under live deletion vectors")
    assert(full.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      "no ColumnarToRow above the DV'd scan:\n" +
        full.queryExecution.executedPlan)

    // row parity across every output type, deletions applied exactly
    val expect = (0L until 30000L)
      .filterNot(k => k % 1000 == 7 || (k >= 8192 && k < 16384))
    assert(full.count() == expect.size)
    assert(full.agg(sum("k")).head.getLong(0) == expect.sum)
    assert(full.agg(sum("d")).head.getDecimal(0) ==
      new java.math.BigDecimal(expect.map(BigInt(_)).sum.bigInteger)
        .divide(new java.math.BigDecimal(4))
        .setScale(2, java.math.RoundingMode.HALF_UP),
      "decimal survivors corrupted by the batch rebuild")
    assert(full.where(col("s") === "s8191").count() == 1)
    assert(full.where(col("s") === "s8192").count() == 0)

    // pushed-filter parity on DV'd files (the DV reader is
    // filter-stripped; the Filter above re-applies)
    assert(spark.table(s"$cat.ods.t").where(col("k") === 1007).count() == 0)
    assert(spark.table(s"$cat.ods.t").where(col("k") === 1008)
      .select("s").head.getString(0) == "s1008")
    // and the selective scan is STILL columnar
    val sel = spark.table(s"$cat.ods.t").where(col("k") === 1008)
    assert(columnarScans(sel).forall(identity))

    // non-copyable (struct) schema: honest fallback to the row path,
    // parity preserved (primitive ARRAYS are copyable since r13 item 6
    // — see the dedicated array test)
    spark.sql(s"CREATE TABLE $cat.ods.nest (k BIGINT, " +
      "st STRUCT<a: BIGINT, b: STRING>) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.nest SELECT id, " +
      "named_struct('a', id, 'b', concat('s', id)) FROM range(0, 100)")
    spark.sql(s"DELETE FROM $cat.ods.nest WHERE k = 5")
    val nest = spark.table(s"$cat.ods.nest")
    assert(nest.count() == 99)
    assert(nest.where(col("k") === 6).select("st.a").head.getLong(0) == 6L)
  }

  test("ArrayType columns stay COLUMNAR under live vectors: survivor compaction rebuilds the offsets (r13 item 6)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // the embeddings shape: Array[Float] plus a string array, with
    // NULL cells, empty arrays, and null ELEMENTS in the mix — the
    // offsets rebuild must survive all of them
    spark.sql(s"CREATE TABLE $cat.ods.emb (k BIGINT, v ARRAY<FLOAT>, " +
      "tags ARRAY<STRING>) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"""INSERT INTO $cat.ods.emb SELECT id,
      CASE WHEN id % 7 = 0 THEN NULL
           WHEN id % 5 = 0 THEN array()
           ELSE array(CAST(id AS FLOAT), CAST(id AS FLOAT) + 0.5F,
                      IF(id % 3 = 0, NULL, CAST(0.25 AS FLOAT))) END,
      array(concat('t', id), IF(id % 2 = 0, NULL, 'x'))
      FROM range(0, 5000)""")
    spark.sql(s"DELETE FROM $cat.ods.emb WHERE k % 100 = 3")

    val full = spark.table(s"$cat.ods.emb")
    full.collect()
    val modes = full.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.supportsColumnar
    }
    assert(modes.nonEmpty && modes.forall(identity),
      "array-column scan de-vectorized under live deletion vectors")

    // row parity, deletions applied exactly, array cells intact
    val expect = (0L until 5000L).filterNot(_ % 100 == 3)
    assert(full.count() == expect.size)
    def rowOf(k: Long) = full.where(col("k") === k).head
    val r8 = rowOf(8) // full 3-element array
    assert(r8.getSeq[Float](1) == Seq(8.0f, 8.5f, 0.25f), s"$r8")
    assert(r8.getSeq[String](2) == Seq("t8", null))
    val r9 = rowOf(9) // null ELEMENT at position 3 (9 % 3 = 0)
    assert(r9.getSeq[Float](1) == Seq(9.0f, 9.5f, null), s"$r9")
    assert(rowOf(10).getSeq[Float](1) == Seq(), "empty array corrupted")
    assert(rowOf(14).isNullAt(1), "NULL array cell corrupted")
    assert(full.where(col("k") === 103).count() == 0, "deletion missed")
    // aggregate over elements across the whole table — any offsets
    // drift would corrupt this sum
    val sumFirst = full.where(col("v").isNotNull && size(col("v")) > 0)
      .select(sum(element_at(col("v"), 1).cast("double"))).head.getDouble(0)
    val expectSum = expect.filter(k => k % 7 != 0 && k % 5 != 0)
      .map(_.toDouble).sum
    assert(math.abs(sumFirst - expectSum) < 1e-6,
      s"element sum drifted: $sumFirst vs $expectSum")
    // q34/q118-style cosine arithmetic over the survivors works
    val dot = full.where(col("v").isNotNull && size(col("v")) > 0)
      .select(expr("aggregate(zip_with(v, v, (a, b) -> " +
        "CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, (acc, x) -> " +
        "acc + coalesce(x, 0.0D))").as("d"))
    assert(dot.count() == expect.count(k => k % 7 != 0 && k % 5 != 0))
  }

  test("StructType columns stay COLUMNAR under live vectors: field-level survivor compaction (r14 item 5)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // struct over scalars + a nested array field + NULL struct cells
    // and NULL fields — the per-ordinal child-vector writes must
    // survive all of them
    spark.sql(s"CREATE TABLE $cat.ods.st (k BIGINT, " +
      "m STRUCT<a: BIGINT, s: STRING, e: ARRAY<FLOAT>>) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"""INSERT INTO $cat.ods.st SELECT id,
      CASE WHEN id % 7 = 0 THEN NULL
           ELSE named_struct('a', id * 2,
             's', IF(id % 5 = 0, NULL, concat('s', id)),
             'e', array(CAST(id AS FLOAT), 0.5F)) END
      FROM range(0, 5000)""")
    spark.sql(s"DELETE FROM $cat.ods.st WHERE k % 100 = 3")

    val full = spark.table(s"$cat.ods.st")
    full.collect()
    val modes = full.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.supportsColumnar
    }
    assert(modes.nonEmpty && modes.forall(identity),
      "struct-column scan de-vectorized under live deletion vectors")

    val expect = (0L until 5000L).filterNot(_ % 100 == 3)
    assert(full.count() == expect.size)
    def rowOf(k: Long) = full.where(col("k") === k).head
    val r8 = rowOf(8).getStruct(1)
    assert(r8.getLong(0) == 16L && r8.getString(1) == "s8" &&
      r8.getSeq[Float](2) == Seq(8.0f, 0.5f), s"struct cell wrong: $r8")
    assert(rowOf(10).getStruct(1).isNullAt(1), "NULL field corrupted")
    assert(rowOf(14).isNullAt(1), "NULL struct cell corrupted")
    assert(full.where(col("k") === 203).count() == 0, "deletion missed")
    // field-level aggregate across survivors: any ordinal drift in the
    // child vectors corrupts this sum
    val sumA = full.where(col("m").isNotNull)
      .select(sum(col("m.a"))).head.getLong(0)
    assert(sumA == expect.filter(_ % 7 != 0).map(_ * 2).sum,
      "struct field sum drifted")
  }

  test("CALL system.rewrite_deletes materializes: clean files, vectors gone, parity, bucket tags survive") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"PARTITIONED BY (bucket(4, k)) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 400)")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 4 = 1 AND k < 200")
    val expected = spark.table(s"$cat.ods.t").as[(Long, Long)]
      .collect().toSet
    val vectors = dvCount(root, "ods/t")
    assert(vectors > 0)

    val res = spark.sql(s"CALL $cat.system.rewrite_deletes(" +
      "table => 'ods.t')").head
    assert(res.getInt(0) == vectors, "files_rewritten != vectors present")
    assert(res.getLong(1) > 0)
    assert(dvCount(root, "ods/t") == 0, "vectors survived materialization")
    assert(spark.table(s"$cat.ods.t").as[(Long, Long)].collect().toSet ==
      expected)
    // bucket layout intact: rewritten files keep their -b tags and the
    // same-spec join still plans exchange-free
    spark.sql(s"CREATE TABLE $cat.ods.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.ods.d SELECT id, id FROM range(0, 400)")
    val joined = spark.table(s"$cat.ods.t")
      .join(spark.table(s"$cat.ods.d"), "k")
    assert(!joined.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "bucket tags lost through rewrite_deletes")
    assert(joined.count() == expected.size)
    // idempotent: nothing left to do
    val again = spark.sql(s"CALL $cat.system.rewrite_deletes(" +
      "table => 'ods.t')").head
    assert(again.getInt(0) == 0 && again.getLong(1) == 0L)
  }

  test("rewrite_deletes stages N files in O(1) Spark jobs (r13 item 3)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    // 8 separate inserts -> at least 8 files, all touched by the delete
    (0 until 8).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id " +
        s"FROM range(${s * 500}, ${(s + 1) * 500})")
    }
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 10 = 3")
    assert(dvCount(root, "ods/t") >= 8, "need 8+ DV'd files for the proof")
    val expected = spark.table(s"$cat.ods.t").as[(Long, Long)].collect().toSet

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = spark.sql(
          s"CALL $cat.system.rewrite_deletes(table => 'ods.t')").head
        // listener delivery is async — bounded stability poll
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.getInt(0) >= 8, s"expected 8+ files rewritten, ${res.getInt(0)}")
    // one staging pass + bounded constant overhead (schema-merge footer
    // read, broadcast builds, the CALL's own result) — NOT one per file
    assert(jobs.get() <= 6,
      s"rewrite_deletes of ${res.getInt(0)} files issued ${jobs.get()} jobs " +
        "— staging is not batched")
    assert(dvCount(root, "ods/t") == 0)
    assert(spark.table(s"$cat.ods.t").as[(Long, Long)].collect().toSet ==
      expected)
  }

  test("a stale vector fails the read LOUDLY (file changed out-of-band)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k = 5")

    // out-of-band rewrite of the DV'd data file (same path, new bytes)
    val fs = fsOf(root)
    val tableDir = new Path(s"$root/ods/t")
    val rel = GraftDv.list(fs, tableDir).keys.head
    val dataFile = new Path(tableDir, rel)
    val bytes = {
      val in = fs.open(dataFile)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toByteArray
      } finally in.close()
    }
    Thread.sleep(1100) // ensure a distinct mtime even at 1s resolution
    val out = fs.create(dataFile, true)
    try out.write(bytes) finally out.close()

    val e = intercept[Throwable] {
      spark.table(s"$cat.ods.t").count()
    }
    def mentionsDv(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.getMessage != null &&
          c.getMessage.contains("deletion vector")) return true
        c = c.getCause
      }
      false
    }
    assert(mentionsDv(e),
      s"stale vector must fail loudly naming the deletion vector, got $e")
  }

  test("TRUNCATE clears vectors; partition-directory DELETE stays metadata-only on MOR tables") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id, concat('p', id % 2) " +
      "FROM range(0, 200)")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k < 10")
    assert(dvCount(root, "ods/t") > 0)

    // partition predicate: directory drop, NO new vectors, and the
    // dropped partition's vectors are swept
    val before = dvCount(root, "ods/t")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE g = 'p1'")
    val fs = fsOf(root)
    assert(!fs.exists(new Path(s"$root/ods/t/g=p1")),
      "partition DELETE should drop the directory even in MOR mode")
    assert(dvCount(root, "ods/t") <= before)
    assert(spark.table(s"$cat.ods.t").count() == 95) // 100 even keys - 5

    spark.sql(s"TRUNCATE TABLE $cat.ods.t")
    assert(spark.table(s"$cat.ods.t").count() == 0)
    assert(dvCount(root, "ods/t") == 0, "TRUNCATE left vectors behind")
  }

  test("object-API path read and archived versions apply vectors (dual addressing, time travel)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)") // c0
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k >= 90") // c1: vectors

    // object API over the same warehouse dir: one table state
    val engine = Catalog(spark, root, "parquet")
    assert(engine.read("ods", "t").count() == 90,
      "path read resurrected merge-on-read deletes")

    // INSERT OVERWRITE tombstones the generation; the journal replays
    // its deletion state, so the snapshot carries the vectors
    spark.sql(s"INSERT OVERWRITE $cat.ods.t SELECT id, -id FROM range(0, 7)")
    assert(spark.table(s"$cat.ods.t").count() == 7)
    def snap(id: Int): Long =
      spark.sql(s"SELECT count(*) FROM $cat.ods.t VERSION AS OF 'c$id'")
        .head.getLong(0)
    assert(snap(1) == 90,
      s"a replaced generation must read with its deletion vectors (got ${snap(1)})")
    assert(snap(0) == 100)
  }

  test("streaming a table with live vectors refuses; ignoreDeletes opts in") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k < 10")
    assert(dvCount(root, "ods/t") > 0)

    // append-only source + live vectors = silent resurrection: refused
    val q1 = spark.readStream.table(s"$cat.ods.t")
      .writeStream.format("memory").queryName(s"dvs_refuse_$n")
      .option("checkpointLocation", tmpDir("dv-cp-a")).start()
    val e = intercept[Throwable] { q1.processAllAvailable() }
    def mentions(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.getMessage != null &&
          c.getMessage.contains("deletion vectors")) return true
        c = c.getCause
      }
      false
    }
    assert(mentions(e), s"expected the deletion-vector refusal, got $e")
    q1.stop()

    // explicit opt-in streams the raw appended files (deleted rows
    // included — the documented append-only contract)
    val q2 = spark.readStream.option("ignoreDeletes", "true")
      .table(s"$cat.ods.t")
      .writeStream.format("memory").queryName(s"dvs_optin_$n")
      .option("checkpointLocation", tmpDir("dv-cp-b")).start()
    q2.processAllAvailable()
    assert(spark.table(s"dvs_optin_$n").count() == 100)
    q2.stop()
  }

  test("delete_mode surface: value validation, ALTER toggle, vectors outlive the mode") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    val bad = intercept[Throwable] {
      spark.sql(s"CREATE TABLE $cat.ods.x (k BIGINT) " +
        s"TBLPROPERTIES ('${GraftDv.ModeKey}' = 'sideways')")
    }
    assert(bad.getMessage != null && bad.getMessage.contains(GraftDv.ModeKey))

    // an existing COW table opts in via ALTER, out again via UNSET;
    // vectors written while MOR stay in force after the switch back
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)")
    val filesBefore = dataFileState(root, "ods/t")
    spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES " +
      s"('${GraftDv.ModeKey}' = '${GraftDv.MorValue}')")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k = 42")
    assert(dataFileState(root, "ods/t") == filesBefore,
      "post-ALTER delete should be merge-on-read")
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
      s"('${GraftDv.ModeKey}')")
    assert(spark.table(s"$cat.ods.t").count() == 99,
      "existing vectors must stay in force after switching back to COW")
    // back in COW mode, a data-column DELETE rewrites files again
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k = 43")
    assert(dataFileState(root, "ods/t") != filesBefore,
      "COW delete should have rewritten the table")
    assert(spark.table(s"$cat.ods.t").count() == 98)
    assert(dvCount(root, "ods/t") == 0,
      "the COW rewrite should have swept the superseded vectors")
  }
}
