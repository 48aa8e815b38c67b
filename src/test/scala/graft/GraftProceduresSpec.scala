package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** SQL-addressable maintenance via DSv2 stored procedures
  * ([[graft.sources.GraftProcedures]]): `CALL cat.system.analyze`,
  * `CALL cat.system.compact`, `CALL cat.system.compact_partitions` —
  * the Iceberg/Trino maintenance addressing mode, driven end-to-end
  * through `spark.sql`. Each test asserts both the returned result
  * rows (the procedure's evidence) and the on-disk/planning effect.
  */
class GraftProceduresSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gpr${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-pr-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec =>
        b.partitions.flatten.map {
          case fp: FilePartition => fp.files.length
          case _ => 0
        }.sum
    }.sum

  test("CALL system.analyze builds the skipping manifest from SQL") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    (0 until 3).foreach { b =>
      (b * 10 until b * 10 + 10).map(i => (i.toLong, i.toLong * 2))
        .toDF("id", "v").coalesce(1).createOrReplaceTempView("gpr_src")
      spark.sql(s"INSERT INTO $cat.ods.t SELECT * FROM gpr_src")
    }
    val r = spark.sql(s"CALL $cat.system.analyze('ods.t')").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(3))
    // and the manifest actually prunes
    val q = spark.table(s"$cat.ods.t").where(col("id") === 15)
    assert(q.count() == 1)
    assert(scannedFiles(q) == 1)
    // incremental: nothing new to analyze
    assert(spark.sql(s"CALL $cat.system.analyze('ods.t')")
      .collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("CALL system.compact collapses files and reports before/after") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    (0 until 5).foreach { b =>
      Seq((b.toLong, b.toLong)).toDF("id", "v").coalesce(1)
        .createOrReplaceTempView("gpr_src2")
      spark.sql(s"INSERT INTO $cat.ods.t SELECT * FROM gpr_src2")
    }
    val r = spark.sql(s"CALL $cat.system.compact('ods.t')").collect()
    assert(r.length == 1)
    val (before, after) = (r(0).getInt(0), r(0).getInt(1))
    assert(before == 5 && after < before, s"before=$before after=$after")
    assert(spark.table(s"$cat.ods.t").count() == 5)
  }

  test("CALL system.compact_partitions rewrites only accreted partitions") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (id BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    // day=a accretes 4 files; day=b stays at 1
    (0 until 4).foreach { i =>
      Seq((i.toLong, "a")).toDF("id", "day").coalesce(1)
        .createOrReplaceTempView("gpr_src3")
      spark.sql(s"INSERT INTO $cat.ods.p SELECT * FROM gpr_src3")
    }
    Seq((100L, "b")).toDF("id", "day").coalesce(1)
      .createOrReplaceTempView("gpr_src3")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT * FROM gpr_src3")

    val r = spark.sql(
      s"CALL $cat.system.compact_partitions('ods.p', min_files => 4)")
      .collect()
    assert(r.map(_.getString(0)).toSeq == Seq("day=a"))
    assert(spark.table(s"$cat.ods.p").count() == 5)
    // default threshold, nothing left to do: zero rows
    assert(spark.sql(
      s"CALL $cat.system.compact_partitions('ods.p')").collect().isEmpty)
  }

  test("CALL system.cluster turns a skip-blind layout into a pruning one") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    // interleaved inserts: EVERY file spans the whole id domain, so
    // min/max stats can prove nothing about any id predicate
    (0 until 4).foreach { k =>
      (0 until 400).filter(_ % 4 == k).map(i => (i.toLong, i.toLong))
        .toDF("id", "v").coalesce(1).createOrReplaceTempView("gpr_cl")
      spark.sql(s"INSERT INTO $cat.ods.t SELECT * FROM gpr_cl")
    }
    spark.sql(s"CALL $cat.system.analyze('ods.t')").collect()
    val blind = spark.table(s"$cat.ods.t")
      .where(col("id") >= 100 && col("id") < 200)
    assert(blind.count() == 100)
    assert(scannedFiles(blind) == 4) // stats valid but useless

    // tiny target size → several range-disjoint files
    val r = spark.sql(s"CALL $cat.system.cluster('ods.t', " +
      "sort_by => 'id', target_file_bytes => 1024)").collect()
    assert(r.length == 1 && r(0).getInt(0) >= 2 &&
      r(0).getInt(1) == r(0).getInt(0)) // re-analyze covered the rewrite
    val sharp = spark.table(s"$cat.ods.t")
      .where(col("id") >= 100 && col("id") < 200)
    assert(sharp.count() == 100)
    val scanned = sharp.queryExecution // force fresh plan
    assert(scannedFiles(sharp) < 4,
      s"expected pruning after cluster, got ${scannedFiles(sharp)} files")
    // and the rewrite lost nothing
    assert(spark.table(s"$cat.ods.t").count() == 400)

    // partitioned layouts refuse (their writes own the clustering)
    spark.sql(s"CREATE TABLE $cat.ods.p (id BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cluster('ods.p', sort_by => 'id')")
        .collect()
    }
    assert(e.getMessage.contains("plain tables"), e.getMessage)
  }

  test("CALL system.cluster strategy => 'zorder' prunes on EITHER column") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.g (x BIGINT, y BIGINT, v BIGINT)")
    // 64x64 grid in row-major order, 4 files: each file is 16
    // consecutive y rows — tight in y, spanning ALL of x, so x
    // predicates can prune nothing
    (0 until 64).flatMap(yy => (0 until 64).map(xx =>
      (xx.toLong, yy.toLong, (xx + yy).toLong)))
      .toDF("x", "y", "v").coalesce(4).createOrReplaceTempView("gpr_z")
    spark.sql(s"INSERT INTO $cat.ods.g SELECT * FROM gpr_z")
    spark.sql(s"CALL $cat.system.analyze('ods.g')").collect()
    val xBlind = spark.table(s"$cat.ods.g").where(col("x") < 8)
    assert(xBlind.count() == 8 * 64)
    assert(scannedFiles(xBlind) == 4, "x spans every row-major file")

    val r = spark.sql(s"CALL $cat.system.cluster('ods.g', " +
      "sort_by => 'x,y', target_file_bytes => 1024, " +
      "strategy => 'zorder')").collect()
    val total = r(0).getInt(0)
    assert(total >= 4, s"want several z-files, got $total")
    val xq = spark.table(s"$cat.ods.g").where(col("x") < 8)
    val yq = spark.table(s"$cat.ods.g").where(col("y") < 8)
    assert(xq.count() == 8 * 64 && yq.count() == 8 * 64)
    assert(scannedFiles(xq) < total,
      s"x predicate scanned ${scannedFiles(xq)}/$total after zorder")
    assert(scannedFiles(yq) < total,
      s"y predicate scanned ${scannedFiles(yq)}/$total after zorder")
    assert(spark.table(s"$cat.ods.g").count() == 4096)

    // zorder needs at least two columns
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cluster('ods.g', sort_by => 'x', " +
        "strategy => 'zorder')").collect()
    }
    assert(e.getMessage.contains("two or more"), e.getMessage)
  }

  test("CALL system.cluster zorder over THREE columns prunes on each independently (r11 item 5)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.g3 (x BIGINT, y BIGINT, z BIGINT, v BIGINT)")
    // 32^3 lattice in row-major (z fastest) order, 8 files: each file
    // is a slab of consecutive x values — tight in x only, so y and z
    // predicates prune nothing before clustering
    (0 until 32).flatMap(xx => (0 until 32).flatMap(yy => (0 until 32).map(zz =>
      (xx.toLong, yy.toLong, zz.toLong, (xx + yy + zz).toLong))))
      .toDF("x", "y", "z", "v").coalesce(8).createOrReplaceTempView("gpr_z3")
    spark.sql(s"INSERT INTO $cat.ods.g3 SELECT * FROM gpr_z3")
    spark.sql(s"CALL $cat.system.analyze('ods.g3')").collect()
    val preTotal = scannedFiles(spark.table(s"$cat.ods.g3"))
    val yBlind = spark.table(s"$cat.ods.g3").where(col("y") < 4)
    assert(yBlind.count() == 4 * 32 * 32)
    assert(scannedFiles(yBlind) == preTotal, "y spans every x-slab file")

    val r = spark.sql(s"CALL $cat.system.cluster('ods.g3', " +
      "sort_by => 'x,y,z', target_file_bytes => 1024, " +
      "strategy => 'zorder')").collect()
    val total = r(0).getInt(0)
    assert(total >= 8, s"want several z-files, got $total")
    // a selective predicate on EACH of the three columns prunes
    for (c <- Seq("x", "y", "z")) {
      val q = spark.table(s"$cat.ods.g3").where(col(c) < 4)
      assert(q.count() == 4 * 32 * 32, s"$c values drifted")
      assert(scannedFiles(q) < total,
        s"$c predicate scanned ${scannedFiles(q)}/$total after 3-col zorder")
    }
    assert(spark.table(s"$cat.ods.g3").count() == 32 * 32 * 32)
  }

  test("CALL system.remove_orphans deletes stale stages, spares live state") {
    import org.apache.hadoop.fs.Path
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    Seq((1L, 1L), (2L, 2L)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("gpr_orph")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT * FROM gpr_orph")
    spark.sql(s"CALL $cat.system.analyze('ods.t')").collect()

    val dir = new Path(s"$root/ods/t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayAgo = System.currentTimeMillis() - 86400000L
    def mk(p: Path, old: Boolean): Unit = {
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true)
      try o.write("x".getBytes("UTF-8")) finally o.close()
      if (old) fs.setTimes(p, dayAgo, -1)
    }
    mk(new Path(dir, ".part-crashed-stage.parquet"), old = true)
    mk(new Path(dir, "._graft_stats.tmp"), old = true)
    mk(new Path(dir, "_temporary/0/part-x"), old = true)
    fs.setTimes(new Path(dir, "_temporary"), dayAgo, -1)
    mk(new Path(dir, ".part-inflight-stage.parquet"), old = false)

    val r = spark.sql(s"CALL $cat.system.remove_orphans('ods.t', " +
      "older_than_ms => 60000)").collect()
    assert(r.length == 1 && r(0).getInt(0) == 3 && r(0).getLong(1) > 0,
      r.mkString(","))
    assert(!fs.exists(new Path(dir, ".part-crashed-stage.parquet")))
    assert(!fs.exists(new Path(dir, "._graft_stats.tmp")))
    assert(!fs.exists(new Path(dir, "_temporary")))
    // inside the grace = possibly in-flight: spared
    assert(fs.exists(new Path(dir, ".part-inflight-stage.parquet")))
    // engine sidecars and visible data untouched (the skipping
    // manifest is sharded under _graft_stats.d since r12)
    assert(fs.exists(new Path(dir, "_graft_meta")))
    assert(fs.exists(new Path(dir, graft.sources.GraftStats.ShardDirName)))
    assert(spark.table(s"$cat.ods.t").count() == 2)
    // and the manifest still prunes (stats survived the cleanup)
    val q = spark.table(s"$cat.ods.t").where(col("id") === 1)
    assert(q.count() == 1)
    // zero grace clears the remaining stage
    val r2 = spark.sql(s"CALL $cat.system.remove_orphans('ods.t', " +
      "older_than_ms => 0)").collect()
    assert(r2(0).getInt(0) == 1, r2.mkString(","))
    assert(spark.table(s"$cat.ods.t").count() == 2)
  }

  test("CALL system.rollback_to_commit round-trips a bad overwrite") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .createOrReplaceTempView("gpr_rb")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT * FROM gpr_rb") // c0
    // a bad full overwrite (c1) tombstones the good state
    spark.sql(s"INSERT OVERWRITE $cat.ods.t SELECT id, CAST(0 AS BIGINT) " +
      "FROM gpr_rb")
    def commits: Seq[(Long, String)] = spark.table(s"$cat.ods.t.commits")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(commits == Seq((0L, "append"), (1L, "replace")))
    assert(spark.table(s"$cat.ods.t").agg(sum(col("v"))).head.getLong(0) == 0)

    val r = spark.sql(s"CALL $cat.system.rollback_to_commit('ods.t', " +
      "commit => 0)").collect()
    assert(r.length == 1 && r(0).getInt(0) >= 1 && r(0).getInt(1) >= 1,
      r.mkString(","))
    // the good rows are live again ...
    assert(spark.table(s"$cat.ods.t").orderBy(col("id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // ... and the bad state was tombstoned, not destroyed: rollback of
    // the rollback stays possible, VERSION AS OF can still read it
    assert(commits.last == ((2L, "rollback")))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ods.t VERSION AS OF 'c1'")
      .head.getLong(0) == 0)
  }

  test("CALL system.expire_versions reclaims old versions, live table untouched") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (id BIGINT, v BIGINT)")
    (1 to 4).foreach { g =>
      Seq((1L, g.toLong)).toDF("id", "v").coalesce(1)
        .createOrReplaceTempView("gpr_ev")
      spark.sql(s"INSERT OVERWRITE $cat.ods.t SELECT * FROM gpr_ev")
    }
    // four full replaces, one journal commit each (c0..c3); every
    // replace is a retention floor
    assert(spark.table(s"$cat.ods.t.commits").count() == 4)
    assert(spark.sql(s"SELECT v FROM $cat.ods.t VERSION AS OF 'c1'")
      .head.getLong(0) == 2L)
    val r = spark.sql(s"CALL $cat.system.expire_versions('ods.t')")
      .collect()
    assert(r.length == 1 && r(0).getInt(0) == 4, r.mkString(","))
    // only the floor's checkpoint survives; it still time-travels;
    // history below it refuses; live unchanged
    assert(spark.table(s"$cat.ods.t.commits").collect()
      .map(_.getString(1)).toSeq == Seq("checkpoint(floor=3)"))
    assert(spark.sql(s"SELECT v FROM $cat.ods.t VERSION AS OF 'c3'")
      .head.getLong(0) == 4L)
    val gone = intercept[Exception] {
      spark.sql(s"SELECT v FROM $cat.ods.t VERSION AS OF 'c1'").collect()
    }
    assert(gone.getMessage.contains("expired"), gone.getMessage)
    assert(spark.table(s"$cat.ods.t").head.getLong(1) == 4L)
    // idempotent: nothing left at or below the floor
    assert(spark.sql(s"CALL $cat.system.expire_versions('ods.t')")
      .head.getInt(0) == 0)
  }

  test("SHOW PROCEDURES lists the system namespace; DESCRIBE works") {
    val (cat, _) = freshCatalog()
    val names = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .select("procedure_name").as[String].collect().toSet
    assert(Set("analyze", "cluster", "compact", "compact_partitions",
      "expire_versions", "remove_orphans", "rollback_to_commit")
      .subsetOf(names), names.toString)
    assert(!names.contains("history") && !names.contains("rollback"),
      names.toString)
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.analyze")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("analyze"))
  }
}
