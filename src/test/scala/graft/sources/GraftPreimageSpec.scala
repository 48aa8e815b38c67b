package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.SparkSpec

/** Commit-time PREIMAGE SIDECARS for merge-on-read DML
  * ([[GraftDeltaMor]] capture + [[GraftChanges]] serving — Delta CDF's
  * `_change_data` shape): the operation's own tasks write each
  * deleted/updated row's pre-image into `<table>.__pre/<stamp>/`, the
  * journal record references the files, and the changes feed serves
  * `delete` / `update_preimage` rows from them EXACTLY instead of
  * re-reading whole data files and discarding unmatched rows.
  *
  * The sidecar is an ACCESS PATH, not the truth: the dv ordinals stay
  * authoritative, and this spec pins byte-equality of the feed between
  * the sidecar read and the ordinal fallback (sidecars deleted), plus
  * the crash/rollback windows: an orphan sidecar dir (crash before the
  * record landed) is invisible, and capture-off commits keep serving.
  */
class GraftPreimageSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gpre${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-pre-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mor(ddl: String, extra: String = ""): Unit =
    spark.sql(ddl + s" TBLPROPERTIES ('${GraftDv.ModeKey}' = " +
      s"'${GraftDv.MorValue}'$extra)")

  /** The standard scenario: load, UPDATE, DELETE, MERGE on a MOR
    * table; returns the table dir.
    */
  private def scenario(cat: String, root: String,
      partitioned: Boolean): Path = {
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    val part = if (partitioned) " PARTITIONED BY (seg)" else ""
    mor(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, seg STRING)$part")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' " +
      "END FROM range(0, 200)")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 7 WHERE k % 10 = 3")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 10 = 7")
    spark.sql(s"SELECT id AS k, id AS v, 'm' AS seg FROM range(195, 205)")
      .createOrReplaceTempView(s"src_$cat")
    spark.sql(s"MERGE INTO $cat.ods.t t USING src_$cat s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    new Path(s"$root/ods/t")
  }

  private def feedRows(cat: String): Seq[Row] =
    spark.table(s"$cat.ods.t.changes")
      .selectExpr("_change_epoch", "_change_type", "k", "v", "seg")
      .collect().toSeq
      .sortBy(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.toString).getOrElse(""),
        Option(r.get(3)).map(_.toString).getOrElse("")))

  test("capture: dv commits record sidecars; feed equals the ordinal fallback byte-for-byte") {
    for (partitioned <- Seq(false, true)) {
      val (cat, root) = freshCatalog()
      val dir = scenario(cat, root, partitioned)
      val fs = fsOf(root)
      // every dv commit (update / delete / merge) recorded sidecars
      val recs = GraftCommits.list(fs, dir).filter(_.dv.nonEmpty)
      assert(recs.length == 3, s"expected 3 dv commits, got $recs")
      recs.foreach { r =>
        assert(r.pre.nonEmpty, s"commit ${r.id} (${r.note}) captured " +
          "no preimage sidecars")
        r.pre.foreach(p => assert(
          fs.exists(new Path(GraftCommits.preRoot(dir), p)),
          s"recorded sidecar $p missing"))
      }
      val viaSidecars = feedRows(cat)
      // labels present as update pairs / plain delete
      assert(viaSidecars.exists(_.getString(1) == "update_preimage"))
      assert(viaSidecars.exists(_.getString(1) == "update_postimage"))
      assert(viaSidecars.exists(_.getString(1) == "delete"))
      // preimage VALUES are the pre-DML values: the UPDATE commit's
      // preimages carry v = 10k, its postimages v = 10k + 7
      val upd = viaSidecars.filter(r => r.getLong(0) == 2 ||
        viaSidecars.map(_.getLong(0)).min == r.getLong(0))
      assert(upd.nonEmpty)
      // ordinal fallback: drop the sidecar root — the feed must serve
      // IDENTICAL rows from the recorded dv ordinals
      assert(fs.delete(GraftCommits.preRoot(dir), true))
      val viaOrdinals = feedRows(cat)
      assert(viaSidecars == viaOrdinals,
        s"sidecar feed != ordinal feed (partitioned=$partitioned):\n" +
          s"  sidecars: ${viaSidecars.take(5)}\n" +
          s"  ordinals: ${viaOrdinals.take(5)}")
    }
  }

  test("preimage values are exact: update pairs carry old and new values keyed") {
    val (cat, root) = freshCatalog()
    scenario(cat, root, partitioned = false)
    val pairs = spark.table(s"$cat.ods.t.changes")
      .where("_change_type IN ('update_preimage', 'update_postimage')")
      .selectExpr("_change_epoch", "_change_type", "k", "v")
      .collect().toSeq
    val firstUpdate = pairs.map(_.getLong(0)).min
    val pre = pairs.filter(r => r.getLong(0) == firstUpdate &&
      r.getString(1) == "update_preimage").map(r =>
        (r.getLong(2), r.getLong(3))).toMap
    val post = pairs.filter(r => r.getLong(0) == firstUpdate &&
      r.getString(1) == "update_postimage").map(r =>
        (r.getLong(2), r.getLong(3))).toMap
    assert(pre.nonEmpty && pre.keySet == post.keySet,
      s"update pair key sets differ: ${pre.keySet} vs ${post.keySet}")
    pre.foreach { case (k, v) =>
      assert(v == k * 10, s"preimage of k=$k should be ${k * 10}, got $v")
      assert(post(k) == v + 7, s"postimage of k=$k should be ${v + 7}")
    }
  }

  test("crash window: an orphan sidecar dir (no record) is invisible; capture-off commits serve via ordinals") {
    val (cat, root) = freshCatalog()
    val dir = scenario(cat, root, partitioned = false)
    val fs = fsOf(root)
    val before = feedRows(cat)
    // crash simulation: a write that staged sidecars but never
    // journaled — an unreferenced dir under the pre root
    val orphan = new Path(GraftCommits.preRoot(dir), "999999-orphan")
    fs.mkdirs(orphan)
    fs.create(new Path(orphan, "part-bogus.parquet"), true).close()
    assert(feedRows(cat) == before, "orphan sidecar dir changed the feed")
    // capture-off commit: the record carries dv ordinals only and the
    // feed serves it from the data files, interleaved with captured
    // commits
    spark.conf.set(GraftDeltaMor.CaptureConf, "false")
    try {
      spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 10 = 1")
      val recs = GraftCommits.list(fs, dir).filter(_.dv.nonEmpty)
      assert(recs.last.pre.isEmpty,
        "capture-off commit still recorded sidecars")
      val feed = feedRows(cat)
      val deleted = feed.filter(r => r.getLong(0) == recs.last.id &&
        r.getString(1) == "delete")
      assert(deleted.nonEmpty && deleted.forall(_.getLong(2) % 10 == 1),
        s"capture-off delete commit served wrong rows: $deleted")
    } finally spark.conf.unset(GraftDeltaMor.CaptureConf)
  }

  test("rollback floors the feed past captured commits (sidecars unreferenced, not misserved)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    mor(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, 'a' " +
      "FROM range(0, 100)") // c0
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 7 WHERE k % 10 = 3") // c1
    val dir = new Path(s"$root/ods/t")
    val captured = GraftCommits.list(fsOf(root), dir).last
    assert(captured.id == 1L && captured.pre.nonEmpty,
      s"the mor UPDATE captured no preimage sidecars: $captured")
    spark.sql(s"CALL $cat.system.rollback_to_commit('ods.t', commit => 0)")
      .collect()
    // the rollback writes a FLOOR record above the captured commit
    val floor = GraftCommits.list(fsOf(root), dir).last
    assert(floor.id == 2L && floor.kind == "rollback" && floor.isFloor,
      s"expected a rollback floor record at c2, got $floor")
    assert(spark.table(s"$cat.ods.t").where("k % 10 = 3")
      .select("v").collect().map(_.getLong(0)).toSet ==
      (0 until 10).map(i => (i * 10 + 3) * 10L).toSet,
      "the rollback did not restore the pre-UPDATE values")
    // explicit bounds at or below the floor refuse loudly
    val ex = intercept[Exception] {
      spark.table(s"$cat.ods.t.changes")
        .where("_change_epoch <= 2").collect()
    }
    assert(ex.getMessage.contains("not row-level servable"),
      s"wrong floor refusal: ${ex.getMessage}")
    // the unbounded read serves only commits above the floor: the
    // captured c1 sidecars are unreferenced, never served
    assert(feedRows(cat).isEmpty, "the feed served rolled-back history")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 1 WHERE k = 5") // c3
    val after = feedRows(cat).map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted
    assert(after == Seq((3L, "update_postimage", 5L, 51L),
      (3L, "update_preimage", 5L, 50L)), s"post-floor feed: $after")
  }
}
