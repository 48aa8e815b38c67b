package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

import graft.layers.PopulationLayer
import graft.runtime.{Catalog, Runner}

/** One write path: every catalog write is a v2 hive-layout write, so
  * the start-time streaming refusals live on that write's streaming
  * face for plain and bucketed tables alike, and a pipeline day never
  * plans a V1 `InsertIntoHadoopFsRelationCommand`.
  */
class WritePathSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gwp${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-wp-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("streaming toTable refuses a DOUBLE into a BIGINT column at query start: plain and bucketed tables") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.plain (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ods.bucketed (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    Seq("plain", "bucketed").foreach { t =>
      val mem = MemoryStream[(Long, Double)]
      mem.addData((1L, 1.5))
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir(s"gwp-cp-$t"))
        .toTable(s"$cat.ods.$t")
      val e = intercept[Exception] {
        try q.processAllAvailable() finally q.stop()
      }
      assert(messages(e).exists(m =>
          m.contains("streaming query writes v: double") &&
            m.contains("declares bigint")),
        s"$t: wrong refusal: ${messages(e).mkString(" | ")}")
      // refused before any epoch committed: nothing was written
      assert(spark.table(s"$cat.ods.$t").count() == 0, s"$t received rows")
    }
  }

  test("a batch write refuses an identity partition column whose directory rendering is ambiguous") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (ts)")
    // the hive-layout writer names directories from the raw value: a
    // timestamp would land as epoch micros and read back wrong
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ods.t " +
        "VALUES (1, TIMESTAMP '2020-01-22 17:00:00')")
    }
    assert(messages(e).exists(_.contains("directory rendering is ambiguous")),
      messages(e).mkString(" | "))
    assert(spark.table(s"$cat.ods.t").count() == 0)
  }

  test("a user column named _graft_pre_* reads as data, not as a preimage mirror") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.plain (k BIGINT, v BIGINT, " +
      "_graft_pre_v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ods.mor (k BIGINT, v BIGINT, " +
      "_graft_pre_v BIGINT) TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    Seq("plain", "mor").foreach { t =>
      spark.sql(s"INSERT INTO $cat.ods.$t VALUES (1, 10, 99), (2, 20, 98)")
      // projected alone, beside its namesake's source, and filtered
      assert(spark.sql(s"SELECT _graft_pre_v FROM $cat.ods.$t ORDER BY k")
        .collect().toSeq == Seq(Row(99L), Row(98L)), t)
      assert(spark.sql(s"SELECT k, v, _graft_pre_v FROM $cat.ods.$t " +
        "WHERE k = 1").collect().toSeq == Seq(Row(1L, 10L, 99L)), t)
    }
    // a merge-on-read UPDATE (positional scan) keeps the stored values
    spark.sql(s"UPDATE $cat.ods.mor SET v = v + 1 WHERE k = 1")
    assert(spark.sql(s"SELECT k, v, _graft_pre_v FROM $cat.ods.mor ORDER BY k")
      .collect().toSeq == Seq(Row(1L, 11L, 99L), Row(2L, 20L, 98L)))
  }

  test("a pipeline day writes through the v2 hive-layout path only: no InsertIntoHadoopFsRelationCommand") {
    val root = tmpDir("gwp-warehouse")
    val cat = Catalog(spark, root)
    val input = tmpDir("gwp-input")
    val header = "Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered"
    def day(name: String, rows: String*): Unit =
      Files.write(Paths.get(input, name),
        (header +: rows).mkString("\n").getBytes("UTF-8"))
    day("2020-01-22.csv", "Hubei,Mainland China,1/22/2020 17:00,444,17,28",
      ",Japan,1/22/2020 17:00,100,0,0")
    day("2020-01-23.csv", "Hubei,Mainland China,1/23/2020 17:00,644,18,30",
      ",Japan,1/23/2020 17:00,250,0,0")
    val clock = Some(Timestamp.valueOf("2024-01-01 00:00:00"))

    // every successful execution's physical plan, in completion order;
    // a sentinel query marks the end (the listener bus is ordered)
    val sentinel = "graft-write-path-sentinel"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var sawSentinel = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        if (qe.logical.toString.contains(sentinel)) sawSentinel = true
        else plans.add(qe.executedPlan.toString)
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PopulationLayer.seedIfEmpty(cat, Seq(
        ("China", "CHN", 2020, 1400000000L),
        ("Japan", "JPN", 2020, 1000000L))
        .toDF("country", "country_code", "year", "population"))
      val runner = Runner(cat, input)
      runner.runNext(clock)
      runner.runNext(clock)
      spark.sql(s"SELECT '$sentinel' AS s").collect()
      val deadline = System.currentTimeMillis() + 60000
      while (!sawSentinel && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(sawSentinel, "the listener never saw the sentinel query")
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    val v1 = all.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(v1.isEmpty, s"V1 file writes executed:\n${v1.mkString("\n---\n")}")
    // non-vacuous: appends, full replaces and partition overwrites all
    // ran, as v2 writes
    Seq("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic")
      .foreach { node =>
        assert(all.exists(_.contains(node)), s"no $node write observed")
      }
    assert(cat.table("alerts", "covid_alerts").count() > 0,
      "the second day raised no alert: the alerts append went unexercised")
  }
}
