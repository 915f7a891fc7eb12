package graft

import graft.engine.TsdbEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PartitionSpec extends SparkSpec {

  private def engine(): TsdbEngine = new TsdbEngine(spark,
    tmpDir("part-test"))

  private def scanPartitionFilters(df: DataFrame): String = {
    df.collect() // force planning so AQE reaches its final plan
    val plan = df.queryExecution.executedPlan.toString
    "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(";")
  }

  test("PARTITION BY KEY writes bucket dirs and prunes on key equality") {
    val e = engine()
    e.execute(
      """CREATE TABLE pk (
        |  host string TAG, value double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        |PARTITION BY KEY(host) PARTITIONS 8
        |ENGINE=Analytic WITH (update_mode='append')""".stripMargin)
    val hosts = (0 until 20).map(i => s"h$i")
    e.execute("INSERT INTO pk (t, host, value) VALUES " +
      hosts.zipWithIndex.map { case (h, i) =>
        s"(${1704067200000L + i * 1000}, '$h', $i.0)" }.mkString(", "))

    // layout: __bucket=* dirs on disk
    val dirs = new java.io.File(e.catalog.dataDir("pk")).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__bucket=")).toSeq
    assert(dirs.nonEmpty && dirs.size <= 8, s"bucket dirs: $dirs")

    // key-equality query prunes to one bucket, result correct
    val one = e.runSql("SELECT host, value FROM pk WHERE host = 'h7'")
    assert(one.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("h7", 7.0)))
    assert(scanPartitionFilters(one).contains("__bucket"),
      "expected __bucket partition filter in the scan")

    // IN-list prunes too
    val in = e.runSql("SELECT count(*) AS n FROM pk WHERE host IN ('h1','h2','h3')")
    assert(in.head().getLong(0) == 3)
    assert(scanPartitionFilters(in).contains("__bucket"))

    // no key filter → no bucket predicate, still all rows
    val all = e.runSql("SELECT count(*) AS n FROM pk")
    assert(all.head().getLong(0) == 20)
  }

  test("pruning never loses rows: every host found through its bucket") {
    val e = engine()
    e.execute(
      """CREATE TABLE pk2 (
        |  host string TAG, region string TAG, value double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        |PARTITION BY KEY(host, region) PARTITIONS 4
        |ENGINE=Analytic WITH (update_mode='append')""".stripMargin)
    e.execute("INSERT INTO pk2 (t, host, region, value) VALUES " +
      (0 until 12).map(i =>
        s"(${1704067200000L + i}, 'h${i % 4}', 'r${i % 3}', $i.0)").mkString(", "))
    (0 until 4).foreach { h =>
      (0 until 3).foreach { r =>
        val got = e.runSql(
          s"SELECT count(*) AS n FROM pk2 WHERE host = 'h$h' AND region = 'r$r'")
          .head().getLong(0)
        val expect = (0 until 12).count(i => i % 4 == h && i % 3 == r)
        assert(got == expect, s"h$h/r$r: got $got want $expect")
      }
    }
  }

  test("dedup pushdown: tag filters reach the scan below the window") {
    val e = engine()
    e.execute(
      """CREATE TABLE ow (
        |  host string TAG, value double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        |PARTITION BY KEY(host) PARTITIONS 8
        |ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    e.execute(
      """INSERT INTO ow (t, host, value) VALUES
        |  (1704067200000, 'a', 1.0), (1704067200000, 'a', 9.0),
        |  (1704067201000, 'a', 2.0), (1704067200000, 'b', 5.0)""".stripMargin)

    val q = e.runSql("SELECT host, value FROM ow WHERE host = 'a'")
    // overwrite semantics survive the pushdown: latest (t, host='a') wins
    val rows = q.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(rows.toSeq == Seq(("a", 2.0), ("a", 9.0)), s"got ${rows.toSeq}")
    // the tag filter was moved below the Window: scan carries __bucket
    // pruning, which only BucketPruning-after-DedupTagPushdown can inject
    assert(scanPartitionFilters(q).contains("__bucket"),
      "tag filter did not reach the scan (no bucket pruning)")
    // field filters must NOT push below the window: value=1.0 was
    // overwritten by 9.0; a pre-dedup filter would resurrect it (the
    // 9.0 row would be filtered out of its PK group), a post-dedup
    // filter correctly finds nothing
    assert(e.runSql("SELECT * FROM ow WHERE value = 1.0").count() == 0,
      "field filter must apply after dedup (Inexact contract)")
  }

  test("compaction preserves bucket layout and pruning on KEY-partitioned tables") {
    val e = engine()
    e.execute(
      """CREATE TABLE pkc (
        |  host string TAG, value double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        |PARTITION BY KEY(host) PARTITIONS 8
        |ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    e.execute("INSERT INTO pkc (t, host, value) VALUES " +
      (0 until 10).map(i => s"(${1704067200000L + (i % 2) * 3600000L}, 'h${i % 5}', $i.0)")
        .mkString(", "))
    e.execute("INSERT INTO pkc (t, host, value) VALUES (1704067200000, 'h3', 99.0)")
    def q() = e.runSql("SELECT value FROM pkc WHERE host = 'h3'")
    val before = q().collect().map(_.getDouble(0)).sorted.toSeq
    assert(before.contains(99.0), s"overwrite must win pre-compaction: $before")

    e.compact("pkc")
    // layout: __segment dirs wrapping __bucket dirs in the NEW generation
    val dataDir = new java.io.File(e.catalog.dataDir("pkc"))
    assert(dataDir.getName != "data", "compaction must flip to a new generation dir")
    val segDirs = dataDir.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("__segment=")).toSeq
    assert(segDirs.nonEmpty, "segment dirs must survive compaction")
    assert(segDirs.forall(_.listFiles().exists(_.getName.startsWith("__bucket="))),
      "bucket dirs must survive compaction")
    // results identical; bucket pruning still reaches the scan
    assert(q().collect().map(_.getDouble(0)).sorted.toSeq == before)
    assert(scanPartitionFilters(q()).contains("__bucket"),
      "bucket pruning must survive the generation swap")
  }

  test("dedup pushdown: tag filters do NOT push with an explicit PK omitting the tag") {
    // reference gate: tag pushdown is only Exact for the implicit tsid PK
    // (table/mod.rs:428 support_pushdown, schema.rs:893 is_unique_column —
    // the issue-605 fix). With PRIMARY KEY(t), one PK group can hold rows
    // with DIFFERENT host values; pre-dedup filtering would resurrect an
    // overwritten row.
    val e = engine()
    e.execute(
      """CREATE TABLE owpk (
        |  host string TAG, value double, t timestamp NOT NULL,
        |  timestamp KEY(t), PRIMARY KEY(t))
        |ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    e.execute("INSERT INTO owpk (t, host, value) VALUES (1704067200000, 'a', 1.0)")
    e.execute("INSERT INTO owpk (t, host, value) VALUES (1704067200000, 'b', 2.0)")

    // PK group {t} survivor is the newest row (host='b'); filtering host='a'
    // after dedup finds nothing. A pre-dedup tag filter would wrongly
    // resurrect the ('a', 1.0) row.
    assert(e.runSql("SELECT * FROM owpk WHERE host = 'a'").count() == 0,
      "tag filter must stay above the dedup window for explicit non-tag PKs")
    val survivors = e.runSql("SELECT host, value FROM owpk").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(survivors == Seq(("b", 2.0)), s"got $survivors")
  }
}
