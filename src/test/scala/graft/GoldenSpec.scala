package graft

import graft.engine.TsdbEngine
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The reference's own sqlness golden tests, replayed through the engine
  * (reference: integration_tests/cases/common/ — the primary test strategy,
  * SURVEY §5). Expected values are transcribed from the committed *.result
  * files; each test cites its case. This is the "a user of the reference
  * could switch and run every query they run today" check.
  */
class GoldenSpec extends SparkSpec {

  private def engine(): TsdbEngine = new TsdbEngine(spark,
    tmpDir("golden"))

  private def longs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Number](0).longValue()).toSeq

  // ---- cases/common/function/time_bucket.sql(.result): every granularity,
  //      +08:00 default timezone
  test("time_bucket granularities match the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE tb (`timestamp` timestamp NOT NULL, `value` int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO tb (`timestamp`, `value`) VALUES
        |  (1659577423000, 1), (1659577422000, 2), (1659577320000, 3),
        |  (1659571200000, 4), (1659484800000, 5), (1656777600000, 6)""".stripMargin)
    def buckets(period: String): Seq[Long] = longs(e.runSql(
      s"SELECT DISTINCT unix_millis(time_bucket(`timestamp`, '$period')) AS b " +
      "FROM tb ORDER BY b"))
    // expected sets from time_bucket.result
    assert(buckets("P1Y") == Seq(1640966400000L))
    assert(buckets("P1M") == Seq(1656604800000L, 1659283200000L))
    assert(buckets("P1W") == Seq(1652918400000L, 1657756800000L))
    assert(buckets("P1D") == Seq(1656777600000L, 1659456000000L, 1659542400000L))
    assert(buckets("PT1H") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659574800000L))
    assert(buckets("PT1M") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659577320000L, 1659577380000L))
    assert(buckets("PT1S") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659577320000L, 1659577422000L, 1659577423000L))
  }

  // ---- cases/common/function/aggregate.sql(.result)
  test("aggregate battery matches the reference goldens incl. u64 wrap and overwrite") {
    val e = engine()
    e.execute(
      """CREATE TABLE agg (`timestamp` timestamp NOT NULL, arch string TAG,
        |  datacenter string TAG, `value` int, uvalue uint64,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO agg (`timestamp`, arch, datacenter, `value`, uvalue) VALUES
        |  (1658304762, 'x86-64', 'china', 100, 10),
        |  (1658304763, 'x86-64', 'china', 200, 10),
        |  (1658304762, 'arm64', 'china', 110, 0),
        |  (1658304763, 'arm64', 'china', 210, 0)""".stripMargin)
    assert(longs(e.runSql("SELECT sum(`value`) FROM agg")) == Seq(620L))
    // epoch-integer BETWEEN on the timestamp key (TypeConversion analyzer)
    val grouped = e.runSql(
      """SELECT arch, sum(`value`) FROM agg
        |WHERE `timestamp` BETWEEN 1658304763 AND 1658304763
        |GROUP BY arch ORDER BY arch DESC""".stripMargin).collect()
    assert(grouped.map(r => (r.getString(0), r.getAs[Number](1).longValue())).toSeq ==
      Seq(("x86-64", 200L), ("arm64", 210L)))
    assert(longs(e.runSql("SELECT count(`value`) FROM agg")) == Seq(4L))
    assert(e.runSql("SELECT avg(`value`) FROM agg").head().getDouble(0) == 155.0)
    assert(longs(e.runSql("SELECT max(`value`) FROM agg")) == Seq(210L))
    assert(longs(e.runSql("SELECT min(`value`) FROM agg")) == Seq(100L))
    // uint64 underflow wraps: reference prints UInt64(18446744073709551606);
    // same two's-complement bits as i64 -10 (SURVEY §1.5 widening caveat)
    val wrapped = longs(e.runSql("SELECT u64_sub(min(uvalue), max(uvalue)) FROM agg")).head
    assert(java.lang.Long.toUnsignedString(wrapped) == "18446744073709551606")
    // overwrite mode: re-inserting the (tags, timestamp) PK replaces the row
    e.execute("INSERT INTO agg (`timestamp`, arch, datacenter, `value`) " +
      "VALUES (1658304762, 'x86-64', 'china', 100)")
    assert(longs(e.runSql("SELECT count(arch) FROM agg")) == Seq(4L))
    assert(e.runSql("SELECT distinct(arch) FROM agg ORDER BY arch DESC")
      .collect().map(_.getString(0)).toSeq == Seq("x86-64", "arm64"))
    assert(longs(e.runSql("SELECT count(distinct(arch)) FROM agg")) == Seq(2L))
  }

  // ---- cases/common/function/date_bin.sql(.result)
  test("date_bin matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE db (`timestamp` timestamp NOT NULL, `value` int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO db (`timestamp`, `value`) VALUES
        |  (1659577423000, 1), (1659577422000, 2), (1659577320000, 3),
        |  (1659571200000, 4), (1659484800000, 5), (1656777600000, 6)""".stripMargin)
    def bins(interval: String): Seq[Long] = e.runSql(
      s"""SELECT unix_millis(DATE_BIN(INTERVAL $interval, `timestamp`,
         |  TIMESTAMP '2001-01-01T00:00:00Z')) AS t
         |FROM db ORDER BY `timestamp`""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(bins("'30' second") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659577320000L, 1659577410000L, 1659577410000L))
    assert(bins("'15' minute") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659576600000L, 1659576600000L, 1659576600000L))
    assert(bins("'2' hour") == Seq(1656777600000L, 1659484800000L,
      1659571200000L, 1659571200000L, 1659571200000L, 1659571200000L))
  }

  // ---- cases/common/dml/select_filter.sql(.result)
  test("select_filter matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE f (`timestamp` timestamp NOT NULL, `value` int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO f (`timestamp`, `value`) VALUES
        |  (1, 100), (2, 1000), (3, 200), (4, 30000), (5, 4400), (6, 400)""".stripMargin)
    assert(longs(e.runSql(
      "SELECT `value` FROM f WHERE `value` > 50+50 ORDER BY `value` ASC")) ==
      Seq(200L, 400L, 1000L, 4400L, 30000L))
    assert(longs(e.runSql(
      "SELECT `value` FROM f WHERE `value` > 50+50 AND `value` <= 4400 ORDER BY `value` ASC")) ==
      Seq(200L, 400L, 1000L, 4400L))
  }

  // ---- cases/common/dml/select_having.sql(.result)
  test("select_having matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE h (`timestamp` timestamp NOT NULL, `value` int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO h (`timestamp`, `value`) VALUES
        |  (1, 101), (2, 1001), (3, 201), (4, 30004), (5, 4401), (6, 406)""".stripMargin)
    val rows = e.runSql(
      """SELECT `value` % 3, MAX(`value`) AS max FROM h
        |GROUP BY `value` % 3 HAVING max > 10000 ORDER BY max ASC""".stripMargin)
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Number](0).longValue() == 1L)
    assert(rows(0).getAs[Number](1).longValue() == 30004L)
  }

  // ---- cases/common/dml/issue-59.sql: aggregate over an EMPTY table with
  //      an expression group-by key must return zero rows, not fail
  test("issue-59: group-by expression over empty table") {
    val e = engine()
    e.execute(
      """CREATE TABLE issue59 (ts timestamp NOT NULL, id int, account string,
        |  timestamp KEY(ts)) ENGINE=Analytic WITH (enable_ttl='false')""".stripMargin)
    assert(e.runSql(
      "SELECT id+1, count(distinct(account)) FROM issue59 GROUP BY id+1")
      .collect().isEmpty)
  }

  // ---- cases/common/dml/issue-302.sql: count(distinct tag) over a row
  //      whose tag is NULL is 0
  test("issue-302: count distinct of a null tag") {
    val e = engine()
    e.execute(
      """CREATE TABLE issue302 (`name` string TAG NULL, `value` double NOT NULL,
        |  t timestamp NOT NULL, TIMESTAMP KEY(t))
        |ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO issue302 (t, `value`) VALUES (1651737067000, 100)""".stripMargin)
    val r = e.runSql(
      "SELECT t, count(distinct name) AS n FROM issue302 GROUP BY t").collect()
    assert(r.length == 1 && r(0).getLong(1) == 0L)
  }

  // ---- cases/common/dml/issue-341.sql: a FIELD filter must return the
  //      matching row in BOTH update modes (the original bug dropped rows
  //      when a non-key filter was pushed below the overwrite dedup)
  test("issue-341: field filter correct under append and overwrite") {
    val e = engine()
    Seq("append", "overwrite").foreach { mode =>
      e.execute(
        s"""CREATE TABLE issue341_$mode (`timestamp` timestamp NOT NULL,
           |  `value` int, tag1 string TAG, timestamp KEY(`timestamp`))
           |ENGINE=Analytic WITH (enable_ttl='false', update_mode='$mode');
           |INSERT INTO issue341_$mode (`timestamp`, `value`, tag1)
           |  VALUES (1, 1, 't1'), (2, 2, 't2'), (3, 3, 't3')""".stripMargin)
      val r = e.runSql(
        s"SELECT `timestamp`, `value` FROM issue341_$mode WHERE `value` = 3")
        .collect()
      assert(r.length == 1 && r(0).getAs[Number](1).intValue() == 3, s"mode=$mode")
      val tagged = e.runSql(
        s"SELECT `value` FROM issue341_$mode WHERE tag1 = 't3'").collect()
      assert(tagged.length == 1 && tagged(0).getAs[Number](0).intValue() == 3)
    }
  }

  // ---- cases/common/dml/select_order.sql(.result)
  test("select_order matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE so (`timestamp` timestamp NOT NULL, `value` int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO so (`timestamp`, `value`) VALUES
        |  (1, 100), (2, 1000), (3, 200), (4, 30000), (5, 4400), (6, 400)""".stripMargin)
    assert(longs(e.runSql("SELECT `value` FROM so ORDER BY `value` ASC")) ==
      Seq(100L, 200L, 400L, 1000L, 4400L, 30000L))
    assert(longs(e.runSql("SELECT `value` FROM so ORDER BY `value` DESC")) ==
      Seq(30000L, 4400L, 1000L, 400L, 200L, 100L))
  }

  // ---- cases/common/dml/issue-637.sql: tags of string/int/varbinary types
  //      and the full scalar type surface round-trip through insert+select
  test("issue-637: full type surface incl. varbinary and int tags") {
    val e = engine()
    e.execute(
      """CREATE TABLE issue637 (str_tag string TAG, int_tag int32 TAG,
        |  var_tag varbinary TAG, str_field string, int_field int32,
        |  bin_field string, t timestamp NOT NULL, TIMESTAMP KEY(t))
        |ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO issue637
        |  (str_tag, int_tag, var_tag, str_field, int_field, bin_field, t)
        |VALUES ("t1", 1, "v1", "s1", 1, "b1", 1651737067000)""".stripMargin)
    val r = e.runSql("SELECT * FROM issue637").head()
    assert(r.getAs[String]("str_tag") == "t1")
    assert(r.getAs[Number]("int_tag").intValue() == 1)
    assert(new String(r.getAs[Array[Byte]]("var_tag"), "UTF-8") == "v1")
    assert(r.getAs[String]("str_field") == "s1")
    e.execute(
      """CREATE TABLE IF NOT EXISTS issue637_1 (t timestamp NOT NULL,
        |  double_filed double, float_filed float, str_field string,
        |  var_field varbinary, u64_field uint64, u32_field uint32,
        |  u16_field uint16, u8_field uint8, i64_field int64,
        |  i32_field int32, i16_field int16, i8_field int8,
        |  bool_field boolean, TIMESTAMP KEY(t))
        |ENGINE=Analytic WITH (enable_ttl='false');
        |INSERT INTO issue637_1
        |  (t, double_filed, float_filed, str_field, var_field, u64_field,
        |   u32_field, u16_field, u8_field, i64_field, i32_field, i16_field,
        |   i8_field, bool_field)
        |VALUES (1651737067000, 100, 100, "s", "v", 100, 100, 100, 100,
        |        100, 100, 100, 100, false)""".stripMargin)
    val r1 = e.runSql("SELECT * FROM issue637_1").head()
    assert(r1.getAs[Double]("double_filed") == 100.0)
    assert(r1.getAs[Float]("float_filed") == 100.0f)
    assert(r1.getAs[Number]("u64_field").longValue() == 100L)
    assert(r1.getAs[Number]("i8_field").byteValue() == 100.toByte)
    assert(!r1.getAs[Boolean]("bool_field"))
  }

  // ---- cases/common/dml/insert_mode.sql: append keeps duplicates,
  //      overwrite dedups on PK (also exercised in TsdbEngineSpec)
  test("insert_mode append vs overwrite matches the reference semantics") {
    val e = engine()
    e.execute(
      """CREATE TABLE im_a (`timestamp` timestamp NOT NULL, v int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic
        |WITH (enable_ttl='false', update_mode='append');
        |INSERT INTO im_a (`timestamp`, v) VALUES (100, 1);
        |INSERT INTO im_a (`timestamp`, v) VALUES (100, 2)""".stripMargin)
    assert(longs(e.runSql("SELECT count(*) FROM im_a")) == Seq(2L))
    e.execute(
      """CREATE TABLE im_o (`timestamp` timestamp NOT NULL, v int,
        |  timestamp KEY(`timestamp`)) ENGINE=Analytic
        |WITH (enable_ttl='false', update_mode='overwrite');
        |INSERT INTO im_o (`timestamp`, v) VALUES (100, 1);
        |INSERT INTO im_o (`timestamp`, v) VALUES (100, 2)""".stripMargin)
    val o = e.runSql("SELECT v FROM im_o").collect()
    assert(o.length == 1 && o(0).getAs[Number](0).intValue() == 2)
  }

  // ---- cases/common/function/thetasketch_distinct.sql: replayed from the
  //      reference's own .sql when present (DDL + 400-row insert + BETWEEN
  //      epoch-int rewrite + grouped sketch aggregate). The committed golden
  //      VALUES (148 / 113 / 117) are estimator-specific — the true counts
  //      are 147 / 115 / 115, so the reference's own HLL is off by 1-2 and
  //      only a bit-exact port of its Rust hash would reproduce them
  //      (documented deviation, COVERAGE.md). We assert the shared error
  //      CONTRACT on the same data: estimates within 2% of truth.
  test("thetasketch_distinct holds the reference error contract on its golden data") {
    val path = java.nio.file.Paths.get(
      "/root/reference/integration_tests/cases/common/function/thetasketch_distinct.sql")
    assume(java.nio.file.Files.exists(path), "reference corpus not present")
    val sql = java.nio.file.Files.readString(path)
      .linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
    val e = engine()
    // replay in file order, collecting each SELECT's result as it runs
    val stmts = graft.ddl.DdlParser.splitStatements(sql)
    val selectResults = Seq.newBuilder[Array[org.apache.spark.sql.Row]]
    stmts.foreach { s =>
      val df = e.execute(s)
      if (s.trim.toUpperCase.startsWith("SELECT")) selectResults += df.collect()
    }
    val results = selectResults.result()
    assert(results.size == 2, s"expected 2 SELECTs, got ${results.size}")
    def close(est: Long, truth: Long): Boolean =
      math.abs(est - truth).toDouble / truth <= 0.02
    val total = results(0).head.getAs[Number](0).longValue()
    assert(close(total, 147L), s"total estimate $total vs truth 147")
    val grouped = results(1)
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue()).toMap
    assert(close(grouped("x86"), 115L), s"x86 ${grouped("x86")} vs truth 115")
    assert(close(grouped("arm"), 115L), s"arm ${grouped("arm")} vs truth 115")
  }

  // ---- cases/env/local/influxql/basic.sql(.result): the reference's own
  //      InfluxQL battery over h2o_feet, checked against the committed
  //      .result values — including the un-filled 5m grid that reports
  //      count=null holes (IOx default fill(null)) and fill(666)
  test("influxql basic matches the reference goldens (h2o_feet)") {
    import graft.influx.InfluxQL
    val e = engine()
    e.execute(
      """CREATE TABLE `h2o_feet` (
        |  `time` timestamp NOT NULL, `level_description` string TAG,
        |  `location` string TAG, `water_level` double,
        |  timestamp KEY (time)) ENGINE = Analytic WITH (enable_ttl = 'false');
        |INSERT INTO h2o_feet(time, level_description, location, water_level)
        |  VALUES
        |    (1439827200000, "between 6 and 9 feet", "coyote_creek", 8.12),
        |    (1439827200000, "below 3 feet", "santa_monica", 2.064),
        |    (1439827560000, "between 6 and 9 feet", "coyote_creek", 8.005),
        |    (1439827560000, "below 3 feet", "santa_monica", 2.116),
        |    (1439827620000, "between 6 and 9 feet", "coyote_creek", 7.887),
        |    (1439827620000, "below 3 feet", "santa_monica", 2.028)""".stripMargin)

    // tag-filtered projection (golden: three santa_monica rows in time order)
    val proj = InfluxQL.run(e,
      """SELECT "level_description", location, water_level FROM "h2o_feet"
        |where location = 'santa_monica'""".stripMargin).collect()
    assert(proj.map(_.getAs[Double]("water_level")).toSeq == Seq(2.064, 2.116, 2.028))

    assert(InfluxQL.run(e, "show measurements")
      .collect().map(_.getString(0)).toSeq == Seq("h2o_feet"))

    // grouped count (golden: 3 per location)
    val counts = InfluxQL.run(e,
      "SELECT count(water_level) FROM \"h2o_feet\" group by location")
      .collect().map(r => (r.getAs[String]("location"), r.getAs[Long]("count"))).toSeq
    assert(counts.sorted == Seq(("coyote_creek", 3L), ("santa_monica", 3L)))

    // ms-suffixed epoch bound + 5m grid, DEFAULT fill: the golden reports
    // null holes out to the explicit bound for both series
    def grid(fill: String): Seq[(String, Long, Option[Long])] = InfluxQL.run(e,
      s"""SELECT count(water_level) FROM "h2o_feet"
         |where time < 1439828400000ms
         |group by location, time(5m) $fill""".stripMargin)
      .collect().map(r => (r.getAs[String]("location"),
        r.getAs[java.sql.Timestamp]("time").getTime,
        Option(r.get(r.fieldIndex("count"))).map(_.asInstanceOf[Long])))
      .toSeq.sorted
    val t0 = 1439827200000L; val m5 = 300000L
    assert(grid("") == Seq(
      ("coyote_creek", t0, Some(1L)), ("coyote_creek", t0 + m5, Some(2L)),
      ("coyote_creek", t0 + 2 * m5, None), ("coyote_creek", t0 + 3 * m5, None),
      ("santa_monica", t0, Some(1L)), ("santa_monica", t0 + m5, Some(2L)),
      ("santa_monica", t0 + 2 * m5, None), ("santa_monica", t0 + 3 * m5, None)),
      s"got ${grid("")}")
    // fill(666) (golden: holes become 666)
    assert(grid("fill(666)").map(_._3.get).toSeq == Seq(1L, 2L, 666L, 666L, 1L, 2L, 666L, 666L))
  }

  // ---- cases/env/local/opentsdb/basic.sql(.result): raw datapoints with
  //      and without tag filter, and the cross-series sum, checked against
  //      the committed dps values
  test("opentsdb basic matches the reference goldens") {
    import graft.opentsdb.OpenTsdb
    val e = engine()
    e.execute(
      """CREATE TABLE `opentsdb_table1` (
        |  `time` timestamp NOT NULL, `level_description` string TAG,
        |  `location` string TAG, `value` double,
        |  timestamp KEY (time)) ENGINE = Analytic WITH (enable_ttl = 'false');
        |INSERT INTO opentsdb_table1(time, level_description, location, value)
        |  VALUES
        |    (1439827200000, "between 6 and 9 feet", "coyote_creek", 8.12),
        |    (1439827200000, "below 3 feet", "santa_monica", 2.064),
        |    (1439827560000, "between 6 and 9 feet", "coyote_creek", 8.005),
        |    (1439827560000, "below 3 feet", "santa_monica", 2.116),
        |    (1439827620000, "between 6 and 9 feet", "coyote_creek", 7.887),
        |    (1439827620000, "below 3 feet", "santa_monica", 2.028)""".stripMargin)
    val bind = (_: String) => graft.promql.PromQL.SeriesTable(
      e.read("opentsdb_table1"), "time", "value",
      Seq("level_description", "location"))

    def run(json: String) = {
      val q = OpenTsdb.parseQuery(json)
      OpenTsdb.runSub(q, q.queries.head, bind)
    }
    val span = """"start": 1439827200000, "end": 1439827620000"""

    // none/all: every datapoint with its tag set (golden: two series x 3)
    val all = run(s"""{$span, "queries": [{"aggregator": "none",
                     |  "metric": "opentsdb_table1", "tags": {}}]}""".stripMargin)
      .collect().map(r => (r.getAs[String]("location"),
        r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Double]("value"))).toSet
    assert(all == Set(
      ("santa_monica", 1439827200000L, 2.064), ("santa_monica", 1439827560000L, 2.116),
      ("santa_monica", 1439827620000L, 2.028), ("coyote_creek", 1439827200000L, 8.12),
      ("coyote_creek", 1439827560000L, 8.005), ("coyote_creek", 1439827620000L, 7.887)))

    // tag-filtered none (golden: the coyote_creek series only)
    val coyote = run(s"""{$span, "queries": [{"aggregator": "none",
                        |  "metric": "opentsdb_table1",
                        |  "tags": {"location": "coyote_creek"}}]}""".stripMargin)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(coyote == Seq(8.12, 8.005, 7.887))

    // cross-series sum per timestamp (golden dps: 10.184, 10.121, 9.915) —
    // the tags map groups, so location stays a key like the reference
    val sums = run(s"""{$span, "queries": [{"aggregator": "sum",
                      |  "metric": "opentsdb_table1", "tags": {}}]}""".stripMargin)
      .orderBy("ts").collect().map(_.getAs[Double]("value")).toSeq
    val expect = Seq(10.184, 10.121, 9.915)
    assert(sums.size == 3 &&
      sums.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-9 },
      s"got $sums")
  }

  // ---- cases/env/local/ddl/create_tables.sql(.result): DDL acceptance and
  //      rejection behaviors (subset we implement; expression DEFAULTs and
  //      storage_format remain out of scope)
  test("create_tables DDL behaviors match the reference goldens") {
    val e = engine()
    // no TIMESTAMP column → error
    intercept[Exception](e.execute(
      "CREATE TABLE ct_t(c1 int) ENGINE = Analytic"))
    // create + duplicate → error; IF NOT EXISTS lenient
    e.execute("CREATE TABLE ct_t(c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic")
    e.execute("CREATE TABLE IF NOT EXISTS ct_t(c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic")
    intercept[IllegalStateException](e.execute(
      "CREATE TABLE ct_t(c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic"))
    // a + b select (golden: 2, 4)
    e.execute(
      """create table ct_t2(a int, b int, t timestamp NOT NULL, TIMESTAMP KEY(t))
        | ENGINE = Analytic with (enable_ttl='false');
        |insert into ct_t2(a, b, t) values(1,1,1),(2,2,2)""".stripMargin)
    assert(longs(e.runSql("select a+b from ct_t2 order by 1")) == Seq(2L, 4L))
    // inline column-level TIMESTAMP KEY (t5 form)
    e.execute("CREATE TABLE ct_t5(c1 int, t timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic")
    assert(e.catalog.get("ct_t5").timestampKey == "t")
    // multiple TIMESTAMP KEYs → error (t6)
    intercept[Exception](e.execute(
      "CREATE TABLE ct_t6(c1 int, t1 timestamp NOT NULL TIMESTAMP KEY, t2 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic"))
    // column comment round-trips through SHOW CREATE (t7)
    e.execute("CREATE TABLE ct_t7(c1 int COMMENT 'id', t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic")
    assert(e.catalog.showCreate("ct_t7").contains("COMMENT 'id'"))
    // dictionary must be string type (t9 error form); string dictionary ok
    e.execute("CREATE TABLE ct_t9(c1 int, d string dictionary, t1 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic")
    assert(e.catalog.get("ct_t9").column("d").isDictionary)
    intercept[Exception](e.execute(
      "CREATE TABLE ct_t9b(c1 int, d double dictionary, t1 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic"))
    // expression DEFAULT values incl. other-column references (t9 final
    // form: c3 = 1+1 = 2, c5 = c3*2+1 = 5, evaluated in declaration order)
    e.execute(
      """CREATE TABLE ct_t9c(c1 int, c2 bigint default 0, c3 uint32 default 1 + 1,
        |  c4 string default 'xxx', c5 uint32 default c3*2 + 1,
        |  t1 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic""".stripMargin)
    e.execute("INSERT INTO ct_t9c(c1, t1) VALUES (7, 1000)")
    val d = e.runSql("SELECT c2, c3, c4, c5 FROM ct_t9c").head()
    assert(d.getLong(0) == 0L && d.getLong(1) == 2L &&
      d.getString(2) == "xxx" && d.getLong(3) == 5L, s"got $d")

    // explicit PRIMARY KEY(tsid, t1) — the implicit pair named explicitly
    // (t10): must still generate tsid and dedup like the implicit form
    e.execute("CREATE TABLE ct_t10(c1 int, t1 timestamp NOT NULL TIMESTAMP KEY, PRIMARY KEY(tsid, t1)) ENGINE = Analytic")
    assert(e.catalog.get("ct_t10").primaryKey == Seq("tsid", "t1"))
    assert(e.catalog.get("ct_t10").usesTsid)
    e.execute("INSERT INTO ct_t10(c1, t1) VALUES (1, 100)")
    e.execute("INSERT INTO ct_t10(c1, t1) VALUES (2, 100)") // overwrites
    assert(longs(e.runSql("SELECT c1 FROM ct_t10")) == Seq(2L))
  }

  // ---- cases/common/basic.sql(.result): the reference's smoke battery —
  //      tsid surfaces in SELECT *, double-quoted string literals, quoted
  //      mixed-case identifiers, varbinary hex literals
  test("basic.sql battery matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE demo (name string TAG, value double NOT NULL,
        |  t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic
        |  WITH (enable_ttl = 'false');
        |INSERT INTO demo (t, name, value) VALUES (1651737067000, 'horaedb', 100)""".stripMargin)
    val r1 = e.runSql("SELECT * FROM demo").collect()
    // golden: tsid,t,name,value with the generated tsid surfaced
    assert(r1.map(_.schema.fieldNames.toSeq).head == Seq("tsid", "t", "name", "value"))
    assert(r1.length == 1 && r1.head.getAs[Double]("value") == 100.0)
    // double-quoted string literal in VALUES (second insert)
    e.execute("INSERT INTO demo (t, name, value) VALUES (1651737067001, \"horaedb\", 100)")
    val r2 = e.runSql("SELECT * FROM demo ORDER BY t").collect()
    assert(r2.length == 2)
    // same tag set → same tsid on both rows (golden: both 1023872802579860359;
    // our tsid hash differs by documented deviation, equality is the contract)
    assert(r2.map(_.getAs[Long]("tsid")).distinct.length == 1)
    assert(r2.map(_.getAs[java.sql.Timestamp]("t").getTime).toSeq ==
      Seq(1651737067000L, 1651737067001L))
    // quoted mixed-case table and column resolve exactly (golden: empty)
    e.execute(
      """CREATE TABLE `DeMo` (`nAmE` string TAG, value double NOT NULL,
        |  t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic
        |  WITH (enable_ttl = 'false')""".stripMargin)
    assert(e.runSql("SELECT `nAmE` FROM `DeMo`").count() == 0)
    // varbinary: hex-literal insert + equality filter (golden: one row 0x11)
    e.execute(
      """CREATE TABLE `binary_demo` (`name` string TAG, `value` varbinary NOT NULL,
        |  `t` timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic
        |  WITH (enable_ttl = 'false');
        |INSERT INTO binary_demo(t, name, value) VALUES(1667374200022, 'horaedb', x'11')""".stripMargin)
    val rb = e.runSql("SELECT * FROM binary_demo WHERE value = x'11'").collect()
    assert(rb.length == 1)
    assert(rb.head.getAs[Array[Byte]]("value").toSeq == Seq(0x11.toByte))
    assert(rb.head.getAs[java.sql.Timestamp]("t").getTime == 1667374200022L)
  }

  // ---- cases/common/show/show_create_table.sql(.result): canonical
  //      SHOW CREATE TABLE rendering, bit-exact against the golden
  test("show_create_table output matches the reference goldens bit-exactly") {
    val e = engine()
    val withOpts = "WITH(arena_block_size='2097152', compaction_strategy='default', " +
      "compression='ZSTD', enable_ttl='true', memtable_type='skiplist', " +
      "num_rows_per_row_group='8192', segment_duration='', storage_format='AUTO', " +
      "ttl='7d', update_mode='OVERWRITE', write_buffer_size='33554432')"
    def showOne(name: String): (String, String) = {
      val r = e.execute(s"SHOW CREATE TABLE `$name`").head()
      (r.getString(0), r.getString(1))
    }
    e.execute("CREATE TABLE `06_show_a` (a bigint, b int default 3, c string default 'x', " +
      "d smallint null, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic")
    assert(showOne("06_show_a") == ("06_show_a",
      "CREATE TABLE `06_show_a` (`tsid` uint64 NOT NULL, `t` timestamp NOT NULL, " +
      "`a` bigint, `b` int DEFAULT 3, `c` string DEFAULT 'x', `d` smallint, " +
      s"PRIMARY KEY(tsid,t), TIMESTAMP KEY(t)) ENGINE=Analytic $withOpts"))
    e.execute("CREATE TABLE `06_show_b` (a bigint, b int null default null, c string, " +
      "d smallint null, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic")
    assert(showOne("06_show_b") == ("06_show_b",
      "CREATE TABLE `06_show_b` (`tsid` uint64 NOT NULL, `t` timestamp NOT NULL, " +
      "`a` bigint, `b` int DEFAULT NULL, `c` string, `d` smallint, " +
      s"PRIMARY KEY(tsid,t), TIMESTAMP KEY(t)) ENGINE=Analytic $withOpts"))
    e.execute("CREATE TABLE `06_show_c` (a int, t timestamp NOT NULL, TIMESTAMP KEY(t)) " +
      "ENGINE = Analytic")
    assert(showOne("06_show_c") == ("06_show_c",
      "CREATE TABLE `06_show_c` (`tsid` uint64 NOT NULL, `t` timestamp NOT NULL, " +
      s"`a` int, PRIMARY KEY(tsid,t), TIMESTAMP KEY(t)) ENGINE=Analytic $withOpts"))
    // the canonical output is itself accepted DDL (round-trip, reference
    // accepts its own SHOW CREATE): re-create from the rendered text
    val rendered = showOne("06_show_a")._2.replace("`06_show_a`", "`06_show_a2`")
    e.execute(rendered)
    // (our model keeps declared order, the canonical form lists key columns
    // first — compare as sets)
    assert(e.catalog.get("06_show_a2").columns.map(c => (c.name, c.kind)).toSet ==
      e.catalog.get("06_show_a").columns.map(c => (c.name, c.kind)).toSet)
  }

  // ---- cases/common/explain/explain.sql, dml/issue-1087.sql (EXPLAIN
  //      VERBOSE), optimizer/optimizer.sql, env/local/ddl/query-plan.sql
  //      (EXPLAIN ANALYZE + time-range pruning): the reference's EXPLAIN
  //      surface. Plan TEXT is engine-specific (Catalyst vs DataFusion);
  //      the (plan_type, plan) row shape and the pruning/pushdown facts
  //      the goldens assert are the replayed contract.
  test("EXPLAIN battery matches the reference goldens' shape and pruning facts") {
    val e = engine()
    // explain.sql: EXPLAIN SELECT t
    e.execute("CREATE TABLE `04_explain_t` (t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE=Analytic")
    val ex = e.runSql("EXPLAIN SELECT t FROM `04_explain_t`").collect()
    assert(ex.map(_.getString(0)).toSeq == Seq("logical_plan", "physical_plan"))
    // the scan projects only the selected column (golden: projection=[t])
    assert(ex.head.getString(1).contains("t"))
    // issue-1087.sql: EXPLAIN VERBOSE lists the pre-optimization plan too
    e.execute(
      """CREATE TABLE `issue_1087` (`name` string TAG, `value` double NOT NULL,
        |  `t` timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic
        |  with (enable_ttl='false')""".stripMargin)
    val exv = e.runSql("explain verbose select * from issue_1087").collect()
    assert(exv.map(_.getString(0)).toSeq ==
      Seq("initial_logical_plan", "logical_plan", "physical_plan"))
    // optimizer.sql: grouped aggregate plans as partial + final hash agg
    e.execute(
      """CREATE TABLE `07_optimizer_t` (name string TAG, value double NOT NULL,
        |  t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE=Analytic
        |  with (enable_ttl='false');
        |INSERT INTO `07_optimizer_t` (t, name, value) VALUES (1, 'a', 1.0)""".stripMargin)
    val exo = e.runSql(
      "EXPLAIN SELECT max(value) AS c1, avg(value) AS c2 FROM `07_optimizer_t` GROUP BY name")
      .collect()
    val phys = exo.last.getString(1)
    // golden asserts the two-phase agg (AggregateExec mode=Partial/Final);
    // Spark's equivalent: partial_max/partial_avg feeding final HashAggregate
    assert(phys.contains("HashAggregate") && phys.contains("partial_max"), phys)
    // query-plan.sql: EXPLAIN ANALYZE carries metrics and prunes segments
    e.execute(
      """CREATE TABLE `03_dml_select_real_time_range` (name string TAG,
        |  value double NOT NULL, t timestamp NOT NULL, timestamp KEY (t))
        |  ENGINE = Analytic WITH (enable_ttl = 'false', segment_duration='2h');
        |INSERT INTO `03_dml_select_real_time_range` (t, name, value) VALUES
        |  (1695348000000, "horaedb", 100), (1695348001000, "horaedb", 200),
        |  (1695348002000, "horaedb", 300)""".stripMargin)
    val exa = e.runSql(
      """explain analyze select t from `03_dml_select_real_time_range`
        |where t > 1695348001000""".stripMargin).collect()
    assert(exa.length == 1 && exa.head.getString(0) == "plan_with_metrics")
    // runtime metrics present (the golden's metrics=[...] analogue)
    assert(exa.head.getString(1).contains("number of output rows"), exa.head.getString(1))
    // and the query itself returns only the row after the bound
    assert(longs(e.runSql(
      """select unix_millis(t) from `03_dml_select_real_time_range`
        |where t > 1695348001000""".stripMargin)) == Seq(1695348002000L))
  }

  // ---- cases/env/local/system/system_tables.sql(.result): SHOW TABLES
  //      LIKE over a numeric-leading quoted identifier, plus the system
  //      catalog query the reference leaves FIXME'd (ours works)
  test("system_tables battery matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE `01_system_table1` (`timestamp` timestamp NOT NULL,
        |  `arch` string TAG, `datacenter` string TAG, `hostname` string TAG,
        |  `value` double, timestamp KEY (`timestamp`)) ENGINE=Analytic""".stripMargin)
    assert(e.execute("SHOW TABLES LIKE '01%'").collect().map(_.getString(0)).toSeq ==
      Seq("01_system_table1"))
    assert(e.execute("SHOW TABLES LIKE '02%'").count() == 0)
    // the reference comments this out as broken (system_tables.sql TODO);
    // the Spark mapping supports it
    val sys = e.runSql(
      "SELECT table_name, engine FROM system.public.tables WHERE table_name = '01_system_table1'")
      .collect()
    assert(sys.length == 1 && sys.head.getString(1) == "Analytic")
  }

  // ---- cases/env/cluster/ddl/partition_table.sql(.result): KEY/RANDOM
  //      partitioned tables — canonical SHOW CREATE, per-key reads, ALTER,
  //      update_mode=APPEND. Sub-table SHOW CREATE (__partition_table_t_0)
  //      is distribution-internal and stays blocked here (Spark replaces
  //      remote sub-tables; validator parity test covers the block).
  test("partition_table battery matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE `partition_table_t`(`name` string TAG, `id` int TAG,
        |  `value` double NOT NULL, `t` timestamp NOT NULL, TIMESTAMP KEY(t))
        |  PARTITION BY KEY(name) PARTITIONS 4 ENGINE = Analytic
        |  with (enable_ttl='false')""".stripMargin)
    val sc = e.execute("SHOW CREATE TABLE partition_table_t").head().getString(1)
    assert(sc ==
      "CREATE TABLE `partition_table_t` (`tsid` uint64 NOT NULL, `t` timestamp NOT NULL, " +
      "`name` string TAG, `id` int TAG, `value` double NOT NULL, " +
      "PRIMARY KEY(tsid,t), TIMESTAMP KEY(t)) PARTITION BY KEY(name) PARTITIONS 4 " +
      "ENGINE=Analytic WITH(arena_block_size='2097152', compaction_strategy='default', " +
      "compression='ZSTD', enable_ttl='false', memtable_type='skiplist', " +
      "num_rows_per_row_group='8192', segment_duration='', storage_format='AUTO', " +
      "ttl='7d', update_mode='OVERWRITE', write_buffer_size='33554432')")
    e.execute("INSERT INTO partition_table_t (t, name, value) VALUES " +
      (0 to 10).map(i => s"""(1651737067000, "horaedb$i", ${100 + i})""").mkString(", "))
    // per-key point reads land on one bucket and return the golden values
    for (i <- 0 to 3) {
      val r = e.runSql(s"""SELECT name, value FROM partition_table_t WHERE name = "horaedb$i"""")
        .collect()
      assert(r.length == 1 && r.head.getString(0) == s"horaedb$i" &&
        r.head.getDouble(1) == 100.0 + i)
    }
    // IN-list fan-out across buckets, ordered (golden: two IN queries)
    assert(e.runSql("""SELECT name FROM partition_table_t WHERE name in
        |("horaedb0","horaedb1","horaedb2","horaedb3","horaedb4")
        |ORDER BY name""".stripMargin).collect().map(_.getString(0)).toSeq ==
      Seq("horaedb0", "horaedb1", "horaedb2", "horaedb3", "horaedb4"))
    assert(e.runSql("""SELECT name FROM partition_table_t WHERE name in
        |("horaedb5","horaedb6","horaedb7","horaedb8","horaedb9","horaedb10")
        |ORDER BY name""".stripMargin).count() == 6)
    // ALTER on a partitioned table, then inserts through both paths
    e.execute("ALTER TABLE partition_table_t ADD COLUMN (b string)")
    e.execute("""INSERT INTO partition_table_t (t, id, name, value)
      |VALUES (1651737067000, 10, "horaedb0", 100)""".stripMargin)
    e.execute("ALTER TABLE partition_table_t MODIFY SETTING enable_ttl='true'")
    e.execute("DROP TABLE IF EXISTS `partition_table_t`")
    intercept[Exception](e.execute("SHOW CREATE TABLE partition_table_t"))
    // RANDOM partitions + APPEND mode (update_mode in double quotes)
    e.execute(
      """CREATE TABLE `random_partition_table_t`(`name` string TAG, `id` int TAG,
        |  `value` double NOT NULL, `t` timestamp NOT NULL, TIMESTAMP KEY(t))
        |  PARTITION BY RANDOM PARTITIONS 4 ENGINE = Analytic
        |  with (enable_ttl='false', update_mode="APPEND")""".stripMargin)
    val sc2 = e.execute("SHOW CREATE TABLE random_partition_table_t").head().getString(1)
    assert(sc2.contains("PARTITION BY RANDOM PARTITIONS 4") &&
      sc2.contains("update_mode='APPEND'") && sc2.contains("enable_ttl='false'"))
    e.execute("INSERT INTO random_partition_table_t (t, name, value) VALUES " +
      (0 to 10).map(i => s"""(1651737067000, "horaedb$i", ${100 + i})""").mkString(", "))
    assert(e.runSql("""SELECT value FROM random_partition_table_t WHERE name = "horaedb5"""")
      .head().getDouble(0) == 105.0)
    // time_bucket + approx_percentile_cont over the partitioned table
    val p = e.runSql(
      """SELECT time_bucket(t, "PT1M") AS ts,
        |  approx_percentile_cont(`value`, 0.9) AS value
        |FROM random_partition_table_t GROUP BY time_bucket(t, "PT1M")""".stripMargin)
      .collect()
    assert(p.length == 1 && p.head.getDouble(1) == 109.0)
  }

  // ---- cases/env/local/ddl/alter_table.sql(.result): add-column flow with
  //      old rows surfacing null; RENAME / DROP COLUMN are unsupported
  //      (errors, like the reference); INSERT INTO TABLE noise word
  test("alter_table behaviors match the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE at_t0(a int, t timestamp NOT NULL, dic string dictionary,
        | TIMESTAMP KEY(t)) ENGINE = Analytic with (enable_ttl='false');
        |INSERT INTO TABLE at_t0(a, t, dic) values(1, 1, "d1")""".stripMargin)
    intercept[Exception](e.execute("ALTER TABLE at_t0 RENAME TO t1"))
    e.execute("ALTER TABLE at_t0 add COLUMN (b string)")
    e.execute("""INSERT INTO TABLE at_t0(a, b, t, dic) values (2, '2', 2, "d2")""")
    val rows = e.runSql("SELECT a, b, dic FROM at_t0 ORDER BY a").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1), "pre-ALTER row surfaces null for the new column")
    assert(rows(1).getString(1) == "2" && rows(1).getString(2) == "d2")
    e.execute("ALTER TABLE at_t0 add COLUMN (add_dic string dictionary)")
    e.execute(
      """INSERT INTO TABLE at_t0 (a, b, t, dic, add_dic)
        | VALUES (2, '2', 2, "d11", "d22"), (3, '3', 3, "d22", "d33")""".stripMargin)
    // t=2 overwrites within the same series only when tags match; these are
    // tagless rows so PK = (tsid, t): the second t=2 insert wins
    val after = e.runSql("SELECT a, dic, add_dic FROM at_t0 ORDER BY a, dic").collect()
    assert(after.length == 3, s"got ${after.length}")
    intercept[Exception](e.execute("ALTER TABLE at_t0 DROP COLUMN b"))
  }

  // ---- cases/common/dummy/select_1.sql(.result)
  test("select_1 matches the reference goldens") {
    val e = engine()
    assert(longs(e.runSql("SELECT 1")) == Seq(1L))
    assert(longs(e.runSql("SELECT 2 + 3")) == Seq(5L))
  }

  // ---- cases/common/dml/case_sensitive.sql(.result): unquoted and quoted
  //      table identifiers resolve CASE-SENSITIVELY — the mixed-case name
  //      round-trips, any other casing is "Table is not found"
  test("case_sensitive matches the reference goldens") {
    val e = engine()
    e.execute(
      """CREATE TABLE case_SENSITIVE_table1 (ts timestamp NOT NULL,
        |  VALUE1 double, timestamp KEY(ts)) ENGINE=Analytic
        |WITH (enable_ttl='false');
        |INSERT INTO case_SENSITIVE_table1 (ts, VALUE1)
        |  VALUES (1, 10), (2, 20), (3, 30)""".stripMargin)
    // exact name (quoted or not) resolves; rows match the .result golden
    assert(longs(e.runSql(
      "SELECT VALUE1 FROM case_SENSITIVE_table1 ORDER BY ts")) ==
      Seq(10L, 20L, 30L))
    assert(longs(e.runSql(
      "SELECT VALUE1 FROM `case_SENSITIVE_table1` ORDER BY ts")) ==
      Seq(10L, 20L, 30L))
    // wrong-case name fails like the reference ("Table is not found")
    intercept[IllegalArgumentException](
      e.runSql("SELECT * FROM CASE_SENSITIVE_TABLE1"))
    intercept[IllegalArgumentException](
      e.runSql("SELECT * FROM `CASE_SENSITIVE_TABLE1`"))
    // SHOW CREATE / DESC with the exact name work; wrong case errors
    assert(e.execute("SHOW CREATE TABLE case_SENSITIVE_table1").count() == 1)
    intercept[IllegalStateException](
      e.execute("SHOW CREATE TABLE CASE_SENSITIVE_TABLE1"))
    intercept[IllegalStateException](e.execute("DESCRIBE CASE_SENSITIVE_TABLE1"))
  }

  // ---- cases/env/local/ddl/sampling-primary-key.sql(.result): the first
  //      flush samples the accumulated rows, sets segment_duration from
  //      timestamp spacing and reorders the PK by ascending cardinality
  //      (PRIMARY KEY(tsid,t) → PRIMARY KEY(myVALUE,name,tsid,t), '' → '2h')
  //      while the declared column order stays put
  test("sampling-primary-key: flush re-suggests segment duration and PK") {
    val e = new TsdbEngine(spark,
      tmpDir("golden"),
      enablePkSampling = true)
    val t = "sampling_primary_key_table"
    e.execute(
      s"""CREATE TABLE `$t` (
         |  v1 double, v2 double, v3 double, v5 double,
         |  name string TAG, myVALUE int64 NOT NULL, t timestamp NOT NULL,
         |  timestamp KEY (t)) ENGINE = Analytic WITH (
         |  update_mode='append', enable_ttl = 'false')""".stripMargin)
    val pre = e.catalog.showCreate(t)
    assert(pre.contains("PRIMARY KEY(tsid,t)"))
    assert(pre.contains("segment_duration=''"))
    e.execute(
      s"""INSERT INTO `$t` (t, name, myVALUE) VALUES
         |  (1695348000000, 'horaedb2', 200), (1695348000005, 'horaedb2', 100),
         |  (1695348000001, 'horaedb1', 100), (1695348000003, 'horaedb3', 200)""".stripMargin)
    def rows() = e.runSql(s"SELECT name, myVALUE FROM `$t`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val golden = Seq(("horaedb1", 100L), ("horaedb2", 100L),
      ("horaedb2", 200L), ("horaedb3", 200L))
    assert(rows() == golden)

    e.flush(t) // sqlness `pre_cmd=flush`

    val post = e.catalog.showCreate(t)
    // cardinalities: myVALUE {100,200}=2 < name {horaedb1,2,3}=3
    assert(post.contains("PRIMARY KEY(myVALUE,name,tsid,t)"))
    // gaps 1,2,2 ms → 90th-pct 2 ms → ×100 points → 2h ladder rung
    assert(post.contains("segment_duration='2h'"))
    // declared column order unchanged: tsid, t, v1.. (not PK-first)
    assert(post.indexOf("`tsid` uint64") < post.indexOf("`t` timestamp"))
    assert(post.indexOf("`t` timestamp") < post.indexOf("`v1` double"))
    assert(post.indexOf("`v5` double") < post.indexOf("`name` string"))
    // data survives the re-layout, physically segmented now
    assert(rows() == golden)
    val dataDir = java.nio.file.Paths.get(e.catalog.dataDir(t))
    val segs = java.nio.file.Files.list(dataDir)
    val hasSegment = try segs.iterator().asScala.exists(
      _.getFileName.toString.startsWith("__segment=")) finally segs.close()
    assert(hasSegment)
    // a second flush is a no-op (segment_duration now set)
    e.flush(t)
    assert(rows() == golden)
    assert(e.catalog.showCreate(t) == post)
  }
}
