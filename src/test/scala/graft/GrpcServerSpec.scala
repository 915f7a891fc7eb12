package graft

import graft.engine.TsdbEngine
import graft.server.{GraftGrpcServer, GrpcWireClient, Pb}

/** End-to-end gRPC storage-service round trip with the hand-rolled
  * HTTP/2 + HPACK + protobuf wire client ([[GrpcWireClient]]) — the same
  * prove-it-on-the-wire pattern as MysqlServerSpec/PgServerSpec (no gRPC
  * library on either side). Mirrors the reference SDK flow: Write points,
  * SqlQuery them back (arrow payload), DDL through SqlQuery
  * (affected_rows). */
class GrpcServerSpec extends SparkSpec {

  private type Client = GrpcWireClient

  test("gRPC storage service: Write auto-creates, SqlQuery round-trips arrow") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-e2e"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      // 1. Write: two series, two points each → auto-create with TAG cols
      val write = Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
        "grpc_cpu", Seq("host", "dc"), Seq("usage", "cores"),
        Seq(
          Pb.WriteSeriesEntry(
            Seq(Pb.TagPb(0, Pb.Value(str = Some("h1"))),
                Pb.TagPb(1, Pb.Value(str = Some("us")))),
            Seq(Pb.FieldGroup(1704067200000L,
                  Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(0.5))),
                      Pb.FieldPb(1, Pb.Value(i64 = Some(8L))))),
                Pb.FieldGroup(1704067260000L,
                  Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(0.7))))))),
          Pb.WriteSeriesEntry(
            Seq(Pb.TagPb(0, Pb.Value(str = Some("h2"))),
                Pb.TagPb(1, Pb.Value(str = Some("eu")))),
            Seq(Pb.FieldGroup(1704067200000L,
                  Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(0.9))))))))
      )))
      val (wresp, wstatus) = c.call("/storage.StorageService/Write",
        Pb.writeWriteRequest(write))
      assert(wstatus == 0)
      val (wcode, werr, success, failed) = Pb.parseWriteResponse(wresp)
      assert(wcode == 200 && werr.isEmpty, werr)
      assert(success == 3 && failed == 0)

      // 2. SqlQuery SELECT → arrow payload decodable by Spark's own reader
      val (qresp, qstatus) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Seq("grpc_cpu"),
          "SELECT host, dc, usage, cores FROM grpc_cpu ORDER BY timestamp, host")))
      assert(qstatus == 0)
      val (qcode, qerr, affected, batches) = Pb.parseSqlQueryResponse(qresp)
      assert(qcode == 200 && qerr.isEmpty, qerr)
      assert(affected.isEmpty && batches.length == 1)
      val back = org.apache.spark.sql.GraftBridge
        .fromArrowStream(spark, batches.head)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getDouble(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      assert(back.toSeq == Seq(
        ("h1", "us", 0.5, 8L), ("h2", "eu", 0.9, -1L), ("h1", "us", 0.7, -1L)))

      // 3. append mode: a second Write lands next to the first
      val (wresp2, _) = c.call("/storage.StorageService/Write",
        Pb.writeWriteRequest(Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
          "grpc_cpu", Seq("host", "dc"), Seq("usage"),
          Seq(Pb.WriteSeriesEntry(
            Seq(Pb.TagPb(0, Pb.Value(str = Some("h1"))),
                Pb.TagPb(1, Pb.Value(str = Some("us"))),
            ),
            Seq(Pb.FieldGroup(1704067320000L,
              Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(0.4)))))))))))))
      assert(Pb.parseWriteResponse(wresp2)._3 == 1)

      // 4. DDL/DML through SqlQuery → affected_rows output
      val (dresp, _) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "INSERT INTO grpc_cpu (timestamp, host, dc, usage) " +
            "VALUES (1704067380000, 'h3', 'ap', 0.2)")))
      val (dcode, _, daffected, dbatches) = Pb.parseSqlQueryResponse(dresp)
      assert(dcode == 200 && daffected.contains(1L) && dbatches.isEmpty)

      // 5. the engine surface agrees: 5 rows total now
      val (cresp, _) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "SELECT count(*) AS n FROM grpc_cpu")))
      val (_, _, _, cbatches) = Pb.parseSqlQueryResponse(cresp)
      val n = org.apache.spark.sql.GraftBridge
        .fromArrowStream(spark, cbatches.head).collect().head.getLong(0)
      assert(n == 5L)

      // 6. unknown method → UNIMPLEMENTED(12) in the trailers
      val (_, ustatus) = c.call("/storage.StorageService/NoSuchMethod",
        Array.emptyByteArray)
      assert(ustatus == 12)

      // 7. engine errors surface as non-OK header codes, not dead streams
      val (eresp, estatus) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "SELECT FROM nothing nonsense")))
      assert(estatus == 0)
      val (ecode, eerr, _, _) = Pb.parseSqlQueryResponse(eresp)
      assert(ecode == 500 && eerr.nonEmpty)
      c.close()
    } finally server.stop()
  }

  test("gRPC streaming RPCs: StreamWrite sums batches, StreamSqlQuery chunks") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-stream"))
    // streamBatchRows=4 forces multiple streamed responses on 10 rows
    val server = new GraftGrpcServer(engine, streamBatchRows = 4).start()
    try {
      val c = new Client(server.boundPort)
      // 1. StreamWrite: three WriteRequest messages on ONE stream → one
      //    WriteResponse with the summed success count
      def writeReq(host: String, baseTs: Long, n: Int): Array[Byte] =
        Pb.writeWriteRequest(Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
          "stream_cpu", Seq("host"), Seq("usage"),
          Seq(Pb.WriteSeriesEntry(
            Seq(Pb.TagPb(0, Pb.Value(str = Some(host)))),
            (0 until n).map(i => Pb.FieldGroup(baseTs + i * 1000L,
              Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(i.toDouble))))))))))))
      val (wresps, wstatus) = c.callMulti("/storage.StorageService/StreamWrite",
        Seq(writeReq("h1", 1704067200000L, 4), writeReq("h2", 1704067200000L, 3),
          writeReq("h3", 1704067200000L, 3)))
      assert(wstatus == 0 && wresps.length == 1)
      val (wcode, werr, success, failed) = Pb.parseWriteResponse(wresps.head)
      assert(wcode == 200 && werr.isEmpty && success == 10 && failed == 0)

      // 2. StreamSqlQuery: 10 rows at streamBatchRows=4 → 3 streamed
      //    responses, each a SELF-CONTAINED arrow payload
      val (qresps, qstatus) = c.callMulti("/storage.StorageService/StreamSqlQuery",
        Seq(Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Seq("stream_cpu"),
          "SELECT host, usage FROM stream_cpu ORDER BY host, timestamp"))))
      assert(qstatus == 0 && qresps.length == 3, s"got ${qresps.length} messages")
      val chunks = qresps.map { r =>
        val (code, err, _, batches) = Pb.parseSqlQueryResponse(r)
        assert(code == 200 && batches.length == 1, err)
        org.apache.spark.sql.GraftBridge.fromArrowStream(spark, batches.head)
          .collect().map(row => (row.getString(0), row.getDouble(1))).toSeq
      }
      assert(chunks.map(_.size) == Seq(4, 4, 2))
      assert(chunks.flatten == Seq(
        ("h1", 0.0), ("h1", 1.0), ("h1", 2.0), ("h1", 3.0),
        ("h2", 0.0), ("h2", 1.0), ("h2", 2.0),
        ("h3", 0.0), ("h3", 1.0), ("h3", 2.0)))

      // 3. affected-rows output streams a single response
      val (dresps, _) = c.callMulti("/storage.StorageService/StreamSqlQuery",
        Seq(Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "INSERT INTO stream_cpu (timestamp, host, usage) " +
            "VALUES (1704067500000, 'h9', 1.5)"))))
      assert(dresps.length == 1)
      assert(Pb.parseSqlQueryResponse(dresps.head)._3.contains(1L))
      c.close()
    } finally server.stop()
  }

  test("gRPC Route answers existing tables with the local endpoint") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-route"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      engine.execute("CREATE TABLE routed (timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, " +
        "host STRING TAG, v DOUBLE)")
      val (resp, status) = c.call("/storage.StorageService/Route",
        Pb.writeRouteRequest(Pb.RouteRequest("public", Seq("routed", "ghost"))))
      assert(status == 0)
      val (code, err, routes) = Pb.parseRouteResponse(resp)
      assert(code == 200 && err.isEmpty)
      // existing table → local endpoint; unknown table omitted (the
      // rule-less standalone path answers only what it can place)
      assert(routes == Seq(Pb.RoutePb("routed", "127.0.0.1", server.boundPort)))
      c.close()
    } finally server.stop()
  }

  test("gRPC PromRemoteQuery ships raw samples per series") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-prom"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      // seed a metric table through the Write path (value field, host tag)
      val write = Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
        "prom_metric", Seq("host"), Seq("value"),
        Seq(
          Pb.WriteSeriesEntry(Seq(Pb.TagPb(0, Pb.Value(str = Some("a1")))),
            Seq(Pb.FieldGroup(1704067200000L,
                Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(1.5))))),
              Pb.FieldGroup(1704067260000L,
                Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(2.5))))))),
          Pb.WriteSeriesEntry(Seq(Pb.TagPb(0, Pb.Value(str = Some("b2")))),
            Seq(Pb.FieldGroup(1704067200000L,
              Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(9.0)))))))))))
      c.call("/storage.StorageService/Write", Pb.writeWriteRequest(write))

      // remote read: __name__ selects the table, regex narrows, range clips
      val (resp, status) = c.call("/storage.StorageService/PromRemoteQuery",
        Pb.writePromRemoteQueryRequest("public", Pb.PromQueryPb(
          1704067200000L, 1704067260000L, Seq(
            Pb.LabelMatcherPb(0, "__name__", "prom_metric"),
            Pb.LabelMatcherPb(2, "host", "a.*|b.*")))))
      assert(status == 0)
      val (code, err, series) = Pb.parsePromRemoteQueryResponse(resp)
      assert(code == 200 && err.isEmpty, err)
      assert(series == Seq(
        Pb.PromSeries(
          Seq(Pb.PromLabel("host", "a1"), Pb.PromLabel("__name__", "prom_metric")),
          Seq(Pb.PromSample(1.5, 1704067200000L), Pb.PromSample(2.5, 1704067260000L))),
        Pb.PromSeries(
          Seq(Pb.PromLabel("host", "b2"), Pb.PromLabel("__name__", "prom_metric")),
          Seq(Pb.PromSample(9.0, 1704067200000L)))))

      // no __name__ matcher → non-OK header, stream stays alive
      val (eresp, estatus) = c.call("/storage.StorageService/PromRemoteQuery",
        Pb.writePromRemoteQueryRequest("public", Pb.PromQueryPb(
          0L, 1L, Seq(Pb.LabelMatcherPb(0, "host", "a1")))))
      assert(estatus == 0)
      val (ecode, eerr, _) = Pb.parsePromRemoteQueryResponse(eresp)
      assert(ecode == 500 && eerr.contains("Metric name"))
      c.close()
    } finally server.stop()
  }

  test("gRPC arrow payloads zstd-compress at the reference's 80 KiB bound") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-zstd"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      // wide payload (~160 KB of IPC) → compression=ZSTD(1) on the wire,
      // transparently decompressed by the parse side
      val (resp, status) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "SELECT id, repeat('x', 400) AS pad FROM range(400) ORDER BY id")))
      assert(status == 0)
      assert(Pb.arrowCompressionOf(resp) == 1, "payload should be ZSTD")
      val (code, err, _, batches) = Pb.parseSqlQueryResponse(resp)
      assert(code == 200 && batches.length == 1, err)
      val rows = org.apache.spark.sql.GraftBridge.fromArrowStream(spark, batches.head)
        .collect()
      assert(rows.length == 400 && rows.head.getLong(0) == 0L &&
        rows.head.getString(1) == "x" * 400)
      assert(batches.head.length > Pb.CompressMinLength,
        "decompressed IPC must exceed the bound, else the test is vacuous")
      assert(resp.length < batches.head.length / 2,
        "wire bytes should be much smaller than the IPC payload")

      // small payload stays NONE (reference compress_min_length path)
      val (sresp, _) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil, "SELECT 1 AS one")))
      assert(Pb.arrowCompressionOf(sresp) == 0)
      c.close()
    } finally server.stop()
  }

  /** Mirrors the reference's SDK integration script
    * (`integration_tests/sdk/rust/src/main.rs`): auto-create via Write →
    * query check → add-column Write (new tag + field on live table) →
    * query check with the old rows' new columns null → block-table
    * (write AND query refused with the script's asserted error text,
    * `main.rs:139-155`) → DROP IF EXISTS round trips. */
  test("gRPC SDK golden flow: auto-create, add column, drop") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-sdk"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      val ts = 1704067200000L // the script uses now(); pinned for determinism
      val table = s"test_table_$ts"
      def sql(q: String): (Int, String, Option[Long], Seq[Array[Byte]]) = {
        val (resp, status) = c.call("/storage.StorageService/SqlQuery",
          Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Seq(table), q)))
        assert(status == 0)
        Pb.parseSqlQueryResponse(resp)
      }
      // format_rows convention: per row sort cells by column name, null
      // string → "", null int → 0 (the SDK's expected-value shapes)
      def rowsOf(batches: Seq[Array[Byte]], names: Seq[String]): Seq[String] = {
        if (batches.isEmpty) return Nil
        val df = org.apache.spark.sql.GraftBridge.fromArrowStream(spark, batches.head)
        val idx = names.sorted.map(n => df.schema.fieldNames.indexOf(n))
        df.collect().toSeq.map { r =>
          idx.map { i =>
            if (r.isNullAt(i)) {
              if (df.schema.fields(i).dataType ==
                org.apache.spark.sql.types.StringType) "" else "0"
            } else r.get(i) match {
              case t: java.sql.Timestamp => t.getTime.toString
              case x => x.toString
            }
          }.mkString("|")
        }.sorted
      }

      // drop_test_table_if_exists: legal on an absent table
      val (dcode, derr, _, _) = sql(s"DROP TABLE IF EXISTS `$table`")
      assert(dcode == 200, derr)

      def writePoints(newColumn: Boolean): Unit = {
        val (tags, fields) =
          if (!newColumn) (Seq("old-tag"), Seq("old-field0", "old-field1"))
          else (Seq("old-tag", "new-tag"), Seq("old-field0", "old-field1", "new-field"))
        def entry(oldTag: String, f0: Long, f1: Long, newTag: String, nf: Long) =
          Pb.WriteSeriesEntry(
            (Seq(Pb.TagPb(0, Pb.Value(str = Some(oldTag)))) ++
              (if (newColumn) Seq(Pb.TagPb(1, Pb.Value(str = Some(newTag)))) else Nil)),
            Seq(Pb.FieldGroup(ts,
              Seq(Pb.FieldPb(0, Pb.Value(i64 = Some(f0))),
                  Pb.FieldPb(1, Pb.Value(i64 = Some(f1)))) ++
              (if (newColumn) Seq(Pb.FieldPb(2, Pb.Value(i64 = Some(nf)))) else Nil))))
        val entries =
          if (!newColumn) Seq(
            entry("old-tagv0", 123L, 1222223333334L, "", 0L),
            entry("old-tagv1", 124L, 1222223333335L, "", 0L))
          else Seq(
            entry("old-tagv0", 123L, 1222223333334L, "new-tagv0", 666666L),
            entry("old-tagv1", 124L, 1222223333335L, "new-tagv1", 88888888L))
        val (wresp, wstatus) = c.call("/storage.StorageService/Write",
          Pb.writeWriteRequest(Pb.WriteRequest("public",
            Seq(Pb.WriteTableRequest(table, tags, fields, entries)))))
        assert(wstatus == 0)
        val (wcode, werr, success, failed) = Pb.parseWriteResponse(wresp)
        assert(wcode == 200 && success == 2 && failed == 0, werr)
      }

      // test_auto_create_table
      writePoints(newColumn = false)
      val q4 = "SELECT `timestamp`,`old-tag`,`old-field0`,`old-field1` " +
        s"FROM `$table`"
      val (c1, e1, aff1, b1) = sql(q4)
      assert(c1 == 200 && aff1.isEmpty, e1)
      assert(rowsOf(b1, Seq("timestamp", "old-tag", "old-field0", "old-field1")) ==
        Seq(s"123|1222223333334|old-tagv0|$ts",
            s"124|1222223333335|old-tagv1|$ts"))

      // test_add_column: same timestamps, new tag changes the series → 4 rows
      writePoints(newColumn = true)
      val q6 = "SELECT `timestamp`,`old-tag`,`old-field0`,`old-field1`," +
        s"`new-tag`,`new-field` FROM `$table`"
      val (c2, e2, _, b2) = sql(q6)
      assert(c2 == 200, e2)
      assert(rowsOf(b2, Seq("timestamp", "old-tag", "old-field0", "old-field1",
        "new-tag", "new-field")) ==
        Seq(s"0||123|1222223333334|old-tagv0|$ts",
            s"0||124|1222223333335|old-tagv1|$ts",
            s"666666|new-tagv0|123|1222223333334|old-tagv0|$ts",
            s"88888888|new-tagv1|124|1222223333335|old-tagv1|$ts"))

      // test_block_table: create, block, then write AND query both
      // refuse with the text the script asserts on
      def sqlOn(tbl: String, q: String): (Int, String) = {
        val (resp, status) = c.call("/storage.StorageService/SqlQuery",
          Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Seq(tbl), q)))
        assert(status == 0)
        val (code, err, _, _) = Pb.parseSqlQueryResponse(resp)
        (code, err)
      }
      assert(sqlOn("block_test_table",
        "CREATE TABLE block_test_table (name string TAG, " +
          "value double NOT NULL, t timestamp NOT NULL, timestamp KEY (t))")._1 == 200)
      engine.limiter.addWriteBlock(Seq("block_test_table"))
      engine.limiter.addReadBlock(Seq("block_test_table"))
      val (bresp, bstatus) = c.call("/storage.StorageService/Write",
        Pb.writeWriteRequest(Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
          "block_test_table", Seq("name"), Seq("value"),
          Seq(Pb.WriteSeriesEntry(
            Seq(Pb.TagPb(0, Pb.Value(str = Some("name1")))),
            Seq(Pb.FieldGroup(ts,
              Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(0.42)))))))))))))
      assert(bstatus == 0)
      val (bcode, berr, _, _) = Pb.parseWriteResponse(bresp)
      assert(bcode == 500 && berr.contains("Table operation is blocked"), berr)
      val (qcode, qerr) = sqlOn("block_test_table",
        "SELECT * from block_test_table")
      assert(qcode == 500 && qerr.contains("Table operation is blocked"), qerr)
      engine.limiter.removeWriteBlock(Seq("block_test_table"))
      engine.limiter.removeReadBlock(Seq("block_test_table"))

      // final drops (both exist and not)
      assert(sql(s"DROP TABLE IF EXISTS `$table`")._1 == 200)
      assert(sql(s"DROP TABLE IF EXISTS `$table`")._1 == 200)
      assert(sqlOn("block_test_table",
        "DROP TABLE IF EXISTS block_test_table")._1 == 200)
      c.close()
    } finally server.stop()
  }

  test("gRPC PromQuery evaluates structured selector/func/aggr exprs") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-promquery"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      val t0 = 1704067200000L
      // metric with host tag: a1 = counter 1.5 -> 2.5; b2 = flat 9.0
      val write = Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
        "pq_metric", Seq("host"), Seq("value"),
        Seq(
          Pb.WriteSeriesEntry(Seq(Pb.TagPb(0, Pb.Value(str = Some("a1")))),
            Seq(Pb.FieldGroup(t0, Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(1.5))))),
                Pb.FieldGroup(t0 + 60000L,
                  Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(2.5))))))),
          Pb.WriteSeriesEntry(Seq(Pb.TagPb(0, Pb.Value(str = Some("b2")))),
            Seq(Pb.FieldGroup(t0,
              Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(9.0)))))))))))
      c.call("/storage.StorageService/Write", Pb.writeWriteRequest(write))

      // 1. bare selector -> raw samples over [start, end], literal-or filter
      val sel = Pb.PromSelectorPb("pq_metric", t0, t0 + 60000L,
        t0, t0 + 60000L,
        filters = Seq(Pb.PromFilterPb("host",
          Seq(Pb.PromFilterCondPb(0, Seq("a1", "b2"))))),
        step = 60000L)
      val (r1, s1) = c.call("/storage.StorageService/PromQuery",
        Pb.writePromQueryRequest("public", Pb.PromOperandSelector(sel)))
      assert(s1 == 0)
      val (c1, e1, ser1) = Pb.parsePromQueryResponse(r1)
      assert(c1 == 200 && e1.isEmpty, e1)
      assert(ser1 == Seq(
        Pb.PromSeries(Seq(Pb.PromLabel("host", "a1")),
          Seq(Pb.PromSample(1.5, t0), Pb.PromSample(2.5, t0 + 60000L))),
        Pb.PromSeries(Seq(Pb.PromLabel("host", "b2")),
          Seq(Pb.PromSample(9.0, t0)))))

      // 2. sum(selector): instant eval on the align grid, labels collapse
      val (r2, s2) = c.call("/storage.StorageService/PromQuery",
        Pb.writePromQueryRequest("public",
          Pb.PromSubExprPb(0, "sum", Seq(Pb.PromOperandSelector(sel)))))
      assert(s2 == 0)
      val (c2, _, ser2) = Pb.parsePromQueryResponse(r2)
      assert(c2 == 200 && ser2.length == 1 && ser2.head.labels.isEmpty)
      assert(ser2.head.samples == Seq(
        Pb.PromSample(10.5, t0), Pb.PromSample(11.5, t0 + 60000L)))

      // 3. rate(selector[2m]) with a regexp filter: Prometheus counter
      //    extrapolation on the single a.* series — both samples in the
      //    (t0-60s, t0+60s] window, extrapolates the left gap fully:
      //    1.0 * (120/60) / 120 = 1/60
      val rateSel = Pb.PromSelectorPb("pq_metric",
        t0 - 60000L, t0 + 60000L, t0 + 60000L, t0 + 60000L,
        filters = Seq(Pb.PromFilterPb("host",
          Seq(Pb.PromFilterCondPb(2, Seq("a.*"))))),
        range = 120000L, step = 60000L)
      val (r3, s3) = c.call("/storage.StorageService/PromQuery",
        Pb.writePromQueryRequest("public",
          Pb.PromSubExprPb(1, "rate", Seq(Pb.PromOperandSelector(rateSel)))))
      assert(s3 == 0)
      val (c3, _, ser3) = Pb.parsePromQueryResponse(r3)
      assert(c3 == 200 && ser3.length == 1)
      assert(ser3.head.labels == Seq(Pb.PromLabel("host", "a1")))
      val Seq(sample) = ser3.head.samples
      assert(sample.timestampMs == t0 + 60000L)
      assert(math.abs(sample.value - 1.0 / 60.0) < 1e-9, s"got ${sample.value}")

      // 4. binary sub-exprs are rejected like the reference (non-OK header)
      val (r4, s4) = c.call("/storage.StorageService/PromQuery",
        Pb.writePromQueryRequest("public", Pb.PromSubExprPb(2, "+",
          Seq(Pb.PromOperandSelector(sel), Pb.PromOperandFloat(1.0)))))
      assert(s4 == 0)
      val (c4, e4, _) = Pb.parsePromQueryResponse(r4)
      assert(c4 == 500 && e4.contains("binary"), e4)

      // 5. expr codec round-trips the full tree
      val tree: Pb.PromExprPb = Pb.PromSubExprPb(0, "sum",
        Seq(Pb.PromSubExprPb(1, "rate", Seq(Pb.PromOperandSelector(rateSel)))),
        group = Seq("host"), without = true)
      assert(Pb.parsePromExpr(Pb.writePromExpr(tree)) == tree)
      c.close()
    } finally server.stop()
  }

  test("gRPC wire edges: PADDED frames parse, compressed flag refused") {
    val engine = new TsdbEngine(spark, tmpDir("grpc-edges"))
    val server = new GraftGrpcServer(engine).start()
    try {
      val c = new Client(server.boundPort)
      // 1. PADDED HEADERS + PADDED DATA (RFC 7540 §6.1/§6.2: padding
      //    TRAILS the block; pad length is an unsigned octet). A server
      //    that treats padding as leading desyncs HPACK here.
      val (resps, status) = c.callMulti("/storage.StorageService/SqlQuery",
        Seq(Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "SELECT 7 AS seven"))), pad = 200)
      assert(status == 0 && resps.length == 1)
      val (code, err, _, batches) = Pb.parseSqlQueryResponse(resps.head)
      assert(code == 200 && batches.length == 1, err)
      assert(org.apache.spark.sql.GraftBridge
        .fromArrowStream(spark, batches.head).collect().head.getInt(0) == 7)

      // 2. compressed-flag byte set without negotiated grpc-encoding →
      //    UNIMPLEMENTED(12), not a misparse-as-protobuf garbage write
      val (_, cstatus) = c.callMulti("/storage.StorageService/SqlQuery",
        Seq(Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil,
          "SELECT 1 AS one"))), compressedFlag = true)
      assert(cstatus == 12)

      // 3. the connection survives both edge cases
      val (okResp, okStatus) = c.call("/storage.StorageService/SqlQuery",
        Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil, "SELECT 2 AS two")))
      assert(okStatus == 0 && Pb.parseSqlQueryResponse(okResp)._1 == 200)
      c.close()
    } finally server.stop()
  }

  test("protobuf codec round-trips the storage message shapes") {
    val req = Pb.WriteRequest("db", Seq(Pb.WriteTableRequest(
      "t", Seq("a"), Seq("f"),
      Seq(Pb.WriteSeriesEntry(
        Seq(Pb.TagPb(0, Pb.Value(str = Some("x")))),
        Seq(Pb.FieldGroup(123456789L,
          Seq(Pb.FieldPb(0, Pb.Value(f64 = Some(-2.25)))))))))))
    val parsed = Pb.parseWriteRequest(Pb.writeWriteRequest(req))
    assert(parsed == req)
    val sq = Pb.SqlQueryRequest("", Seq("t1", "t2"), "SELECT 1")
    assert(Pb.parseSqlQueryRequest(Pb.writeSqlQueryRequest(sq)) == sq)
    val rr = Pb.RouteRequest("db", Seq("a", "b"))
    assert(Pb.parseRouteRequest(Pb.writeRouteRequest(rr)) == rr)
    val routes = Seq(Pb.RoutePb("a", "10.0.0.1", 8831), Pb.RoutePb("b", "10.0.0.2", 1))
    assert(Pb.parseRouteResponse(Pb.writeRouteResponse(200, "", routes)) ==
      ((200, "", routes)))
    val pq = Pb.PromQueryPb(1L, 2L, Seq(Pb.LabelMatcherPb(2, "n", "v.*")))
    assert(Pb.parsePromRemoteQueryRequest(
      Pb.writePromRemoteQueryRequest("d", pq)) == (("d", pq)))
    val ser = Seq(Pb.PromSeries(
      Seq(Pb.PromLabel("host", "h")), Seq(Pb.PromSample(-1.25, 42L))))
    assert(Pb.parsePromRemoteQueryResponse(
      Pb.writePromRemoteQueryResponse(200, "", ser)) == ((200, "", ser)))
    // Reader.skip over an unknown length-delimited field must consume the
    // length varint AND the payload (regression: `pos += varint()` read the
    // old pos and lost the length byte, desyncing every later field)
    val sk = new Pb.Reader(Array[Byte](0x0A, 0x02, 0x61, 0x62, 0x10, 0x07))
    assert(sk.readKey() == ((1, 2))); sk.skip(2)
    assert(sk.readKey() == ((2, 0)) && sk.varint() == 7L && !sk.hasNext)

    // varint edge: max-u64-ish values survive
    val w = new Pb.Writer().int64Always(1, -1L)
    val r = new Pb.Reader(w.toBytes)
    assert(r.readKey() == ((1, 0)) && r.varint() == -1L)
  }
}
