package graft

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.engine.TsdbEngine
import graft.server.{GraftGrpcServer, GraftHttpServer, GraftMysqlServer, GraftPgServer, GrpcWireClient, Pb}

/** Concurrent multi-protocol stress: all wire servers share ONE
  * SparkSession and the engine's per-table locks, but nothing before this
  * spec proved correctness under *parallel* clients. Drives seven clients
  * at once across four protocols (gRPC storage service, PostgreSQL v3,
  * MySQL text protocol, HTTP):
  *
  *   - two gRPC writers RACING the auto-create of the same table with
  *     DIFFERENT column sets (the create race: the loser must land its
  *     extra columns via the ifAbsent add, not silently drop values —
  *     catalog.create is synchronized, `GraftCatalog.scala`);
  *   - PG, gRPC, MySQL and HTTP readers polling count(*) concurrently
  *     with the writes (counts must be non-decreasing: per-table write
  *     locks + manifest swaps may never expose a partial batch);
  *   - a PG DDL client creating/inserting/querying an unrelated table
  *     (shared-session isolation).
  *
  * End state: exact row count and sum re-checked through gRPC and PG,
  * and the catalog holds every column either writer introduced.
  *
  * Round 7 adds: the same create/widen race driven by WRITERS on all four
  * protocols at once (gRPC Write + OpenTSDB put auto-create/auto-ADD
  * racing MySQL/PG CREATE IF NOT EXISTS + ALTER ADD + INSERT), and a
  * dedicated stress for read()'s dedup-skip fingerprint guard.
  */
class ConcurrencySpec extends SparkSpec {

  /** Minimal blocking PG v3 client (subset of PgServerSpec's). */
  private final class PgClient(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    def startup(): Unit = {
      val kv = Seq("user" -> "graft", "database" -> "public")
      val body = kv.flatMap { case (k, v) =>
        k.getBytes(UTF_8).toSeq ++ Seq(0.toByte) ++ v.getBytes(UTF_8) :+ 0.toByte
      } :+ 0.toByte
      out.writeInt(4 + 4 + body.length); out.writeInt(196608)
      out.write(body.toArray); out.flush()
      var ready = false
      while (!ready) {
        val (t, _) = readMsg()
        if (t == 'Z') ready = true
      }
    }

    private def readMsg(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      (t, payload)
    }

    private def cstr(b: Array[Byte], from: Int): (String, Int) = {
      var i = from
      while (b(i) != 0) i += 1
      (new String(b, from, i - from, UTF_8), i + 1)
    }

    /** simple query → (rows of string cells, error message or null) */
    def query(sql: String): (Seq[Seq[String]], String) = {
      out.writeByte('Q'); val b = sql.getBytes(UTF_8) :+ 0.toByte
      out.writeInt(4 + b.length); out.write(b); out.flush()
      val rows = Seq.newBuilder[Seq[String]]
      var err: String = null
      var done = false
      while (!done) {
        val (t, payload) = readMsg()
        t match {
          case 'D' =>
            val n = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
            var off = 2
            rows += (0 until n).map { _ =>
              val len = java.nio.ByteBuffer.wrap(payload, off, 4).getInt
              off += 4
              if (len < 0) null
              else { val s = new String(payload, off, len, UTF_8); off += len; s }
            }
          case 'E' =>
            var off = 0
            while (payload(off) != 0) {
              val f = payload(off).toChar
              val (v, o) = cstr(payload, off + 1)
              if (f == 'M' && err == null) err = v
              off = o
            }
          case 'Z' => done = true
          case _ => ()
        }
      }
      (rows.result(), err)
    }

    def close(): Unit = {
      out.writeByte('X'); out.writeInt(4); out.flush(); sock.close()
    }
  }

  /** Minimal MySQL text-protocol client: handshake + COM_QUERY returning
    * (first-cell-of-first-row, error) — enough for count polling. */
  private final class MyClient(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private var seq = 0
    private def readPacket(): Array[Byte] = {
      val b0 = in.read(); val b1 = in.read(); val b2 = in.read()
      val len = b0 | (b1 << 8) | (b2 << 16)
      seq = (in.readByte() & 0xff) + 1
      val p = new Array[Byte](len); in.readFully(p); p
    }
    private def writePacket(payload: Array[Byte]): Unit = {
      out.write(payload.length & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write((payload.length >> 16) & 0xff)
      out.write(seq & 0xff); seq += 1
      out.write(payload); out.flush()
    }
    def handshake(): Unit = {
      readPacket()
      val b = new java.io.ByteArrayOutputStream()
      def u32(v: Long): Unit =
        (0 until 4).foreach(i => b.write(((v >> (8 * i)) & 0xff).toInt))
      u32(0x0200L | 0x8000L); u32(16777216L); b.write(33)
      b.write(new Array[Byte](23), 0, 23)
      b.write("root".getBytes(UTF_8)); b.write(0); b.write(0)
      writePacket(b.toByteArray)
      assert((readPacket()(0) & 0xff) == 0x00)
      seq = 0
    }
    private def lenenc(p: Array[Byte], off: Int): (Long, Int) = (p(off) & 0xff) match {
      case 0xfc => (((p(off + 1) & 0xff) | ((p(off + 2) & 0xff) << 8)).toLong, off + 3)
      case 0xfd => (((p(off + 1) & 0xff) | ((p(off + 2) & 0xff) << 8) |
        ((p(off + 3) & 0xff) << 16)).toLong, off + 4)
      case 0xfe => ((0 until 8).map(i => (p(off + 1 + i) & 0xffL) << (8 * i)).sum, off + 9)
      case v => (v.toLong, off + 1)
    }
    /** first cell of the first row, or Left(error text) */
    def queryOne(sql: String): Either[String, String] = {
      seq = 0
      writePacket(Array[Byte](0x03) ++ sql.getBytes(UTF_8))
      val first = readPacket()
      (first(0) & 0xff) match {
        case 0x00 => Right(null)
        case 0xff => Left(new String(first, 9, first.length - 9, UTF_8))
        case _ =>
          val (ncols, _) = lenenc(first, 0)
          (0 until ncols.toInt).foreach(_ => readPacket())
          assert((readPacket()(0) & 0xff) == 0xfe)
          var cell: String = null
          var done = false
          while (!done) {
            val p = readPacket()
            if ((p(0) & 0xff) == 0xfe && p.length < 9) done = true
            else if (cell == null) {
              val (n, o) = lenenc(p, 0)
              cell = new String(p, o, n.toInt, UTF_8)
            }
          }
          Right(cell)
      }
    }
    def close(): Unit = { seq = 0; writePacket(Array[Byte](0x01)); sock.close() }
  }

  private def grpcWrite(
      c: GrpcWireClient, table: String, host: String,
      fields: Seq[(String, Double)], baseTs: Long, n: Int): Long = {
    val fieldNames = fields.map(_._1)
    val req = Pb.WriteRequest("public", Seq(Pb.WriteTableRequest(
      table, Seq("host"), fieldNames,
      Seq(Pb.WriteSeriesEntry(
        Seq(Pb.TagPb(0, Pb.Value(str = Some(host)))),
        (0 until n).map(i => Pb.FieldGroup(baseTs + i * 1000L,
          fields.zipWithIndex.map { case ((_, v), fi) =>
            Pb.FieldPb(fi, Pb.Value(f64 = Some(v + i))) })))))))
    val (resp, status) = c.call("/storage.StorageService/Write",
      Pb.writeWriteRequest(req))
    assert(status == 0)
    val (code, err, success, _) = Pb.parseWriteResponse(resp)
    assert(code == 200, err)
    success
  }

  private def grpcCount(c: GrpcWireClient, sql: String): Either[String, Long] = {
    val (resp, status) = c.call("/storage.StorageService/SqlQuery",
      Pb.writeSqlQueryRequest(Pb.SqlQueryRequest("public", Nil, sql)))
    assert(status == 0)
    val (code, err, _, batches) = Pb.parseSqlQueryResponse(resp)
    if (code != 200) Left(err)
    else Right(org.apache.spark.sql.GraftBridge
      .fromArrowStream(spark, batches.head).collect().head.getLong(0))
  }

  test("parallel gRPC writers + PG/gRPC readers + PG DDL stay consistent") {
    val engine = new TsdbEngine(spark, tmpDir("conc"))
    val grpc = new GraftGrpcServer(engine).start()
    val pg = new GraftPgServer(engine).start()
    val my = new GraftMysqlServer(engine).start()
    val http = new GraftHttpServer(engine).start()
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writersDone = new CountDownLatch(2)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    val t0 = 1704067200000L
    val batches = 8
    val rowsPerBatch = 5

    // writer A: usage only for 3 batches, then introduces ext_a (auto-ADD
    // racing B's writes on the live table)
    val wa = thread("writer-a") {
      val c = new GrpcWireClient(grpc.boundPort)
      try {
        for (b <- 0 until batches) {
          val fields = if (b < 3) Seq("usage" -> 1.0)
            else Seq("usage" -> 1.0, "ext_a" -> 10.0)
          assert(grpcWrite(c, "conc_cpu", s"a$b", fields,
            t0 + b * 100000L, rowsPerBatch) == rowsPerBatch)
        }
      } finally { c.close(); writersDone.countDown() }
    }
    // writer B: different column set from the very first write → the
    // create race: whichever writer creates the table, B's ext_b and A's
    // usage/ext_a must ALL end up in the catalog
    val wb = thread("writer-b") {
      val c = new GrpcWireClient(grpc.boundPort)
      try {
        for (b <- 0 until batches) {
          assert(grpcWrite(c, "conc_cpu", s"b$b",
            Seq("usage" -> 2.0, "ext_b" -> 20.0),
            t0 + 50000L + b * 100000L, rowsPerBatch) == rowsPerBatch)
        }
      } finally { c.close(); writersDone.countDown() }
    }
    // readers: counts must never go backwards while writers run
    def monotone(read: () => Either[String, Long]): Unit = {
      var last = 0L
      while (writersDone.getCount > 0) {
        read() match {
          case Right(n) =>
            assert(n >= last, s"count went backwards: $last -> $n")
            last = n
          case Left(err) => // table not created yet — only that error is ok
            assert(err != null && (err.toLowerCase.contains("not") || last == 0L),
              String.valueOf(err))
        }
      }
    }
    val rg = thread("reader-grpc") {
      val c = new GrpcWireClient(grpc.boundPort)
      try monotone(() => grpcCount(c, "SELECT count(*) AS n FROM conc_cpu"))
      finally c.close()
    }
    val rp = thread("reader-pg") {
      val c = new PgClient(pg.boundPort)
      c.startup()
      try monotone { () =>
        val (rows, err) = c.query("SELECT count(*) AS n FROM conc_cpu")
        if (err != null) Left(err) else Right(rows.head.head.toLong)
      } finally c.close()
    }
    val rm = thread("reader-mysql") {
      val c = new MyClient(my.boundPort)
      c.handshake()
      try monotone { () =>
        c.queryOne("SELECT count(*) AS n FROM conc_cpu").map(_.toLong)
      } finally c.close()
    }
    val rh = thread("reader-http") {
      val hc = java.net.http.HttpClient.newHttpClient()
      monotone { () =>
        val r = hc.send(java.net.http.HttpRequest
            .newBuilder(java.net.URI.create(
              s"http://127.0.0.1:${http.boundPort}/sql"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
              """{"query": "SELECT count(*) AS n FROM conc_cpu"}""", UTF_8))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        val m = """"n":(\d+)""".r.findFirstMatchIn(r.body())
        m.map(x => Right(x.group(1).toLong))
          .getOrElse(Left(r.body().take(200)))
      }
    }
    // PG DDL client on an unrelated table through the shared session
    val dd = thread("pg-ddl") {
      val c = new PgClient(pg.boundPort)
      c.startup()
      try {
        val (_, cerr) = c.query(
          "CREATE TABLE conc_ddl (timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, " +
            "host STRING TAG, v DOUBLE)")
        assert(cerr == null, String.valueOf(cerr))
        for (i <- 0 until 10) {
          val (_, ierr) = c.query(
            s"INSERT INTO conc_ddl (timestamp, host, v) VALUES (${t0 + i}, 'h$i', $i.5)")
          assert(ierr == null, String.valueOf(ierr))
        }
        val (rows, qerr) = c.query("SELECT count(*) AS n FROM conc_ddl")
        assert(qerr == null && rows.head.head.toLong == 10L)
      } finally c.close()
    }

    start.countDown()
    Seq(wa, wb, rg, rp, rm, rh, dd).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()

    // end-state consistency through BOTH protocols
    val expected = 2L * batches * rowsPerBatch
    val gc = new GrpcWireClient(grpc.boundPort)
    val pc = new PgClient(pg.boundPort); pc.startup()
    try {
      assert(grpcCount(gc, "SELECT count(*) AS n FROM conc_cpu") == Right(expected))
      val (rows, err) = pc.query("SELECT count(*) AS n FROM conc_cpu")
      assert(err == null && rows.head.head.toLong == expected)
      // every column either writer introduced is in the catalog
      val cols = engine.catalog.get("conc_cpu").columns.map(_.name).toSet
      assert(Set("timestamp", "host", "usage", "ext_a", "ext_b").subsetOf(cols), cols)
      // no silently-dropped field values: ext_b was present in ALL of B's
      // rows (the create-race loser scenario), ext_a in A's batches >= 3
      assert(grpcCount(gc,
        "SELECT count(ext_b) AS n FROM conc_cpu") ==
        Right(batches * rowsPerBatch.toLong))
      assert(grpcCount(gc,
        "SELECT count(ext_a) AS n FROM conc_cpu") ==
        Right((batches - 3) * rowsPerBatch.toLong))
      // value integrity: sum(usage) = A rows (1.0 + i) + B rows (2.0 + i)
      val perBatch = (0 until rowsPerBatch).map(_.toDouble).sum
      val expectedUsage =
        batches * (rowsPerBatch * 1.0 + perBatch) +
        batches * (rowsPerBatch * 2.0 + perBatch)
      val (srows, serr) = pc.query(
        "SELECT CAST(sum(usage) AS BIGINT) AS s FROM conc_cpu")
      assert(serr == null && srows.head.head.toLong == expectedUsage.toLong)
    } finally {
      gc.close(); pc.close(); grpc.stop(); pg.stop(); my.stop(); http.stop()
    }
  }

  /** Create/widen races through ALL FOUR protocols at once: gRPC Write and
    * HTTP OpenTSDB put both auto-create/auto-ADD (the reference's storage
    * write + put ingest), while MySQL and PG clients race CREATE TABLE IF
    * NOT EXISTS + ALTER ADD COLUMN + INSERT on the same table. Whichever
    * client wins the create, every column any writer introduced must land
    * in the catalog, no field value may be silently dropped, and the
    * per-writer row/value accounting must hold exactly. (Round 6 fixed
    * three real races in exactly this code — synchronized catalog.create,
    * idempotent ensure-schema via alterAddColumnsIfAbsent, append under a
    * schema widened between batch build and lock acquisition; this drives
    * them through the remaining two protocols.) */
  test("create/widen race via gRPC, OpenTSDB put, MySQL and PG writers") {
    val engine = new TsdbEngine(spark, tmpDir("conc-mp"))
    val grpc = new GraftGrpcServer(engine).start()
    val pg = new GraftPgServer(engine).start()
    val my = new GraftMysqlServer(engine).start()
    val http = new GraftHttpServer(engine).start()
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writersDone = new CountDownLatch(4)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    val t0 = 1704067200000L
    val batches = 8
    val rowsPerBatch = 5
    val sqlRows = 20
    // DISJOINT (host, ts) keys per writer: auto-created tables dedup on
    // (tsid, timestamp), so colliding keys would collapse rows
    val wg = thread("writer-grpc") {
      val c = new GrpcWireClient(grpc.boundPort)
      try {
        for (b <- 0 until batches) {
          val fields = if (b < 3) Seq("value" -> 3.0)
            else Seq("value" -> 3.0, "ext_g" -> 10.0)
          assert(grpcWrite(c, "conc_mp", s"g$b", fields,
            t0 + b * 100000L, rowsPerBatch) == rowsPerBatch)
        }
      } finally { c.close(); writersDone.countDown() }
    }
    val wo = thread("writer-put") {
      val hc = java.net.http.HttpClient.newHttpClient()
      try {
        for (b <- 0 until batches) {
          val pts = (0 until rowsPerBatch).map { i =>
            s"""{"metric":"conc_mp","timestamp":${t0 + 10000L + b * 100000L + i * 1000L},""" +
              s""""value":1.25,"tags":{"host":"p$b","dc":"d${b % 2}"}}"""
          }.mkString("[", ",", "]")
          val r = hc.send(java.net.http.HttpRequest
              .newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${http.boundPort}/opentsdb/api/put"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(pts, UTF_8))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          assert(r.statusCode() == 204, s"put: ${r.statusCode()} ${r.body()}")
        }
      } finally writersDone.countDown()
    }
    // SQL writers: CREATE IF NOT EXISTS may lose to an auto-create with a
    // DIFFERENT column set → the writer's extra column must then land via
    // ALTER ADD (tolerating "exists" if its own create won or the other
    // SQL writer added first — each column is added by exactly one client,
    // but create/alter interleave freely)
    def sqlWriter(exec: String => Option[String], extCol: String,
        hostPfx: String, tsOff: Long, vOff: Double): Unit = {
      exec("CREATE TABLE IF NOT EXISTS conc_mp (" +
        "timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, host STRING TAG, " +
        s""""value" DOUBLE, $extCol DOUBLE)""")
        .foreach(e => throw new AssertionError(s"create: $e"))
      exec(s"ALTER TABLE conc_mp ADD COLUMN $extCol DOUBLE").foreach { e =>
        assert(e.toLowerCase.contains("exist") || e.toLowerCase.contains("duplicate"),
          s"alter: $e")
      }
      for (i <- 0 until sqlRows) {
        val r = exec(s"""INSERT INTO conc_mp (timestamp, host, "value", $extCol) """ +
          s"VALUES (${t0 + tsOff + i * 1000L}, '$hostPfx$i', ${i + vOff}, 7.0)")
        r.foreach(e => throw new AssertionError(s"insert: $e"))
      }
    }
    val wm = thread("writer-mysql") {
      val c = new MyClient(my.boundPort)
      c.handshake()
      try sqlWriter(sql => c.queryOne(sql).left.toOption,
        "ext_m", "m", 20000L, 0.0)
      finally { c.close(); writersDone.countDown() }
    }
    val wp = thread("writer-pg") {
      val c = new PgClient(pg.boundPort)
      c.startup()
      try sqlWriter(sql => Option(c.query(sql)._2), "ext_p", "q", 30000L, 0.5)
      finally { c.close(); writersDone.countDown() }
    }
    // one monotone reader through HTTP while all four writers run
    val rh = thread("reader-http") {
      val hc = java.net.http.HttpClient.newHttpClient()
      var last = 0L
      while (writersDone.getCount > 0) {
        val r = hc.send(java.net.http.HttpRequest
            .newBuilder(java.net.URI.create(
              s"http://127.0.0.1:${http.boundPort}/sql"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
              """{"query": "SELECT count(*) AS n FROM conc_mp"}""", UTF_8))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        """"n":(\d+)""".r.findFirstMatchIn(r.body()).foreach { m =>
          val n = m.group(1).toLong
          assert(n >= last, s"count went backwards: $last -> $n")
          last = n
        }
      }
    }

    start.countDown()
    Seq(wg, wo, wm, wp, rh).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()

    val gc = new GrpcWireClient(grpc.boundPort)
    try {
      val expected = 2L * batches * rowsPerBatch + 2L * sqlRows
      assert(grpcCount(gc, "SELECT count(*) AS n FROM conc_mp") == Right(expected))
      // every column ANY writer introduced is in the catalog
      val cols = engine.catalog.get("conc_mp").columns.map(_.name).toSet
      assert(Set("timestamp", "host", "value", "ext_g", "dc",
        "ext_m", "ext_p").subsetOf(cols), cols)
      // per-writer column accounting: nothing silently dropped
      assert(grpcCount(gc, "SELECT count(ext_g) AS n FROM conc_mp") ==
        Right((batches - 3) * rowsPerBatch.toLong))
      assert(grpcCount(gc, "SELECT count(dc) AS n FROM conc_mp") ==
        Right(batches * rowsPerBatch.toLong))
      assert(grpcCount(gc, "SELECT count(ext_m) AS n FROM conc_mp") ==
        Right(sqlRows.toLong))
      assert(grpcCount(gc, "SELECT count(ext_p) AS n FROM conc_mp") ==
        Right(sqlRows.toLong))
      // value integrity across all four write paths (all values are
      // multiples of 0.25 → the double sum is exact)
      val gSum = batches * (rowsPerBatch * 3.0 + (0 until rowsPerBatch).sum)
      val oSum = batches * rowsPerBatch * 1.25
      val mSum = (0 until sqlRows).sum.toDouble
      val pSum = (0 until sqlRows).map(_ + 0.5).sum
      // backticks: the SELECT runs through Spark SQL, where double quotes
      // make a string literal (the INSERTs above run through DdlParser,
      // which accepts either quoting)
      assert(grpcCount(gc,
        "SELECT CAST(sum(`value`) * 4 AS BIGINT) AS n FROM conc_mp") ==
        Right(((gSum + oSum + mSum + pSum) * 4).toLong))
    } finally {
      gc.close(); grpc.stop(); pg.stop(); my.stop(); http.stop()
    }
  }

  /** Readers racing the compaction generation swap: compact() writes the
    * new generation, atomically repoints the manifest, and GCs only
    * generations BOTH older than the one it superseded AND superseded
    * more than genGraceMs ago (one-cycle + wall-clock grace for in-flight
    * readers — two quick flips must not delete files under a slow
    * reader's pinned listing). Appends, repeated compactions, and
    * two lock-free readers run together: no read may fail (the classic
    * deleted-file hazard) and counts may never go backwards. */
  test("readers survive concurrent appends + repeated compactions") {
    import org.apache.spark.sql.functions.{col, lit}
    val engine = new TsdbEngine(spark, tmpDir("conc-compact"))
    engine.execute("CREATE TABLE cc_t (timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, " +
      "host STRING TAG, v DOUBLE) WITH (update_mode = 'append')")
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writerDone = new CountDownLatch(1)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    val t0 = 1704067200000L
    val batches = 12
    val rowsPerBatch = 20
    import spark.implicits._

    val wa = thread("appender") {
      try {
        for (b <- 0 until batches) {
          val df = (0 until rowsPerBatch)
            .map(i => (t0 + (b * rowsPerBatch + i) * 1000L, s"h${b % 3}", 1.0 + i))
            .toDF("ms", "host", "v")
            .select(org.apache.spark.sql.functions.expr("timestamp_micros(ms * 1000)").as("timestamp"),
              col("host"), col("v"))
          engine.append("cc_t", df)
        }
      } finally writerDone.countDown()
    }
    val cp = thread("compactor") {
      // keep compacting until the appender finishes, then once more so
      // the final layout is a compacted generation
      while (writerDone.getCount > 0) engine.compact("cc_t")
      engine.compact("cc_t")
    }
    def countReader(): Unit = {
      var last = 0L
      while (writerDone.getCount > 0) {
        val n = engine.read("cc_t").count() // lock-free read mid-swap
        assert(n >= last, s"count went backwards: $last -> $n")
        last = n
      }
    }
    val r1 = thread("reader-1")(countReader())
    val r2 = thread("reader-2")(countReader())

    start.countDown()
    Seq(wa, cp, r1, r2).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()

    val expected = batches.toLong * rowsPerBatch
    assert(engine.read("cc_t").count() == expected)
    // value integrity through the rewrites
    val sum = engine.read("cc_t")
      .agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0)
    val perBatch = (0 until rowsPerBatch).map(i => 1.0 + i).sum
    assert(sum == batches * perBatch, s"sum=$sum")
    // compaction actually cycled generations during the run
    val (gen, _) = engine.catalog.compactionState("cc_t")
    assert(gen >= 2, s"expected several generations, got $gen")
  }

  /** Overwrite-mode dedup racing compaction: writers keep REWRITING the
    * same primary keys while the compactor repeatedly rewrites history
    * below its sequence floor. Newest-sequence-wins must hold at every
    * read and at the end — a reader may never observe an older version
    * resurrected by a concurrent rewrite. */
  test("overwrite dedup holds while compaction races re-writers") {
    import org.apache.spark.sql.functions.col
    val engine = new TsdbEngine(spark, tmpDir("conc-ow"))
    engine.execute("CREATE TABLE ow_t (timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, " +
      "host STRING TAG, v BIGINT) WITH (update_mode = 'overwrite')")
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writerDone = new CountDownLatch(1)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    import spark.implicits._
    val t0 = 1704067200000L
    val hosts = 5
    val rounds = 10

    // each round rewrites the SAME (ts, host) keys with v = round
    val wa = thread("rewriter") {
      try {
        for (r <- 1 to rounds) {
          val df = (0 until hosts)
            .map(h => (t0, s"h$h", r.toLong))
            .toDF("ms", "host", "v")
            .select(org.apache.spark.sql.functions.expr("timestamp_micros(ms * 1000)").as("timestamp"),
              col("host"), col("v"))
          engine.append("ow_t", df)
        }
      } finally writerDone.countDown()
    }
    val cp = thread("compactor") {
      while (writerDone.getCount > 0) engine.compact("ow_t")
      engine.compact("ow_t")
    }
    val rd = thread("reader") {
      var lastMin = 0L
      while (writerDone.getCount > 0) {
        val rows = engine.read("ow_t").select("host", "v")
          .as[(String, Long)].collect()
        // exactly one version per key, and versions never move backwards
        assert(rows.map(_._1).distinct.length == rows.length,
          s"duplicate keys visible: ${rows.toSeq}")
        if (rows.nonEmpty) {
          val minV = rows.map(_._2).min
          assert(minV >= lastMin, s"version went backwards: $lastMin -> $minV")
          lastMin = minV
        }
      }
    }

    start.countDown()
    Seq(wa, cp, rd).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()

    val fin = engine.read("ow_t").select("host", "v")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(fin == (0 until hosts).map(h => (s"h$h", rounds.toLong)), fin.toString)
  }

  /** The dedup-skip fast path's fingerprint guard, hammered directly:
    * read() decides it may SKIP the newest-seq-wins window only when the
    * table is fully compacted AND `readFingerprint` (dataGen,
    * compactedSeq, nextSeq) is identical before and after the scan pins
    * its file listing — otherwise a rewrite committing mid-listing could
    * surface BOTH versions of a key with no window to collapse them
    * (round 6's check-then-list race fix). Writers keep rewriting the
    * same keys while a compactor keeps swapping generations; ~100
    * read interleavings must each observe exactly one version per key,
    * with per-key versions non-decreasing. */
  test("dedup-skip fingerprint guard: no duplicate/stale keys across reads") {
    import org.apache.spark.sql.functions.col
    val engine = new TsdbEngine(spark, tmpDir("conc-fp"))
    engine.execute("CREATE TABLE fp_t (timestamp TIMESTAMP NOT NULL TIMESTAMP KEY, " +
      "host STRING TAG, v BIGINT) WITH (update_mode = 'overwrite')")
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writerDone = new CountDownLatch(1)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    import spark.implicits._
    val t0 = 1704067200000L
    val hosts = 4
    val rounds = 25
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)

    val wa = thread("rewriter") {
      try {
        for (r <- 1 to rounds) {
          val df = (0 until hosts)
            .map(h => (t0, s"h$h", r.toLong))
            .toDF("ms", "host", "v")
            .select(org.apache.spark.sql.functions.expr("timestamp_micros(ms * 1000)").as("timestamp"),
              col("host"), col("v"))
          engine.append("fp_t", df)
          // let the compactor often reach the fully-compacted state the
          // skip path needs before the next rewrite dirties it
          Thread.sleep(5)
        }
      } finally writerDone.countDown()
    }
    val cp = thread("compactor") {
      while (writerDone.getCount > 0) engine.compact("fp_t")
      engine.compact("fp_t")
    }
    def reader(): Unit = {
      val lastSeen = scala.collection.mutable.Map.empty[String, Long]
      while (writerDone.getCount > 0 || reads.get() < 100) {
        val rows = engine.read("fp_t").select("host", "v")
          .as[(String, Long)].collect()
        reads.incrementAndGet()
        // exactly one version per key — a skip decision that raced a
        // rewrite would surface two
        assert(rows.map(_._1).distinct.length == rows.length,
          s"duplicate keys visible: ${rows.toSeq.sortBy(_._1)}")
        rows.foreach { case (h, v) =>
          val prev = lastSeen.getOrElse(h, 0L)
          assert(v >= prev, s"key $h version went backwards: $prev -> $v")
          lastSeen(h) = v
        }
        if (writerDone.getCount == 0 && reads.get() >= 100) return
      }
    }
    val r1 = thread("reader-1")(reader())
    val r2 = thread("reader-2")(reader())

    start.countDown()
    Seq(wa, cp, r1, r2).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()
    assert(reads.get() >= 100, s"only ${reads.get()} read interleavings")

    val fin = engine.read("fp_t").select("host", "v")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(fin == (0 until hosts).map(h => (s"h$h", rounds.toLong)), fin.toString)
  }

  /** The same guard for the buffered read without the window: line
    * protocol re-writes every key into the write buffer while a maintainer
    * alternates compaction (after which buffered rows are read as the
    * buffer's newest row per key over key-excluded files) and flush (after
    * which the window is back). Every read must see one version per key,
    * per-key versions never going back, and some reads must have been
    * planned without the window. */
  test("buffered read without the window: no duplicate/stale keys while compact and flush race") {
    import graft.influx.LineProtocol
    val engine = new TsdbEngine(spark, tmpDir("conc-buf"))
    engine.execute("CREATE TABLE buf_t (ts TIMESTAMP NOT NULL TIMESTAMP KEY, " +
      "host STRING TAG, v BIGINT) WITH (update_mode = 'overwrite', segment_duration = '1h')")
    val failure = new AtomicReference[Throwable](null)
    val start = new CountDownLatch(1)
    val writerDone = new CountDownLatch(1)
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        start.await()
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, name)
      t.start(); t
    }
    import spark.implicits._
    val tNs = 1704067200000L * 1000000L
    val hosts = 4
    val rounds = 30
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val unwindowed = new java.util.concurrent.atomic.AtomicInteger(0)

    val wa = thread("lp-writer") {
      try {
        for (r <- 1 to rounds) {
          LineProtocol.ingest(engine, (0 until hosts).map(h => s"buf_t,host=h$h v=${r}i $tNs"))
          Thread.sleep(5)
        }
      } finally writerDone.countDown()
    }
    val mt = thread("maintainer") {
      var k = 0
      while (writerDone.getCount > 0) {
        if (k % 2 == 0) engine.compact("buf_t") else engine.flush("buf_t")
        k += 1
        Thread.sleep(20)
      }
      engine.compact("buf_t")
    }
    def reader(): Unit = {
      val lastSeen = scala.collection.mutable.Map.empty[String, Long]
      while (writerDone.getCount > 0 || reads.get() < 100) {
        val df = engine.read("buf_t")
        val plan = df.queryExecution.optimizedPlan
        // buffered rows (the buffer's scan) read with no window over them
        if (plan.collectFirst { case b: org.apache.spark.sql.execution.LogicalRDD => b }.nonEmpty &&
            plan.collectFirst {
              case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
          unwindowed.incrementAndGet()
        val rows = df.select("host", "v").as[(String, Long)].collect()
        reads.incrementAndGet()
        assert(rows.map(_._1).distinct.length == rows.length,
          s"duplicate keys visible: ${rows.toSeq.sortBy(_._1)}")
        rows.foreach { case (h, v) =>
          val prev = lastSeen.getOrElse(h, 0L)
          assert(v >= prev, s"key $h version went backwards: $prev -> $v")
          lastSeen(h) = v
        }
        if (writerDone.getCount == 0 && reads.get() >= 100) return
      }
    }
    val r1 = thread("reader-1")(reader())
    val r2 = thread("reader-2")(reader())

    start.countDown()
    Seq(wa, mt, r1, r2).foreach(_.join(TimeUnit.MINUTES.toMillis(5)))
    if (failure.get() != null) throw failure.get()
    assert(reads.get() >= 100, s"only ${reads.get()} read interleavings")
    assert(unwindowed.get() > 0, "no read of buffered rows was planned without the window")

    val fin = engine.read("buf_t").select("host", "v")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(fin == (0 until hosts).map(h => (s"h$h", rounds.toLong)), fin.toString)
  }
}
