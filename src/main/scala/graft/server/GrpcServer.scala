package graft.server

import graft.engine.TsdbEngine
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, IOException}
import java.net.Socket
import scala.collection.mutable

/** gRPC storage service for the engine — the Spark twin of the reference's
  * primary SDK ingest/query protocol
  * (`server/src/grpc/storage_service/mod.rs:70,230,261`:
  * `write` / `sql_query` over tonic). Serves real gRPC-over-HTTP/2 on a
  * TCP socket with a hand-rolled HTTP/2 + HPACK + protobuf stack — the
  * same byte-level wire-server pattern as [[GraftMysqlServer]] /
  * [[GraftPgServer]], one layer lower.
  *
  * Scope mirrors the reference surface a migrating SDK app hits first:
  *   - `/storage.StorageService/SqlQuery` — unary SQL; DML/DDL answer
  *     `affected_rows` (u32, proxy/src/grpc/sql_query.rs:322), SELECTs
  *     answer an `ArrowPayload` whose record_batches carry Arrow IPC
  *     bytes with Compression=NONE (arrow_ext CompressionMethod::None is
  *     the reference's uncompressed mode)
  *   - `/storage.StorageService/StreamSqlQuery` — same request, but the
  *     response is SERVER-STREAMED: one self-contained SqlQueryResponse
  *     per record batch of `streamBatchRows` rows
  *     (proxy/src/grpc/sql_query.rs:190-209 emits one response per
  *     RecordBatch; affected-rows outputs stream a single response)
  *   - `/storage.StorageService/Write` — tag/field-indexed series entries
  *     with the reference's auto-create/auto-ADD-column semantics
  *     (proxy/src/write.rs:176-260: unseen table → CREATE with timestamp
  *     key + TAG columns, unseen columns → ALTER ADD), timestamp key
  *     named `timestamp` (common_types/schema.rs:227), `update_mode =
  *     append` so every written point survives
  *   - `/storage.StorageService/StreamWrite` — CLIENT-STREAMED WriteRequest
  *     messages answered by one WriteResponse carrying the summed success
  *     count; processing stops at the first failed batch
  *     (storage_service/mod.rs:356-421)
  *   - `/storage.StorageService/Route` — answers each EXISTING table with
  *     this server's own endpoint (standalone deployment: the
  *     single-node twin of router/src/rule_based.rs:170-185, which routes
  *     to the shard's node; unknown tables are omitted, the no-rules
  *     `Ok(Vec::new())` path)
  *   - `/storage.StorageService/PromRemoteQuery` — Prometheus remote-read:
  *     the request wraps one prompb `Query` (proxy/src/http/prom.rs:185),
  *     `__name__` selects the table (prom.rs:423 find_metric), matchers
  *     filter, and the response wraps a prompb `QueryResult` of raw
  *     samples grouped per series (prom.rs:352-440 Converter). Series and
  *     labels are emitted in deterministic sorted order (the reference
  *     iterates a HashMap — order there is unspecified, so sorting is a
  *     compatible refinement)
  *   - other service methods answer gRPC UNIMPLEMENTED(12), like a
  *     reference build without the corresponding feature flags
  *
  * HTTP/2 subset (documented contract, asserted by GrpcServerSpec's
  * hand-rolled client): one HEADERS frame per request (END_HEADERS set,
  * no CONTINUATION), HPACK without Huffman-coded string literals, flow
  * control windows assumed large enough for the response (the spec client
  * announces 2^31-1). These are wire-format simplifications only — frames,
  * HPACK static/dynamic tables, gRPC length-prefixed messages, and
  * trailers are the real thing.
  *
  * Scale posture: identical to the other wire servers — a stateless front
  * that plans one Spark job per request; fan-out belongs to the cluster.
  */
final class GraftGrpcServer(
    engine: TsdbEngine, port: Int = 0, streamBatchRows: Int = 4096) {

  private val loop = new AcceptLoop(port, serve)

  def boundPort: Int = loop.boundPort

  def start(): GraftGrpcServer = { loop.start(); this }

  def stop(): Unit = loop.stop()

  // --------------------------------------------------------------- HTTP/2

  private val Preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII")

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      val pre = new Array[Byte](Preface.length)
      in.readFully(pre)
      if (!java.util.Arrays.equals(pre, Preface)) return
      writeFrame(out, 0x4, 0, 0, Array.emptyByteArray) // our SETTINGS
      out.flush()
      val hpack = new Http2.HpackDecoder
      val paths = mutable.Map.empty[Int, String]
      val bodies = mutable.Map.empty[Int, java.io.ByteArrayOutputStream]
      while (true) {
        val (len, tpe, flags, sid) = readFrameHeader(in)
        val payload = new Array[Byte](len)
        in.readFully(payload)
        tpe match {
          case 0x4 => // SETTINGS: ack non-acks
            if ((flags & 0x1) == 0) { writeFrame(out, 0x4, 0x1, 0, Array.emptyByteArray); out.flush() }
          case 0x6 => // PING → ack
            if ((flags & 0x1) == 0) { writeFrame(out, 0x6, 0x1, 0, payload); out.flush() }
          case 0x8 => () // WINDOW_UPDATE: windows assumed ample (scaladoc)
          case 0x1 => // HEADERS (END_HEADERS required by our contract)
            require((flags & 0x4) != 0, "CONTINUATION not supported")
            // RFC 7540 §6.2: [pad len (PADDED)] [priority (PRIORITY)]
            // [header block] [padding] — pad length is unsigned and the
            // padding TRAILS the header block.
            val padLen = if ((flags & 0x8) != 0) payload(0) & 0xFF else 0
            var off = if ((flags & 0x8) != 0) 1 else 0
            if ((flags & 0x20) != 0) off += 5 // PRIORITY fields
            val dataLen = len - off - padLen
            require(dataLen >= 0, "padding exceeds frame payload")
            val hdrs = hpack.decode(payload, off, off + dataLen)
            hdrs.find(_._1 == ":path").foreach(p => paths(sid) = p._2)
            if ((flags & 0x1) != 0) dispatch(out, sid, paths, bodies) // END_STREAM
          case 0x0 => // DATA (RFC 7540 §6.1: optional pad len + data + padding)
            val padLen = if ((flags & 0x8) != 0) payload(0) & 0xFF else 0
            val off = if ((flags & 0x8) != 0) 1 else 0
            require(len - off - padLen >= 0, "padding exceeds frame payload")
            bodies.getOrElseUpdate(sid, new java.io.ByteArrayOutputStream())
              .write(payload, off, len - off - padLen)
            if ((flags & 0x1) != 0) dispatch(out, sid, paths, bodies)
          case 0x3 => paths.remove(sid); bodies.remove(sid) // RST_STREAM
          case 0x7 => return // GOAWAY
          case _   => ()     // ignore unknown frame types (spec-compliant)
        }
      }
    } catch { case _: EOFException | _: IOException => () }
    finally { try sock.close() catch { case _: IOException => () } }
  }

  private def readFrameHeader(in: DataInputStream): (Int, Int, Int, Int) = {
    val len = ((in.readUnsignedByte() << 16) | (in.readUnsignedByte() << 8) |
      in.readUnsignedByte())
    val tpe = in.readUnsignedByte()
    val flags = in.readUnsignedByte()
    val sid = in.readInt() & 0x7FFFFFFF
    (len, tpe, flags, sid)
  }

  private def writeFrame(
      out: java.io.OutputStream, tpe: Int, flags: Int, sid: Int,
      payload: Array[Byte]): Unit = {
    val len = payload.length
    out.write((len >>> 16) & 0xFF); out.write((len >>> 8) & 0xFF); out.write(len & 0xFF)
    out.write(tpe); out.write(flags)
    out.write((sid >>> 24) & 0x7F); out.write((sid >>> 16) & 0xFF)
    out.write((sid >>> 8) & 0xFF); out.write(sid & 0xFF)
    out.write(payload)
  }

  // ----------------------------------------------------------------- gRPC

  /** split a request body into its length-prefixed gRPC messages (one for
    * unary calls, several for a client-streamed call — each message is
    * 1-byte compressed flag + u32 big-endian length + payload) */
  /** thrown when a client sends a compressed gRPC message; we advertise no
    * grpc-encoding, so answer UNIMPLEMENTED(12) instead of misparsing the
    * compressed bytes as protobuf */
  private final class CompressedMessage extends RuntimeException

  private def grpcMessages(body: Array[Byte]): Seq[Array[Byte]] = {
    val msgs = mutable.ArrayBuffer.empty[Array[Byte]]
    var off = 0
    while (off + 5 <= body.length) {
      if (body(off) != 0) throw new CompressedMessage
      val n = ((body(off + 1) & 0xFF) << 24) | ((body(off + 2) & 0xFF) << 16) |
        ((body(off + 3) & 0xFF) << 8) | (body(off + 4) & 0xFF)
      msgs += java.util.Arrays.copyOfRange(body, off + 5, off + 5 + n)
      off += 5 + n
    }
    msgs.toSeq
  }

  private def dispatch(
      out: java.io.OutputStream, sid: Int,
      paths: mutable.Map[Int, String],
      bodies: mutable.Map[Int, java.io.ByteArrayOutputStream]): Unit = {
    val path = paths.remove(sid).getOrElse("")
    val body = bodies.remove(sid).map(_.toByteArray).getOrElse(Array.emptyByteArray)
    lazy val msgs = grpcMessages(body)
    def first: Array[Byte] = msgs.headOption.getOrElse(Array.emptyByteArray)
    val (grpcStatus, grpcMsg, resps): (Int, String, Seq[Array[Byte]]) =
      try path match {
        case "/storage.StorageService/SqlQuery" =>
          (0, "", Seq(handleSql(Pb.parseSqlQueryRequest(first).sql, stream = false).head))
        case "/storage.StorageService/StreamSqlQuery" =>
          (0, "", handleSql(Pb.parseSqlQueryRequest(first).sql, stream = true))
        case "/storage.StorageService/Write" =>
          (0, "", Seq(handleWrite(Seq(Pb.parseWriteRequest(first)))))
        case "/storage.StorageService/StreamWrite" =>
          (0, "", Seq(handleWrite(msgs.map(Pb.parseWriteRequest))))
        case "/storage.StorageService/Route" =>
          (0, "", Seq(handleRoute(Pb.parseRouteRequest(first))))
        case "/storage.StorageService/PromRemoteQuery" =>
          (0, "", Seq(handlePromRemoteQuery(first)))
        case "/storage.StorageService/PromQuery" =>
          (0, "", Seq(handlePromQuery(first)))
        case other => (12, s"method $other is not implemented", Nil)
      } catch {
        case _: CompressedMessage =>
          (12, "compressed grpc messages are not supported (no grpc-encoding advertised)", Nil)
        case e: Throwable =>
        // reference behavior: server-side failures still answer a response
        // message with a non-OK header code, grpc-status stays 0. A
        // header-only message ({header=1}) parses under EVERY response
        // type in storage.proto (field 1 is the header in all of them).
        (0, "", Seq(Pb.writeSqlResponseAffected(500,
          Option(e.getMessage).getOrElse(e.toString).take(512), 0L)))
      }
    val enc = new Http2.HpackEncoder
    if (grpcStatus == 12) {
      writeFrame(out, 0x1, 0x4 | 0x1, sid, enc.encode(Seq(
        (":status", "200"), ("content-type", "application/grpc"),
        ("grpc-status", grpcStatus.toString), ("grpc-message", grpcMsg))))
      out.flush(); return
    }
    writeFrame(out, 0x1, 0x4, sid, enc.encode(Seq(
      (":status", "200"), ("content-type", "application/grpc"))))
    resps.foreach { resp =>
      val framed = new Array[Byte](resp.length + 5)
      framed(1) = ((resp.length >>> 24) & 0xFF).toByte
      framed(2) = ((resp.length >>> 16) & 0xFF).toByte
      framed(3) = ((resp.length >>> 8) & 0xFF).toByte
      framed(4) = (resp.length & 0xFF).toByte
      System.arraycopy(resp, 0, framed, 5, resp.length)
      var off = 0
      while (off < framed.length) { // respect SETTINGS_MAX_FRAME_SIZE default
        val n = math.min(16384, framed.length - off)
        writeFrame(out, 0x0, 0, sid, java.util.Arrays.copyOfRange(framed, off, off + n))
        off += n
      }
      out.flush() // one flush per streamed message: responses go out as computed
    }
    writeFrame(out, 0x1, 0x4 | 0x1, sid,
      enc.encode(Seq(("grpc-status", "0")))) // trailers
    out.flush()
  }

  // ------------------------------------------------------------- handlers

  /** `stream = false`: one response with the full arrow payload.
    * `stream = true`: one response per `streamBatchRows`-row batch, each a
    * self-contained ArrowPayload (affected-rows outputs are a single
    * response either way, like the reference's stream::once path). */
  private def handleSql(sql: String, stream: Boolean): Seq[Array[Byte]] = {
    val df = engine.execute(sql)
    if (df.schema.length == 1 && df.schema.head.name == "affected_rows") {
      val n = df.collect().headOption.map(_.getLong(0)).getOrElse(0L)
      Seq(Pb.writeSqlResponseAffected(200, "", n))
    } else if (stream) {
      val parts = org.apache.spark.sql.GraftBridge
        .toArrowStreams(df, maxRecordsPerBatch = streamBatchRows.toLong)
      if (parts.isEmpty) // empty result: still answer one (schema-only) payload
        Seq(Pb.writeSqlResponseArrow(200,
          Seq(org.apache.spark.sql.GraftBridge.toArrowStream(df))))
      else parts.map(p => Pb.writeSqlResponseArrow(200, Seq(p)))
    } else Seq(Pb.writeSqlResponseArrow(200,
      Seq(org.apache.spark.sql.GraftBridge.toArrowStream(df))))
  }

  /** Route: standalone single-node deployment — every existing table lives
    * here, so each known table routes to this server's own endpoint. */
  private def handleRoute(req: Pb.RouteRequest): Array[Byte] = {
    val routes = req.tables.filter(engine.catalog.exists).map(t =>
      Pb.RoutePb(t, "127.0.0.1", boundPort))
    Pb.writeRouteResponse(200, "", routes)
  }

  /** Prometheus remote read over gRPC: one prompb Query in, one prompb
    * QueryResult out (raw samples per series, no alignment). */
  private def handlePromRemoteQuery(msg: Array[Byte]): Array[Byte] = {
    import graft.promql.{EqMatcher, Matcher, NeqMatcher, NreMatcher, ReMatcher}
    val (_, q) = Pb.parsePromRemoteQueryRequest(msg)
    val matchers: Seq[Matcher] = q.matchers.map { m =>
      m.tpe match {
        case 0 => EqMatcher(m.name, m.value)
        case 1 => NeqMatcher(m.name, m.value)
        case 2 => ReMatcher(m.name, m.value)
        case 3 => NreMatcher(m.name, m.value)
        case t => throw new IllegalArgumentException(s"unknown matcher type $t")
      }
    }
    val metric = matchers.collectFirst { case EqMatcher("__name__", v) => v }
      .getOrElse(throw new IllegalArgumentException("Metric name is not found"))
    val resolve: String => graft.promql.PromQL.SeriesTable = { name =>
      val schema = engine.catalog.get(name)
      val tags = schema.columns.filter(_.isTag).map(_.name)
      graft.promql.PromQL.SeriesTable(
        engine.read(name), schema.timestampKey, "value", tags)
    }
    val df = graft.promql.PromQL.remoteRead(resolve, matchers, q.startMs, q.endMs)
    val tagCols = df.columns.dropRight(2).toSeq // remoteRead: tags..., ts, value
    // deterministic series assembly: rows arrive tag-sorted from remoteRead
    val rows = df.collect()
    val series = mutable.LinkedHashMap.empty[Seq[String], mutable.ArrayBuffer[Pb.PromSample]]
    rows.foreach { r =>
      val key = tagCols.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i))
      val ts = r.getTimestamp(tagCols.length)
      series.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
        Pb.PromSample(r.getDouble(tagCols.length + 1), ts.getTime)
    }
    val result = series.toSeq.map { case (key, samples) =>
      val labels = tagCols.zip(key).sortBy(_._1)
        .map { case (n, v) => Pb.PromLabel(n, v) } :+
        Pb.PromLabel("__name__", metric)
      Pb.PromSeries(labels, samples.toSeq)
    }
    Pb.writePromRemoteQueryResponse(200, "", result)
  }

  /** gRPC `PromQuery`: the structured-expr PromQL API
    * (proxy/src/grpc/prom_query.rs, lowered-expr protobuf from
    * query_frontend/src/promql/convert.rs). The expr tree maps onto the
    * SAME PromQL AST the string parser produces, so evaluation reuses
    * [[graft.promql.PromQL.evalAst]] — exactly how PromRemoteQuery reuses
    * `remoteRead`. Reference scope: bare selector → raw samples over
    * [start, end] (align left to the caller, convert.rs:188-191); Func
    * (rate/irate/delta/idelta/increase) and Aggr (sum/max/min/count/avg,
    * by/without) evaluate on the align_start..align_end step grid. Binary
    * exprs are rejected like the reference (convert.rs:409-414). */
  private def handlePromQuery(msg: Array[Byte]): Array[Byte] = {
    import graft.promql._
    val (_, exprPb) = Pb.parsePromQueryRequest(msg)

    def quoteAlt(params: Seq[String]): String =
      params.map(java.util.regex.Pattern.quote).mkString("|")
    def matchers(filters: Seq[Pb.PromFilterPb]): Seq[Matcher] =
      filters.map { f =>
        // reference compares only the first operator per tag
        // (convert.rs:494-520 "only compare first op now")
        val c = f.conds.headOption.getOrElse(
          throw new IllegalArgumentException(s"filter ${f.tagKey} has no operator"))
        (c.tpe, c.params) match {
          case (0, Seq(v))  => EqMatcher(f.tagKey, v)
          case (0, vs)      => ReMatcher(f.tagKey, quoteAlt(vs))   // literal IN
          case (1, Seq(v))  => NeqMatcher(f.tagKey, v)
          case (1, vs)      => NreMatcher(f.tagKey, quoteAlt(vs))  // literal NOT IN
          case (2, Seq(re)) => ReMatcher(f.tagKey, re)
          case (3, Seq(re)) => NreMatcher(f.tagKey, re)
          case (t, _) => throw new IllegalArgumentException(s"unknown filter type $t")
        }
      }
    def toSelector(s: Pb.PromSelectorPb, withRange: Boolean): Selector =
      Selector(s.measurement, matchers(s.filters),
        if (withRange && s.range > 0) Some(s.range) else None,
        offsetMs = s.offset)
    val funcs = Set("rate", "irate", "delta", "idelta", "increase")
    val aggs = Set("sum", "max", "min", "count", "avg")
    // (AST, selector) — the selector carries the align grid for EvalParams
    def toAst(e: Pb.PromExprPb, level: Int): (PromExpr, Pb.PromSelectorPb) =
      e match {
        case Pb.PromOperandSelector(sel) =>
          (VectorSelector(toSelector(sel, withRange = false)), sel)
        case Pb.PromSubExprPb(1, op, operands, _, _) => // FUNC
          if (!funcs.contains(op))
            throw new IllegalArgumentException(s"Func $op is not supported yet")
          val sel = operands.headOption match {
            case Some(Pb.PromOperandSelector(s)) => s
            case _ => throw new IllegalArgumentException(
              "first arg of func must be selector") // convert.rs:263-266
          }
          (RangeFunc(op, toSelector(sel, withRange = true)), sel)
        case Pb.PromSubExprPb(0, op, operands, group, without) => // AGGR
          if (!aggs.contains(op))
            throw new IllegalArgumentException(s"aggr $op not supported now")
          val (child, sel) = toAst(operands.headOption.getOrElse(
            throw new IllegalArgumentException("aggr needs an operand")), level + 1)
          (AggExpr(op, group, child, without), sel)
        case Pb.PromSubExprPb(2, _, _, _, _) =>
          throw new IllegalArgumentException(
            "binary Expr not supported") // convert.rs:349-352
        case _ => throw new IllegalArgumentException(
          "scalar value not allowed in plan node") // convert.rs:221-224
      }
    val (ast, sel) = toAst(exprPb, 1)

    val resolve: String => graft.promql.PromQL.SeriesTable = { name =>
      val schema = engine.catalog.get(name)
      val tags = schema.columns.filter(_.isTag).map(_.name)
      graft.promql.PromQL.SeriesTable(
        engine.read(name), schema.timestampKey, sel.field, tags)
    }
    val df = ast match {
      case VectorSelector(s) =>
        // level-1 selector: raw samples over [start, end], no align —
        // "align is done in Prometheus itself" (convert.rs:188-191)
        graft.promql.PromQL.remoteRead(resolve,
          EqMatcher("__name__", s.metric) +: s.matchers, sel.start, sel.end)
      case other =>
        val step = math.max(sel.step, 1L)
        graft.promql.PromQL.evalAst(engine.spark, resolve, other,
          EvalParams(sel.alignStart, sel.alignEnd, step))
    }
    // assemble per-series samples exactly like PromRemoteQuery: the eval
    // frame is (labels..., ts, value), tag-sorted rows
    val names = df.schema.fieldNames
    val labelCols = names.filterNot(n => n == "ts" || n == "value").toSeq
    val tsIdx = names.indexOf("ts"); val vIdx = names.indexOf("value")
    val rows = df.orderBy(
      (labelCols.map(org.apache.spark.sql.functions.col) :+
        org.apache.spark.sql.functions.col("ts")): _*).collect()
    val series = mutable.LinkedHashMap.empty[Seq[String], mutable.ArrayBuffer[Pb.PromSample]]
    rows.foreach { r =>
      val key = labelCols.indices.map { i =>
        val x = r.get(names.indexOf(labelCols(i)))
        if (x == null) "" else x.toString
      }
      series.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
        Pb.PromSample(r.getDouble(vIdx),
          r.getAs[java.sql.Timestamp](tsIdx).getTime)
    }
    val result = series.toSeq.map { case (key, samples) =>
      val labels = labelCols.zip(key).sortBy(_._1)
        .map { case (n, v) => Pb.PromLabel(n, v) }
      Pb.PromSeries(labels, samples.toSeq)
    }
    Pb.writePromQueryResponse(200, "", result)
  }

  private def handleWrite(reqs: Seq[Pb.WriteRequest]): Array[Byte] = {
    var total = 0L
    reqs.foreach { req => total += doWrite(req) } // first failure throws → err header
    Pb.writeWriteResponse(200, "", total, 0L)
  }

  /** returns the success count for one WriteRequest */
  private def doWrite(req: Pb.WriteRequest): Long = {
    engine.limiter.checkInsertRule() // AnyInsert brake (protocol entry)
    import graft.model.{ColumnSpec, DatumKind, UpdateMode}
    var success = 0L
    req.tables.foreach { t =>
      val fieldKind: Map[String, DatumKind.Value] = t.fieldNames.zipWithIndex.map {
        case (fn, i) =>
          val v = t.entries.iterator.flatMap(_.fieldGroups).flatMap(_.fields)
            .find(_.nameIndex == i).map(_.value)
          fn -> (v match {
            case Some(Pb.Value(_, Some(_), _, _)) => DatumKind.String
            case Some(Pb.Value(_, _, Some(_), _)) => DatumKind.Int64
            case Some(Pb.Value(_, _, _, Some(_))) => DatumKind.Boolean
            case _                                => DatumKind.Double
          })
      }.toMap
      val wanted = (t.tagNames.map(k => ColumnSpec(k, DatumKind.String, isTag = true)) ++
        t.fieldNames.map(f => ColumnSpec(f, fieldKind(f)))).distinctBy(_.name)
      // rows: (ts_ms, tag values by name, field values by name)
      val rows: Seq[(Long, Map[String, Any])] = t.entries.flatMap { e =>
        val tagVals: Map[String, Any] = e.tags.map(tag =>
          t.tagNames(tag.nameIndex) -> tag.value.any).toMap
        e.fieldGroups.map { g =>
          val fieldVals: Map[String, Any] = g.fields.map(f =>
            t.fieldNames(f.nameIndex) -> f.value.any).toMap
          (g.timestampMs, tagVals ++ fieldVals)
        }
      }
      if (rows.nonEmpty) {
        // the shared write converts each value to its table column's type
        engine.appendInferring(t.table, "timestamp", UpdateMode.Append, wanted,
          rows.map { case (ms, vals) =>
            (ms * 1000L +: wanted.map(c => vals.getOrElse(c.name, null))).toArray[Any]
          })
        success += rows.length
      }
    }
    success
  }
}

/** Minimal HPACK (RFC 7541): static table, dynamic table, plain (non-
  * Huffman) string literals. Enough for a full request/response cycle
  * between this server and any client that does not Huffman-encode. */
object Http2 {

  /** RFC 7541 Appendix A static table. */
  val StaticTable: IndexedSeq[(String, String)] = IndexedSeq(
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""))

  final class HpackDecoder {
    private val dynamic = mutable.ArrayBuffer.empty[(String, String)]

    private def entry(idx: Int): (String, String) =
      if (idx <= StaticTable.length) StaticTable(idx - 1)
      else dynamic(idx - StaticTable.length - 1)

    def decode(b: Array[Byte], from: Int, to: Int): Seq[(String, String)] = {
      var pos = from
      def int(prefixBits: Int): Int = {
        val max = (1 << prefixBits) - 1
        var v = b(pos) & max; pos += 1
        if (v == max) {
          var shift = 0; var c = 0
          do {
            c = b(pos) & 0xFF; pos += 1
            v += (c & 0x7F) << shift; shift += 7
          } while ((c & 0x80) != 0)
        }
        v
      }
      def str(): String = {
        val huff = (b(pos) & 0x80) != 0
        val n = int(7)
        require(!huff, "Huffman-coded literals not supported")
        val s = new String(b, pos, n, "UTF-8"); pos += n; s
      }
      val out = mutable.ArrayBuffer.empty[(String, String)]
      while (pos < to) {
        val first = b(pos) & 0xFF
        if ((first & 0x80) != 0) {              // indexed
          out += entry(int(7))
        } else if ((first & 0xC0) == 0x40) {    // literal, incremental indexing
          val idx = int(6)
          val name = if (idx == 0) str() else entry(idx)._1
          val value = str()
          dynamic.insert(0, (name, value))
          out += ((name, value))
        } else if ((first & 0xE0) == 0x20) {    // dynamic table size update
          int(5); ()
        } else {                                // literal without/never indexed
          val idx = int(4)
          val name = if (idx == 0) str() else entry(idx)._1
          out += ((name, str()))
        }
      }
      out.toSeq
    }
  }

  final class HpackEncoder {
    /** Everything as literal-without-indexing with plain string literals,
      * except `:status: 200` which uses its static index. */
    def encode(headers: Seq[(String, String)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def str(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        require(b.length < 127, "long header values unsupported")
        out.write(b.length); out.write(b)
      }
      headers.foreach {
        case (":status", "200") => out.write(0x88)
        case (name, value) =>
          out.write(0x00) // literal without indexing, new name
          str(name); str(value)
      }
      out.toByteArray
    }
  }
}
