package graft.server

import graft.engine.TsdbEngine
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL wire-protocol (v3) front end for the engine — the Spark twin
  * of the reference's PostgreSQL service (`server/src/postgresql/service.rs:32`,
  * handler at `handler.rs:44-71`): any libpq/psql/JDBC-postgres client can
  * connect and run the engine's SQL surface.
  *
  * Scope mirrors the reference exactly:
  *   - **simple query protocol only** (`SimpleQueryHandler`); the extended
  *     protocol answers an error, as the reference's
  *     `PlaceholderExtendedQueryHandler` does
  *   - **no authentication** (`NoopStartupHandler`): every startup is
  *     answered with AuthenticationOk
  *   - **text field format** for all result columns
  *     (`handler.rs` `FieldFormat::Text`)
  *   - the whole `Q` payload goes to the engine as one request and yields
  *     one response — multi-statement scripts behave like the reference's
  *     `handle_http_sql_query` contract
  *   - timestamps are sent as **epoch-millis text**, matching the
  *     reference's `encode_data` (`Datum::Timestamp(t) => t.as_i64()`,
  *     handler.rs:165); dates as days-since-epoch
  *     (`Datum::Date`, i32), matching the same table
  *   - DDL/DML answer `OK <n>` command tags
  *     (`Tag::new("OK").with_rows(count)`, handler.rs:100); zero affected
  *     rows answer EmptyQueryResponse (`Output::AffectedRows(0) =>
  *     Response::EmptyQuery`, handler.rs:99 — a documented reference quirk
  *     we reproduce)
  *
  * Scale posture: identical to [[GraftHttpServer]] — the socket layer is a
  * stateless front that plans one Spark job per query; fan-out belongs to
  * the cluster. Connections are thread-per-socket on blocking IO (wire
  * framing is trivially cheap next to query execution).
  */
final class GraftPgServer(engine: TsdbEngine, port: Int = 0) {

  private val loop = new AcceptLoop(port, serve)

  def boundPort: Int = loop.boundPort

  def start(): GraftPgServer = { loop.start(); this }

  def stop(): Unit = loop.stop()

  // ------------------------------------------------------------- protocol

  private def cstr(b: Array[Byte], from: Int): (String, Int) = {
    var i = from
    while (i < b.length && b(i) != 0) i += 1
    (new String(b, from, i - from, UTF_8), i + 1)
  }

  private val ProtoV3 = 196608
  private val SslRequest = 80877103
  private val GssEncRequest = 80877104
  private val CancelRequest = 80877102

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    try {
      if (!handshake(in, out)) return
      authOk(out)
      readyForQuery(out)
      var open = true
      while (open) {
        val tpe = try in.readByte() catch { case _: EOFException => 'X'.toByte }
        if (tpe == 'X') { open = false }
        else {
          val len = in.readInt()
          val payload = new Array[Byte](len - 4)
          in.readFully(payload)
          tpe.toChar match {
            case 'Q' =>
              val sql = cstr(payload, 0)._1
              if (sql.trim.isEmpty) emptyQuery(out)
              else runQuery(out, sql)
              readyForQuery(out)
            case 'S' => // Sync (extended protocol) — just become ready again
              readyForQuery(out)
            case 'H' => out.flush() // Flush
            case 'P' | 'B' | 'D' | 'E' | 'C' | 'F' | 'd' | 'c' | 'f' =>
              // extended-protocol / copy messages: same contract as the
              // reference's PlaceholderExtendedQueryHandler — refuse
              error(out, "0A000", "extended query protocol is not supported")
            case _ =>
              error(out, "08P01", s"unsupported frontend message '${tpe.toChar}'")
              readyForQuery(out)
          }
          out.flush()
        }
      }
    } catch { case _: IOException => () }
    finally { try sock.close() catch { case _: IOException => () } }
  }

  /** Startup negotiation: deny SSL/GSS upgrades (single 'N' byte), drop
    * cancel requests, accept a v3 StartupMessage. */
  private def handshake(in: DataInputStream, out: DataOutputStream): Boolean = {
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val len = in.readInt()
      val code = in.readInt()
      code match {
        case SslRequest | GssEncRequest =>
          out.writeByte('N'); out.flush()
        case CancelRequest =>
          val rest = new Array[Byte](len - 8); in.readFully(rest)
          return false
        case ProtoV3 =>
          val params = new Array[Byte](len - 8)
          in.readFully(params) // user/database pairs — no auth, ignored
          return true
        case v =>
          error(out, "08P01", s"unsupported protocol version $v")
          out.flush()
          return false
      }
    }
    false
  }

  private def authOk(out: DataOutputStream): Unit = {
    out.writeByte('R'); out.writeInt(8); out.writeInt(0) // AuthenticationOk
    parameterStatus(out, "server_version", "14.0 (graft)")
    parameterStatus(out, "server_encoding", "UTF8")
    parameterStatus(out, "client_encoding", "UTF8")
    parameterStatus(out, "standard_conforming_strings", "on")
    parameterStatus(out, "integer_datetimes", "on")
    // BackendKeyData — cancel keys are not honored (no cancel machinery),
    // but libpq expects the message
    out.writeByte('K'); out.writeInt(12)
    out.writeInt(ThreadLocalRandom.nextInt()); out.writeInt(ThreadLocalRandom.nextInt())
  }

  private def ThreadLocalRandom = java.util.concurrent.ThreadLocalRandom.current()

  private def parameterStatus(out: DataOutputStream, k: String, v: String): Unit = {
    val kb = k.getBytes(UTF_8); val vb = v.getBytes(UTF_8)
    out.writeByte('S'); out.writeInt(4 + kb.length + 1 + vb.length + 1)
    out.write(kb); out.writeByte(0); out.write(vb); out.writeByte(0)
  }

  private def readyForQuery(out: DataOutputStream): Unit = {
    out.writeByte('Z'); out.writeInt(5); out.writeByte('I'); out.flush()
  }

  private def emptyQuery(out: DataOutputStream): Unit = {
    out.writeByte('I'); out.writeInt(4)
  }

  private def error(out: DataOutputStream, sqlState: String, msg: String): Unit = {
    val fields = Seq('S' -> "ERROR", 'V' -> "ERROR", 'C' -> sqlState, 'M' -> msg)
    val bodyLen = fields.map { case (_, v) => 1 + v.getBytes(UTF_8).length + 1 }.sum + 1
    out.writeByte('E'); out.writeInt(4 + bodyLen)
    fields.foreach { case (t, v) =>
      out.writeByte(t); out.write(v.getBytes(UTF_8)); out.writeByte(0)
    }
    out.writeByte(0)
  }

  private def commandComplete(out: DataOutputStream, tag: String): Unit = {
    val b = tag.getBytes(UTF_8)
    out.writeByte('C'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
  }

  private def runQuery(out: DataOutputStream, sql: String): Unit = {
    val df =
      try engine.execute(sql)
      catch { case e: Throwable =>
        error(out, "XX000", Option(e.getMessage).getOrElse(e.toString).take(512))
        return
      }
    try {
      if (df.schema.length == 1 && df.schema.head.name == "affected_rows") {
        val n = df.collect().headOption.map(_.getLong(0)).getOrElse(0L)
        if (n == 0L) emptyQuery(out) // handler.rs:99 Output::AffectedRows(0)
        else commandComplete(out, s"OK $n") // Tag::new("OK").with_rows(n)
      } else {
        val schema = df.schema
        val rows = df.collect()
        rowDescription(out, schema)
        rows.foreach(r => dataRow(out, schema, r))
        commandComplete(out, s"SELECT ${rows.length}")
      }
    } catch { case e: Throwable =>
      error(out, "XX000", Option(e.getMessage).getOrElse(e.toString).take(512))
    }
  }

  // ---------------------------------------------------------- result codec

  /** Spark type → PG type OID, the reference's `convert_data_type` table
    * (handler.rs:144-163) re-keyed on Catalyst types. */
  private def pgOid(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => 16 // BOOL
      case ByteType => 18 // CHAR
      case ShortType => 21 // INT2
      case IntegerType => 23 // INT4
      case LongType => 20 // INT8
      case FloatType => 700 // FLOAT4
      case DoubleType => 701 // FLOAT8
      case BinaryType => 17 // BYTEA
      case TimestampType | TimestampNTZType => 1114 // TIMESTAMP
      case DateType => 1082 // DATE
      case _ => 25 // TEXT (strings + anything rendered as text)
    }
  }

  private def rowDescription(
      out: DataOutputStream, schema: org.apache.spark.sql.types.StructType): Unit = {
    val fields = schema.fields
    val names = fields.map(_.name.getBytes(UTF_8))
    val len = 4 + 2 + fields.indices.map(i => names(i).length + 1 + 4 + 2 + 4 + 2 + 4 + 2).sum
    out.writeByte('T'); out.writeInt(len); out.writeShort(fields.length)
    fields.indices.foreach { i =>
      out.write(names(i)); out.writeByte(0)
      out.writeInt(0) // table oid
      out.writeShort(i + 1) // attnum (reference uses the column id)
      out.writeInt(pgOid(fields(i).dataType))
      out.writeShort(-1) // typlen: variable
      out.writeInt(-1) // typmod
      out.writeShort(0) // format: text
    }
  }

  /** Text rendering per the reference's `encode_data` (handler.rs:163-186):
    * timestamps as epoch millis, dates as epoch days, bools as t/f,
    * bytes as PG hex (`\x…`), numerics via toString. */
  private def render(v: Any): String = v match {
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case t: java.time.LocalDateTime =>
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Boolean => if (b) "t" else "f"
    case a: Array[Byte] => "\\x" + a.map("%02x".format(_)).mkString
    case s: String => s
    case other => String.valueOf(other)
  }

  private def dataRow(
      out: DataOutputStream, schema: org.apache.spark.sql.types.StructType,
      row: org.apache.spark.sql.Row): Unit = {
    val cells: Array[Array[Byte]] = schema.indices.map { i =>
      if (row.isNullAt(i)) null else render(row.get(i)).getBytes(UTF_8)
    }.toArray
    val len = 4 + 2 + cells.map(c => 4 + (if (c == null) 0 else c.length)).sum
    out.writeByte('D'); out.writeInt(len); out.writeShort(cells.length)
    cells.foreach { c =>
      if (c == null) out.writeInt(-1)
      else { out.writeInt(c.length); out.write(c) }
    }
  }
}
