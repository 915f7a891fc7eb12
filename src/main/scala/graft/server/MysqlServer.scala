package graft.server

import graft.engine.TsdbEngine
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** MySQL wire-protocol front end for the engine — the Spark twin of the
  * reference's MySQL service (`server/src/mysql/service.rs:29`, worker at
  * `worker.rs:60-122`, result writer at `writer.rs`): any MySQL
  * client/JDBC driver can connect and run the engine's SQL surface over
  * the classic text protocol.
  *
  * Scope mirrors the reference:
  *   - **COM_QUERY only**; prepared statements answer
  *     ER_NOT_SUPPORTED_YET ("Prepare is not supported", worker.rs:67-89)
  *   - **no authentication**: the v10 handshake advertises
  *     `mysql_native_password` and accepts any response
  *   - **federated client-compat queries** are answered locally without
  *     touching the engine (`federated.rs:281`): `SELECT @@version_comment`
  *     & friends, `SELECT VERSION()/DATABASE()`, `SHOW VARIABLES …`,
  *     `SET …` → OK — the handshake chatter MySQL clients emit
  *   - type mapping is the reference's `convert_datum_kind_type`
  *     (writer.rs:126-146): every integer (and **timestamps, sent as epoch
  *     millis**, writer.rs:83) maps to MYSQL_TYPE_LONG, doubles to DOUBLE,
  *     floats to FLOAT, strings to VARCHAR, booleans to SHORT, binary to
  *     LONG_BLOB
  *   - DDL/DML answer an OK packet carrying `affected_rows`
  *     (writer.rs:46-52)
  *
  * Classic EOF framing is used (CLIENT_DEPRECATE_EOF is not advertised),
  * so resultsets are: column count, N column definitions, EOF, rows, EOF.
  * Scale posture: identical to [[GraftHttpServer]] — a stateless front
  * that plans one Spark job per query.
  */
final class GraftMysqlServer(engine: TsdbEngine, port: Int = 0) {

  private val loop = new AcceptLoop(port, serve)

  def boundPort: Int = loop.boundPort

  def start(): GraftMysqlServer = { loop.start(); this }

  def stop(): Unit = loop.stop()

  // --------------------------------------------------------------- framing

  /** One connection's packet IO: 3-byte little-endian length + sequence id. */
  private final class Wire(sock: Socket) {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    var seq: Int = 0

    def readPacket(): Array[Byte] = {
      val b0 = in.read(); val b1 = in.read(); val b2 = in.read()
      if (b0 < 0 || b1 < 0 || b2 < 0) throw new EOFException
      val len = b0 | (b1 << 8) | (b2 << 16)
      seq = (in.readByte() & 0xff) + 1
      val p = new Array[Byte](len)
      in.readFully(p)
      p
    }

    def writePacket(payload: Array[Byte]): Unit = {
      out.write(payload.length & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write((payload.length >> 16) & 0xff)
      out.write(seq & 0xff)
      seq += 1
      out.write(payload)
    }

    def flush(): Unit = out.flush()
  }

  private def lenencInt(b: java.io.ByteArrayOutputStream, v: Long): Unit =
    if (v < 251) b.write(v.toInt)
    else if (v < 65536) { b.write(0xfc); b.write(v.toInt & 0xff); b.write((v.toInt >> 8) & 0xff) }
    else if (v < 16777216) {
      b.write(0xfd); b.write(v.toInt & 0xff); b.write((v.toInt >> 8) & 0xff)
      b.write((v.toInt >> 16) & 0xff)
    } else {
      b.write(0xfe)
      (0 until 8).foreach(i => b.write(((v >> (8 * i)) & 0xff).toInt))
    }

  private def lenencStr(b: java.io.ByteArrayOutputStream, s: Array[Byte]): Unit = {
    lenencInt(b, s.length.toLong); b.write(s, 0, s.length)
  }

  private def u16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }

  private def u32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }

  private def okPacket(affected: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0x00); lenencInt(b, affected); lenencInt(b, 0L)
    u16(b, 0x0002); u16(b, 0) // autocommit status, warnings
    b.toByteArray
  }

  private def eofPacket(): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0xfe); u16(b, 0); u16(b, 0x0002)
    b.toByteArray
  }

  private def errPacket(code: Int, msg: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0xff); u16(b, code); b.write('#')
    b.write("HY000".getBytes(UTF_8), 0, 5)
    val m = msg.getBytes(UTF_8); b.write(m, 0, math.min(m.length, 512))
    b.toByteArray
  }

  // ------------------------------------------------------------- handshake

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val w = new Wire(sock)
    try {
      // Initial Handshake v10
      val b = new java.io.ByteArrayOutputStream()
      b.write(10) // protocol version
      b.write("8.0.0-graft".getBytes(UTF_8)); b.write(0)
      u32(b, 1L) // connection id
      val salt = Array.tabulate[Byte](20)(i => (33 + (i * 7) % 90).toByte)
      b.write(salt, 0, 8); b.write(0) // auth-plugin-data part 1 + filler
      // capabilities: PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH | CONNECT_WITH_DB
      val caps = 0x0200 | 0x8000 | 0x00080000 | 0x0008
      u16(b, caps & 0xffff)
      b.write(33) // charset utf8_general_ci
      u16(b, 0x0002) // status
      u16(b, (caps >> 16) & 0xffff)
      b.write(21) // auth data length (20 + null)
      b.write(new Array[Byte](10), 0, 10) // reserved
      b.write(salt, 8, 12); b.write(0) // part 2 (13 bytes with null)
      b.write("mysql_native_password".getBytes(UTF_8)); b.write(0)
      w.seq = 0
      w.writePacket(b.toByteArray); w.flush()

      // HandshakeResponse41 — contents ignored (no auth), but must be read
      w.readPacket()
      w.writePacket(okPacket(0)); w.flush()

      var open = true
      while (open) {
        w.seq = 0
        val p = try w.readPacket() catch { case _: EOFException => Array[Byte](0x01) }
        (p(0) & 0xff) match {
          case 0x01 => open = false // COM_QUIT
          case 0x02 | 0x0e => w.writePacket(okPacket(0)) // COM_INIT_DB / COM_PING
          case 0x04 => w.writePacket(eofPacket()) // COM_FIELD_LIST: none
          case 0x16 | 0x17 => // COM_STMT_PREPARE / EXECUTE (worker.rs:67-89)
            w.writePacket(errPacket(1235, "Prepare is not supported in graft"))
          case 0x03 =>
            val sql = new String(p, 1, p.length - 1, UTF_8).trim
            handleQuery(w, sql)
          case other =>
            w.writePacket(errPacket(1047, s"unknown command $other"))
        }
        w.flush()
      }
    } catch { case _: IOException => () }
    finally { try sock.close() catch { case _: IOException => () } }
  }

  // --------------------------------------------------------------- queries

  /** MySQL-client compatibility queries answered without the engine — the
    * reference's `federated::check` (federated.rs:281-300). */
  private def federated(sql: String): Option[(Seq[String], Seq[Seq[String]])] = {
    val q = sql.stripSuffix(";").trim
    val varSel = "(?i)^SELECT\\s+@@([A-Za-z0-9_.]+).*".r
    q match {
      case varSel(v) =>
        val value = v.toLowerCase match {
          case "version_comment" => "graft (Apache HoraeDB compatible)"
          case "max_allowed_packet" => "16777216"
          case _ => ""
        }
        Some((Seq(s"@@$v"), Seq(Seq(value))))
      case _ if q.matches("(?i)^SELECT\\s+VERSION\\(\\s*\\).*") =>
        Some((Seq("version()"), Seq(Seq("8.0.0-graft"))))
      case _ if q.matches("(?i)^SELECT\\s+DATABASE\\(\\s*\\).*") =>
        Some((Seq("database()"), Seq(Seq("public"))))
      case _ if q.matches("(?i)^SELECT\\s+TIMEDIFF\\(NOW\\(\\),\\s*UTC_TIMESTAMP\\(\\)\\).*") =>
        Some((Seq("TIMEDIFF(NOW(), UTC_TIMESTAMP())"), Seq(Seq("00:00:00"))))
      case _ if q.matches("(?i)^SHOW\\s+VARIABLES.*") =>
        Some((Seq("Variable_name", "Value"), Seq.empty))
      case _ if q.matches("(?i)^SHOW\\s+COLLATION.*") =>
        Some((Seq("Collation", "Charset"), Seq.empty))
      case _ if q.matches("(?i)^SET\\s+.*") || q.matches("(?i)^/\\*.*") =>
        Some((Nil, Nil)) // plain OK
      case _ => None
    }
  }

  private def handleQuery(w: Wire, sql: String): Unit = {
    federated(sql) match {
      case Some((Nil, _)) => w.writePacket(okPacket(0)); return
      case Some((cols, rows)) =>
        writeTextResultset(w,
          cols.map(c => (c, 15 /* VARCHAR */)),
          rows.map(_.map(v => v: Any)))
        return
      case None => ()
    }
    val df =
      try engine.execute(sql)
      catch { case e: Throwable =>
        w.writePacket(errPacket(1105,
          Option(e.getMessage).getOrElse(e.toString).take(512)))
        return
      }
    try {
      if (df.schema.length == 1 && df.schema.head.name == "affected_rows") {
        val n = df.collect().headOption.map(_.getLong(0)).getOrElse(0L)
        w.writePacket(okPacket(n))
      } else {
        val schema = df.schema
        val rows = df.collect()
        writeTextResultset(w,
          schema.fields.toSeq.map(f => (f.name, mysqlType(f.dataType))),
          rows.toSeq.map(r => schema.indices.map(i =>
            if (r.isNullAt(i)) null else r.get(i))))
      }
    } catch { case e: Throwable =>
      w.writePacket(errPacket(1105,
        Option(e.getMessage).getOrElse(e.toString).take(512)))
    }
  }

  /** The reference's `convert_datum_kind_type` (writer.rs:126-146). */
  private def mysqlType(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | TimestampNTZType => 3 // LONG (epoch millis)
      case DoubleType => 5 // DOUBLE
      case FloatType => 4 // FLOAT
      case BinaryType => 251 // LONG_BLOB
      case BooleanType => 2 // SHORT
      case ByteType | ShortType | IntegerType | LongType | DateType => 3 // LONG
      case _ => 15 // VARCHAR
    }
  }

  /** Text cell rendering (writer.rs:76-96): timestamps as epoch millis,
    * booleans as 0/1, everything else via toString. */
  private def renderCell(v: Any): String = v match {
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case t: java.time.LocalDateTime =>
      t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Boolean => if (b) "1" else "0"
    case a: Array[Byte] => new String(a, UTF_8)
    case s: String => s
    case other => String.valueOf(other)
  }

  private def writeTextResultset(
      w: Wire, cols: Seq[(String, Int)], rows: Seq[Seq[Any]]): Unit = {
    val head = new java.io.ByteArrayOutputStream()
    lenencInt(head, cols.length.toLong)
    w.writePacket(head.toByteArray)
    cols.foreach { case (name, tpe) =>
      val b = new java.io.ByteArrayOutputStream()
      lenencStr(b, "def".getBytes(UTF_8))
      lenencStr(b, Array.emptyByteArray) // schema
      lenencStr(b, Array.emptyByteArray) // table
      lenencStr(b, Array.emptyByteArray) // org_table
      lenencStr(b, name.getBytes(UTF_8))
      lenencStr(b, name.getBytes(UTF_8)) // org_name
      b.write(0x0c) // fixed-length fields marker
      u16(b, 33) // charset utf8_general_ci
      u32(b, 255L) // display length
      b.write(tpe)
      u16(b, 0) // flags (ColumnFlags::empty(), writer.rs:121)
      b.write(0) // decimals
      u16(b, 0) // filler
      w.writePacket(b.toByteArray)
    }
    w.writePacket(eofPacket())
    rows.foreach { r =>
      val b = new java.io.ByteArrayOutputStream()
      r.foreach {
        case null => b.write(0xfb)
        case v => lenencStr(b, renderCell(v).getBytes(UTF_8))
      }
      w.writePacket(b.toByteArray)
    }
    w.writePacket(eofPacket())
  }
}
