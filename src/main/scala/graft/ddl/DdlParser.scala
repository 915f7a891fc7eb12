package graft.ddl

import graft.model._

/** Parsed statements of the reference's SQL dialect
  * (reference: query_frontend/src/ast.rs:26-42). Anything that is plain SQL
  * (SELECT/EXPLAIN/...) passes through as [[PassthroughSql]] and is handed to
  * Spark after table resolution.
  */
sealed trait Statement
final case class CreateTable(schema: TableSchema, ifNotExists: Boolean) extends Statement
final case class DropTable(name: String, ifExists: Boolean) extends Statement
final case class DescribeTable(name: String) extends Statement
final case class ShowTables(like: Option[String]) extends Statement
case object ShowDatabases extends Statement
final case class ShowCreateTable(name: String) extends Statement
final case class ExistsTable(name: String) extends Statement
final case class AlterAddColumns(name: String, columns: Seq[ColumnSpec]) extends Statement
final case class AlterModifySetting(name: String, settings: Map[String, String]) extends Statement
final case class InsertValues(
    table: String, columns: Seq[String], rows: Seq[Seq[Literal]]) extends Statement
final case class PassthroughSql(sql: String) extends Statement
/** `OPTIMIZE [TABLE] t [ZORDER BY (c1, c2, ...)]` — layout rewrite:
  * compaction, optionally re-clustered on a Morton curve over `zorderBy`
  * (the Delta-style OPTIMIZE surface over the engine's generation flip). */
final case class OptimizeTable(name: String, zorderBy: Seq[String],
    smallFiles: Boolean = false) extends Statement

/** A VALUES literal. */
sealed trait Literal
final case class StringLit(v: String) extends Literal
final case class NumberLit(v: BigDecimal) extends Literal
final case class BoolLit(v: Boolean) extends Literal
/** Hex binary literal `x'11'` (reference basic.sql varbinary inserts). */
final case class BytesLit(v: Array[Byte]) extends Literal
case object NullLit extends Literal

/** Hand-written tokenizer + recursive-descent parser for the HoraeDB DDL
  * extensions (reference: query_frontend/src/parser.rs, 1,628 LoC —
  * TIMESTAMP KEY constraint :507-543, TAG/DICTIONARY/UNSIGN modifiers
  * :545-557, ALTER :224-321, SHOW :251-290, EXISTS :387, PARTITION BY
  * :1453-1474). Standard SQL is not re-parsed here — it goes to Catalyst.
  */
object DdlParser {

  // ---------------- tokenizer ----------------
  sealed trait Tok
  final case class Ident(s: String, quoted: Boolean = false) extends Tok // already unquoted
  final case class Str(s: String) extends Tok
  final case class Num(s: String) extends Tok
  final case class Punct(c: String) extends Tok

  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '`' || c == '"') {
        val q = c; val sb = new StringBuilder; i += 1
        while (i < n && sql.charAt(i) != q) { sb += sql.charAt(i); i += 1 }
        i += 1
        out += Ident(sb.toString, quoted = true)
      } else if (c == '\'') {
        val sb = new StringBuilder; i += 1
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (ch == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') { sb += '\''; i += 2 }
          else if (ch == '\'') { done = true; i += 1 }
          else { sb += ch; i += 1 }
        }
        out += Str(sb.toString)
      } else if (c.isDigit || (c == '-' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
        val sb = new StringBuilder
        if (c == '-') { sb += c; i += 1 }
        while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.' ||
               sql.charAt(i) == 'e' || sql.charAt(i) == 'E' ||
               ((sql.charAt(i) == '-' || sql.charAt(i) == '+') && i > 0 &&
                (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) {
          sb += sql.charAt(i); i += 1
        }
        out += Num(sb.toString)
      } else if (c.isLetter || c == '_') {
        val sb = new StringBuilder
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) {
          sb += sql.charAt(i); i += 1
        }
        out += Ident(sb.toString)
      } else { out += Punct(c.toString); i += 1 }
    }
    out.result()
  }

  /** Split a script on top-level semicolons (quote- AND comment-aware: a
    * quote or `;` inside a `--` comment must not affect splitting, matching
    * the tokenizer's comment handling). */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0; var inS = false; var inB = false; var inD = false
    while (i < script.length) {
      val c = script.charAt(i)
      if (inS) { if (c == '\'') inS = false; sb += c }
      else if (inB) { if (c == '`') inB = false; sb += c }
      else if (inD) { if (c == '"') inD = false; sb += c }
      else if (c == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') {
        while (i < script.length && script.charAt(i) != '\n') { sb += script.charAt(i); i += 1 }
        i -= 1
      }
      else c match {
        case '\'' => inS = true; sb += c
        case '`'  => inB = true; sb += c
        case '"'  => inD = true; sb += c
        case ';'  => val s = sb.toString.trim; if (s.nonEmpty) out += s; sb.clear()
        case _    => sb += c
      }
      i += 1
    }
    val last = sb.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  // ---------------- parser ----------------
  final class P(toks: Vector[Tok], val sql: String) {
    private var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def peekAt(k: Int): Option[Tok] =
      if (pos + k < toks.length) Some(toks(pos + k)) else None
    def next(): Tok = { val t = toks(pos); pos += 1; t }
    def done: Boolean = pos >= toks.length

    def isKw(kw: String): Boolean = peek match {
      case Some(Ident(s, _)) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    def tryKw(kw: String): Boolean = if (isKw(kw)) { pos += 1; true } else false
    def expectKw(kw: String): Unit =
      if (!tryKw(kw)) fail(s"expected $kw")
    def expectPunct(p: String): Unit = next() match {
      case Punct(`p`) =>
      case other => fail(s"expected '$p', got $other")
    }
    def tryPunct(p: String): Boolean = peek match {
      case Some(Punct(`p`)) => pos += 1; true
      case _ => false
    }
    def ident(): String = next() match {
      case Ident(s, _) => s
      case other => fail(s"expected identifier, got $other")
    }
    def str(): String = next() match {
      case Str(s) => s
      case other => fail(s"expected string literal, got $other")
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"DDL parse error: $msg in: $sql")
  }

  /** Parse one statement. Unknown statement kinds pass through untouched. */
  def parse(sql: String): Statement = {
    val p = new P(tokenize(sql), sql)
    if (p.tryKw("CREATE")) { p.expectKw("TABLE"); parseCreate(p) }
    else if (p.tryKw("DROP")) { p.expectKw("TABLE"); parseDrop(p) }
    else if (p.isKw("DESCRIBE") || p.isKw("DESC")) { p.next(); p.tryKw("TABLE"); DescribeTable(p.ident()) }
    else if (p.tryKw("SHOW")) parseShow(p)
    else if (p.tryKw("EXISTS")) { p.expectKw("TABLE"); ExistsTable(p.ident()) }
    else if (p.tryKw("ALTER")) { p.expectKw("TABLE"); parseAlter(p) }
    else if (p.tryKw("INSERT")) parseInsert(p)
    else if (p.tryKw("OPTIMIZE")) parseOptimize(p)
    else PassthroughSql(sql)
  }

  private def parseOptimize(p: P): OptimizeTable = {
    p.tryKw("TABLE")
    val name = p.ident()
    // OPTIMIZE t COMPACT [SMALL FILES]: segment-scoped small-file
    // bin-packing (purely physical) instead of the full logical rewrite
    if (p.tryKw("COMPACT")) {
      if (p.tryKw("SMALL")) p.expectKw("FILES")
      OptimizeTable(name, Vector.empty, smallFiles = true)
    } else {
      val cols =
        if (p.tryKw("ZORDER")) {
          p.expectKw("BY")
          p.expectPunct("(")
          var cs = Vector(p.ident())
          while (p.tryPunct(",")) cs :+= p.ident()
          p.expectPunct(")")
          cs
        } else Vector.empty[String]
      OptimizeTable(name, cols)
    }
  }

  private def parseCreate(p: P): CreateTable = {
    val ifNotExists = if (p.tryKw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true } else false
    val name = p.ident()
    p.expectPunct("(")

    var cols = Vector.empty[ColumnSpec]
    var tsKey: Option[String] = None
    var pk: Option[Seq[String]] = None
    var first = true
    while (!p.tryPunct(")")) {
      if (!first) p.expectPunct(",")
      first = false
      // `TIMESTAMP KEY(col)` constraint vs a column named `timestamp`:
      // disambiguate on the following token (FIXTURES F2 has both).
      val isTsKeyConstraint = p.isKw("TIMESTAMP") && (p.peekAt(1) match {
        case Some(Ident(s, _)) => s.equalsIgnoreCase("KEY")
        case _ => false
      })
      if (isTsKeyConstraint) {
        p.next(); p.expectKw("KEY"); p.expectPunct("(")
        // the reference rejects multiple timestamp keys
        // (create_tables.sql "Multiple TIMESTAMP KEYs" golden)
        if (tsKey.isDefined) p.fail("only one TIMESTAMP KEY is allowed")
        tsKey = Some(p.ident()); p.expectPunct(")")
      } else if (p.isKw("PRIMARY")) {
        p.next(); p.expectKw("KEY"); p.expectPunct("(")
        val ks = Vector.newBuilder[String]
        ks += p.ident()
        while (p.tryPunct(",")) ks += p.ident()
        p.expectPunct(")")
        pk = Some(ks.result())
      } else {
        val (c, isTsKey) = parseColumn(p)
        if (isTsKey) {
          if (tsKey.isDefined) p.fail("only one TIMESTAMP KEY is allowed")
          tsKey = Some(c.name)
        }
        cols :+= c
      }
    }

    // PARTITION BY KEY(cols) / HASH(expr) / RANDOM ... PARTITIONS n
    var partition: Option[PartitionBy] = None
    if (p.tryKw("PARTITION")) {
      p.expectKw("BY")
      if (p.tryKw("KEY")) {
        p.expectPunct("(")
        val ks = Vector.newBuilder[String]; ks += p.ident()
        while (p.tryPunct(",")) ks += p.ident()
        p.expectPunct(")")
        p.expectKw("PARTITIONS")
        partition = Some(PartitionByKey(ks.result(), numInt(p)))
      } else if (p.tryKw("HASH")) {
        p.expectPunct("(")
        val sb = new StringBuilder
        var depth = 1
        while (depth > 0) p.next() match {
          case Punct("(") => depth += 1; sb += '('
          case Punct(")") => depth -= 1; if (depth > 0) sb += ')'
          case Ident(s, _) => sb ++= s ++ " "
          case Num(s)     => sb ++= s ++ " "
          case Str(s)     => sb ++= s"'$s' "
          case Punct(c)   => sb ++= c
        }
        p.expectKw("PARTITIONS")
        partition = Some(PartitionByHash(sb.toString.trim, numInt(p)))
      } else if (p.tryKw("RANDOM")) {
        p.expectKw("PARTITIONS")
        partition = Some(PartitionByRandom(numInt(p)))
      } else p.fail("expected KEY/HASH/RANDOM after PARTITION BY")
    }

    // ENGINE=Analytic (accepted, single engine)
    if (p.tryKw("ENGINE")) { p.expectPunct("="); p.ident() }

    // WITH (k='v', ...)
    var opts = Map.empty[String, String]
    if (p.tryKw("WITH")) {
      p.expectPunct("(")
      var f = true
      while (!p.tryPunct(")")) {
        if (!f) p.expectPunct(",")
        f = false
        val k = p.ident()
        p.expectPunct("=")
        val v = p.next() match {
          case Str(s) => s; case Ident(s, _) => s; case Num(s) => s
          case other  => p.fail(s"bad option value $other")
        }
        opts += (k -> v)
      }
    }

    val ts = tsKey.getOrElse(p.fail("missing TIMESTAMP KEY(col)"))
    // the reference forces the ts key to be NOT NULL
    cols = cols.map(c => if (c.name == ts) c.copy(isNullable = false) else c)
    pk.foreach { keys =>
      // PK must be declared columns; reference enforces PK-prefix ordering,
      // we only require existence (storage is columnar parquet either way)
      keys.foreach(k => if (!cols.exists(_.name == k) && k != TableSchema.TsidColumn)
        p.fail(s"primary key column '$k' not declared"))
    }
    // SHOW CREATE TABLE materializes the generated tsid column; accept that
    // DDL back (round-trip) by dropping the redundant declaration when the
    // PK is the implicit (tsid, ts) pair
    if (pk.forall(_.contains(TableSchema.TsidColumn)))
      cols = cols.filterNot(_.name == TableSchema.TsidColumn)
    CreateTable(
      TableSchema(name, cols, ts, pk, TableOptions.fromRaw(opts).validated, partition),
      ifNotExists)
  }

  private def numInt(p: P): Int = p.next() match {
    case Num(s) => s.toInt
    case other  => p.fail(s"expected number, got $other")
  }

  /** DEFAULT accepts a full SQL expression (reference create_tables.sql t9:
    * `default 1 + 1`, `default c3*2 + 1` — evaluated at insert time,
    * insert.rs:219-350). Captured as source text up to the next top-level
    * `,` / `)` or a following column modifier keyword; string literals keep
    * their quotes so the captured text re-parses as SQL. */
  private val ModifierKws = Set(
    "TAG", "DICTIONARY", "UNSIGN", "UNSIGNED", "COMMENT", "NOT", "NULL", "TIMESTAMP")
  private def parseDefaultExpr(p: P): String = {
    val sb = new StringBuilder
    var depth = 0
    var done = false
    // `DEFAULT NULL` (reference 06_show_b): NULL is both a column modifier
    // and a valid default literal — consume it here before the modifier
    // stop-list below would end the expression empty
    p.peek match {
      case Some(Ident(s, false)) if s.equalsIgnoreCase("NULL") =>
        p.next(); return "NULL"
      case _ =>
    }
    while (!done) p.peek match {
      case None => done = true
      case Some(Punct(",")) if depth == 0 => done = true
      case Some(Punct(")")) if depth == 0 => done = true
      case Some(Ident(s, false)) if depth == 0 &&
          ModifierKws.contains(s.toUpperCase) => done = true
      case Some(_) => p.next() match {
        case Punct("(") => depth += 1; sb += '('
        case Punct(")") => depth -= 1; sb += ')'
        case Ident(s, q) => sb ++= (if (q) s"`$s`" else s) ++ " "
        case Num(s)      => sb ++= s ++ " "
        case Str(s)      => sb ++= "'" + s.replace("'", "''") + "' "
        case Punct(c)    => sb ++= c ++ " "
      }
    }
    val out = sb.toString.trim
    if (out.isEmpty) p.fail("empty DEFAULT expression")
    out
  }

  /** One column definition; the Boolean is true for the inline column-level
    * `TIMESTAMP KEY` modifier (reference parser.rs:507-543 accepts both the
    * constraint form and `t timestamp NOT NULL TIMESTAMP KEY`). */
  private def parseColumn(p: P): (ColumnSpec, Boolean) = {
    val name = p.ident()
    val tpe = p.ident()
    var unsigned = false
    var tag = false
    var dict = false
    var nullable = true
    var comment = ""
    var default: Option[String] = None
    var isTsKey = false
    var more = true
    while (more) {
      if (p.tryKw("TAG")) tag = true
      else if (p.tryKw("DICTIONARY")) dict = true
      else if (p.tryKw("UNSIGN") || p.tryKw("UNSIGNED")) unsigned = true
      else if (p.tryKw("NOT")) { p.expectKw("NULL"); nullable = false }
      else if (p.tryKw("NULL")) nullable = true
      else if (p.tryKw("COMMENT")) comment = p.str()
      else if (p.isKw("TIMESTAMP") && (p.peekAt(1) match {
        case Some(Ident(s, _)) => s.equalsIgnoreCase("KEY")
        case _ => false
      })) { p.next(); p.next(); isTsKey = true }
      else if (p.tryKw("DEFAULT")) default = Some(parseDefaultExpr(p))
      else more = false
    }
    val kind = DatumKind.fromSqlName(tpe, unsigned)
    if (tag && !DatumKind.validTag(kind))
      p.fail(s"column '$name': $kind is not a valid tag type")
    // reference: dictionary encoding is for string columns only
    // (create_tables.sql "dictionary must be string type" golden)
    if (dict && kind != DatumKind.String)
      p.fail(s"column '$name': dictionary must be string type")
    (ColumnSpec(name, kind, nullable, tag, dict, comment, default), isTsKey)
  }

  private def parseDrop(p: P): DropTable = {
    val ifExists = if (p.tryKw("IF")) { p.expectKw("EXISTS"); true } else false
    DropTable(p.ident(), ifExists)
  }

  private def parseShow(p: P): Statement = {
    if (p.tryKw("TABLES")) {
      val like = if (p.tryKw("LIKE")) Some(p.str()) else None
      ShowTables(like)
    } else if (p.tryKw("DATABASES")) ShowDatabases
    else if (p.tryKw("CREATE")) { p.expectKw("TABLE"); ShowCreateTable(p.ident()) }
    else p.fail("expected TABLES / DATABASES / CREATE TABLE after SHOW")
  }

  private def parseAlter(p: P): Statement = {
    val name = p.ident()
    if (p.tryKw("ADD")) {
      p.expectKw("COLUMN")
      val cols = Vector.newBuilder[ColumnSpec]
      def addOne(): Unit = {
        val (c, isTsKey) = parseColumn(p)
        if (isTsKey) p.fail("cannot ADD a TIMESTAMP KEY column")
        cols += c
      }
      if (p.tryPunct("(")) {
        addOne()
        while (p.tryPunct(",")) addOne()
        p.expectPunct(")")
      } else addOne()
      AlterAddColumns(name, cols.result())
    } else if (p.tryKw("MODIFY")) {
      p.expectKw("SETTING")
      var settings = Map.empty[String, String]
      var f = true
      while (!p.done) {
        if (!f) p.expectPunct(",")
        f = false
        val k = p.ident(); p.expectPunct("=")
        val v = p.next() match {
          case Str(s) => s; case Ident(s, _) => s; case Num(s) => s
          case other  => p.fail(s"bad setting value $other")
        }
        settings += (k -> v)
      }
      AlterModifySetting(name, settings)
    } else p.fail("expected ADD COLUMN or MODIFY SETTING")
  }

  /** INSERT INTO t [(cols)] VALUES (...),(...)  — the reference accepts
    * VALUES bodies only (planner.rs:1158-1168); so do we on this path. */
  private def parseInsert(p: P): InsertValues = {
    p.expectKw("INTO")
    p.tryKw("TABLE") // optional noise word (reference alter_table.sql uses it)
    val table = p.ident()
    var cols = Seq.empty[String]
    if (p.tryPunct("(")) {
      val cs = Vector.newBuilder[String]
      cs += p.ident()
      while (p.tryPunct(",")) cs += p.ident()
      p.expectPunct(")")
      cols = cs.result()
    }
    p.expectKw("VALUES")
    val rows = Vector.newBuilder[Seq[Literal]]
    var more = true
    while (more) {
      p.expectPunct("(")
      val row = Vector.newBuilder[Literal]
      var f = true
      while (!p.tryPunct(")")) {
        if (!f) p.expectPunct(",")
        f = false
        row += (p.next() match {
          case Str(s) => StringLit(s)
          case Num(s) => NumberLit(BigDecimal(s))
          case Ident(s, false) if s.equalsIgnoreCase("null")  => NullLit
          case Ident(s, false) if s.equalsIgnoreCase("true")  => BoolLit(true)
          case Ident(s, false) if s.equalsIgnoreCase("false") => BoolLit(false)
          // hex binary literal x'1A' (basic.sql binary_demo); the lexer
          // splits it into Ident("x") + Str(hex)
          case Ident(s, false) if s.equalsIgnoreCase("x") &&
              p.peek.exists(_.isInstanceOf[Str]) =>
            val Str(hex) = p.next(): @unchecked
            if (hex.isEmpty || hex.length % 2 != 0 ||
                !hex.forall(c => Character.digit(c, 16) >= 0))
              p.fail(s"bad hex literal x'$hex'")
            BytesLit(hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
          // the reference dialect accepts double-quoted strings in VALUES
          // (issue-341.sql inserts "t1") — only QUOTED tokens read as
          // strings; a bare identifier here is a typo and must fail
          case Ident(s, true) => StringLit(s)
          case other => p.fail(s"unsupported VALUES literal $other")
        })
      }
      rows += row.result()
      more = p.tryPunct(",")
    }
    InsertValues(table, cols, rows.result())
  }
}
