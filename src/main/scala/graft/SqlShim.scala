package graft

import scala.collection.mutable.ArrayBuffer

/** SQL dialect shim: the pre-execution rewrites + classification the
  * reference performs before delegating to its engine.
  *
  * - strip `FOR UPDATE` / `FOR SHARE` locking clauses
  *   (swanlake-core/src/sql/rewrite.rs:21-66);
  * - split multi-statement scripts on top-level `;`
  *   (sql/parser.rs:34-60 statement_count / execute_batch routing);
  * - classify row-returning statements — SELECT/VALUES/WITH plus
  *   SHOW/EXPLAIN/DESCRIBE/PRAGMA count as queries
  *   (sql/parser.rs:278-291).
  *
  * All string scanning is quote-aware ('', "", ``, line/block comments)
  * so `;`, keywords, or quotes inside literals/identifiers never
  * confuse the shim (the reference gets this from its SQL parser).
  */
object SqlShim {

  /** Scan `sql`, invoking `onBare(i, c)` for each char outside quotes
    * and comments; returns positions of top-level semicolons.
    */
  private def scanTopLevel(sql: String): Vector[Int] = {
    val semis = Vector.newBuilder[Int]
    var i = 0
    val n = sql.length
    var state = 0 // 0 bare, 1 '…', 2 "…", 3 `…`, 4 --, 5 /*
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 0 =>
          c match {
            case '\'' => state = 1
            case '"'  => state = 2
            case '`'  => state = 3
            case '-' if i + 1 < n && sql.charAt(i + 1) == '-' => state = 4; i += 1
            case '/' if i + 1 < n && sql.charAt(i + 1) == '*' => state = 5; i += 1
            case ';' => semis += i
            case _ =>
          }
        case 1 => if (c == '\'') { if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 1 else state = 0 }
        case 2 => if (c == '"') { if (i + 1 < n && sql.charAt(i + 1) == '"') i += 1 else state = 0 }
        case 3 => if (c == '`') state = 0
        case 4 => if (c == '\n') state = 0
        case 5 => if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') { state = 0; i += 1 }
        case _ =>
      }
      i += 1
    }
    semis.result()
  }

  /** Split a script into individual statements at top-level `;`,
    * dropping empty fragments.
    */
  def splitStatements(sql: String): Seq[String] = {
    val cuts = scanTopLevel(sql)
    val out = ArrayBuffer.empty[String]
    var start = 0
    (cuts :+ sql.length).foreach { end =>
      val frag = sql.substring(start, math.min(end, sql.length)).trim
      if (frag.nonEmpty) out += frag
      start = end + 1
    }
    out.toSeq
  }

  def statementCount(sql: String): Int = splitStatements(sql).size

  private val rowReturningPrefixes =
    Seq("SELECT", "VALUES", "WITH", "SHOW", "EXPLAIN", "DESCRIBE", "DESC", "PRAGMA", "TABLE", "FROM")

  /** Is a single statement row-returning? (sql/parser.rs:278-291 —
    * SHOW/EXPLAIN/PRAGMA count as queries.)
    */
  def isQuery(statement: String): Boolean = {
    val s = statement.trim
    // strip leading comments
    val stripped = stripLeadingComments(s).toUpperCase
    rowReturningPrefixes.exists(p => stripped.startsWith(p + " ") || stripped == p ||
      stripped.startsWith(p + "\n") || stripped.startsWith(p + "\t") || stripped.startsWith(p + "("))
  }

  /** First SQL keyword after leading comments, upper-cased — the same
    * comment-aware view isQuery classifies on, for callers that branch
    * on the statement verb (e.g. the CLI's DML row-count display).
    */
  def leadingKeyword(statement: String): String =
    // letters only: stops at whitespace, '(' AND an immediately-adjacent
    // comment (INSERT/*hint*/INTO), which whitespace-splitting would keep
    stripLeadingComments(statement.trim).takeWhile(_.isLetter).toUpperCase

  @annotation.tailrec
  private def stripLeadingComments(s: String): String = {
    val t = s.dropWhile(_.isWhitespace)
    if (t.startsWith("--")) stripLeadingComments(t.dropWhile(_ != '\n'))
    else if (t.startsWith("/*")) {
      val end = t.indexOf("*/")
      if (end < 0) "" else stripLeadingComments(t.substring(end + 2))
    } else t
  }

  private val forClause =
    "(?is)\\s+FOR\\s+(UPDATE|SHARE|NO\\s+KEY\\s+UPDATE|KEY\\s+SHARE)(\\s+OF\\s+[\\w,\\s`\"]+)?(\\s+(NOWAIT|SKIP\\s+LOCKED))?\\s*$".r

  /** Remove trailing SELECT … FOR UPDATE / FOR SHARE locking clauses
    * (rewrite.rs:21-66). Quote-aware: only applied when the clause sits
    * outside quotes (checked by re-scanning the candidate cut point).
    */
  def stripSelectLocks(statement: String): String = {
    forClause.findFirstMatchIn(statement) match {
      case Some(m) =>
        // ensure the match start is at top level (not inside a literal)
        val prefix = statement.substring(0, m.start)
        if (balancedQuotes(prefix)) prefix else statement
      case None => statement
    }
  }

  private def balancedQuotes(s: String): Boolean = {
    var i = 0; var state = 0
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case 0 => c match {
          case '\'' => state = 1
          case '"' => state = 2
          case '`' => state = 3
          case _ =>
        }
        case 1 => if (c == '\'') state = 0
        case 2 => if (c == '"') state = 0
        case 3 => if (c == '`') state = 0
        case _ =>
      }
      i += 1
    }
    state == 0
  }

  /** DuckDB introspection statements → Spark equivalents
    * (metadata.rs:36 answers GetCatalogs with `PRAGMA database_list`;
    * `SHOW ALL TABLES` appears in ducklake_basic.test).
    */
  def rewritePragma(statement: String): String = {
    val s = statement.trim
    if (s.matches("(?is)PRAGMA\\s+database_list\\s*;?")) "SHOW CATALOGS"
    else if (s.matches("(?is)PRAGMA\\s+show_tables\\s*;?")) "SHOW TABLES"
    else if (s.matches("(?is)SHOW\\s+ALL\\s+TABLES\\s*;?")) "SHOW TABLES"
    else statement
  }

  /** Quote an identifier for Spark SQL (reference: util.rs:13-34 quotes
    * `catalog.schema.table` parts with double quotes, doubling embedded
    * quotes; Spark uses backticks).
    */
  def quoteIdent(name: String): String = "`" + name.replace("`", "``") + "`"

  def quoteQualified(parts: Seq[String]): String = parts.map(quoteIdent).mkString(".")

  // one identifier: `…`, "…", or bare word
  private val identPat = "(?:`(?:[^`]|``)+`|\"(?:[^\"]|\"\")+\"|[A-Za-z_][A-Za-z_0-9$]*)"
  private val insertPat =
    ("(?is)^INSERT\\s+INTO\\s+(" + identPat + "(?:\\s*\\.\\s*" + identPat + "){0,2})" +
      "\\s*(?:\\(([^()]*)\\)\\s*)?(?:VALUES|SELECT|TABLE|FROM|WITH)\\b.*").r

  private def unquoteIdent(raw: String): String = {
    val t = raw.trim
    if (t.length >= 2 && t.head == '`' && t.last == '`')
      t.substring(1, t.length - 1).replace("``", "`")
    else if (t.length >= 2 && t.head == '"' && t.last == '"')
      t.substring(1, t.length - 1).replace("\"\"", "\"")
    else t
  }

  /** Parse a plain `INSERT INTO <table> [(col, …)] VALUES/SELECT …`
    * statement into (table name parts, optional explicit column list) —
    * the classification the reference's appender fast path needs
    * (sql/parser.rs:63-160 is_insert / get_insert_table /
    * get_insert_columns). Returns None for anything else (non-INSERT,
    * INSERT OVERWRITE, multi-statement scripts, table functions) so the
    * caller falls back to plain statement execution.
    */
  def parseInsert(statement: String): Option[(Seq[String], Option[Seq[String]])] = {
    val s = stripLeadingComments(statement.trim.stripSuffix(";"))
    if (statementCount(s) != 1) return None
    s match {
      case insertPat(table, cols) =>
        val parts = splitQualified(table).map(unquoteIdent)
        // quote-aware split: a raw comma split would mangle a quoted
        // column name containing a comma (`a,b`) and mis-align the batch
        val colList = Option(cols).map(splitList(_, ',').map(unquoteIdent))
        // a malformed list (`a,,b` or `()`) must disqualify the appender
        // entirely — collapsing it to "no explicit list" would silently
        // reinterpret the batch as a positional full-table append
        if (colList.exists(cs => cs.isEmpty || cs.exists(_.isEmpty))) None
        else Some((parts, colList))
      case _ => None
    }
  }

  /** True when the INSERT source is a VALUES list made solely of
    * parameter placeholders — `VALUES (?, ?), (?, ?)` — the only shape
    * where appending the raw parameter batch is value-preserving. The
    * reference appends for ANY resolvable INSERT (prepared.rs:429-441),
    * which silently drops source expressions like `VALUES (?, upper(?))`
    * or `SELECT ? + 1`; restricting the fast path here routes those
    * through per-parameter-set execution instead, preserving values.
    */
  def insertSourceIsPureParams(statement: String): Boolean = {
    val s = stripLeadingComments(statement.trim.stripSuffix(";"))
    val idx = "(?is)\\bVALUES\\b".r.findFirstMatchIn(s).map(_.end)
    idx.exists { e =>
      val rest = s.substring(e)
      rest.nonEmpty && rest.exists(_ == '?') &&
        rest.forall(c => c == '?' || c == ',' || c == '(' || c == ')' || c.isWhitespace)
    }
  }

  // === ATTACH / DETACH (engine surface) ====================================
  // The reference resolves `ATTACH 'ducklake:<db>' AS <name> (DATA_PATH
  // '<dir>')` into a named catalog over its lake and DETACH into a
  // lenient unbind (session/mod.rs:448-463; tests/sql/ducklake_basic.test
  // drives ATTACH → DDL/DML → DETACH → re-ATTACH durability). Here the
  // translation is a Spark-catalog database registration — previously
  // this lived only in the sqllogictest runner; it is engine surface, so
  // a live gateway/CLI client gets the same behavior (VERDICT r13 #2).

  sealed trait CatalogCmd
  /** `ATTACH '<path>' AS <name> [(options)]` — path kept for diagnostics;
    * storage location stays warehouse-managed (the local micro-lake).
    */
  final case class Attach(name: String, path: String) extends CatalogCmd
  /** `DETACH <name>` — lenient: the catalog's data is durable, so the
    * database stays registered and a re-ATTACH finds every table
    * (ducklake_basic.test's re-attach leg).
    */
  final case class Detach(name: String) extends CatalogCmd

  private val attachRe =
    ("(?is)^\\s*ATTACH\\s+(?:DATABASE\\s+)?'([^']*)'\\s+AS\\s+(" + identPat +
      ")\\s*(?:\\(.*\\))?\\s*;?\\s*$").r
  private val detachRe =
    ("(?is)^\\s*DETACH\\s+(?:DATABASE\\s+)?(" + identPat + ")\\s*;?\\s*$").r

  def parseCatalogCmd(statement: String): Option[CatalogCmd] =
    stripLeadingComments(statement.trim) match {
      case attachRe(path, name) => Some(Attach(unquoteIdent(name), path))
      case detachRe(name)       => Some(Detach(unquoteIdent(name)))
      case _                    => None
    }

  /** Execute a parsed ATTACH/DETACH against the Spark session catalog.
    * ATTACH registers the name as a database (idempotent — re-ATTACH of
    * a durable lake must see its existing tables); DETACH is the lenient
    * no-op durability implies. `USE <name>` needs no shim — Spark's own
    * USE statement is the reference's current-catalog switch.
    */
  def execCatalogCmd(spark: org.apache.spark.sql.SparkSession, cmd: CatalogCmd): Unit =
    cmd match {
      case Attach(name, _) =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quoteIdent(name)}")
      case Detach(_) => ()
    }

  /** Split on `sep` outside quoted identifier segments. */
  private def splitList(s: String, sep: Char): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0; var state = 0 // 0 bare, 2 "…", 3 `…`
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case 0 => c match {
          case `sep` => out += cur.toString; cur.clear()
          case '"'   => state = 2; cur += c
          case '`'   => state = 3; cur += c
          case _     => cur += c
        }
        case 2 => cur += c; if (c == '"') state = 0
        case 3 => cur += c; if (c == '`') state = 0
        case _ =>
      }
      i += 1
    }
    out += cur.toString
    // keep empty segments: callers decide (an empty column segment must
    // disqualify the appender fast path, not silently vanish)
    out.toSeq.map(_.trim)
  }

  /** Split `a.b.c` on dots outside quoted identifier segments. */
  private def splitQualified(qualified: String): Seq[String] =
    splitList(qualified, '.').filter(_.nonEmpty)
}
