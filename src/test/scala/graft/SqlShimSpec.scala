package graft

import org.scalatest.funsuite.AnyFunSuite

class SqlShimSpec extends AnyFunSuite {

  test("splitStatements splits on top-level semicolons only") {
    val script = "USE swanlake; SELECT 'a;b' AS x; -- trailing ; comment\nSELECT 1"
    val parts = SqlShim.splitStatements(script)
    assert(parts.size == 3)
    assert(parts(1) == "SELECT 'a;b' AS x")
  }

  test("splitStatements handles quoted identifiers and block comments") {
    val script = """SELECT ";" FROM "tab;le"; /* c;mment */ SELECT 2"""
    assert(SqlShim.splitStatements(script).size == 2)
  }

  test("splitStatements drops empty fragments") {
    assert(SqlShim.splitStatements("SELECT 1;;;") == Seq("SELECT 1"))
  }

  test("isQuery classifies row-returning statements like the reference") {
    assert(SqlShim.isQuery("SELECT 1"))
    assert(SqlShim.isQuery("  WITH t AS (SELECT 1) SELECT * FROM t"))
    assert(SqlShim.isQuery("SHOW TABLES"))
    assert(SqlShim.isQuery("EXPLAIN SELECT 1"))
    assert(SqlShim.isQuery("DESCRIBE t"))
    assert(SqlShim.isQuery("PRAGMA database_list"))
    assert(SqlShim.isQuery("VALUES (1), (2)"))
    assert(!SqlShim.isQuery("INSERT INTO t VALUES (1)"))
    assert(!SqlShim.isQuery("CREATE TABLE t (a INT)"))
    assert(!SqlShim.isQuery("UPDATE t SET a = 1"))
  }

  test("isQuery skips leading comments") {
    assert(SqlShim.isQuery("-- comment\nSELECT 1"))
    assert(SqlShim.isQuery("/* c */ SELECT 1"))
  }

  test("parseCatalogCmd recognizes ATTACH/DETACH and nothing else") {
    assert(SqlShim.parseCatalogCmd(
      "ATTACH 'ducklake:/tmp/l.db' AS lake (DATA_PATH '/tmp/files')")
      .contains(SqlShim.Attach("lake", "ducklake:/tmp/l.db")))
    assert(SqlShim.parseCatalogCmd("ATTACH DATABASE 'x.db' AS `my lake`;")
      .contains(SqlShim.Attach("my lake", "x.db")))
    assert(SqlShim.parseCatalogCmd("DETACH lake").contains(SqlShim.Detach("lake")))
    assert(SqlShim.parseCatalogCmd("DETACH DATABASE \"Lake2\";")
      .contains(SqlShim.Detach("Lake2")))
    // leading comments are stripped like every other shim classification
    assert(SqlShim.parseCatalogCmd("-- note\nDETACH lake").contains(SqlShim.Detach("lake")))
    assert(SqlShim.parseCatalogCmd("SELECT 'ATTACH' AS s").isEmpty)
    assert(SqlShim.parseCatalogCmd("ATTACH importance TO report").isEmpty)
  }

  test("stripSelectLocks removes FOR UPDATE / FOR SHARE variants") {
    assert(SqlShim.stripSelectLocks("SELECT * FROM t FOR UPDATE") == "SELECT * FROM t")
    assert(SqlShim.stripSelectLocks("SELECT * FROM t FOR SHARE") == "SELECT * FROM t")
    assert(SqlShim.stripSelectLocks("SELECT * FROM t FOR UPDATE NOWAIT") == "SELECT * FROM t")
    assert(SqlShim.stripSelectLocks("SELECT * FROM t FOR NO KEY UPDATE") == "SELECT * FROM t")
    assert(SqlShim.stripSelectLocks("SELECT * FROM t FOR UPDATE SKIP LOCKED") == "SELECT * FROM t")
  }

  test("stripSelectLocks leaves literals alone") {
    val sql = "SELECT 'use FOR UPDATE here' FROM t"
    assert(SqlShim.stripSelectLocks(sql) == sql)
    val plain = "SELECT * FROM orders"
    assert(SqlShim.stripSelectLocks(plain) == plain)
  }

  test("quoteIdent escapes backticks") {
    assert(SqlShim.quoteIdent("CamelCase") == "`CamelCase`")
    assert(SqlShim.quoteIdent("we`ird") == "`we``ird`")
    assert(SqlShim.quoteQualified(Seq("cat", "db", "t")) == "`cat`.`db`.`t`")
  }

  test("parseInsert extracts table parts and column list (parser.rs:63-160)") {
    assert(SqlShim.parseInsert("INSERT INTO t VALUES (1, 2)") == Some((Seq("t"), None)))
    assert(SqlShim.parseInsert("insert into cat.db.t (a, b) values (?, ?)") ==
      Some((Seq("cat", "db", "t"), Some(Seq("a", "b")))))
    assert(SqlShim.parseInsert("INSERT INTO `we ird`.t2 SELECT * FROM s") ==
      Some((Seq("we ird", "t2"), None)))
    assert(SqlShim.parseInsert("""INSERT INTO "q t" (x) VALUES (?)""") ==
      Some((Seq("q t"), Some(Seq("x")))))
    assert(SqlShim.parseInsert("-- c\nINSERT INTO t VALUES (?)") == Some((Seq("t"), None)))
    assert(SqlShim.parseInsert("UPDATE t SET a = 1").isEmpty)
    assert(SqlShim.parseInsert("INSERT OVERWRITE TABLE t VALUES (1)").isEmpty)
    assert(SqlShim.parseInsert("INSERT INTO t VALUES (1); INSERT INTO t VALUES (2)").isEmpty)
    assert(SqlShim.parseInsert("SELECT 'INSERT INTO t VALUES (1)'").isEmpty)
    // quoted column names containing commas split quote-aware, not on
    // raw commas (a mangled list would mis-align the appended batch)
    assert(SqlShim.parseInsert("INSERT INTO t (`a,b`, c) VALUES (?, ?)") ==
      Some((Seq("t"), Some(Seq("a,b", "c")))))
    assert(SqlShim.parseInsert("""INSERT INTO t ("x,y", z) VALUES (?, ?)""") ==
      Some((Seq("t"), Some(Seq("x,y", "z")))))
    // an empty column segment is malformed: the whole statement is
    // disqualified from the appender, never degraded to positional
    assert(SqlShim.parseInsert("INSERT INTO t (a,,b) VALUES (?, ?, ?)").isEmpty)
  }

  test("leadingKeyword sees through comments and parentheses") {
    assert(SqlShim.leadingKeyword("/* retry */ INSERT INTO t VALUES (1)") == "INSERT")
    assert(SqlShim.leadingKeyword("-- note\n  update t set a = 1") == "UPDATE")
    assert(SqlShim.leadingKeyword("(SELECT 1)") == "")
    assert(SqlShim.leadingKeyword("DELETE FROM t") == "DELETE")
    // a comment glued to the verb must not leak into the keyword
    assert(SqlShim.leadingKeyword("INSERT/*+ append */INTO t VALUES (1)") == "INSERT")
    assert(SqlShim.leadingKeyword("UPDATE--x\nt SET a = 1") == "UPDATE")
  }

  test("insertSourceIsPureParams gates the appender fast path") {
    assert(SqlShim.insertSourceIsPureParams("INSERT INTO t VALUES (?, ?)"))
    assert(SqlShim.insertSourceIsPureParams("INSERT INTO t (a,b) VALUES (?,?), (?,?)"))
    assert(!SqlShim.insertSourceIsPureParams("INSERT INTO t VALUES (?, upper(?))"))
    assert(!SqlShim.insertSourceIsPureParams("INSERT INTO t VALUES (?, 1)"))
    assert(!SqlShim.insertSourceIsPureParams("INSERT INTO t SELECT ?, ?"))
    assert(!SqlShim.insertSourceIsPureParams("INSERT INTO t VALUES ()"))
  }
}
