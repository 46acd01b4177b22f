package graft.engine

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.sys.process._

import graft.SparkSpec

/** Proves the pgwire surface with the REAL ecosystem client: a stock
  * `psql` binary connects, negotiates (SSLRequest → N → cleartext
  * startup → trust auth) and runs simple-protocol queries against the
  * shared catalog tables — the exact flow a csvb user's `psql -h`
  * session follows against the reference's pgwire serve
  * (`csvb_engine/src/lib.rs:91-132`). A raw-socket client pins the
  * extended protocol (Parse/Bind/Describe/Execute/Sync), which psql
  * doesn't exercise.
  */
class PgWireSpec extends SparkSpec {

  private var server: PgWire.Server = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    Serve.registerShared(spark, "nation_pg", Seq(s"$Sf/nation.parquet"), "parquet")
    server = PgWire.start(spark, 0) // ephemeral port
  }

  override def afterAll(): Unit = {
    if (server != null) server.close()
    super.afterAll()
  }

  /** Run psql unaligned-tuples mode; returns (exit, stdout, stderr). */
  private def psql(flags: String*): (Int, String, String) =
    psqlTo(server.boundPort, Seq.empty, flags: _*)

  private def psqlTo(port: Int, extraEnv: Seq[(String, String)],
      flags: String*): (Int, String, String) = {
    val out = new StringBuilder
    val err = new StringBuilder
    val cmd = Seq("psql", "-h", "127.0.0.1", "-p", port.toString,
      "-U", "graft", "-d", "graft", "-X", "-At") ++ flags
    // force a UTF-8 locale: without it psql negotiates SQL_ASCII and
    // mangles non-ASCII payloads on the console round-trip
    val env = Seq("PGCONNECT_TIMEOUT" -> "10", "LC_ALL" -> "C.UTF-8",
      "PGCLIENTENCODING" -> "UTF8") ++ extraEnv
    val code = Process(cmd, None, env: _*).!(
      ProcessLogger(l => { out ++= l; out += '\n' }, l => { err ++= l; err += '\n' }))
    (code, out.toString, err.toString)
  }

  test("stock psql connects and queries a shared table (simple protocol)") {
    val (code, out, err) = psql("-c",
      "SELECT n_name FROM nation_pg ORDER BY n_nationkey LIMIT 3")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.linesIterator.toSeq === Seq("NATION_0", "NATION_1", "NATION_2"), out)
  }

  test("pg text formats: bool t/f, numerics, date, NULL as empty") {
    val (code, out, err) = psql("-F", "|", "-c",
      "SELECT true AS b, 1 + 1 AS i, 1.5 AS d, DATE '2024-01-02' AS dt, " +
        "CAST(NULL AS STRING) AS nul, 'x''y' AS esc")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.trim === "t|2|1.5|2024-01-02||x'y", out)
  }

  test("multi-statement string: one result set per statement, quote-aware split") {
    val (code, out, err) = psql("-c",
      "SELECT count(*) AS n FROM nation_pg; SELECT 'a;b' AS s")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.linesIterator.toSeq === Seq("25", "a;b"), out)
  }

  test("error recovery: a failed statement keeps the connection usable") {
    val (_, out, err) = psql(
      "-c", "SELECT * FROM no_such_table_anywhere",
      "-c", "SELECT 41 + 1 AS ok")
    assert(err.contains("ERROR"), err)
    assert(out.linesIterator.contains("42"), s"stdout=$out stderr=$err")
  }

  test("result sets stream beyond one Spark partition") {
    // 10k rows through toLocalIterator across multiple partitions —
    // the bounded-memory path, not a collect
    val (code, out, err) = psql("-c",
      "SELECT sum(CAST(id AS BIGINT)) AS s FROM range(10000)")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.trim === "49995000", out)
  }

  test("sessions are isolated: one connection's temp view is invisible to the next") {
    val (c1, _, _) = psql("-c", "CREATE TEMP VIEW conn_local AS SELECT 1 AS x")
    assert(c1 === 0)
    val (_, _, err) = psql("-c", "SELECT * FROM conn_local")
    assert(err.contains("ERROR"), err)
  }

  test("catalog introspection over the wire (the reference's information_schema surface)") {
    // Spark's own SQL introspection surface — SHOW TABLES / DESCRIBE —
    // beside psql's \dt / \d, which the PgCatalog shim answers (see
    // the specs below); the reference exposes the same data via
    // information_schema over its pgwire (`csvb_engine/src/lib.rs:22`)
    val (c1, out1, err1) = psql("-c", "SHOW TABLES")
    assert(c1 === 0, err1)
    assert(out1.linesIterator.exists(_.contains("nation_pg")), out1)
    val (c2, out2, err2) = psql("-c", "DESCRIBE nation_pg")
    assert(c2 === 0, err2)
    assert(out2.contains("n_nationkey"), out2)
  }

  test("information_schema works over the wire (the reference's lib.rs:22 surface)") {
    val (code, out, err) = psql("-c",
      "SELECT table_name FROM information_schema.tables WHERE table_name = 'nation_pg'")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.contains("nation_pg"), out)
    val (c2, o2, e2) = psql("-c",
      "SELECT column_name FROM information_schema.columns WHERE table_name = 'nation_pg' ORDER BY ordinal_position")
    assert(c2 === 0, e2)
    assert(o2.linesIterator.toSeq.take(3) === Seq("n_nationkey", "n_name", "n_regionkey"), o2)
  }

  test("psql EXPLAIN ANALYZE returns runtime metrics over the wire (lib.rs:88 parity)") {
    val (code, out, err) = psql("-c",
      "EXPLAIN ANALYZE SELECT n_regionkey, count(*) AS n FROM nation_pg GROUP BY n_regionkey")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.contains("numOutputRows="), out)
    assert(out.linesIterator.toSeq.last === "rows: 5", out)
  }

  test("psql COPY ... TO exports through the wire and reports the COPY tag") {
    val out = java.nio.file.Files.createTempDirectory("graft-pg-copy")
    val (code, o, err) = psql("-c",
      s"COPY (SELECT n_nationkey, n_name FROM nation_pg WHERE n_nationkey < 4) TO '$out/n.parquet'")
    assert(code === 0, s"stdout=$o stderr=$err")
    assert(o.contains("COPY"), o)
    assert(spark.read.parquet(s"$out/n.parquet").count() === 4)
  }

  test("psql \\copy TO exports over the wire (COPY OUT subprotocol: csv with header, text with \\N nulls)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg-copyout")
    // csv + header via the wire COPY ... TO STDOUT flow psql drives
    val (c1, o1, e1) = psql("-c",
      s"\\copy (SELECT n_nationkey, n_name FROM nation_pg WHERE n_nationkey < 3 ORDER BY n_nationkey) TO '$dir/n.csv' WITH (FORMAT csv, HEADER)")
    assert(c1 === 0, s"stdout=$o1 stderr=$e1")
    assert(o1.contains("COPY 3"), o1)
    val csv = java.nio.file.Files.readString(dir.resolve("n.csv"))
    assert(csv ===
      "n_nationkey,n_name\n0,NATION_0\n1,NATION_1\n2,NATION_2\n", csv)
    // default text format: tab delimiters, \N for NULL
    val (c2, o2, e2) = psql("-c",
      s"\\copy (SELECT n_nationkey, CAST(NULL AS STRING) AS x FROM nation_pg WHERE n_nationkey = 5) TO '$dir/n.txt'")
    assert(c2 === 0, s"stdout=$o2 stderr=$e2")
    assert(java.nio.file.Files.readString(dir.resolve("n.txt")) === "5\t\\N\n")
    // bare table form
    val (c3, o3, e3) = psql("-c", s"\\copy nation_pg TO '$dir/all.txt'")
    assert(c3 === 0, s"stdout=$o3 stderr=$e3")
    assert(o3.contains("COPY 25"), o3)
  }

  test("psql \\copy FROM imports over the wire (COPY IN subprotocol: csv header, text nulls, column list)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg-copyin")
    // a real insertable catalog table, created over the wire
    val (cc, oc, ec) = psql("-c",
      "CREATE TABLE IF NOT EXISTS copy_in_t (a BIGINT, b STRING, c DOUBLE) USING parquet")
    assert(cc === 0, s"stdout=$oc stderr=$ec")
    try {
      java.nio.file.Files.writeString(dir.resolve("in.csv"),
        "a,b,c\n1,hello,1.5\n2,\"wo,rld\",2.5\n3,,3.5\n")
      val (c1, o1, e1) = psql("-c",
        s"\\copy copy_in_t FROM '${dir.resolve("in.csv")}' WITH (FORMAT csv, HEADER)")
      assert(c1 === 0, s"stdout=$o1 stderr=$e1")
      assert(o1.contains("COPY 3"), o1)
      // text format with \N null, restricted column list -> c lands NULL
      java.nio.file.Files.writeString(dir.resolve("in.txt"), "9\t\\N\n")
      val (c2, o2, e2) = psql("-c",
        s"\\copy copy_in_t (a, b) FROM '${dir.resolve("in.txt")}'")
      assert(c2 === 0, s"stdout=$o2 stderr=$e2")
      val (c3, o3, e3) = psql("-F", "|", "-c",
        "SELECT a, b, c FROM copy_in_t ORDER BY a")
      assert(c3 === 0, e3)
      assert(o3.linesIterator.toSeq === Seq(
        "1|hello|1.5", "2|wo,rld|2.5", "3||3.5", "9||"), o3)
      // a cast failure is ONE clean error and NO partial append
      java.nio.file.Files.writeString(dir.resolve("bad.csv"), "notanumber,x,1.0\n")
      val (_, _, e4) = psql("-c",
        s"\\copy copy_in_t FROM '${dir.resolve("bad.csv")}' WITH (FORMAT csv)")
      assert(e4.contains("ERROR"), e4)
      val (_, o5, _) = psql("-c", "SELECT count(*) AS n FROM copy_in_t")
      assert(o5.trim === "4", o5)
      // a malformed row FOLLOWED BY more data: the server must keep
      // draining the COPY stream (no protocol desync from spurious
      // per-frame errors), report ONE error, and stay usable
      val many = new StringBuilder("only_one_field\n")
      (1 to 5000).foreach(i => many.append(s"$i,x$i,1.5\n"))
      java.nio.file.Files.writeString(dir.resolve("desync.csv"), many.toString)
      val (_, _, e5) = psql("-c",
        s"\\copy copy_in_t FROM '${dir.resolve("desync.csv")}' WITH (FORMAT csv)",
        "-c", "SELECT 41 + 1 AS ok")
      assert(e5.linesIterator.count(_.contains("ERROR")) === 1, e5)
      val (_, o5b, _) = psql("-c", "SELECT count(*) AS n FROM copy_in_t")
      assert(o5b.trim === "4", o5b) // nothing appended
      // a CASE-mismatched column list resolves via the session's
      // resolver (never a silent NULL fill)...
      java.nio.file.Files.writeString(dir.resolve("case.txt"), "20\tcased\n")
      val (c6, o6, e6) = psql("-c",
        s"\\copy copy_in_t (A, B) FROM '${dir.resolve("case.txt")}'")
      assert(c6 === 0, s"stdout=$o6 stderr=$e6")
      val (_, o7, _) = psql("-F", "|", "-c", "SELECT a, b FROM copy_in_t WHERE a = 20")
      assert(o7.trim === "20|cased", o7)
      // ...and an UNKNOWN column errors up front, like pg
      val (_, _, e8) = psql("-c",
        s"\\copy copy_in_t (a, nope) FROM '${dir.resolve("case.txt")}'")
      assert(e8.contains("does not exist"), e8)
    } finally psql("-c", "DROP TABLE IF EXISTS copy_in_t")
  }

  test("SCRAM-SHA-256 auth: stock psql logs in with the right password, is refused with the wrong one") {
    val authed = PgWire.start(spark, 0, Some("s3cret-tok3n"))
    try {
      // right password: the full AuthenticationSASL → SASLInitialResponse
      // → SASLContinue → SASLResponse → SASLFinal flow, then a query
      val (c1, o1, e1) = psqlTo(authed.boundPort,
        Seq("PGPASSWORD" -> "s3cret-tok3n"), "-c", "SELECT 41 + 1 AS ok")
      assert(c1 === 0, s"stdout=$o1 stderr=$e1")
      assert(o1.trim === "42", o1)
      // wrong password: FATAL 28P01, no session
      val (c2, _, e2) = psqlTo(authed.boundPort,
        Seq("PGPASSWORD" -> "wrong"), "-w", "-c", "SELECT 1")
      assert(c2 !== 0)
      assert(e2.contains("password authentication failed"), e2)
      // no password available and prompting disabled: no session either
      val (c3, _, _) = psqlTo(authed.boundPort, Seq.empty, "-w", "-c", "SELECT 1")
      assert(c3 !== 0)
      // the trust-auth server in beforeAll is untouched by any of this
      val (c4, o4, _) = psql("-c", "SELECT 1 AS one")
      assert(c4 === 0 && o4.trim === "1")
    } finally authed.close()
  }

  test("COPY binary round-trips a full types matrix through the wire") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg-copybin")
    val ddl = "(i8 BIGINT, i4 INT, i2 SMALLINT, b BOOLEAN, f8 DOUBLE, f4 FLOAT, " +
      "dec DECIMAL(12,3), d DATE, ts TIMESTAMP_NTZ, s STRING, raw BINARY)"
    val (cc, oc, ec) = psql("-c",
      s"CREATE TABLE IF NOT EXISTS copy_bin_t $ddl USING parquet")
    assert(cc === 0, s"stdout=$oc stderr=$ec")
    try {
      // non-ASCII payload built server-side with chr(): the psql
      // subprocess arg/console encoding is NOT utf-8 in this
      // container, so literal é would mangle in transit — the point
      // here is wire fidelity, asserted server-side below
      val (ci, oi, ei) = psql("-c", """
        INSERT INTO copy_bin_t VALUES
          (1, 2, 3, true, 1.5, 2.5, 12345.678, DATE '2024-03-01',
           TIMESTAMP_NTZ '2024-03-01 10:20:30.123456',
           concat('h', chr(233), 'llo'), X'DEADBEEF'),
          (-9, -8, -7, false, -0.25, -0.5, -0.001, DATE '1999-12-31',
           TIMESTAMP_NTZ '1999-12-31 23:59:59', '', X''),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""")
      assert(ci === 0, s"stdout=$oi stderr=$ei")
      val bin = dir.resolve("t.bin")
      val (c1, o1, e1) = psql("-c",
        s"\\copy copy_bin_t TO '$bin' WITH (FORMAT binary)")
      assert(c1 === 0, s"stdout=$o1 stderr=$e1")
      assert(o1.contains("COPY 3"), o1)
      // the file is a real PGCOPY binary file: signature + flags + ext
      val bytes = java.nio.file.Files.readAllBytes(bin)
      assert(bytes.take(11).toSeq === PgWire.CopyBinarySignature.toSeq)
      assert(bytes.slice(11, 19).toSeq === Seq.fill(8)(0: Byte)) // flags 0, no extension
      // round-trip into a second table and compare rendered rows
      psql("-c", s"CREATE TABLE IF NOT EXISTS copy_bin_t2 $ddl USING parquet")
      val (c2, o2, e2) = psql("-c",
        s"\\copy copy_bin_t2 FROM '$bin' WITH (FORMAT binary)")
      assert(c2 === 0, s"stdout=$o2 stderr=$e2")
      assert(o2.contains("COPY 3"), o2)
      def dump(t: String): String = {
        val (c, o, e) = psql("-F", "|", "-c", s"SELECT * FROM $t ORDER BY i8 NULLS LAST")
        assert(c === 0, e); o
      }
      assert(dump("copy_bin_t2") === dump("copy_bin_t"))
      // the exported text rendering carries the exact values
      assert(dump("copy_bin_t").linesIterator.next() ===
        "-9|-8|-7|f|-0.25|-0.5|-0.001|1999-12-31|1999-12-31 23:59:59||\\x")
      // HEADER is rejected in binary mode, like pg
      val (_, _, eh) = psql("-c",
        s"\\copy copy_bin_t2 FROM '$bin' WITH (FORMAT binary, HEADER)")
      assert(eh.contains("cannot specify HEADER in BINARY mode"), eh)
      // a non-PGCOPY file is one clean error and no partial append
      java.nio.file.Files.writeString(dir.resolve("garbage.bin"), "id,name\n1,x\n")
      val (_, _, eg) = psql("-c",
        s"\\copy copy_bin_t2 FROM '${dir.resolve("garbage.bin")}' WITH (FORMAT binary)")
      assert(eg.contains("PGCOPY"), eg)
      val (_, on, _) = psql("-c", "SELECT count(*) AS n FROM copy_bin_t2")
      assert(on.trim === "3", on)
      // a TRUNCATED stream (trailer cut off) must fail, not silently load
      java.nio.file.Files.write(dir.resolve("trunc.bin"),
        java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 2))
      val (_, _, et) = psql("-c",
        s"\\copy copy_bin_t2 FROM '${dir.resolve("trunc.bin")}' WITH (FORMAT binary)")
      assert(et.contains("trailer"), et)
      // column-list binary import: unlisted columns land NULL
      val one = dir.resolve("one.bin")
      val (c5, o5, e5) = psql("-c",
        s"\\copy (SELECT i8, s FROM copy_bin_t WHERE i8 = 1) TO '$one' WITH (FORMAT binary)")
      assert(c5 === 0, s"stdout=$o5 stderr=$e5")
      val (c6, o6, e6) = psql("-c",
        s"\\copy copy_bin_t2 (i8, s) FROM '$one' WITH (FORMAT binary)")
      assert(c6 === 0, s"stdout=$o6 stderr=$e6")
      // unicode fidelity asserted SERVER-side (codepoint + length):
      // the é survived insert → binary export → binary import exactly
      val (_, o7, _) = psql("-F", "|", "-c",
        "SELECT i8, length(s) AS n, ascii(substring(s, 2, 1)) AS cp, i4 IS NULL AS i4n " +
          "FROM copy_bin_t2 WHERE s = concat('h', chr(233), 'llo') ORDER BY i4n")
      assert(o7.linesIterator.toSeq === Seq("1|5|233|f", "1|5|233|t"), o7)
    } finally {
      psql("-c", "DROP TABLE IF EXISTS copy_bin_t")
      psql("-c", "DROP TABLE IF EXISTS copy_bin_t2")
    }
  }

  test("COPY text format with HEADER both directions, incl. a column name needing text escaping") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg-copytxthdr")
    // OUT: pg 15+ emits a tab-separated, text-escaped header line for
    // FORMAT text HEADER — a column named with a literal backslash
    // must come back doubled (copyTextField escaping applies to the
    // header too)
    val (c1, o1, e1) = psql("-c",
      "\\copy (SELECT n_nationkey AS `k\\x`, n_name AS nm FROM nation_pg " +
        s"WHERE n_nationkey < 2 ORDER BY 1) TO '${dir.resolve("h.txt")}' WITH (HEADER)")
    assert(c1 === 0, s"stdout=$o1 stderr=$e1")
    assert(o1.contains("COPY 2"), o1)
    assert(java.nio.file.Files.readString(dir.resolve("h.txt")) ===
      "k\\\\x\tnm\n0\tNATION_0\n1\tNATION_1\n")
    // IN: first line is a header and must be SKIPPED, not parsed as data
    val (cc, oc, ec) = psql("-c",
      "CREATE TABLE IF NOT EXISTS copy_txthdr_t (a BIGINT, b STRING) USING parquet")
    assert(cc === 0, s"stdout=$oc stderr=$ec")
    try {
      java.nio.file.Files.writeString(dir.resolve("in.txt"), "a\tb\n7\tdata\n")
      val (c2, o2, e2) = psql("-c",
        s"\\copy copy_txthdr_t FROM '${dir.resolve("in.txt")}' WITH (HEADER)")
      assert(c2 === 0, s"stdout=$o2 stderr=$e2")
      assert(o2.contains("COPY 1"), o2)
      val (_, o3, _) = psql("-F", "|", "-c",
        "SELECT a, b FROM copy_txthdr_t ORDER BY a")
      assert(o3.trim === "7|data", o3)
    } finally psql("-c", "DROP TABLE IF EXISTS copy_txthdr_t")
  }

  test("COPY round-trip: embedded newlines, quoted-empty vs bare-empty-NULL, single-column rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pg-copyrt")
    val (cc, oc, ec) = psql("-c",
      "CREATE TABLE IF NOT EXISTS copy_rt_t (a BIGINT, b STRING) USING parquet")
    assert(cc === 0, s"stdout=$oc stderr=$ec")
    try {
      // seed via COPY IN with a newline INSIDE a quoted field, an
      // empty string ("") and a NULL (bare empty)
      java.nio.file.Files.writeString(dir.resolve("rt.csv"),
        "1,\"line1\nline2\"\n2,\"\"\n3,\n")
      val (c1, o1, e1) = psql("-c",
        s"\\copy copy_rt_t FROM '${dir.resolve("rt.csv")}' WITH (FORMAT csv)")
      assert(c1 === 0, s"stdout=$o1 stderr=$e1")
      assert(o1.contains("COPY 3"), o1)
      val (_, o2, _) = psql("-F", "|", "-c",
        "SELECT a, b IS NULL AS nul, coalesce(length(b), -1) AS len FROM copy_rt_t ORDER BY a")
      assert(o2.linesIterator.toSeq === Seq("1|f|11", "2|f|0", "3|t|-1"), o2)
      // export back: the quoted newline and ""-vs-NULL distinction survive
      val (c3, o3, e3) = psql("-c",
        s"\\copy (SELECT a, b FROM copy_rt_t ORDER BY a) TO '${dir.resolve("back.csv")}' WITH (FORMAT csv)")
      assert(c3 === 0, s"stdout=$o3 stderr=$e3")
      assert(java.nio.file.Files.readString(dir.resolve("back.csv")) ===
        "1,\"line1\nline2\"\n2,\"\"\n3,\n")
      // single-column table: a NULL row exports as an EMPTY line and
      // must survive re-import (not be dropped)
      psql("-c", "CREATE TABLE IF NOT EXISTS copy_rt_one (x STRING) USING parquet")
      try {
        // 4 rows: "a", NULL, EMPTY STRING (an empty line — a real
        // row, must not be dropped), "b"
        java.nio.file.Files.writeString(dir.resolve("one.txt"), "a\n\\N\n\nb\n")
        val (c4, o4, e4) = psql("-c",
          s"\\copy copy_rt_one FROM '${dir.resolve("one.txt")}'")
        assert(c4 === 0, s"stdout=$o4 stderr=$e4")
        assert(o4.contains("COPY 4"), o4)
        val (_, o5, _) = psql("-c",
          "SELECT count(*) AS n, count(x) AS nn FROM copy_rt_one")
        assert(o5.trim === "4|3", o5)
      } finally psql("-c", "DROP TABLE IF EXISTS copy_rt_one")
    } finally psql("-c", "DROP TABLE IF EXISTS copy_rt_t")
  }

  test("psql \\dt lists registered tables through the pg_catalog shim") {
    val (code, out, err) = psql("-c", "\\dt")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.linesIterator.exists(l => l.contains("nation_pg") && l.contains("table")), out)
  }

  test("psql \\d <table> shows the column list with pg type names") {
    val (code, out, err) = psql("-c", "\\d nation_pg")
    assert(code === 0, s"stdout=$out stderr=$err")
    assert(out.contains("n_nationkey"), out)
    assert(out.contains("n_name"), out)
    assert(out.contains("text"), out) // n_name renders as pg text
  }

  test("psql \\dv sees this connection's temp view; \\dn lists the public schema") {
    val (c1, out1, err1) = psql("-c", "CREATE TEMP VIEW pgcat_vv AS SELECT 1 AS one", "-c", "\\dv")
    assert(c1 === 0, err1)
    assert(out1.linesIterator.exists(l => l.contains("pgcat_vv") && l.contains("view")), out1)
    val (c2, out2, err2) = psql("-c", "\\dn")
    assert(c2 === 0, err2)
    assert(out2.contains("public"), out2)
  }

  test("psql \\dt / \\dv: a permanent view lists as a view, a permanent table as a table") {
    val (c0, o0, e0) = psql("-c", "CREATE VIEW pgcat_pv AS SELECT n_name FROM nation_pg")
    assert(c0 === 0, s"stdout=$o0 stderr=$e0")
    try {
      val (c1, dt, e1) = psql("-c", "\\dt")
      assert(c1 === 0, e1)
      assert(dt.linesIterator.contains("public|nation_pg|table|graft"), dt)
      assert(!dt.contains("pgcat_pv"), dt)
      val (c2, dv, e2) = psql("-c", "\\dv")
      assert(c2 === 0, e2)
      assert(dv.linesIterator.contains("public|pgcat_pv|view|graft"), dv)
      assert(!dv.contains("nation_pg"), dv)
    } finally psql("-c", "DROP VIEW IF EXISTS pgcat_pv")
  }

  /** Spark jobs that pgwire connections (job groups `pgwire-…`)
    * submit while `f` runs.
    */
  private def pgwireJobs(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sentinel = s"catalog-spec-sentinel-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == sentinel) sentinelSeen.countDown()
          else if (g.startsWith("pgwire-")) jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      // the listener bus delivers in order: once the sentinel job's
      // start arrives, every job submitted during f has been counted
      sc.setJobGroup(sentinel, "job-count sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("psql \\dt and \\d <table> submit no Spark job") {
    Seq("\\dt" -> "nation_pg", "\\d nation_pg" -> "n_nationkey")
      .foreach { case (stmt, expected) =>
        var res: (Int, String, String) = null
        val jobs = pgwireJobs { res = psql("-c", stmt) }
        val (code, out, err) = res
        assert(code === 0, s"$stmt: stdout=$out stderr=$err")
        assert(out.contains(expected), s"$stmt: $out")
        assert(jobs === 0, s"$stmt submitted $jobs Spark jobs")
      }
  }

  // ---- extended protocol (psql never sends it; a raw client does) --

  private def frame(tpe: Char, body: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(1 + 4 + body.length)
    b.put(tpe.toByte).putInt(body.length + 4).put(body)
    b.array()
  }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  test("extended protocol: Parse/Bind/Describe/Execute round-trip") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      sock.setSoTimeout(30000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      // startup (no SSL probe — the protocol allows going straight in)
      val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
      val startup = java.nio.ByteBuffer.allocate(8 + params.length)
      startup.putInt(8 + params.length).putInt(196608).put(params)
      out.write(startup.array()); out.flush()
      // drain until ReadyForQuery
      def readMsg(): (Char, Array[Byte]) = {
        val tpe = in.read().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        (tpe, payload)
      }
      def drainUntil(t: Char): Seq[(Char, Array[Byte])] = {
        val seen = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
        var m = readMsg()
        while (m._1 != t) { seen += m; m = readMsg() }
        seen += m
        seen.toSeq
      }
      assert(drainUntil('Z').exists(_._1 == 'R')) // AuthenticationOk seen
      // Parse("s1") / Bind portal "" / Describe portal / Execute / Sync
      out.write(frame('P', cstr("s1") ++
        cstr("SELECT n_name FROM nation_pg WHERE n_nationkey = 7") ++
        Array[Byte](0, 0)))
      out.write(frame('B', cstr("") ++ cstr("s1") ++ Array[Byte](0, 0, 0, 0, 0, 0)))
      out.write(frame('D', 'P'.toByte +: cstr("")))
      out.write(frame('E', cstr("") ++ Array[Byte](0, 0, 0, 0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val msgs = drainUntil('Z')
      val types = msgs.map(_._1)
      assert(types.containsSlice(Seq('1', '2'))) // ParseComplete, BindComplete
      assert(types.contains('T'), types)         // RowDescription from Describe
      val dataRows = msgs.filter(_._1 == 'D')
      assert(dataRows.size === 1, types)
      val payload = dataRows.head._2
      // DataRow: int16 ncols=1, int32 len, bytes
      val value = new String(payload, 6, payload.length - 6, UTF_8)
      assert(value === "NATION_7", value)
      val complete = msgs.find(_._1 == 'C').map(p => new String(p._2, UTF_8).trim)
      assert(complete.exists(_.startsWith("SELECT 1")), complete)
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  /** Open a raw extended-protocol session: returns (socket, out,
    * readMsg, drainUntil). Callers close the socket.
    */
  private def extSession(): (Socket, DataOutputStream,
      () => (Char, Array[Byte]), Char => Seq[(Char, Array[Byte])]) = {
    val sock = new Socket("127.0.0.1", server.boundPort)
    sock.setSoTimeout(30000)
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
    val startup = java.nio.ByteBuffer.allocate(8 + params.length)
    startup.putInt(8 + params.length).putInt(196608).put(params)
    out.write(startup.array()); out.flush()
    def readMsg(): (Char, Array[Byte]) = {
      val tpe = in.read().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      (tpe, payload)
    }
    def drainUntil(t: Char): Seq[(Char, Array[Byte])] = {
      val seen = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
      var m = readMsg()
      while (m._1 != t) { seen += m; m = readMsg() }
      seen += m
      seen.toSeq
    }
    drainUntil('Z')
    (sock, out, () => readMsg(), drainUntil)
  }

  private def int16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def int32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  /** Parse body with declared param-type OIDs. */
  private def parseMsg(name: String, sql: String, oids: Seq[Int] = Seq.empty): Array[Byte] =
    cstr(name) ++ sql.getBytes(UTF_8).++(Array(0.toByte)) ++ int16(oids.length) ++
      oids.flatMap(int32).toArray

  /** Bind body with text-format parameter values (None = NULL). */
  private def bindMsg(portal: String, stmt: String, params: Seq[Option[String]],
      fmts: Seq[Int] = Seq.empty): Array[Byte] =
    cstr(portal) ++ cstr(stmt) ++ int16(fmts.length) ++ fmts.flatMap(int16).toArray ++
      int16(params.length) ++
      params.flatMap {
        case None    => int32(-1).toSeq
        case Some(v) => val b = v.getBytes(UTF_8); int32(b.length).toSeq ++ b.toSeq
      }.toArray ++ int16(0)

  /** Bind body with raw (possibly binary-format) parameter bytes. */
  private def bindMsgRaw(portal: String, stmt: String, params: Seq[Option[Array[Byte]]],
      fmts: Seq[Int] = Seq.empty): Array[Byte] =
    cstr(portal) ++ cstr(stmt) ++ int16(fmts.length) ++ fmts.flatMap(int16).toArray ++
      int16(params.length) ++
      params.flatMap {
        case None    => int32(-1).toSeq
        case Some(b) => int32(b.length).toSeq ++ b.toSeq
      }.toArray ++ int16(0)

  private def dataVals(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
    msgs.filter(_._1 == 'D').map(p => new String(p._2, 6, p._2.length - 6, UTF_8))

  test("extended protocol: Describe of a prepared INSERT is NoData, never executes; Bind runs once, cross-connection visible") {
    val loc = java.nio.file.Files.createTempDirectory("pgw-insdesc")
    spark.sql(s"CREATE TABLE pgw_ins (id BIGINT) USING parquet LOCATION '$loc'")
    val probe = new PgClient("127.0.0.1", server.boundPort)
    try {
      // reader connection caches the (empty) relation FIRST
      assert(probe.query("SELECT CAST(count(*) AS BIGINT) AS n FROM pgw_ins")._2
        === Vector(Vector("0")))
      val (sock, out, _, drainUntil) = extSession()
      try {
        // pgJDBC prepareThreshold flow: Parse + Describe(S) + Sync
        out.write(frame('P', parseMsg("pi",
          "INSERT INTO pgw_ins VALUES (CAST($1 AS BIGINT))", Seq(20))))
        out.write(frame('D', 'S'.toByte +: cstr("pi")))
        out.write(frame('S', Array.empty)); out.flush()
        val msgs = drainUntil('Z')
        assert(msgs.exists(_._1 == '1'), msgs.map(_._1)) // ParseComplete
        assert(msgs.exists(_._1 == 't'), msgs.map(_._1)) // ParameterDescription
        assert(msgs.exists(_._1 == 'n'), msgs.map(_._1)) // NoData, not a RowDescription
        assert(!msgs.exists(_._1 == 'T'), msgs.map(_._1))
        // describing must NOT have committed anything (with params it
        // would have inserted a NULL row; without, a duplicate)
        assert(probe.query("SELECT CAST(count(*) AS BIGINT) AS n FROM pgw_ins")._2
          === Vector(Vector("0")))
        // Bind + Execute runs the INSERT exactly once...
        out.write(frame('B', bindMsg("", "pi", Seq(Some("41")))))
        out.write(frame('E', cstr("") ++ int32(0)))
        out.write(frame('S', Array.empty)); out.flush()
        drainUntil('Z')
        // ...and the OTHER connection — whose session already cached
        // the relation — sees the committed row on its next statement
        assert(probe.query(
          "SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(id) AS BIGINT) AS m FROM pgw_ins")._2
          === Vector(Vector("1", "41")))
      } finally sock.close()
    } finally {
      probe.close()
      spark.sql("DROP TABLE IF EXISTS pgw_ins")
    }
  }

  test("extended protocol: text-format bound parameters, typed and untyped") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      // declared int4 OID: value arrives as text "7", converts to long
      out.write(frame('P', parseMsg("p1",
        "SELECT n_name FROM nation_pg WHERE n_nationkey = $1", Seq(23))))
      out.write(frame('B', bindMsg("", "p1", Seq(Some("7")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("NATION_7"))
      // undeclared OID (0): string passes through, implicit cast coerces
      out.write(frame('P', parseMsg("p2",
        "SELECT n_nationkey FROM nation_pg WHERE n_name = $1 AND n_nationkey < $2")))
      out.write(frame('B', bindMsg("", "p2", Seq(Some("NATION_3"), Some("10")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("3"))
      // the same statement re-binds with different values (the point
      // of prepared statements)
      out.write(frame('B', bindMsg("", "p1", Seq(Some("11")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("NATION_11"))
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("extended protocol: NULL parameter, $N inside a string literal stays data") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      // NULL parameter: n_nationkey = NULL matches nothing
      out.write(frame('P', parseMsg("pn",
        "SELECT n_name FROM nation_pg WHERE n_nationkey = $1", Seq(23))))
      out.write(frame('B', bindMsg("", "pn", Seq(None))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val msgs = drainUntil('Z')
      assert(dataVals(msgs).isEmpty, msgs.map(_._1))
      assert(msgs.exists(m => m._1 == 'C'), msgs.map(_._1)) // completes, no error
      // '$1' in a literal is NOT a parameter; $1 outside is
      out.write(frame('P', parseMsg("ps", "SELECT '$1 literal' AS s, $1 AS v", Seq(23))))
      out.write(frame('B', bindMsg("", "ps", Seq(Some("42")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val row = dataVals(drainUntil('Z'))
      assert(row.size === 1, row)
      // DataRow payload decoding via dataVals is first-column only for
      // single-col rows; decode both cols manually here
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("extended protocol: binary params decode for declared oids; malformed/untyped error cleanly") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      // binary int4 with a DECLARED oid decodes (network-order 4 bytes)
      out.write(frame('P', parseMsg("pb",
        "SELECT n_name FROM nation_pg WHERE n_nationkey = $1", Seq(23))))
      out.write(frame('B', bindMsgRaw("", "pb",
        Seq(Some(int32(7))), fmts = Seq(1))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("NATION_7"))
      // binary without a declared oid is uninterpretable: one clean
      // ErrorResponse; the pipelined Execute is discarded per the
      // error discipline
      out.write(frame('P', parseMsg("pb0",
        "SELECT n_name FROM nation_pg WHERE n_nationkey = $1")))
      out.write(frame('B', bindMsgRaw("", "pb0", Seq(Some(int32(7))), fmts = Seq(1))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val msgs = drainUntil('Z')
      assert(msgs.map(_._1) === Seq('1', 'E', 'Z'), msgs.map(_._1))
      // a wrong-length binary buffer is malformed, not coerced
      out.write(frame('B', bindMsgRaw("", "pb",
        Seq(Some(Array[Byte](0, 7))), fmts = Seq(1))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(drainUntil('Z').map(_._1) === Seq('E', 'Z'))
      // recovery: same statement binds fine with text format
      out.write(frame('B', bindMsg("", "pb", Seq(Some("7")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("NATION_7"))
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("binary param decoding: every supported oid, strict lengths") {
    def i64(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    assert(PgWire.paramValueBinary(int32(42), 23) === 42L)
    assert(PgWire.paramValueBinary(Array[Byte](0, 42), 21) === 42L)
    assert(PgWire.paramValueBinary(i64(1L << 40), 20) === (1L << 40))
    assert(PgWire.paramValueBinary(Array[Byte](1), 16) === true)
    assert(PgWire.paramValueBinary(Array[Byte](0), 16) === false)
    assert(PgWire.paramValueBinary(
      java.nio.ByteBuffer.allocate(4).putFloat(1.5f).array(), 700) === 1.5)
    assert(PgWire.paramValueBinary(
      java.nio.ByteBuffer.allocate(8).putDouble(2.5).array(), 701) === 2.5)
    assert(PgWire.paramValueBinary("hi".getBytes("UTF-8"), 25) === "hi")
    assert(PgWire.paramValueBinary(Array[Byte](1, 2), 17)
      .asInstanceOf[Array[Byte]].toSeq === Seq(1.toByte, 2.toByte))
    // date: days since 2000-01-01 — day 1 is 2000-01-02
    assert(PgWire.paramValueBinary(int32(1), 1082) ===
      java.time.LocalDate.parse("2000-01-02"))
    // timestamp: micros since 2000-01-01 midnight
    assert(PgWire.paramValueBinary(i64(86400000000L + 1000000L), 1114) ===
      java.time.LocalDateTime.parse("2000-01-02T00:00:01"))
    intercept[IllegalArgumentException](PgWire.paramValueBinary(int32(1), 0))
    intercept[IllegalArgumentException](PgWire.paramValueBinary(Array[Byte](1), 23))
    // 4 bytes is a truncated numeric header — malformed, not coerced
    intercept[IllegalArgumentException](PgWire.paramValueBinary(int32(1), 1700))
  }

  test("dollar-param rewriter: quote/comment aware, max index, multi-digit") {
    assert(PgWire.scanDollarParams("SELECT $1, $2") === ("SELECT :gp_1, :gp_2", 2))
    assert(PgWire.scanDollarParams("SELECT '$1', $1") === ("SELECT '$1', :gp_1", 1))
    assert(PgWire.scanDollarParams("SELECT \"$1\" FROM t -- $9\n WHERE x = $10") ===
      ("SELECT \"$1\" FROM t -- $9\n WHERE x = :gp_10", 10))
    assert(PgWire.scanDollarParams("/* $5 */ SELECT $3") === ("/* $5 */ SELECT :gp_3", 3))
    assert(PgWire.scanDollarParams("SELECT 1") === ("SELECT 1", 0))
  }

  test("param conversion honors declared OIDs") {
    assert(PgWire.paramValue("7", 23) === 7L)
    assert(PgWire.paramValue("t", 16) === true)
    assert(PgWire.paramValue("off", 16) === false)
    assert(PgWire.paramValue("1.5", 701) === 1.5)
    assert(PgWire.paramValue("12.34", 1700) === new java.math.BigDecimal("12.34"))
    assert(PgWire.paramValue("2024-01-02", 1082) === java.time.LocalDate.parse("2024-01-02"))
    assert(PgWire.paramValue("2024-01-02 03:04:05", 1114) ===
      java.time.LocalDateTime.parse("2024-01-02T03:04:05"))
    assert(PgWire.paramValue("\\x0aff", 17).asInstanceOf[Array[Byte]].toSeq ===
      Seq(0x0a.toByte, 0xff.toByte))
    assert(PgWire.paramValue("anything", 0) === "anything")
    intercept[IllegalArgumentException](PgWire.paramValue("maybe", 16))
  }

  test("statement splitter respects quoting") {
    assert(PgWire.splitStatements("SELECT 1; SELECT 2") === Seq("SELECT 1", "SELECT 2"))
    assert(PgWire.splitStatements("SELECT 'a;b'; SELECT \"c;d\" FROM t") ===
      Seq("SELECT 'a;b'", "SELECT \"c;d\" FROM t"))
    assert(PgWire.splitStatements("  ;; ") === Seq.empty)
    assert(PgWire.splitStatements("SELECT 'it''s; fine'") === Seq("SELECT 'it''s; fine'"))
  }

  test("extended protocol: Execute row cap suspends and resumes the portal") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      sock.setSoTimeout(30000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
      val startup = java.nio.ByteBuffer.allocate(8 + params.length)
      startup.putInt(8 + params.length).putInt(196608).put(params)
      out.write(startup.array()); out.flush()
      def readMsg(): (Char, Array[Byte]) = {
        val tpe = in.read().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        (tpe, payload)
      }
      def drainUntil(t: Char): Seq[(Char, Array[Byte])] = {
        val seen = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
        var m = readMsg()
        while (m._1 != t) { seen += m; m = readMsg() }
        seen += m
        seen.toSeq
      }
      drainUntil('Z')
      def execute(maxRows: Int): Unit = {
        val cap = java.nio.ByteBuffer.allocate(4).putInt(maxRows).array()
        out.write(frame('E', cstr("") ++ cap))
        out.write(frame('H', Array.empty)) // Flush so each batch arrives alone
        out.flush()
      }
      out.write(frame('P', cstr("s3") ++
        cstr("SELECT n_nationkey FROM nation_pg ORDER BY n_nationkey") ++
        Array[Byte](0, 0)))
      out.write(frame('B', cstr("") ++ cstr("s3") ++ Array[Byte](0, 0, 0, 0, 0, 0)))
      out.flush()
      // fetch 3 at a time: first batch = 3 rows + PortalSuspended
      execute(3)
      var batch = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
      def readBatch(): Seq[(Char, Array[Byte])] = {
        batch.clear()
        var m = readMsg()
        while (m._1 != 's' && m._1 != 'C' && m._1 != 'E') { batch += m; m = readMsg() }
        batch += m
        batch.toSeq
      }
      val first = readBatch()
      assert(first.count(_._1 == 'D') === 3, first.map(_._1))
      assert(first.last._1 === 's', "expected PortalSuspended after the cap")
      val firstVals = first.filter(_._1 == 'D')
        .map(p => new String(p._2, 6, p._2.length - 6, UTF_8))
      assert(firstVals === Seq("0", "1", "2"))
      // resume: next batch continues from row 3, same iterator
      execute(3)
      val second = readBatch()
      val secondVals = second.filter(_._1 == 'D')
        .map(p => new String(p._2, 6, p._2.length - 6, UTF_8))
      assert(secondVals === Seq("3", "4", "5"), second.map(_._1))
      // uncapped Execute drains the rest and completes
      execute(0)
      val rest = readBatch()
      assert(rest.last._1 === 'C', rest.map(_._1))
      val total = spark.read.parquet(s"$Sf/nation.parquet").count()
      val tag = new String(rest.last._2, UTF_8).takeWhile(_ != 0.toChar).trim
      assert(tag === s"SELECT ${total - 6}", tag)
      out.write(frame('S', Array.empty)); out.flush()
      drainUntil('Z')
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  /** psql 15's literal `\dt` query. */
  private val PsqlDt =
    """SELECT n.nspname as "Schema",
      |  c.relname as "Name",
      |  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
      |  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
      |FROM pg_catalog.pg_class c
      |     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
      |     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
      |WHERE c.relkind IN ('r','p','')
      |      AND n.nspname <> 'pg_catalog'
      |      AND n.nspname !~ '^pg_toast'
      |      AND n.nspname <> 'information_schema'
      |  AND pg_catalog.pg_table_is_visible(c.oid)
      |ORDER BY 1,2;""".stripMargin

  test("extended protocol: a prepared \\dt describes from the catalog shim and resumes after the row cap") {
    Serve.registerShared(spark, "region_pg", Seq(s"$Sf/region.parquet"), "parquet")
    val (sock, out, readMsg, drainUntil) = extSession()
    try {
      def rowNames(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
        msgs.filter(_._1 == 'D').map(m => dataCols(m._2)(1).map(new String(_, UTF_8)).orNull)
      def readUntil(stop: Set[Char]): Seq[(Char, Array[Byte])] = {
        val seen = scala.collection.mutable.ListBuffer(readMsg())
        while (!stop(seen.last._1)) seen += readMsg()
        seen.toSeq
      }
      def fieldNames(rowDesc: Array[Byte]): Seq[String] = {
        val n = ((rowDesc(0) & 0xff) << 8) | (rowDesc(1) & 0xff)
        var off = 2
        (0 until n).map { _ =>
          var end = off
          while (rowDesc(end) != 0) end += 1
          val name = new String(rowDesc, off, end - off, UTF_8)
          off = end + 1 + 18 // table oid, attnum, type oid, typlen, typmod, format
          name
        }
      }
      out.write(frame('P', parseMsg("dt", PsqlDt)))
      out.write(frame('D', 'S'.toByte +: cstr("dt")))
      out.write(frame('B', bindMsg("", "dt", Seq.empty)))
      out.write(frame('D', 'P'.toByte +: cstr("")))
      out.write(frame('E', cstr("") ++ int32(1)))
      out.write(frame('H', Array.empty)); out.flush()
      val first = readUntil(Set('s', 'C', 'E'))
      assert(first.map(_._1) === Seq('1', 't', 'T', '2', 'T', 'D', 's'), first.map(_._1))
      first.filter(_._1 == 'T').foreach(t =>
        assert(fieldNames(t._2) === Seq("Schema", "Name", "Type", "Owner")))
      // the uncapped Execute continues the same iterator to the end
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty)); out.flush()
      val rest = drainUntil('Z')
      assert(rest.map(_._1).takeRight(2) === Seq('C', 'Z'), rest.map(_._1))
      val names = rowNames(first) ++ rowNames(rest)
      assert(names === names.sorted, names)
      assert(names.contains("nation_pg") && names.contains("region_pg"), names)
      val tag = new String(rest.find(_._1 == 'C').get._2, UTF_8).takeWhile(_ != 0.toChar)
      assert(tag === s"SELECT ${names.size - 1}", tag)
      out.write(frame('X', Array.empty)); out.flush()
    } finally {
      sock.close()
      spark.sql("DROP TABLE IF EXISTS region_pg")
    }
  }

  test("extended protocol: an ErrorResponse is flushed as sent, before any Sync") {
    val (sock, out, readMsg, drainUntil) = extSession()
    try {
      // binary parameter without a declared oid: the Bind fails
      out.write(frame('P', parseMsg("ef",
        "SELECT n_name FROM nation_pg WHERE n_nationkey = $1")))
      out.write(frame('B', bindMsgRaw("", "ef", Seq(Some(int32(7))), fmts = Seq(1))))
      out.write(frame('E', cstr("") ++ int32(1)))
      out.write(frame('H', Array.empty)); out.flush()
      // the row-cap flow waits here for a reply: it must be the error,
      // well inside the 30 s socket timeout
      sock.setSoTimeout(5000)
      assert(Seq(readMsg()._1, readMsg()._1) === Seq('1', 'E'))
      // the discarded Execute and Flush draw nothing; Sync recovers
      sock.setSoTimeout(30000)
      out.write(frame('S', Array.empty)); out.flush()
      assert(drainUntil('Z').map(_._1) === Seq('Z'))
      out.write(frame('B', bindMsg("", "ef", Seq(Some("7")))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty)); out.flush()
      assert(dataVals(drainUntil('Z')) === Seq("NATION_7"))
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  // ---- binary RESULT format (Bind's trailing format-code section) --

  /** Bind body with no params and explicit RESULT format codes. */
  private def bindResultFmts(portal: String, stmt: String, resultFmts: Seq[Int]): Array[Byte] =
    cstr(portal) ++ cstr(stmt) ++ int16(0) ++ int16(0) ++
      int16(resultFmts.length) ++ resultFmts.flatMap(int16).toArray

  /** Split a DataRow payload into per-column value byte arrays (null = None). */
  private def dataCols(payload: Array[Byte]): Seq[Option[Array[Byte]]] = {
    val n = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
    var off = 2
    (0 until n).map { _ =>
      val len = java.nio.ByteBuffer.wrap(payload, off, 4).getInt
      off += 4
      if (len < 0) None
      else { val b = java.util.Arrays.copyOfRange(payload, off, off + len); off += len; Some(b) }
    }
  }

  test("binary results: Bind's result-format codes are honored per OID (the pgJDBC-after-prepareThreshold flow)") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      val sql = "SELECT true AS b, CAST(1 AS SMALLINT) AS s, CAST(2 AS INT) AS i, " +
        "CAST(1099511627776 AS BIGINT) AS l, CAST(1.5 AS FLOAT) AS f, " +
        "CAST(2.5 AS DOUBLE) AS d, 'hi' AS t, X'0AFF' AS bin, " +
        "DATE '2000-01-02' AS dt, TIMESTAMP '2000-01-02 00:00:01' AS ts, " +
        "CAST(NULL AS BIGINT) AS nul"
      out.write(frame('P', parseMsg("bres", sql)))
      // positional codes: all 11 columns binary
      out.write(frame('B', bindResultFmts("", "bres", Seq.fill(11)(1))))
      out.write(frame('D', 'P'.toByte +: cstr("")))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val msgs = drainUntil('Z')
      // RowDescription from the PORTAL describe must advertise format 1
      // per column (the statement variant would say 0 — formats are a
      // Bind property)
      val rowDesc = msgs.find(_._1 == 'T').get._2
      // last int16 of each field block is the format code; walk fields
      var off = 2
      val fmts = (0 until 11).map { _ =>
        while (rowDesc(off) != 0) off += 1 // name cstr
        off += 1 + 4 + 2 + 4 + 2 + 4       // oid table/attnum/oid/typlen/typmod
        val f = ((rowDesc(off) & 0xff) << 8) | (rowDesc(off + 1) & 0xff)
        off += 2
        f
      }
      assert(fmts === Seq.fill(11)(1), fmts)
      val rows = msgs.filter(_._1 == 'D')
      assert(rows.size === 1, msgs.map(_._1))
      val cols = dataCols(rows.head._2)
      assert(cols(0).get.toSeq === Seq(1.toByte))                    // bool
      assert(java.nio.ByteBuffer.wrap(cols(1).get).getShort === 1)   // int2
      assert(java.nio.ByteBuffer.wrap(cols(2).get).getInt === 2)     // int4
      assert(java.nio.ByteBuffer.wrap(cols(3).get).getLong === (1L << 40)) // int8
      assert(java.nio.ByteBuffer.wrap(cols(4).get).getFloat === 1.5f)
      assert(java.nio.ByteBuffer.wrap(cols(5).get).getDouble === 2.5)
      assert(new String(cols(6).get, UTF_8) === "hi")                // text = utf8 bytes
      assert(cols(7).get.toSeq === Seq(0x0a.toByte, 0xff.toByte))    // bytea raw
      assert(java.nio.ByteBuffer.wrap(cols(8).get).getInt === 1)     // days since 2000-01-01
      assert(java.nio.ByteBuffer.wrap(cols(9).get).getLong === 86400000000L + 1000000L)
      assert(cols(10).isEmpty)                                       // NULL is len -1, format-independent
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("binary results: one format code applies to all columns; text Bind on the same statement still works") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      out.write(frame('P', parseMsg("ball",
        "SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r " +
          "FROM nation_pg WHERE n_nationkey = 7")))
      out.write(frame('B', bindResultFmts("", "ball", Seq(1)))) // single code → every column
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val cols = dataCols(drainUntil('Z').filter(_._1 == 'D').head._2)
      assert(java.nio.ByteBuffer.wrap(cols(0).get).getLong === 7L)
      assert(java.nio.ByteBuffer.wrap(cols(1).get).getLong === 2L)
      // re-Bind the same statement with NO codes → back to text
      out.write(frame('B', bindResultFmts("", "ball", Seq.empty)))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val textCols = dataCols(drainUntil('Z').filter(_._1 == 'D').head._2)
      assert(new String(textCols(0).get, UTF_8) === "7")
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("binary results: numeric round-trips in base-10000 form; malformed requests fail the Bind cleanly") {
    val (sock, out, _, drainUntil) = extSession()
    try {
      out.write(frame('P', parseMsg("bnum", "SELECT CAST(-12.34 AS DECIMAL(10,2)) AS n")))
      out.write(frame('B', bindResultFmts("", "bnum", Seq(1))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val cols = dataCols(drainUntil('Z').filter(_._1 == 'D').head._2)
      // pinned wire layout: ndigits=2 weight=0 sign=0x4000 dscale=2,
      // groups [12, 3400] — the documented pg numeric binary form
      val b = java.nio.ByteBuffer.wrap(cols(0).get)
      assert((b.getShort, b.getShort, b.getShort & 0xFFFF, b.getShort) === ((2, 0, 0x4000, 2)))
      assert((b.getShort, b.getShort) === ((12, 3400)))
      // mismatched positional count is a clean Bind error
      out.write(frame('B', bindResultFmts("", "bnum", Seq(1, 1, 1))))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(drainUntil('Z').map(_._1) === Seq('E', 'Z'))
      // an unknown format code (2) is a clean Bind error too
      out.write(frame('B', bindResultFmts("", "bnum", Seq(2))))
      out.write(frame('S', Array.empty))
      out.flush()
      assert(drainUntil('Z').map(_._1) === Seq('E', 'Z'))
      // text Bind on the same statement still works
      out.write(frame('B', bindResultFmts("", "bnum", Seq(0))))
      out.write(frame('E', cstr("") ++ int32(0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val tcols = dataCols(drainUntil('Z').filter(_._1 == 'D').head._2)
      assert(new String(tcols(0).get, UTF_8) === "-12.34")
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("numeric binary units: pinned layouts, encode/decode mirror, strict errors") {
    def enc(s: String) = PgWire.numericBinary(new java.math.BigDecimal(s))
    def dec(b: Array[Byte]) = PgWire.numericFromBinary(b)
    def hdr(b: Array[Byte]) = {
      val bb = java.nio.ByteBuffer.wrap(b)
      (bb.getShort.toInt, bb.getShort.toInt, bb.getShort & 0xFFFF, bb.getShort.toInt)
    }
    // pinned layouts from the documented format
    assert(hdr(enc("12.34")) === ((2, 0, 0x0000, 2)))          // [12][3400]
    assert(hdr(enc("0.0001")) === ((1, -1, 0x0000, 4)))        // [1] at weight -1
    assert(hdr(enc("10000")) === ((1, 1, 0x0000, 0)))          // [1] at weight 1
    assert(hdr(enc("0")) === ((0, 0, 0x0000, 0)))              // zero: no digit groups
    assert(hdr(enc("0.00")) === ((0, 0, 0x0000, 2)))           // zero keeps dscale
    assert(hdr(enc("-7")) === ((1, 0, 0x4000, 0)))
    // mirror across shapes: sign, multi-group, trailing-zero scale,
    // pure fractions, >int16 digit counts of magnitude
    for (s <- Seq("0", "1", "-1", "12.34", "-12.34", "0.0001", "9999.9999",
        "10000", "123456789.987654321", "12.3400", "1000000000000000000000000.5",
        "-0.000000000123"))
      assert(dec(enc(s)) === new java.math.BigDecimal(s), s)
    // decode enforces well-formedness
    intercept[IllegalArgumentException](dec(Array[Byte](0, 2, 0, 0, 0, 0, 0, 0))) // truncated
    intercept[IllegalArgumentException] { // NaN has no decimal form
      val b = java.nio.ByteBuffer.allocate(8)
      b.putShort(0).putShort(0).putShort(0xC000.toShort).putShort(0)
      dec(b.array())
    }
    intercept[IllegalArgumentException] { // digit group out of base-10000
      val b = java.nio.ByteBuffer.allocate(10)
      b.putShort(1).putShort(0).putShort(0).putShort(0).putShort(10000)
      dec(b.array())
    }
    // the param path accepts oid 1700 binary now
    assert(PgWire.paramValueBinary(enc("42.5"), 1700) === new java.math.BigDecimal("42.5"))
  }

  test("binary result encoding units: layouts mirror the param decoder") {
    import org.apache.spark.sql.types._
    def enc(v: Any, dt: DataType) = PgWire.binaryResultValue(v, dt)
    // every fixed layout decodes back through paramValueBinary
    assert(PgWire.paramValueBinary(enc(42, IntegerType), 23) === 42L)
    assert(PgWire.paramValueBinary(enc(7.toShort, ShortType), 21) === 7L)
    assert(PgWire.paramValueBinary(enc(1L << 40, LongType), 20) === (1L << 40))
    assert(PgWire.paramValueBinary(enc(true, BooleanType), 16) === true)
    assert(PgWire.paramValueBinary(enc(1.5f, FloatType), 700) === 1.5)
    assert(PgWire.paramValueBinary(enc(2.5, DoubleType), 701) === 2.5)
    assert(PgWire.paramValueBinary(enc("hi", StringType), 25) === "hi")
    assert(PgWire.paramValueBinary(
      enc(java.time.LocalDate.parse("2000-01-02"), DateType), 1082) ===
      java.time.LocalDate.parse("2000-01-02"))
    assert(PgWire.paramValueBinary(
      enc(java.sql.Date.valueOf("1999-12-31"), DateType), 1082) ===
      java.time.LocalDate.parse("1999-12-31")) // negative day offset
    assert(PgWire.paramValueBinary(
      enc(java.sql.Timestamp.valueOf("2000-01-02 00:00:01.5"), TimestampType), 1114) ===
      java.time.LocalDateTime.parse("2000-01-02T00:00:01.5"))
    assert(PgWire.paramValueBinary(
      enc(java.time.LocalDateTime.parse("1999-12-31T23:59:59"), TimestampNTZType), 1114) ===
      java.time.LocalDateTime.parse("1999-12-31T23:59:59"))
  }

  test("numeric binary codec law: decode∘encode = id over generated decimals") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random unscaled value × scale: covers multi-group magnitudes,
    // pure fractions, signs, and trailing-zero scales
    val gen = for {
      unscaled <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      extra <- Gen.chooseNum(0L, 999999L)
      scale <- Gen.chooseNum(0, 12)
    } yield new java.math.BigDecimal(
      java.math.BigInteger.valueOf(unscaled).multiply(java.math.BigInteger.valueOf(1000000L))
        .add(java.math.BigInteger.valueOf(extra)), scale)
    (0 until 300).foreach { i =>
      val bd = gen.apply(Gen.Parameters.default, Seed(7000L + i)).get
      val back = PgWire.numericFromBinary(PgWire.numericBinary(bd))
      assert(back === bd, s"seed $i: $bd -> $back")
      assert(back.scale === bd.scale, s"seed $i scale: $bd")
    }
  }

  test("COPY codec laws: text escape and csv quote round-trip over generated strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // strings heavy in the characters the codecs exist for
    val gen = Gen.listOf(Gen.frequency(
      (6, Gen.alphaNumChar), (1, Gen.const('\t')), (1, Gen.const('\n')),
      (1, Gen.const('\r')), (1, Gen.const('\\')), (1, Gen.const('"')),
      (1, Gen.const(',')), (1, Gen.const('é')))).map(_.mkString)
    (0 until 200).foreach { i =>
      val s = gen.apply(Gen.Parameters.default, Seed(9000L + i)).get
      // text format: field-level escape/unescape identity
      assert(PgWire.copyTextUnescape(PgWire.copyTextField(s)) === s, s"text seed $i")
      // csv: a full record of three such fields survives the
      // record-splitter + field-splitter pipeline, quoted flags intact
      val rec = Seq(s, s.reverse, "x" + s).map(PgWire.copyCsvField).mkString(",")
      val (recs, rest) = PgWire.splitCopyRecords((rec + "\n").getBytes("UTF-8"), csv = true)
      assert(rest.isEmpty && recs.size === 1, s"csv record seed $i")
      val fields = PgWire.splitCsvFields(recs.head)
      assert(fields.map(_._1) === Seq(s, s.reverse, "x" + s), s"csv fields seed $i")
      // the empty string is QUOTED on the way out → never misread as NULL
      if (s.isEmpty) assert(fields.head._2, "empty must come back quoted")
    }
    // text NULL marker is unambiguous: a literal backslash-N DATA
    // field escapes its backslash, so it never collides with \N
    assert(PgWire.copyTextField("\\N") === "\\\\N")
    assert(PgWire.copyTextUnescape("\\\\N") === "\\N")
  }

  test("copy record splitter: identical records under ANY frame fragmentation") {
    // a csv stream with quoted newlines, multibyte chars, and CRLF,
    // fed whole vs byte-by-byte vs in 3-byte chunks — the stateful
    // splitter must emit identical records regardless of where
    // CopyData frame boundaries fall (incl. mid-multibyte-char)
    val stream = "1,\"a\nb\",é\r\n2,plain,ü\n3,\"q\"\"x\",end\n".getBytes(UTF_8)
    def runWith(chunks: Seq[Array[Byte]]): Seq[String] = {
      val sp = new PgWire.CopyRecordSplitter(csv = true)
      val out = chunks.flatMap(sp.feed)
      assert(sp.finish().isEmpty)
      out
    }
    val whole = runWith(Seq(stream))
    assert(whole === Seq("1,\"a\nb\",é", "2,plain,ü", "3,\"q\"\"x\",end"), whole)
    assert(runWith(stream.map(b => Array(b)).toSeq) === whole)
    assert(runWith(stream.grouped(3).toSeq) === whole)
    // unterminated tail surfaces via finish()
    val sp = new PgWire.CopyRecordSplitter(csv = false)
    assert(sp.feed("x\ty\npartial".getBytes(UTF_8)) === Seq("x\ty"))
    assert(sp.finish() === Some("partial"))
  }

  test("binary copy parser: identical tuples under ANY frame fragmentation; strict structure") {
    // hand-build a PGCOPY stream: header, 2 tuples of (int8, text,
    // NULL), trailer — then feed it whole / byte-by-byte / in 3s
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.write(PgWire.CopyBinarySignature); d.writeInt(0); d.writeInt(0)
    def tuple(i: Long, s: String): Unit = {
      d.writeShort(3)
      d.writeInt(8); d.writeLong(i)
      val b = s.getBytes(UTF_8); d.writeInt(b.length); d.write(b)
      d.writeInt(-1)
    }
    tuple(7L, "héllo")
    tuple(-1L, "")
    d.writeShort(-1)
    val stream = bos.toByteArray
    def runWith(chunks: Seq[Array[Byte]]): Seq[Seq[Option[Seq[Byte]]]] = {
      val p = new PgWire.CopyBinaryParser(3)
      val out = chunks.flatMap(p.feed)
      p.requireTrailer()
      out.map(_.toSeq.map(f => Option(f).map(_.toSeq)))
    }
    val whole = runWith(Seq(stream))
    assert(whole.length === 2)
    assert(whole(0)(1) === Some("héllo".getBytes(UTF_8).toSeq))
    assert(whole(1)(2) === None) // SQL NULL
    assert(runWith(stream.map(b => Array(b)).toSeq) === whole)
    assert(runWith(stream.grouped(3).toSeq) === whole)
    // structure violations: wrong field count, critical flags, data after trailer
    intercept[IllegalArgumentException](new PgWire.CopyBinaryParser(2).feed(stream))
    val badFlags = stream.clone(); badFlags(11) = 0x01 // bit 24: critical range
    intercept[IllegalArgumentException](new PgWire.CopyBinaryParser(3).feed(badFlags))
    val p2 = new PgWire.CopyBinaryParser(3)
    p2.feed(stream)
    intercept[IllegalArgumentException](p2.feed(Array[Byte](0, 0)))
    // truncation: no trailer yet → requireTrailer throws
    val p3 = new PgWire.CopyBinaryParser(3)
    p3.feed(java.util.Arrays.copyOfRange(stream, 0, stream.length - 2))
    intercept[IllegalArgumentException](p3.requireTrailer())
  }

  test("copy option parsing: explicit FORMAT wins, bare keywords are word-bounded, unknown formats error") {
    import PgWire.{copyOptions, CopyText, CopyCsv, CopyBinary}
    assert(copyOptions("") === (CopyText, false))
    assert(copyOptions("WITH (FORMAT csv, HEADER)") === (CopyCsv, true))
    assert(copyOptions("WITH (FORMAT binary)") === (CopyBinary, false))
    assert(copyOptions("WITH (FORMAT text, HEADER true)") === (CopyText, true))
    assert(copyOptions("WITH (HEADER false, FORMAT csv)") === (CopyCsv, false))
    // legacy bare keyword forms
    assert(copyOptions("CSV HEADER") === (CopyCsv, true))
    assert(copyOptions("BINARY") === (CopyBinary, false))
    // an option list merely CONTAINING the words must not hijack an
    // explicit FORMAT csv (the FORCE_NULL-column-named-binary trap)
    assert(copyOptions("WITH (FORMAT csv, FORCE_NULL (is_binary))") === (CopyCsv, false))
    assert(copyOptions("WITH (FORMAT text, FORCE_QUOTE (csv_flag))") === (CopyText, false))
    // a column named EXACTLY like a keyword, and quoted values, are
    // data — not flags (FORCE_* lists and string literals scrubbed)
    assert(copyOptions("WITH (FORMAT csv, FORCE_NULL (header))") === (CopyCsv, false))
    assert(copyOptions("WITH (FORMAT csv, FORCE_QUOTE (binary, header))") === (CopyCsv, false))
    assert(copyOptions("WITH (FORMAT csv, NULL 'a format b')") === (CopyCsv, false))
    assert(copyOptions("WITH (NULL 'header', FORMAT csv)") === (CopyCsv, false))
    // quoted format name, and pg's short boolean-off spellings
    assert(copyOptions("WITH (FORMAT 'binary')") === (CopyBinary, false))
    assert(copyOptions("WITH (FORMAT csv, HEADER f)") === (CopyCsv, false))
    assert(copyOptions("WITH (FORMAT csv, HEADER no)") === (CopyCsv, false))
    assert(copyOptions("WITH (FORMAT csv, HEADER on)") === (CopyCsv, true))
    intercept[IllegalArgumentException](copyOptions("WITH (FORMAT avro)"))
    intercept[IllegalArgumentException](copyOptions("WITH (FORMAT binary, HEADER)"))
  }

  test("result-format resolution: pg code rules and validation") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    assert(PgWire.resolveResultFormats(Array.empty, schema).toSeq === Seq(0, 0))
    assert(PgWire.resolveResultFormats(Array(1), schema).toSeq === Seq(1, 1))
    assert(PgWire.resolveResultFormats(Array(0, 1), schema).toSeq === Seq(0, 1))
    intercept[IllegalArgumentException](
      PgWire.resolveResultFormats(Array(1, 1, 1), schema)) // count mismatch
    intercept[IllegalArgumentException](
      PgWire.resolveResultFormats(Array(2), schema)) // invalid code
    val dec = StructType(Seq(StructField("n", DecimalType(10, 2))))
    assert(PgWire.resolveResultFormats(Array(1), dec).toSeq === Seq(1)) // numeric is encodable
    assert(PgWire.resolveResultFormats(Array(0), dec).toSeq === Seq(0))
  }

  test("cancel request: a fresh connection with the BackendKeyData kills the running query; wrong secret is ignored") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      sock.setSoTimeout(60000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
      val startup = java.nio.ByteBuffer.allocate(8 + params.length)
      startup.putInt(8 + params.length).putInt(196608).put(params)
      out.write(startup.array()); out.flush()
      def readMsg(): (Char, Array[Byte]) = {
        val tpe = in.read().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        (tpe, payload)
      }
      // capture BackendKeyData from the startup burst
      var key: (Int, Int) = null
      var m = readMsg()
      while (m._1 != 'Z') {
        if (m._1 == 'K') {
          val b = java.nio.ByteBuffer.wrap(m._2)
          key = (b.getInt, b.getInt)
        }
        m = readMsg()
      }
      assert(key != null, "no BackendKeyData seen")
      def cancel(pid: Int, secret: Int): Unit = {
        val c = new Socket("127.0.0.1", server.boundPort)
        try {
          val co = new DataOutputStream(c.getOutputStream)
          co.writeInt(16); co.writeInt(80877102); co.writeInt(pid); co.writeInt(secret)
          co.flush()
        } finally c.close()
      }
      // a deliberately slow query (wide range sum); cancel mid-flight
      out.write(frame('Q', cstr("SELECT sum(id) AS s FROM range(200000000000)")))
      out.flush()
      Thread.sleep(1500) // let the job start
      cancel(key._1, key._2 ^ 0x5a5a5a5a) // wrong secret: silently ignored, query lives
      cancel(key._1, key._2)              // right secret: job group cancelled
      val t0 = System.nanoTime()
      // RowDescription was already sent before streaming began; the
      // statement then dies with an ErrorResponse (never a DataRow or
      // CommandComplete) well before the ~60s the full scan would take
      var after = readMsg()
      while (after._1 == 'T') after = readMsg()
      assert(after._1 === 'E', s"${after._1}")
      assert((System.nanoTime() - t0) / 1e9 < 30, "cancel did not interrupt the scan")
      var z = readMsg()
      while (z._1 != 'Z') z = readMsg()
      // the CONNECTION survives cancellation (pg semantics): next
      // statement runs normally
      out.write(frame('Q', cstr("SELECT 41 + 1 AS v")))
      out.flush()
      val msgs = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
      var n = readMsg()
      while (n._1 != 'Z') { msgs += n; n = readMsg() }
      val data = msgs.filter(_._1 == 'D')
      assert(data.size === 1, msgs.map(_._1))
      assert(new String(data.head._2, 6, data.head._2.length - 6, UTF_8) === "42")
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  /** Raw simple-protocol session that also captures BackendKeyData.
    * Returns (socket, out, readMsg, drainUntil, (pid, secret)).
    */
  private def keyedSession(): (Socket, DataOutputStream,
      () => (Char, Array[Byte]), Char => Seq[(Char, Array[Byte])], (Int, Int)) = {
    val sock = new Socket("127.0.0.1", server.boundPort)
    sock.setSoTimeout(60000)
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
    val startup = java.nio.ByteBuffer.allocate(8 + params.length)
    startup.putInt(8 + params.length).putInt(196608).put(params)
    out.write(startup.array()); out.flush()
    def readMsg(): (Char, Array[Byte]) = {
      val tpe = in.read().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      (tpe, payload)
    }
    def drainUntil(t: Char): Seq[(Char, Array[Byte])] = {
      val seen = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
      var m = readMsg()
      while (m._1 != t) { seen += m; m = readMsg() }
      seen += m
      seen.toSeq
    }
    var key: (Int, Int) = null
    var m = readMsg()
    while (m._1 != 'Z') {
      if (m._1 == 'K') {
        val b = java.nio.ByteBuffer.wrap(m._2)
        key = (b.getInt, b.getInt)
      }
      m = readMsg()
    }
    assert(key != null, "no BackendKeyData seen")
    (sock, out, () => readMsg(), drainUntil, key)
  }

  private def sendCancel(pid: Int, secret: Int): Unit = {
    val c = new Socket("127.0.0.1", server.boundPort)
    try {
      val co = new DataOutputStream(c.getOutputStream)
      co.writeInt(16); co.writeInt(80877102); co.writeInt(pid); co.writeInt(secret)
      co.flush()
    } finally c.close()
  }

  test("cancel race: statements after a cancel are never killed by the stale async kill event") {
    // Spark's cancelJobGroup is asynchronous (a DAGScheduler event).
    // With a connection-lifetime job group, a cancel aimed at
    // statement N could strike statement N+1's jobs once the event
    // finally processed — observed as T,E instead of a DataRow on the
    // very next statement of a loaded box. The job group now rotates
    // per statement, so the stale event names a group no future job
    // carries. This test hammers the window: cancel a slow query,
    // then immediately run a tight loop of real-job statements —
    // every one must return its DataRow.
    val (sock, out, readMsg, drainUntil, key) = keyedSession()
    try {
      out.write(frame('Q', cstr("SELECT sum(id) AS s FROM range(200000000000)")))
      out.flush()
      Thread.sleep(1200) // let the scan start
      sendCancel(key._1, key._2)
      var after = readMsg()
      while (after._1 == 'T') after = readMsg()
      assert(after._1 === 'E', s"${after._1}")
      drainUntil('Z')
      // the kill event may still be in flight RIGHT NOW — no sleep,
      // straight into the follow-ups, each submitting a real job
      for (i <- 1 to 25) {
        out.write(frame('Q', cstr(s"SELECT sum(id) + $i AS v FROM range(1000)")))
        out.flush()
        val msgs = drainUntil('Z')
        assert(!msgs.exists(_._1 == 'E'),
          s"statement $i after cancel drew an error: ${msgs.map(_._1)}")
        assert(dataVals(msgs) === Seq((499500 + i).toString), s"statement $i")
      }
      // a cancel against an IDLE connection routes to nothing — in
      // particular it must not arm a kill for the NEXT statement
      sendCancel(key._1, key._2)
      Thread.sleep(300) // give the no-op every chance to misfire
      out.write(frame('Q', cstr("SELECT sum(id) AS v FROM range(1000)")))
      out.flush()
      val msgs = drainUntil('Z')
      assert(!msgs.exists(_._1 == 'E'), msgs.map(_._1))
      assert(dataVals(msgs) === Seq("499500"))
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }

  test("concurrency soak: 8 simultaneous connections (simple, extended, cancel, COPY) stay isolated") {
    // Every other PgWireSpec case drives one connection at a time;
    // this one drives K=8 at once — mixed simple/extended traffic, a
    // mid-flight cancel on one connection, a psql \copy on another —
    // and asserts per-connection isolation: each connection sees
    // exactly its own results and only the canceller sees an error.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val dir = java.nio.file.Files.createTempDirectory("pgsoak").toFile
    def spawn(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => failures.add(e) }, name)
      t.start(); t
    }
    val threads = scala.collection.mutable.ListBuffer.empty[Thread]
    // five raw simple-protocol workers, each with a distinct arithmetic
    // fingerprint per statement — cross-talk would surface as a wrong
    // value or a stray error
    for (tid <- 0 until 5) threads += spawn(s"soak-simple-$tid") {
      val (sock, out, _, drainUntil, _) = keyedSession()
      try {
        for (i <- 1 to 8) {
          val n = 500 + tid * 100 + i
          val expect = n.toLong * (n - 1) / 2 + tid * 1000000 + i
          out.write(frame('Q',
            cstr(s"SELECT sum(id) + ${tid * 1000000 + i} AS v FROM range($n)")))
          out.flush()
          val msgs = drainUntil('Z')
          assert(!msgs.exists(_._1 == 'E'),
            s"simple[$tid] stmt $i error: ${msgs.map(_._1)}")
          assert(dataVals(msgs) === Seq(expect.toString), s"simple[$tid] stmt $i")
        }
        out.write(frame('X', Array.empty)); out.flush()
      } finally sock.close()
    }
    // one extended-protocol worker: prepared statement re-bound with
    // rotating parameters
    threads += spawn("soak-extended") {
      val (sock, out, _, drainUntil) = extSession()
      try {
        out.write(frame('P', parseMsg("soak",
          "SELECT n_name FROM nation_pg WHERE n_nationkey = $1", Seq(23))))
        for (i <- 0 until 12) {
          val k = i % 25
          out.write(frame('B', bindMsg("", "soak", Seq(Some(k.toString)))))
          out.write(frame('E', cstr("") ++ int32(0)))
          out.write(frame('S', Array.empty))
          out.flush()
          val msgs = drainUntil('Z')
          assert(!msgs.exists(_._1 == 'E'), s"extended bind $i: ${msgs.map(_._1)}")
          assert(dataVals(msgs) === Seq(s"NATION_$k"), s"extended bind $i")
        }
        out.write(frame('X', Array.empty)); out.flush()
      } finally sock.close()
    }
    // one canceller: slow query killed mid-flight, then follow-ups —
    // its cancel must not leak into ANY other connection's statements
    threads += spawn("soak-cancel") {
      val (sock, out, readMsg, drainUntil, key) = keyedSession()
      try {
        out.write(frame('Q', cstr("SELECT sum(id) AS s FROM range(200000000000)")))
        out.flush()
        Thread.sleep(1000)
        sendCancel(key._1, key._2)
        var after = readMsg()
        while (after._1 == 'T') after = readMsg()
        assert(after._1 === 'E', s"soak-cancel: ${after._1}")
        drainUntil('Z')
        for (i <- 1 to 5) {
          out.write(frame('Q', cstr(s"SELECT sum(id) + $i AS v FROM range(1000)")))
          out.flush()
          val msgs = drainUntil('Z')
          assert(!msgs.exists(_._1 == 'E'), s"soak-cancel follow-up $i")
          assert(dataVals(msgs) === Seq((499500 + i).toString))
        }
        out.write(frame('X', Array.empty)); out.flush()
      } finally sock.close()
    }
    // one COPY worker through stock psql (wire COPY OUT subprotocol)
    threads += spawn("soak-copy") {
      for (i <- 1 to 3) {
        val (code, o, e) = psql("-c",
          s"\\copy (SELECT n_nationkey, n_name FROM nation_pg WHERE n_nationkey < 4) " +
            s"TO '$dir/soak_$i.csv' WITH (FORMAT csv)")
        assert(code === 0, s"soak-copy $i: stdout=$o stderr=$e")
        assert(o.contains("COPY 4"), s"soak-copy $i: $o")
      }
    }
    threads.foreach(_.join(180000))
    val stuck = threads.filter(_.isAlive)
    assert(stuck.isEmpty, s"soak threads hung: ${stuck.map(_.getName)}")
    if (!failures.isEmpty) {
      val heads = failures.toArray(Array.empty[Throwable]).toSeq
      fail(s"${heads.size} soak failures; first: ${heads.head}", heads.head)
    }
  }

  test("malformed frames: hostile lengths rejected before allocation, unknown types survive, server keeps serving") {
    // unknown message type with a sane length: one clean error, the
    // CONNECTION survives and the next statement runs
    val (s1, out1, _, drain1, _) = keyedSession()
    try {
      out1.write(frame('q', cstr("junk"))); out1.flush()
      val m1 = drain1('Z')
      assert(m1.exists(_._1 == 'E'), m1.map(_._1))
      out1.write(frame('Q', cstr("SELECT 1 + 1 AS v"))); out1.flush()
      assert(dataVals(drain1('Z')) === Seq("2"))
      out1.write(frame('X', Array.empty)); out1.flush()
    } finally s1.close()
    // negative frame length: error then close — never a negative
    // allocation; the declared-2GB frame likewise dies BEFORE any
    // payload array is built (the MaxFrameBytes cap), not as an OOM
    for (badLen <- Seq(-5, 3, Int.MaxValue)) {
      val (s2, out2, read2, _, _) = keyedSession()
      try {
        out2.writeByte('Q'); out2.writeInt(badLen); out2.flush()
        var sawError = false
        try {
          var m = read2()
          while (m._1 != 'E') m = read2()
          sawError = true
          // connection must then reach EOF (stream is desynced)
          while (true) read2()
        } catch {
          case _: java.io.EOFException | _: java.net.SocketException => ()
        }
        assert(sawError, s"no ErrorResponse for frame length $badLen")
      } finally s2.close()
    }
    // hostile startup length: same posture during the startup phase
    val s3 = new Socket("127.0.0.1", server.boundPort)
    try {
      s3.setSoTimeout(30000)
      val o3 = new DataOutputStream(s3.getOutputStream)
      o3.writeInt(Int.MaxValue); o3.writeInt(196608); o3.flush()
      val i3 = new DataInputStream(s3.getInputStream)
      assert(i3.read().toChar === 'E') // ErrorResponse, then close
    } finally s3.close()
    // the server is unharmed by all of the above: fresh connection works
    val (code, o, e) = psql("-c", "SELECT 41 + 1 AS ok")
    assert(code === 0 && o.trim === "42", s"stdout=$o stderr=$e")
  }

  test("statement splitter respects comments (line, block, nested block)") {
    assert(PgWire.splitStatements("SELECT 1 -- trailing; not a split\n; SELECT 2") ===
      Seq("SELECT 1 -- trailing; not a split", "SELECT 2"))
    assert(PgWire.splitStatements("SELECT 1 /* a;b */; SELECT 2") ===
      Seq("SELECT 1 /* a;b */", "SELECT 2"))
    // pg block comments NEST: the inner close must not end the comment
    assert(PgWire.splitStatements("SELECT 1 /* x /* y; */ z; */; SELECT 2") ===
      Seq("SELECT 1 /* x /* y; */ z; */", "SELECT 2"))
    // quotes inside comments are comment text, not string openers
    assert(PgWire.splitStatements("SELECT 1 -- it's\n; SELECT 2") ===
      Seq("SELECT 1 -- it's", "SELECT 2"))
  }

  test("extended protocol: one error, then silence until Sync") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      sock.setSoTimeout(30000)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      val params = cstr("user") ++ cstr("t") ++ cstr("database") ++ cstr("t") :+ 0.toByte
      val startup = java.nio.ByteBuffer.allocate(8 + params.length)
      startup.putInt(8 + params.length).putInt(196608).put(params)
      out.write(startup.array()); out.flush()
      def readMsg(): (Char, Array[Byte]) = {
        val tpe = in.read().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        (tpe, payload)
      }
      def drainUntil(t: Char): Seq[(Char, Array[Byte])] = {
        val seen = scala.collection.mutable.ListBuffer.empty[(Char, Array[Byte])]
        var m = readMsg()
        while (m._1 != t) { seen += m; m = readMsg() }
        seen += m
        seen.toSeq
      }
      drainUntil('Z')
      // Bind against an unknown statement → error; the pipelined
      // Describe/Execute behind it must be DISCARDED, not answered
      // with their own spurious errors
      out.write(frame('B', cstr("") ++ cstr("no_such_stmt") ++ Array[Byte](0, 0, 0, 0, 0, 0)))
      out.write(frame('D', 'P'.toByte +: cstr("")))
      out.write(frame('E', cstr("") ++ Array[Byte](0, 0, 0, 0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val msgs = drainUntil('Z')
      // exactly ONE ErrorResponse (the Bind failure), then ReadyForQuery —
      // the discarded Describe/Execute must not add spurious errors
      assert(msgs.map(_._1) === Seq('E', 'Z'), msgs.map(_._1))
      // the connection recovers: a fresh Parse/Bind/Execute works
      out.write(frame('P', cstr("s2") ++ cstr("SELECT 41 + 1 AS v") ++ Array[Byte](0, 0)))
      out.write(frame('B', cstr("") ++ cstr("s2") ++ Array[Byte](0, 0, 0, 0, 0, 0)))
      out.write(frame('E', cstr("") ++ Array[Byte](0, 0, 0, 0)))
      out.write(frame('S', Array.empty))
      out.flush()
      val ok = drainUntil('Z')
      val data = ok.filter(_._1 == 'D')
      assert(data.size === 1, ok.map(_._1))
      assert(new String(data.head._2, 6, data.head._2.length - 6, UTF_8) === "42")
      out.write(frame('X', Array.empty)); out.flush()
    } finally sock.close()
  }
}
