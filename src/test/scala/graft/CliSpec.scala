package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import graft.engine.Core

class CliSpec extends SparkSpec {

  private def capture(args: String*): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val ps = new PrintStream(bos, true, "UTF-8")
    val code = Cli.run(args.toSeq, spark, ps)
    (code, bos.toString("UTF-8"))
  }

  test("exec --csv runs SQL end-to-end and pretty-prints") {
    val dir = Files.createTempDirectory("graft-cli")
    Files.writeString(dir.resolve("t.csv"), "a,b\n1,x\n2,y\n3,x\n")
    val (code, out) = capture(
      "exec", "--csv", dir.toString, "--table-name", "t",
      "SELECT b, count(*) AS n FROM t GROUP BY b ORDER BY b")
    assert(code === 0)
    assert(out.contains("| b"), out)
    assert(out.linesIterator.exists(l => l.contains("x") && l.contains("2")), out)
    assert(out.linesIterator.exists(l => l.contains("y") && l.contains("1")), out)
  }

  test("exec --parquet queries the fixture tables") {
    val (code, out) = capture(
      "exec", "--parquet", s"$Sf/nation.parquet", "--table-name", "nation_cli",
      "SELECT count(*) AS n FROM nation_cli")
    assert(code === 0)
    assert(out.contains("25"), out)
  }

  test("with both --csv and --parquet the parquet table registers as <tbl>_pq, as documented") {
    val dir = Files.createTempDirectory("graft-cli2")
    Files.writeString(dir.resolve("k.csv"), "n_nationkey,extra\n0,a\n1,b\n")
    val (code, out) = capture(
      "exec", "--csv", dir.toString, "--parquet", s"$Sf/nation.parquet",
      "--table-name", "nat",
      "SELECT count(*) AS n FROM nat JOIN nat_pq USING (n_nationkey)")
    assert(code === 0)
    assert(out.contains("2"), out)
    // the suffix behavior is stated in the usage text
    val usage = capture()._2
    assert(usage.contains("_pq"), usage)
  }

  test("exec name=path bindings join many sources in one invocation (the reference's TODO)") {
    val dir = Files.createTempDirectory("graft-cli-multi")
    Files.writeString(dir.resolve("users.csv"), "uid,uname\n1,ada\n2,bo\n3,cy\n")
    Files.writeString(dir.resolve("buys.csv"), "uid,amount\n1,10\n1,5\n3,7\n")
    val (code, out) = capture(
      "exec",
      "--csv", s"users=$dir/users.csv",
      "--csv", s"buys=$dir/buys.csv",
      "SELECT uname, sum(amount) AS total FROM users JOIN buys USING (uid) " +
        "GROUP BY uname ORDER BY uname")
    assert(code === 0, out)
    assert(out.linesIterator.exists(l => l.contains("ada") && l.contains("15")), out)
    assert(out.linesIterator.exists(l => l.contains("cy") && l.contains("7")), out)
    assert(!out.contains("bo "), out) // no purchases — inner join drops
    // mixed: a named parquet beside a named csv
    val (c2, o2) = capture(
      "exec",
      "--parquet", s"nat=$Sf/nation.parquet",
      "--csv", s"users=$dir/users.csv",
      "SELECT count(*) AS n FROM nat CROSS JOIN users")
    assert(c2 === 0, o2)
    assert(o2.contains("75"), o2)
    // several paths under ONE name union as a listing table
    val (c3, o3) = capture(
      "exec",
      "--csv", s"u=$dir/users.csv", "--csv", s"u=$dir/users.csv",
      "SELECT count(*) AS n FROM u")
    assert(c3 === 0, o3)
    assert(o3.contains("6"), o3)
    // a Hive-partitioned PATH containing '=' is NOT a binding — the
    // prefix before '=' isn't a bare identifier
    val hive = Files.createTempDirectory("graft-cli-hive")
    spark.range(7).selectExpr("id").write.mode("overwrite")
      .parquet(s"$hive/t/date=2024-01-01")
    val (c4, o4) = capture(
      "exec", "--parquet", s"$hive/t/date=2024-01-01",
      "--table-name", "hp", "SELECT count(*) AS n FROM hp")
    assert(c4 === 0, o4)
    assert(o4.contains("7"), o4)
  }

  test("exec --parquet http://... scans a remote object natively (the reference's per-scheme store registration)") {
    val tmp = Files.createTempDirectory("graft-cli-httppq")
    spark.range(10).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val f = Files.list(java.nio.file.Paths.get(s"$tmp/t")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val (srv, url) = graft.sources.HttpFs.serveBytes(
      Files.readAllBytes(java.nio.file.Paths.get(f)), "cli.parquet")
    try {
      val (code, out) = capture(
        "exec", "--parquet", url, "--table-name", "rp",
        "SELECT sum(v) AS s FROM rp WHERE id < 5")
      assert(code === 0, out)
      assert(out.contains("20"), out)
    } finally srv.stop(0)
  }

  test("exec --csv http://... reads extensionless, query-string and multi-url bindings") {
    // tod is a time-of-day column: it must stay a string, as it does
    // for a local file (no current-date timestamp)
    def body(ids: Range) =
      ("id,tod\n" + ids.map(i => s"$i,12:34:0$i\n").mkString).getBytes("UTF-8")
    val servers = Seq(
      graft.sources.HttpFs.serveBytes(body(1 to 2), "data"),
      graft.sources.HttpFs.serveBytes(body(1 to 2), "signed.csv"),
      graft.sources.HttpFs.serveBytes(body(3 to 5), "more.csv"))
    val Seq(bare, signed, more) = servers.map(_._2)
    try Seq(
      "extensionless url" -> (Seq("--csv", bare), "2:3:string"),
      "?sig= url" -> (Seq("--csv", s"$signed?sig=abc"), "2:3:string"),
      "two urls, one binding" -> (Seq("--csv", s"t=$signed", "--csv", s"t=$more"), "5:15:string")
    ).foreach { case (label, (flags, want)) =>
      val (code, out) = capture(Seq("exec") ++ flags ++ Seq("--table-name", "t",
        "SELECT concat_ws(':', count(*), sum(id), typeof(tod)) AS r FROM t GROUP BY typeof(tod)"): _*)
      assert(code === 0, s"$label: $out")
      assert(out.contains(want), s"$label: $out")
    } finally servers.foreach(_._1.stop(0))
  }

  test("exec --analyze reports executed-plan metrics on a pruned scan") {
    val dir = Files.createTempDirectory("graft-cli-analyze")
    // partitioned parquet: the p=1 predicate prunes partition 0's file
    spark.range(100).selectExpr("id", "CAST(id % 2 AS INT) AS p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/t")
    val (code, out) = capture(
      "exec", "--parquet", s"$dir/t", "--table-name", "pt", "--analyze",
      "SELECT count(*) AS n FROM pt WHERE p = 1")
    assert(code === 0, out)
    assert(out.contains("| 50"), out)               // result still prints
    assert(out.contains("(1 rows)"), out)
    assert(out.contains("-- ANALYZE --"), out)
    // the scan line carries runtime metrics: files AFTER pruning and
    // rows the scan delivered
    val scanLine = out.linesIterator.find(l => l.contains("numFiles=")).getOrElse("")
    assert(scanLine.nonEmpty, out)
    assert(scanLine.contains("numOutputRows=50"), scanLine)
    val files = "numFiles=(\\d+)".r.findFirstMatchIn(scanLine).get.group(1).toInt
    val totalFiles = "numFiles=(\\d+)".r
      .findFirstMatchIn(capture(
        "exec", "--parquet", s"$dir/t", "--table-name", "pt2", "--analyze",
        "SELECT count(*) AS n FROM pt2")._2.linesIterator
        .find(_.contains("numFiles=")).getOrElse("")).get.group(1).toInt
    assert(files < totalFiles, s"pruned scan read $files of $totalFiles files\n$out")
    // an aggregate over a shuffle reports exchange metrics too
    val (c2, o2) = capture(
      "exec", "--parquet", s"$dir/t", "--table-name", "pt3", "--analyze",
      "SELECT p, count(*) AS n FROM pt3 GROUP BY p ORDER BY p")
    assert(c2 === 0, o2)
    assert(o2.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("shuffleRecordsWritten=")), o2)
  }

  test("exec and publish register only the bindings the statement names, or all when it cannot tell") {
    val dir = Files.createTempDirectory("graft-cli-named")
    Files.writeString(dir.resolve("good.csv"), "k,v\n1,a\n2,b\n3,c\n")
    Files.writeString(dir.resolve("other.csv"), "k\n2\n3\n")
    val good = s"$dir/good.csv"
    val other = s"$dir/other.csv"
    val bad = "/no/such/dir"
    // each row binds fresh names: temp views outlive one Cli.run in the
    // shared session. A `bad_*` binding fails the exec if registered.
    val cases = Seq(
      ("unreferenced bad path",
        Seq(s"good_a=$good", s"unused_a=$other", s"bad_a=$bad"),
        "SELECT count(*) AS n FROM good_a", Seq("| 3 |")),
      ("CTE body is the only reader",
        Seq(s"good_b=$good", s"bad_b=$bad"),
        "WITH x AS (SELECT * FROM good_b) SELECT count(*) AS n FROM x", Seq("| 3 |")),
      ("IN subquery",
        Seq(s"good_c=$good", s"other_c=$other", s"bad_c=$bad"),
        "SELECT count(*) AS n FROM good_c WHERE k IN (SELECT k FROM other_c)", Seq("| 2 |")),
      ("scalar subquery",
        Seq(s"other_c2=$other", s"bad_c2=$bad"),
        "SELECT (SELECT max(k) FROM other_c2) AS n", Seq("| 3 |")),
      ("SHOW TABLES lists every binding",
        Seq(s"good_d=$good", s"other_d=$other"), "SHOW TABLES", Seq("good_d", "other_d")),
      ("information_schema lists every binding",
        Seq(s"good_d2=$good", s"other_d2=$other"),
        "SELECT table_name FROM information_schema.tables WHERE table_name LIKE '%_d2'",
        Seq("good_d2", "other_d2")),
      ("IDENTIFIER clause",
        Seq(s"good_e=$good", s"other_e=$other"),
        "SELECT count(*) AS n FROM IDENTIFIER('good_e')", Seq("| 3 |")),
      ("COPY TO",
        Seq(s"good_e2=$good", s"other_e2=$other"),
        s"COPY (SELECT * FROM good_e2) TO '$dir/copied' (FORMAT csv)", Seq.empty))
    for ((label, bindings, sql, want) <- cases) {
      val (code, out) = capture("exec" +: bindings.flatMap(b => Seq("--csv", b)) :+ sql: _*)
      assert(code === 0, s"$label: $out")
      want.foreach(w => assert(out.contains(w), s"$label: $out"))
    }
    assert(!spark.catalog.tableExists("unused_a") && !spark.catalog.tableExists("bad_a"))
    assert(spark.read.option("header", "true").csv(s"$dir/copied").count() === 3L)
    // where every binding registers, a bad path still fails the exec
    val e = intercept[org.apache.spark.sql.AnalysisException](
      capture("exec", "--csv", s"good_g=$good", "--csv", s"bad_g=$bad", "SHOW TABLES"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    // publish's default `SELECT * FROM <tbl>` names <tbl>
    val sinkDir = Files.createTempDirectory("graft-cli-named-sink")
    spark.sql(s"CREATE TABLE named_sink (k INT, v STRING) USING parquet LOCATION '$sinkDir'")
    val srv = graft.engine.PgWire.start(spark, 0)
    try {
      val (code, out) = capture("publish", "--pg", s"127.0.0.1:${srv.boundPort}",
        "--dbtable", "named_sink", "--csv", good, "--table-name", "good_f", "--csv", s"bad_f=$bad")
      assert(code === 0, out)
      assert(out.contains("published 3 rows"), out)
      assert(spark.table("named_sink").count() === 3L)
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS named_sink")
    }
  }

  test("a warm exec reuses its bindings' inferred schemas: only the query's jobs run, " +
      "and a rewritten file is read anew") {
    val dir = Files.createTempDirectory("graft-cli-warm")
    Files.writeString(dir.resolve("a.csv"), "k,v\n1,10\n2,20\n")
    Files.writeString(dir.resolve("b.csv"), "k,v\n3,30\n")
    val sql = "SELECT count(*) AS n, sum(v) AS s FROM warm"
    def exec() = jobsStarted(capture("exec", "--csv", s"warm=$dir", sql))
    val ((code1, out1), cold) = exec()
    val ((code2, out2), warm) = exec()
    assert(code1 === 0 && code2 === 0, out1 + out2)
    assert(out1.contains("| 3 | 60 |"), out1)
    assert(out2 === out1)
    val (_, queryOnly) = jobsStarted(Core.pretty(Core.execute(spark, sql)))
    assert(warm === queryOnly, s"cold $cold, warm $warm, query alone $queryOnly")
    assert(warm < cold, s"cold $cold, warm $warm")
    Files.writeString(dir.resolve("b.csv"), "k,v\n3,30.5\n4,40\n")
    val ((code3, out3), _) = exec()
    assert(code3 === 0, out3)
    assert(out3.contains("| 4 | 100.5 |"), out3)
  }

  test("haiku prints the easter egg") {
    val (code, out) = capture("haiku")
    assert(code === 0)
    assert(out.contains("shuffle"))
  }

  test("usage errors exit 2") {
    assert(capture()._1 === 2)
    assert(capture("exec")._1 === 2)               // missing query
    assert(capture("exec", "--nope", "x")._1 === 2)
    assert(capture("serve", "--nope")._1 === 2)
  }

  test("malformed numeric flag values are usage errors (exit 2), not stack traces") {
    val cases = Seq(
      Seq("exec", "--max-rows", "ten", "SELECT 1"),
      Seq("serve", "--port", "80x80"),
      Seq("federate", "--jdbc", "jdbc:derby:memory:x", "--max-rows", "", "SELECT 1"),
      Seq("federate", "--jdbc", "jdbc:derby:memory:x", "--port", "nope"))
    cases.foreach { argv =>
      val (code, out) = capture(argv: _*)
      assert(code === 2, argv.mkString(" "))
      assert(out.contains("invalid value for --"), out)
      assert(out.contains("usage:"), out) // same treatment as other usage mistakes
    }
  }

  /** In-memory Derby shard of logical table `t` — the live-JDBC
    * stand-in for a remote shard.
    */
  private def derby(db: String, ddl: String, rows: Seq[String],
      table: String = "t"): String = {
    val url = s"jdbc:derby:memory:clifed_$db;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $table") catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE $table ($ddl)")
      rows.foreach(r => st.execute(s"INSERT INTO $table VALUES $r"))
    } finally c.close()
    url
  }

  test("federate unions live JDBC shards inline, with the reference's schema bail") {
    // two in-memory Derby shards of one logical table + one
    // schema-divergent impostor
    val u1 = derby("s1", "id BIGINT, v INT", Seq("(1, 10)", "(2, 20)"))
    val u2 = derby("s2", "id BIGINT, v INT", Seq("(3, 30)", "(4, 40)"))
    val u3 = derby("s3", "id BIGINT, v DOUBLE", Seq("(9, 9.0)")) // diverges
    val (code, out) = capture(
      "federate", "--jdbc", u1, "--jdbc", u2, "--dbtable", "t", "--table-name", "fed",
      "SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv FROM fed")
    assert(code === 0, out)
    assert(out.contains("4") && out.contains("100"), out)
    // a TYPE conflict bails in the default compat mode too (coercing
    // INT against DOUBLE legs would change answers), exit 2
    val (badCode, badOut) = capture(
      "federate", "--jdbc", u1, "--jdbc", u3, "--dbtable", "t", "--table-name", "fed2",
      "SELECT count(*) AS n FROM fed2")
    assert(badCode === 2)
    assert(badOut.contains("Schema of shards was not compatible"), badOut)
    // --strict-schema restores the reference's identical-schema bail verbatim
    val (strictCode, strictOut) = capture(
      "federate", "--strict-schema", "--jdbc", u1, "--jdbc", u3, "--dbtable", "t",
      "--table-name", "fed2", "SELECT count(*) AS n FROM fed2")
    assert(strictCode === 2)
    assert(strictOut.contains("Schema of shards was not identical"), strictOut)
    // at least one shard url is required
    assert(capture("federate", "SELECT 1")._1 === 2)
  }

  test("federate default mode accepts column-reordered shards; strict bails on them") {
    val u1 = derby("r1", "id BIGINT, v INT", Seq("(1, 10)", "(2, 20)"))
    val u2 = derby("r2", "v INT, id BIGINT", Seq("(30, 3)", "(40, 4)")) // reordered
    val (code, out) = capture(
      "federate", "--jdbc", u1, "--jdbc", u2, "--dbtable", "t", "--table-name", "fedr",
      "SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv, CAST(sum(id) AS BIGINT) AS si FROM fedr")
    assert(code === 0, out)
    // by-name resolution: v sums the v values (100), id the ids (10) —
    // positional union would have crossed the columns
    assert(out.contains("100") && out.contains("10"), out)
    val (sCode, sOut) = capture(
      "federate", "--strict-schema", "--jdbc", u1, "--jdbc", u2, "--dbtable", "t",
      "--table-name", "fedr2", "SELECT count(*) AS n FROM fedr2")
    assert(sCode === 2)
    assert(sOut.contains("Schema of shards was not identical"), sOut)
  }

  test("federate --pg legs speak the wire protocol, alone and mixed with JDBC shards") {
    // a shared-catalog parquet shard (Derby-cased columns so the
    // mixed union is name-exact) served by this repo's own pgwire
    // server — every leg kind reads the SAME --dbtable name
    val dir = Files.createTempDirectory("graft-fedmix")
    spark.sql("SELECT CAST(1 AS BIGINT) AS ID, CAST(10 AS INT) AS V " +
        "UNION ALL SELECT CAST(2 AS BIGINT), CAST(20 AS INT)")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/p")
    graft.engine.Serve.registerShared(spark, "fedmix_t", Seq(s"$dir/p"), "parquet")
    val srv = graft.engine.PgWire.start(spark, 0)
    try {
      // wire-only federation: one --pg leg answers inline
      val (code, out) = capture(
        "federate", "--pg", s"127.0.0.1:${srv.boundPort}",
        "--dbtable", "fedmix_t", "--table-name", "fw",
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(ID) AS BIGINT) AS si FROM fw")
      assert(code === 0, out)
      assert(out.contains("2") && out.contains("3"), out) // n = 2, sum(ID) = 3
      // mixed legs: a Derby JDBC shard and the wire shard of the same
      // logical table, unioned under the same bail machinery
      val u1 = derby("wmix", "ID BIGINT, V INT", Seq("(100, 1)", "(200, 2)"),
        table = "fedmix_t")
      val (mCode, mOut) = capture(
        "federate", "--jdbc", u1, "--pg", s"127.0.0.1:${srv.boundPort}",
        "--dbtable", "fedmix_t", "--table-name", "fmix",
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(ID) AS BIGINT) AS si FROM fmix")
      assert(mCode === 0, mOut)
      assert(mOut.contains("4") && mOut.contains("303"), mOut) // 1+2+100+200
      // malformed --pg value is a usage error, not a stack trace
      assert(capture("federate", "--pg", "nohost", "SELECT 1")._1 === 2)
      assert(capture("federate", "--pg", "127.0.0.1:nope", "SELECT 1")._1 === 2)
    } finally srv.close()
  }

  test("publish COPYs a local query result into a remote wire table; usage errors exit 2") {
    val dir = Files.createTempDirectory("graft-pub")
    spark.sql("SELECT CAST(1 AS BIGINT) AS id, 'a' AS v " +
        "UNION ALL SELECT CAST(2 AS BIGINT), 'b' " +
        "UNION ALL SELECT CAST(3 AS BIGINT), 'c'")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/src")
    spark.sql(s"CREATE TABLE pub_sink (id BIGINT, v STRING) USING parquet LOCATION '$dir/sink'")
    val srv = graft.engine.PgWire.start(spark, 0)
    try {
      // filtered publish: the SQL runs locally, the RESULT crosses the wire
      val (code, out) = capture(
        "publish", "--pg", s"127.0.0.1:${srv.boundPort}", "--dbtable", "pub_sink",
        "--parquet", s"$dir/src", "--partitions", "2",
        "SELECT id, v FROM tbl WHERE id >= 2")
      assert(code === 0, out)
      assert(out.contains("published 2 rows"), out)
      assert(spark.table("pub_sink").orderBy("id").collect().map(_.getLong(0)).toSeq
        === Seq(2L, 3L))
      // default query = whole registered table, appended on top
      val (c2, o2) = capture(
        "publish", "--pg", s"127.0.0.1:${srv.boundPort}", "--dbtable", "pub_sink",
        "--parquet", s"$dir/src")
      assert(c2 === 0, o2)
      assert(o2.contains("published 3 rows"), o2)
      assert(spark.table("pub_sink").count() === 5L)
      // missing required flags are usage errors, not stack traces
      assert(capture("publish", "--dbtable", "t")._1 === 2)
      assert(capture("publish", "--pg", s"127.0.0.1:${srv.boundPort}")._1 === 2)
      assert(capture("publish", "--pg", "nohost", "--dbtable", "t")._1 === 2)
      // SCATTER publish: several --pg legs route partitions round-robin
      // across endpoints (both in-repo servers share one catalog, so
      // the row total is the lossless-scatter check; endpoint routing
      // is proven by the graded q_pg_federation_scatter query)
      val srv2 = graft.engine.PgWire.start(spark, 0)
      try {
        val (c3, o3) = capture(
          "publish", "--pg", s"127.0.0.1:${srv.boundPort}",
          "--pg", s"127.0.0.1:${srv2.boundPort}", "--dbtable", "pub_sink",
          "--parquet", s"$dir/src", "--partitions", "2")
        assert(c3 === 0, o3)
        assert(o3.contains("published 3 rows"), o3)
        assert(o3.contains(s"${srv.boundPort}") && o3.contains(s"${srv2.boundPort}"), o3)
        assert(spark.table("pub_sink").count() === 8L)
        // scatter-collapse guard: a SINGLE-partition frame scattered to
        // 2 shards must still reach BOTH legs (writeShards forces >=
        // shards.size partitions when the input has fewer) — before the
        // guard, partition 0 % 2 routed every row to shard 0 only.
        // Distinct target tables make the routing observable.
        spark.sql(s"CREATE TABLE pub_sc_a (id BIGINT, v STRING) USING parquet LOCATION '$dir/sc_a'")
        spark.sql(s"CREATE TABLE pub_sc_b (id BIGINT, v STRING) USING parquet LOCATION '$dir/sc_b'")
        val onePart = spark.read.parquet(s"$dir/src").coalesce(1)
        assert(onePart.rdd.getNumPartitions === 1)
        val nSc = graft.sources.PgFederation.writeShards(
          onePart,
          Seq(graft.sources.PgFederation.Shard("127.0.0.1", srv.boundPort, "pub_sc_a"),
            graft.sources.PgFederation.Shard("127.0.0.1", srv2.boundPort, "pub_sc_b")))
        assert(nSc === 3L)
        val nA = spark.table("pub_sc_a").count()
        val nB = spark.table("pub_sc_b").count()
        assert(nA + nB === 3L, s"lossless: $nA + $nB")
        assert(nA > 0 && nB > 0, s"scatter collapsed: a=$nA b=$nB")
      } finally srv2.close()
    } finally {
      srv.close()
      spark.sql("DROP TABLE IF EXISTS pub_sink")
    }
  }

  test("federate --pg-shard-password authenticates the wire legs via SCRAM") {
    val dir = Files.createTempDirectory("graft-fedscram")
    spark.sql("SELECT CAST(7 AS BIGINT) AS ID UNION ALL SELECT CAST(8 AS BIGINT)")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/p")
    graft.engine.Serve.registerShared(spark, "fedscram_t", Seq(s"$dir/p"), "parquet")
    val srv = graft.engine.PgWire.start(spark, 0, password = Some("hunter2"))
    try {
      val (code, out) = capture(
        "federate", "--pg", s"127.0.0.1:${srv.boundPort}",
        "--pg-shard-password", "hunter2",
        "--dbtable", "fedscram_t", "--table-name", "fs",
        "SELECT CAST(sum(ID) AS BIGINT) AS si FROM fs")
      assert(code === 0, out)
      assert(out.contains("15"), out)
      // without the credential the secured shard is unreachable — the
      // failure carries the server's auth message, not a hang
      val bad = intercept[Exception](capture(
        "federate", "--pg", s"127.0.0.1:${srv.boundPort}",
        "--dbtable", "fedscram_t", "--table-name", "fs2",
        "SELECT count(*) FROM fs2"))
      assert(bad.getMessage != null)
    } finally srv.close()
  }

  /** A loopback proxy in front of a pgwire server that counts the
    * simple-protocol statements ('Q' messages) clients send through it.
    */
  private final class CountingProxy(target: Int) extends AutoCloseable {
    private val listener = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val port: Int = listener.getLocalPort
    val statements = new java.util.concurrent.atomic.AtomicInteger(0)

    private def daemon(f: => Unit): Unit = {
      val t = new Thread(() => try f catch { case _: java.io.IOException => () })
      t.setDaemon(true)
      t.start()
    }

    daemon {
      while (true) {
        val client = listener.accept()
        val upstream = new java.net.Socket("127.0.0.1", target)
        daemon(try upstream.getInputStream.transferTo(client.getOutputStream) finally client.close())
        daemon {
          val in = new java.io.DataInputStream(client.getInputStream)
          val out = new java.io.DataOutputStream(upstream.getOutputStream)
          def relay(tpe: Int): Unit = {
            val len = in.readInt()
            val body = new Array[Byte](len - 4)
            in.readFully(body)
            if (tpe >= 0) out.writeByte(tpe)
            out.writeInt(len); out.write(body); out.flush()
          }
          try {
            relay(-1) // the startup message carries no type byte
            var tpe = in.read()
            while (tpe >= 0) {
              if (tpe == 'Q') statements.incrementAndGet()
              relay(tpe)
              tpe = in.read()
            }
          } finally upstream.close()
        }
      }
    }

    override def close(): Unit = listener.close()
  }

  /** The `BatchScan` lines of a collected frame's executed plan
    * (adaptive plans print their final and initial trees).
    */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator.filter(_.contains("BatchScan")).toSeq

  /** A small parquet table of every pushdown-relevant type, registered
    * in the shared catalog the in-repo pgwire servers read.
    */
  private def pushdownFixture(table: String): Unit = {
    val dir = Files.createTempDirectory("graft-fedpd")
    spark.sql("""SELECT * FROM VALUES
        (CAST(1 AS BIGINT), 10, 1.5D, 'a', DATE'2024-01-01', true, 1),
        (CAST(2 AS BIGINT), 20, 2.5D, 'b', DATE'2024-02-01', false, 2),
        (CAST(3 AS BIGINT), 10, 3.5D, 'a\\b', DATE'2024-03-01', true, 3),
        (CAST(4 AS BIGINT), 30, 4.5D, 'c', CAST(NULL AS DATE), NULL, 4),
        (CAST(5 AS BIGINT), 10, CAST(NULL AS DOUBLE), 'a', DATE'2024-05-01', false, 5)
      AS t(id, k, d, s, dt, flag, Mixed)""")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/p")
    graft.engine.Serve.registerShared(spark, table, Seq(s"$dir/p"), "parquet")
  }

  /** [[pushdownFixture]] served by two in-repo pgwire shards (both read
    * the shared catalog, so the federated union holds every row twice).
    */
  private def withTwoShards(table: String)(f: (Int, Int) => Unit): Unit = {
    pushdownFixture(table)
    val a = graft.engine.PgWire.start(spark, 0)
    val b = graft.engine.PgWire.start(spark, 0)
    try f(a.boundPort, b.boundPort) finally { a.close(); b.close() }
  }

  test("federate --pg ships the pruned columns and pushed predicates; answers equal an unpushed read") {
    withTwoShards("fedpd_t") { (pa, pb) =>
      val local = spark.table("fedpd_t").unionAll(spark.table("fedpd_t"))
      local.createOrReplaceTempView("fedpd_local")
      def federate(view: String, where: String): Unit = {
        val q = s"SELECT k, count(*) AS n, sum(id) AS si FROM $view WHERE $where GROUP BY k ORDER BY k"
        val (code, out) = capture("federate", "--pg", s"127.0.0.1:$pa", "--pg", s"127.0.0.1:$pb",
          "--dbtable", "fedpd_t", "--table-name", view, q)
        assert(code === 0, out)
        assert(out.trim === Core.pretty(spark.sql(q.replace(view, "fedpd_local")), 20), where)
      }
      // pushed: an integral range, a date comparison, boolean, string = and IN
      val pushed = Seq(
        "id BETWEEN 2 AND 4" -> Seq("(id >= 2)", "(id <= 4)"),
        "dt >= DATE'2024-02-01' AND flag = false" -> Seq("(dt >= DATE '2024-02-01')", "flag = "),
        "s = 'a' AND k IN (10, 30)" -> Seq("(s = 'a')", "(k IN (10, 30))"),
        "NOT (k = 10) OR id IS NULL" -> Seq("(NOT (k = 10)) OR (id IS NULL)"))
      for (((where, sqls), i) <- pushed.zipWithIndex) {
        federate(s"fedpd_$i", where)
        val plan = spark.sql(s"SELECT k, count(*), sum(id) FROM fedpd_$i WHERE $where GROUP BY k")
        plan.collect()
        val legs = scans(plan)
        assert(Seq(pa, pb).forall(p => legs.exists(_.contains(s":$p/fedpd_t["))), legs)
        legs.foreach { l =>
          sqls.foreach(p => assert(l.contains(p), s"$p not pushed: $l"))
          // only the columns the query reads cross the wire
          val cols = l.substring(l.indexOf("SELECT ") + 7, l.indexOf(" FROM fedpd_t")).split(", ").toSet
          assert(cols.subsetOf(Set("id", "k", "dt", "flag", "s")) && cols.contains("k") && cols.contains("id"), l)
        }
      }
      // left to Spark: a string range, a backslash literal, a double
      // comparison and a mixed-case column — answers still right
      val kept = Seq("s > 'a'", "s = 'a\\\\b'", "d > 2.0", "Mixed = 3")
      for ((where, i) <- kept.zipWithIndex) {
        federate(s"fedkp_$i", where)
        val plan = spark.sql(s"SELECT k, count(*), sum(id) FROM fedkp_$i WHERE $where GROUP BY k")
        plan.collect()
        val legs = scans(plan)
        assert(Seq(pa, pb).forall(p => legs.exists(_.contains(s":$p/fedpd_t["))), legs)
        legs.foreach(l => assert(!l.contains("WHERE"), s"$where was pushed: $l"))
      }
      // the mixed-case column forces `SELECT *`, projected locally
      val mixed = spark.table("fedkp_3").select("Mixed").filter("Mixed > 1")
      mixed.collect()
      assert(scans(mixed).forall(_.contains("SELECT * FROM fedpd_t")), scans(mixed))
    }
  }

  test("federate --pg probes each shard's schema once per session: a second statement sends one " +
      "remote statement per shard") {
    withTwoShards("fedreuse_t") { (pa, pb) =>
      val (ca, cb) = (new CountingProxy(pa), new CountingProxy(pb))
      try {
        def run(): Unit = {
          val (code, out) = capture("federate", "--pg", s"127.0.0.1:${ca.port}",
            "--pg", s"127.0.0.1:${cb.port}", "--dbtable", "fedreuse_t", "--table-name", "fr",
            "SELECT count(*) AS n FROM fr WHERE k = 10")
          assert(code === 0, out)
          assert(out.contains("| 6 "), out)
        }
        run()
        assert((ca.statements.get, cb.statements.get) === ((2, 2))) // probe + SELECT
        run()
        assert((ca.statements.get, cb.statements.get) === ((3, 3))) // SELECT only
      } finally { ca.close(); cb.close() }
    }
  }

  test("federate --pg: a changed shard schema fails one statement, and the next probes again") {
    val srv = graft.engine.PgWire.start(spark, 0)
    def view(cols: String): Unit =
      spark.sql(s"CREATE OR REPLACE GLOBAL TEMP VIEW fedmm_v AS SELECT $cols FROM VALUES (1), (2), (3) AS t(x)")
    def run(sql: String): (Int, String) = capture("federate", "--pg", s"127.0.0.1:${srv.boundPort}",
      "--dbtable", "global_temp.fedmm_v", "--table-name", "fm", sql)
    try {
      view("CAST(x AS INT) AS a")
      assert(run("SELECT sum(a) AS s FROM fm")._2.contains("| 6 "))
      // a column changes type: the scan's RowDescription disagrees with the plan
      view("CAST(x AS BIGINT) * 10 AS a")
      val e = intercept[Exception](run("SELECT sum(a) AS s FROM fm"))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msg.contains("pg://127.0.0.1:") && msg.contains("/global_temp.fedmm_v changed"), msg)
      assert(msg.contains("planned [a INT]") && msg.contains("returns [a BIGINT]"), msg)
      assert(run("SELECT sum(a) AS s FROM fm")._2.contains("| 60 "))
      // a column is added and then referenced: the cached schema lacks it
      view("CAST(x AS BIGINT) * 10 AS a, x + 100 AS b")
      intercept[Exception](run("SELECT sum(b) AS s FROM fm"))
      assert(run("SELECT sum(b) AS s FROM fm")._2.contains("| 306 "))
    } finally srv.close()
  }

  test("federate --pg: the shard password appears in no explain output") {
    val secret = "pd-secret-7f3a"
    pushdownFixture("fedpw_t")
    val srv = graft.engine.PgWire.start(spark, 0, password = Some(secret))
    try {
      val q = "SELECT k, count(*) AS n FROM fpw WHERE id > 1 GROUP BY k"
      val args = Seq("federate", "--pg", s"127.0.0.1:${srv.boundPort}",
        "--pg-shard-password", secret, "--dbtable", "fedpw_t", "--table-name", "fpw")
      for (prefix <- Seq("EXPLAIN ", "EXPLAIN EXTENDED ", "EXPLAIN FORMATTED ", "EXPLAIN ANALYZE ")) {
        val (code, out) = capture(args :+ (prefix + q): _*)
        assert(code === 0, out)
        assert(out.contains("fedpw_t") && !out.contains(secret), out)
      }
      val df = spark.sql(q)
      df.collect()
      for (mode <- Seq("simple", "extended", "codegen", "cost", "formatted")) {
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(mode))
        assert(text.contains("BatchScan") && !text.contains(secret), text)
      }
    } finally srv.close()
  }

  test("--memory-cap maps the reference's memory-pool flag onto the broadcast threshold") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val (code, out) = capture(
        "exec", "--parquet", s"$Sf/nation.parquet", "--table-name", "natmc",
        "--memory-cap", "64m", "SELECT count(*) AS n FROM natmc")
      assert(code === 0, out)
      assert(out.contains("memory cap 67108864 bytes"), out)
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === (8L << 20).toString)
      assert(out.contains("25"), out)
      // malformed / overflowing sizes are usage errors, not stack traces
      assert(capture("exec", "--memory-cap", "lots", "SELECT 1")._1 === 2)
      assert(capture("exec", "--memory-cap", "999999999999999999g", "SELECT 1")._1 === 2)
      // serve accepts the flag too (its usage text advertises it)
      val port = { val ss = new java.net.ServerSocket(0); try ss.getLocalPort finally ss.close() }
      val (sCode, sOut) = capture(
        "serve", "--parquet", s"$Sf/nation.parquet", "--table-name", "natmc2",
        "--memory-cap", "32m", "--port", port.toString)
      try {
        assert(sCode === 0, sOut)
        assert(sOut.contains("memory cap 33554432 bytes"), sOut)
      } finally graft.engine.Serve.stop()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("federate's serve form registers shard tables + the shared federated view") {
    val u1 = derby("f1", "id BIGINT, v INT", Seq("(1, 10)", "(2, 20)"))
    val u2 = derby("f2", "id BIGINT, v INT", Seq("(3, 30)", "(4, 40)"))
    val u3 = derby("f3", "id BIGINT, v DOUBLE", Seq("(9, 9.0)"))
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val (code, out) = capture(
      "federate", "--jdbc", u1, "--jdbc", u2, "--dbtable", "t",
      "--table-name", "fedsrv", "--port", port.toString)
    try {
      assert(code === 0, out)
      assert(out.contains(s"sc://localhost:$port"), out)
      // shared-catalog objects exist and the view unions both shards
      assert(spark.catalog.tableExists("fedsrv__s0") && spark.catalog.tableExists("fedsrv__s1"))
      assert(spark.table("fedsrv").count() === 4)
      // narrower re-registration drops the stale slot, keeps working
      graft.engine.Serve.registerSharedJdbc(spark, "fedsrv", Seq(u1), "t")
      assert(!spark.catalog.tableExists("fedsrv__s1"))
      assert(spark.table("fedsrv").count() === 2)
      // a mismatched shard bails AND leaves no half-made slots behind
      val e = intercept[IllegalArgumentException] {
        graft.engine.Serve.registerSharedJdbc(spark, "fedsrv2", Seq(u1, u3), "t")
      }
      assert(e.getMessage.contains("Schema of shards was not identical"))
      assert(!spark.catalog.tableExists("fedsrv2__s0") && !spark.catalog.tableExists("fedsrv2"))
      // a mismatched RE-registration must not destroy the working one
      val e2 = intercept[IllegalArgumentException] {
        graft.engine.Serve.registerSharedJdbc(spark, "fedsrv", Seq(u1, u3), "t")
      }
      assert(e2.getMessage.contains("Schema of shards was not identical"))
      assert(spark.table("fedsrv").count() === 2) // still serving u1
      // path-shared tables drop stale __pN slots on narrower re-registration
      graft.engine.Serve.registerShared(spark, "pshare",
        Seq(s"$Sf/nation.parquet", s"$Sf/nation.parquet"), "parquet")
      assert(spark.catalog.tableExists("pshare__p0") && spark.catalog.tableExists("pshare__p1"))
      assert(spark.table("pshare").count() === 50)
      graft.engine.Serve.registerShared(spark, "pshare", Seq(s"$Sf/nation.parquet"), "parquet")
      assert(!spark.catalog.tableExists("pshare__p0") && !spark.catalog.tableExists("pshare__p1"))
      assert(spark.table("pshare").count() === 25)
    } finally graft.engine.Serve.stop()
  }

  test("registerShared validates paths before mutating the catalog") {
    // a re-registration with a bad path must NOT destroy the working
    // registration (validate-before-mutate, same contract as the JDBC
    // path) — the old code dropped the table before discovering the
    // new path was unreadable
    graft.engine.Serve.registerShared(spark, "vshare", Seq(s"$Sf/nation.parquet"), "parquet")
    assert(spark.table("vshare").count() === 25)
    intercept[Exception] {
      graft.engine.Serve.registerShared(spark, "vshare", Seq("/nonexistent/nowhere.parquet"), "parquet")
    }
    assert(spark.table("vshare").count() === 25) // still serving
    // multi-path group with one bad member: also rejected up front
    intercept[Exception] {
      graft.engine.Serve.registerShared(spark, "vshare",
        Seq(s"$Sf/nation.parquet", "/nonexistent/nowhere.parquet"), "parquet")
    }
    assert(spark.table("vshare").count() === 25)
    assert(!spark.catalog.tableExists("vshare__p0")) // no partial slots
  }

  test("registerShared of a parquet path reads its schema once: 1 Spark job, an external " +
      "table with the validated schema, kept through a failed re-registration") {
    val dir = Files.createTempDirectory("graft-serve-once")
    val p = s"$dir/t.parquet"
    spark.range(7).selectExpr("id", "cast(id * 1.5 AS double) AS v", "cast(id AS string) AS s")
      .write.parquet(p)
    val (_, jobs) = jobsStarted(graft.engine.Serve.registerShared(spark, "once_pq", Seq(p), "parquet"))
    assert(jobs === 1, "the validation read is the one schema read")
    assert(spark.table("once_pq").schema === spark.read.parquet(p).schema)
    // external: replacing or dropping the table must never delete the data
    assert(spark.catalog.getTable("once_pq").tableType === "EXTERNAL")
    intercept[Exception] {
      graft.engine.Serve.registerShared(spark, "once_pq", Seq(s"$dir/missing.parquet"), "parquet")
    }
    assert(spark.table("once_pq").count() === 7)
    graft.engine.Serve.registerShared(spark, "once_pq", Seq(p), "parquet")
    assert(spark.sql("SELECT sum(id), sum(v) FROM once_pq").head() === org.apache.spark.sql.Row(21L, 31.5))
  }

  test("registerShared of a partitioned parquet directory serves its partition column") {
    val dir = Files.createTempDirectory("graft-serve-part")
    val p = s"$dir/t"
    spark.range(9).selectExpr("id", "cast(id % 3 AS int) AS part").write.partitionBy("part").parquet(p)
    graft.engine.Serve.registerShared(spark, "part_pq", Seq(p), "parquet")
    val served = spark.table("part_pq")
    assert(served.schema === spark.read.parquet(p).schema)
    assert(served.count() === 9)
    assert(spark.sql("SELECT sum(id) FROM part_pq WHERE part = 2").head().getLong(0) === 2L + 5 + 8)
  }

  test("registerShared reads csv under exec's contract: time-of-day stays a string, non-.csv skipped") {
    val dir = Files.createTempDirectory("graft-serve-csv")
    Files.writeString(dir.resolve("w.csv"), "id,tod\n1,12:34:56\n2,23:59:59\n")
    Files.writeString(dir.resolve("ignored.txt"), "id,tod\n9,01:02:03\n")
    graft.engine.Serve.registerShared(spark, "csvshare", Seq(dir.toString), "csv")
    val t = spark.table("csvshare")
    assert(t.schema("tod").dataType === org.apache.spark.sql.types.StringType)
    assert(t.count() === 2)
    assert(spark.sql("SELECT sum(id) FROM csvshare").head().getLong(0) === 3L)
  }

  test("serve boots a Spark Connect server; a real client round-trips SQL") {
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val (code, out) = capture(
      "serve", "--parquet", s"$Sf/nation.parquet", "--table-name", "nation",
      "--port", port.toString)
    assert(code === 0, out)
    assert(out.contains(s"sc://localhost:$port"), out)
    // a genuine Spark Connect CLIENT session (gRPC + Arrow batches,
    // the shaded client jar — no classic-session shortcut): the
    // remote query must see the catalog table `serve` registered
    val client = org.apache.spark.sql.connect.SparkSession.builder()
      .remote(s"sc://localhost:$port")
      .create()
    try {
      val rows = client.sql(
        "SELECT count(*) AS n, min(n_name) AS first_nation FROM nation").collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 25L)
      assert(rows.head.getString(1) === "NATION_0")
    } finally {
      client.close()
      graft.engine.Serve.stop()
    }
  }

  test("serve --pg-port: stock psql round-trips SQL over the Postgres wire protocol") {
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val (code, out) = capture(
      "serve", "--parquet", s"$Sf/region.parquet", "--table-name", "region_pg",
      "--port", port.toString, "--pg-port", "0")
    try {
      assert(code === 0, out)
      val pgPort = Cli.pgServer.get.boundPort
      assert(out.contains(s"PostgreSQL wire protocol listening on 127.0.0.1:$pgPort"), out)
      import scala.sys.process._
      val lines = Process(Seq("psql", "-h", "127.0.0.1", "-p", pgPort.toString,
        "-U", "u", "-d", "d", "-X", "-At", "-c",
        "SELECT count(*) AS n FROM region_pg"), None,
        "PGCONNECT_TIMEOUT" -> "10").!!.trim
      assert(lines === "5", lines)
    } finally {
      Cli.pgServer.foreach(_.close())
      graft.engine.Serve.stop()
    }
  }

  test("a plain JDBC client round-trips SQL against serve (the psql-user route)") {
    // the reference's serve speaks pg wire so psql connects directly;
    // graft's equivalent ecosystem story is Spark's Connect JDBC
    // driver (jdbc:sc://...) — any JDBC tool where a psql user would
    // have pointed the pg JDBC driver. This drives java.sql all the
    // way through: DriverManager -> Connection -> Statement ->
    // ResultSet against a served session.
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val (code, out) = capture(
      "serve", "--parquet", s"$Sf/region.parquet", "--table-name", "region_jdbc",
      "--port", port.toString)
    assert(code === 0, out)
    val conn = java.sql.DriverManager.getConnection(s"jdbc:sc://localhost:$port")
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT count(*) AS n, min(r_name) AS first_region FROM region_jdbc")
      assert(rs.next())
      assert(rs.getLong("n") === 5L)
      assert(rs.getString("first_region") === "AFRICA")
      assert(!rs.next())
      // close the cursor before the connection: the driver's Arrow
      // allocator treats an open ResultSet at close() as a leak
      rs.close()
      st.close()
    } finally {
      conn.close()
      graft.engine.Serve.stop()
    }
  }
}
