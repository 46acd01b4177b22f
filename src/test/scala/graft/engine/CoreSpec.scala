package graft.engine

import graft.SparkSpec
import java.nio.file.Files

/** CSV listing-table registration semantics (reference:
  * `/root/reference/csvb_engine/src/lib.rs:33-85`): multi-path union
  * under one name, schema inference, `.csv` extension filtering.
  */
class CoreSpec extends SparkSpec {

  private def writeCsv(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit = {
    val p = dir.resolve(name)
    Files.write(p, String.join("\n", lines: _*).getBytes)
  }

  test("multi-file CSV registers as one table with inferred schema") {
    val dir = Files.createTempDirectory("graft-csv")
    writeCsv(dir, "a.csv", Seq("id,name,score", "1,alpha,1.5", "2,beta,2.5"))
    writeCsv(dir, "b.csv", Seq("id,name,score", "3,gamma,3.5"))
    writeCsv(dir, "ignored.txt", Seq("id,name,score", "9,nope,9.9"))
    val df = Core.addCsvTable(spark, "t_csv", Seq(dir.toString))
    assert(df.count() === 3) // .txt filtered out, both .csv files unioned
    assert(df.schema("id").dataType.typeName === "integer")
    assert(df.schema("score").dataType.typeName === "double")
    assert(spark.sql("SELECT sum(id) FROM t_csv").head().getLong(0) === 6L)
  }

  test("unsigned/time widening contract (SURVEY §1.4): UInt32-range -> LongType, " +
      "UInt64-range -> Decimal(20,0) digit-exact, time-of-day stays a string") {
    val dir = Files.createTempDirectory("graft-csv-widen")
    // u32 holds values past Int32.MaxValue (a DataFusion UInt32 column);
    // u64 holds UInt64.MaxValue itself, which no Long can carry
    writeCsv(dir, "w.csv", Seq(
      "small,u32,u64,tod,ts,tst",
      "1,4294967295,18446744073709551615,12:34:56,2023-01-02 03:04:05,2023-01-02T03:04:05",
      "2,2147483648,9223372036854775808,23:59:59,2024-05-06 07:08:09.123456,2024-05-06T07:08:09"))
    val df = Core.addCsvTable(spark, "t_widen", Seq(dir.toString))
    assert(df.schema("small").dataType === org.apache.spark.sql.types.IntegerType)
    assert(df.schema("u32").dataType === org.apache.spark.sql.types.LongType)
    assert(df.schema("u64").dataType === org.apache.spark.sql.types.DecimalType(20, 0))
    // Time32/64 has no stable Spark type: the documented rule is to
    // avoid it — a time-of-day column must arrive as an untouched
    // string, never Spark's default lenient parse which anchors a bare
    // time to the CURRENT date (non-deterministic across runs)
    assert(df.schema("tod").dataType === org.apache.spark.sql.types.StringType)
    // ...while genuinely date-anchored timestamps (space or T form,
    // with or without fraction) still infer as timestamps
    assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(df.schema("tst").dataType === org.apache.spark.sql.types.TimestampType)
    assert(spark.sql("SELECT CAST(min(ts) AS STRING) FROM t_widen").head().getString(0)
      === "2023-01-02 03:04:05")
    // the widened values round-trip digit-exact through SQL
    assert(spark.sql("SELECT max(u32) FROM t_widen").head().getLong(0) === 4294967295L)
    assert(spark.sql("SELECT max(u64) FROM t_widen").head().getDecimal(0)
      === new java.math.BigDecimal("18446744073709551615"))
    assert(spark.sql("SELECT sum(u64) FROM t_widen").head().getDecimal(0)
      === new java.math.BigDecimal("27670116110564327423"))
    assert(spark.sql("SELECT max(tod) FROM t_widen").head().getString(0) === "23:59:59")
  }

  test("CSV timestamp shape contract (r16 advice): no-seconds and non-colon " +
      "offsets parse; odd fractions degrade to string, bare time still stays string") {
    val dir = Files.createTempDirectory("graft-csv-tsshape")
    writeCsv(dir, "s.csv", Seq(
      "noSec,offColon,offPlain,offZ,fracOdd,offHour,bare",
      "2023-01-02 03:04,2023-01-02 03:04:05+01:00,2023-01-02 03:04:05+0100," +
        "2023-01-02T03:04:05Z,2023-01-02 03:04:05.123,2023-01-02 03:04:05+01,12:34:56",
      "2024-05-06 07:08,2024-05-06 07:08:09+00:00,2024-05-06 07:08:09+0000," +
        "2024-05-06T07:08:09Z,2024-05-06 07:08:09.9,2024-05-06 07:08:09+00,23:59:59"))
    val df = Core.addCsvTable(spark, "t_tsshape", Seq(dir.toString))
    import org.apache.spark.sql.types.{StringType, TimestampType}
    // accepted shapes: minute precision, ±HH:MM, ±HHMM, Z, and any
    // fraction width (Spark rewrites the S-run to a flexible-width
    // fraction, so .9/.123/.123456 all parse)
    assert(df.schema("noSec").dataType === TimestampType)
    assert(df.schema("offColon").dataType === TimestampType)
    assert(df.schema("offPlain").dataType === TimestampType)
    assert(df.schema("offZ").dataType === TimestampType)
    assert(df.schema("fracOdd").dataType === TimestampType)
    assert(spark.sql("SELECT CAST(min(fracOdd) AS STRING) FROM t_tsshape")
      .head().getString(0) === "2023-01-02 03:04:05.123")
    // colon and plain offsets of the same instant agree exactly
    assert(spark.sql(
      "SELECT count(*) FROM t_tsshape WHERE offColon <> offPlain").head().getLong(0) === 0L)
    // documented degradations: hour-only offsets and bare time stay
    // lossless strings (explicit contract, not silent data munge)
    assert(df.schema("offHour").dataType === StringType)
    assert(df.schema("bare").dataType === StringType)
    assert(spark.sql("SELECT max(bare) FROM t_tsshape").head().getString(0) === "23:59:59")
  }

  test("CSV timestamp shape contract (r17 advice): a fraction requires seconds — " +
      "minute-precision + fraction degrades to string") {
    // the pattern nests [.SSSSSS] INSIDE [:ss]: '03:04.5' must not
    // parse as 03:04:00.5 (the accidental shape a trailing
    // independent fraction optional produced)
    val dir = Files.createTempDirectory("graft-csv-minfrac")
    writeCsv(dir, "m.csv", Seq(
      "minFrac,secFrac",
      "2023-01-02 03:04.5,2023-01-02 03:04:05.5",
      "2024-05-06 07:08.25,2024-05-06 07:08:09.25"))
    val df = Core.addCsvTable(spark, "t_minfrac", Seq(dir.toString))
    import org.apache.spark.sql.types.{StringType, TimestampType}
    assert(df.schema("minFrac").dataType === StringType)
    assert(df.schema("secFrac").dataType === TimestampType)
    assert(spark.sql("SELECT max(minFrac) FROM t_minfrac").head().getString(0)
      === "2024-05-06 07:08.25")
    assert(spark.sql("SELECT CAST(min(secFrac) AS STRING) FROM t_minfrac")
      .head().getString(0) === "2023-01-02 03:04:05.5")
  }

  test("explicit multi-path registration unions all paths") {
    val d1 = Files.createTempDirectory("graft-csv1")
    val d2 = Files.createTempDirectory("graft-csv2")
    writeCsv(d1, "x.csv", Seq("k,v", "1,a"))
    writeCsv(d2, "y.csv", Seq("k,v", "2,b"))
    val df = Core.addCsvTable(spark, "t_multi", Seq(d1.toString, d2.toString))
    assert(df.count() === 2)
  }

  test("execute delegates SQL against registered tables") {
    Core.addParquetTable(spark, "t_region", Seq(s"$Sf/region.parquet"))
    val out = Core.execute(spark, "SELECT count(*) AS n FROM t_region").head()
    assert(out.getLong(0) === 5L)
  }

  test("parameterized SQL is the prepared-statement analog (SURVEY §2.9)") {
    Core.addParquetTable(spark, "t_region", Seq(s"$Sf/region.parquet"))
    val out = spark.sql(
      "SELECT count(*) AS n FROM t_region WHERE r_regionkey < :k",
      Map("k" -> 3)).head()
    assert(out.getLong(0) === 3L)
  }

  test("schema inference reads every file, not only the first (the reference pins the first)") {
    // first file alone: integer column; the second widens it to double
    val d1 = Files.createTempDirectory("graft-pin1")
    val d2 = Files.createTempDirectory("graft-pin2")
    writeCsv(d1, "a.csv", Seq("id,v", "1,10", "2,20"))
    writeCsv(d2, "b.csv", Seq("id,v", "3,1.5"))
    val sampled = Core.addCsvTable(spark, "t_all", Seq(d1.toString, d2.toString))
    assert(sampled.schema("v").dataType.typeName === "double") // Spark-default superset
  }

  test("an unchanged CSV binding reuses its schema with no Spark job; a changed file, " +
      "file set or session conf re-infers") {
    import org.apache.spark.sql.types._
    // (label, files before, the change, confs for the changed
    // registration, column, type before, type after)
    val cases = Seq[(String, Seq[(String, Seq[String])], java.nio.file.Path => Unit,
        Map[String, String], String, DataType, DataType)](
      ("a file rewritten with a different length",
        Seq("a.csv" -> Seq("id,v", "1,10", "2,20")),
        d => writeCsv(d, "a.csv", Seq("id,v", "1,10", "2,2.5")),
        Map.empty, "v", IntegerType, DoubleType),
      ("a file added",
        Seq("a.csv" -> Seq("id,v", "1,10")),
        d => writeCsv(d, "b.csv", Seq("id,v", "3,1.5")),
        Map.empty, "v", IntegerType, DoubleType),
      ("a file deleted",
        Seq("a.csv" -> Seq("id,v", "1,10"), "b.csv" -> Seq("id,v", "3,1.5")),
        d => Files.delete(d.resolve("b.csv")),
        Map.empty, "v", DoubleType, IntegerType),
      ("the session conf changed",
        Seq("a.csv" -> Seq("id,ts", "1,2023-01-02 03:04:05")),
        _ => (),
        Map("spark.sql.timestampType" -> "TIMESTAMP_NTZ"), "ts", TimestampType, TimestampNTZType))
    for (((label, files, change, confs, column, before, after), i) <- cases.zipWithIndex) {
      val dir = Files.createTempDirectory("graft-reuse")
      files.foreach { case (n, lines) => writeCsv(dir, n, lines) }
      val name = s"t_reuse_$i"
      val (first, firstJobs) = jobsStarted(Core.addCsvTable(spark, name, Seq(dir.toString)))
      assert(first.schema(column).dataType === before, label)
      assert(firstJobs > 0, s"$label: the first registration infers")
      val (again, againJobs) = jobsStarted(Core.addCsvTable(spark, name, Seq(dir.toString)))
      assert(againJobs === 0, s"$label: an unchanged binding starts no job")
      assert(again.schema === first.schema, label)
      change(dir)
      val old = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (changed, changedJobs) = jobsStarted(Core.addCsvTable(spark, name, Seq(dir.toString)))
        assert(changed.schema(column).dataType === after, label)
        assert(changedJobs > 0, s"$label: a changed binding infers again")
      } finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("CSV schema reuse: http(s) bindings infer on every registration; a missing path " +
      "still fails with PATH_NOT_FOUND") {
    val (server, url) = graft.sources.HttpFs.serveBytes("id,v\n1,10\n".getBytes, "h.csv")
    try for (_ <- 1 to 2) {
      val (_, jobs) = jobsStarted(Core.addCsvTable(spark, "t_reuse_http", Seq(url)))
      assert(jobs > 0, "an http binding infers each time")
    } finally server.stop(0)
    val dir = Files.createTempDirectory("graft-reuse-gone")
    writeCsv(dir, "a.csv", Seq("id", "1"))
    Core.addCsvTable(spark, "t_reuse_gone", Seq(dir.toString))
    Files.delete(dir.resolve("a.csv"))
    Files.delete(dir)
    for (path <- Seq(dir.toString, "/no/such/graft-dir")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Core.addCsvTable(spark, "t_reuse_gone", Seq(path)))
      assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    }
  }

  test("csvSchemaKey lists the files a recursive listFiles lists: nested directory, " +
      "single file, glob, non-.csv sibling") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-key")
    Files.createDirectories(dir.resolve("sub/deeper"))
    writeCsv(dir, "a.csv", Seq("id", "1"))
    writeCsv(dir, "notes.txt", Seq("not", "csv"))
    writeCsv(dir.resolve("sub"), "b.csv", Seq("id", "2", "3"))
    writeCsv(dir.resolve("sub/deeper"), "c.csv", Seq("id", "4"))
    def listFiles(paths: Seq[String]): Seq[(String, Long, Long)] = {
      val conf = spark.sessionState.newHadoopConf()
      paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        fs.globStatus(path).toSeq.flatMap { st =>
          val it = fs.listFiles(st.getPath, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        }
      }.sorted
    }
    for (paths <- Seq(Seq(dir.toString), Seq(dir.resolve("a.csv").toString),
        Seq(s"$dir/sub/*"), Seq(dir.resolve("sub").toString, dir.resolve("a.csv").toString))) {
      val want = listFiles(paths)
      assert(want.nonEmpty, paths)
      assert(Core.csvSchemaKey(spark, paths).map(_.files) === Some(want), paths)
    }
    assert(Core.csvSchemaKey(spark, Seq(dir.toString)).get.files.map(_._1)
      .exists(_.endsWith("/notes.txt")), "the key covers non-.csv files too")
  }

  test("a warm addCsvTable reads no file permission") {
    val dir = Files.createTempDirectory("graft-perm")
    Files.createDirectories(dir.resolve("sub"))
    writeCsv(dir, "a.csv", Seq("id,v", "1,10"))
    writeCsv(dir, "b.csv", Seq("id,v", "2,20"))
    // listed by the key's recursive walk; a non-partition subdirectory
    // is not read by Spark
    writeCsv(dir.resolve("sub"), "c.csv", Seq("id,v", "3,30"))
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${PermissionCountingFs.Scheme}.impl", classOf[PermissionCountingFs].getName)
    val path = s"${PermissionCountingFs.Scheme}://$dir"
    // the counter counts: a recursive listFiles reads every permission
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    PermissionCountingFs.reads.set(0)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    while (it.hasNext) it.next()
    assert(PermissionCountingFs.reads.get > 0)
    Core.addCsvTable(spark, "t_perm", Seq(path))
    PermissionCountingFs.reads.set(0)
    val (warm, jobs) = jobsStarted(Core.addCsvTable(spark, "t_perm", Seq(path)))
    assert(jobs === 0, "a warm registration")
    assert(PermissionCountingFs.reads.get === 0)
    assert(warm.count() === 2)
  }

  test("copyTo round-trips csv and parquet") {
    val out = Files.createTempDirectory("graft-out")
    val df = spark.read.parquet(s"$Sf/region.parquet")
    Core.copyTo(df, s"$out/r.parquet")
    Core.copyTo(df, s"$out/r.csv", "csv")
    assert(spark.read.parquet(s"$out/r.parquet").count() === 5)
    assert(spark.read.option("header", "true").csv(s"$out/r.csv").count() === 5)
  }

  test("SQL COPY ... TO: subquery and table forms, format + header options") {
    val out = Files.createTempDirectory("graft-copy-sql")
    Core.addParquetTable(spark, "t_copy_region", Seq(s"$Sf/region.parquet"))
    // subquery form, parquet default
    val r1 = Core.execute(spark,
      s"COPY (SELECT r_regionkey, r_name FROM t_copy_region WHERE r_regionkey < 3) TO '$out/sub.parquet'")
    assert(r1.schema.isEmpty) // command frame → pgwire "COPY" tag
    assert(spark.read.parquet(s"$out/sub.parquet").count() === 3)
    // bare-table form with csv format + header
    Core.execute(spark, s"COPY t_copy_region TO '$out/t.csv' (FORMAT csv, HEADER true)")
    assert(spark.read.option("header", "true").csv(s"$out/t.csv").count() === 5)
    // quoted format, nested parens + quotes inside the subquery
    Core.execute(spark,
      s"COPY (SELECT upper(concat(r_name, '(x)''y')) AS v FROM t_copy_region) TO '$out/q.json' (FORMAT 'json')")
    assert(spark.read.json(s"$out/q.json").count() === 5)
    // a path with an escaped quote round-trips
    Core.execute(spark, s"COPY (SELECT 1 AS one) TO '$out/it''s.parquet'")
    assert(spark.read.parquet(s"$out/it's.parquet").count() === 1)
    // non-COPY statements still reach Spark's parser untouched
    assert(Core.execute(spark, "SELECT 41 + 1 AS v").head().getInt(0) === 42)
    // COPY-lookalike that isn't ours falls through to Spark's error
    intercept[Exception](Core.execute(spark, "COPY t_copy_region WITH nonsense"))
  }

  test("information_schema.tables/columns answer real SQL, joins included") {
    Core.addParquetTable(spark, "t_info_nation", Seq(s"$Sf/nation.parquet"))
    val tables = Core.execute(spark,
      "SELECT table_name, table_type FROM information_schema.tables WHERE table_name = 't_info_nation'")
      .collect()
    assert(tables.length === 1, tables.mkString(","))
    assert(tables.head.getString(1) === "VIEW" || tables.head.getString(1) === "BASE TABLE")
    // columns view carries names, positions, types, nullability
    val cols = Core.execute(spark, """
      SELECT column_name, ordinal_position, data_type, is_nullable
      FROM information_schema.columns WHERE table_name = 't_info_nation'
      ORDER BY ordinal_position""").collect()
    assert(cols.map(_.getString(0)).toSeq === Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(cols.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(cols.forall(_.getString(3) == "YES"))
    // a JOIN over the two views — the full-SQL surface, not a SHOW shim
    val joined = Core.execute(spark, """
      SELECT t.table_name, count(*) AS n_cols
      FROM information_schema.tables t
      JOIN information_schema.columns c ON t.table_name = c.table_name
      WHERE t.table_name = 't_info_nation' GROUP BY t.table_name""").collect()
    assert(joined.head.getLong(1) === 3L)
    // the snapshot refreshes: a table registered AFTER the first query shows up
    Core.addParquetTable(spark, "t_info_region", Seq(s"$Sf/region.parquet"))
    val n = Core.execute(spark,
      "SELECT count(*) FROM information_schema.tables WHERE table_name = 't_info_region'")
      .head().getLong(0)
    assert(n === 1L)
  }

  test("json and orc sources round-trip through registration + SQL") {
    val out = Files.createTempDirectory("graft-fmt")
    val df = spark.read.parquet(s"$Sf/region.parquet")
    Core.copyTo(df, s"$out/r.json", "json")
    Core.copyTo(df, s"$out/r.orc", "orc")
    Core.addJsonTable(spark, "t_region_json", Seq(s"$out/r.json"))
    Core.addOrcTable(spark, "t_region_orc", Seq(s"$out/r.orc"))
    assert(Core.execute(spark, "SELECT count(*) AS n FROM t_region_json").head().getLong(0) === 5L)
    assert(Core.execute(spark, "SELECT count(*) AS n FROM t_region_orc").head().getLong(0) === 5L)
    // columnar orc: projection reaches the scan like parquet
    val plan = Core.execute(spark, "SELECT r_name FROM t_region_orc WHERE r_regionkey > 1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("orc"), plan)
  }

  test("writeTarget: INSERT/TRUNCATE forms, backquoted identifiers with punctuation, non-writes") {
    assert(Core.writeTarget("INSERT INTO t VALUES (1)") === Some("t"))
    assert(Core.writeTarget("insert into db.t select * from s") === Some("db.t"))
    assert(Core.writeTarget("INSERT OVERWRITE TABLE t SELECT 1") === Some("t"))
    assert(Core.writeTarget("  TRUNCATE TABLE t") === Some("t"))
    // a backquoted name may hold a dash/space — must capture WHOLE,
    // or the write lock and the cross-session refresh key the wrong
    // (and unresolvable) name
    assert(Core.writeTarget("INSERT INTO `my-tbl` VALUES (1)") === Some("`my-tbl`"))
    assert(Core.writeTarget("INSERT INTO `a b`.`c-d` VALUES (1)") === Some("`a b`.`c-d`"))
    assert(Core.writeTarget("SELECT * FROM t") === None)
    assert(Core.writeTarget("CREATE TABLE t (id BIGINT)") === None)
    // a string literal mentioning INSERT is not a write
    assert(Core.writeTarget("SELECT 'INSERT INTO x'") === None)
    // optional TABLE keyword after INTO: the target is t, not the
    // word TABLE (a lock keyed on "table" plus a refresh of a
    // nonexistent relation re-exposes the staging race)
    assert(Core.writeTarget("INSERT INTO TABLE t VALUES (1)") === Some("t"))
    assert(Core.writeTarget("insert overwrite table db.t select 1") === Some("db.t"))
    // Spark allows CTEs before INSERT — the write target is behind
    // the WITH clause, including nested parens / quoted tricksters
    assert(Core.writeTarget("WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM c")
      === Some("t"))
    assert(Core.writeTarget(
      "WITH a AS (SELECT 1), b AS (SELECT ')' AS s, 'insert into fake' AS t FROM a) " +
        "INSERT INTO TABLE real_t SELECT * FROM b") === Some("real_t"))
    assert(Core.writeTarget(
      "WITH c AS (SELECT `weird ) ins` FROM u) -- insert into nope\n" +
        "INSERT INTO `a b` SELECT * FROM c") === Some("`a b`"))
    // a CTE'd SELECT is still not a write
    assert(Core.writeTarget("WITH c AS (SELECT 1) SELECT * FROM c") === None)
    // underscore is an identifier char: a CTE NAME containing "insert"
    // is not a word boundary (both directions — the write behind it is
    // still found, and without one nothing matches)
    assert(Core.writeTarget(
      "WITH my_insert_x AS (SELECT 1) INSERT INTO t SELECT * FROM my_insert_x") === Some("t"))
    assert(Core.writeTarget("WITH my_insert_x AS (SELECT 1) SELECT * FROM my_insert_x") === None)
    // a double-quoted string literal mentioning INSERT is skipped
    assert(Core.writeTarget(
      "WITH c AS (SELECT \"insert into nope\" AS s) INSERT INTO t2 SELECT * FROM c") === Some("t2"))
    // Spark's default (non-ANSI) lexer escapes quotes with a
    // BACKSLASH too: \' inside a literal must not desync the scanner
    // (missed target = write-lock bypass; matched inside a literal =
    // wrong lock key)
    assert(Core.writeTarget(
      "WITH c AS (SELECT 'it\\'s (insert into fake' AS s) INSERT INTO t3 SELECT * FROM c")
      === Some("t3"))
    assert(Core.writeTarget(
      "WITH c AS (SELECT \"she said \\\"insert into nope\\\"\" AS s) " +
        "INSERT INTO t4 SELECT * FROM c") === Some("t4"))
    assert(Core.writeTarget(
      "WITH c AS (SELECT 'a\\'b' AS s) SELECT * FROM c") === None)
  }

  test("tablesNamed: CTE bodies and subqueries; None for what it cannot tell") {
    val cases = Seq(
      "SELECT * FROM a JOIN B USING (k)" -> Some(Set("a", "b")),
      "SELECT * FROM db.T" -> Some(Set("t")),
      // the CTE body lives in UnresolvedWith.innerChildren
      "WITH x AS (SELECT * FROM lineitem) SELECT * FROM x" -> Some(Set("lineitem", "x")),
      "WITH x AS (WITH y AS (SELECT * FROM a) SELECT * FROM y) SELECT * FROM x" ->
        Some(Set("a", "x", "y")),
      "SELECT * FROM a WHERE k IN (SELECT k FROM b)" -> Some(Set("a", "b")),
      "SELECT (SELECT max(k) FROM b) AS m" -> Some(Set("b")),
      "SELECT * FROM a WHERE EXISTS (WITH c AS (SELECT * FROM b) SELECT 1 FROM c)" ->
        Some(Set("a", "b", "c")),
      "SELECT * FROM a, LATERAL (SELECT * FROM b WHERE b.k = a.k)" -> Some(Set("a", "b")),
      "VALUES (1)" -> Some(Set.empty[String]),
      // cannot tell: register every source
      "COPY (SELECT * FROM a JOIN b USING (k)) TO '/x' (FORMAT csv)" -> None,
      "EXPLAIN ANALYZE SELECT count(*) FROM a" -> None,
      "SELECT * FROM IDENTIFIER('a')" -> None,
      "EXECUTE IMMEDIATE 'SELECT * FROM a'" -> None,
      "BEGIN SELECT * FROM a; END" -> None,
      "SELECT * FROM information_schema.tables" -> None,
      "SHOW TABLES" -> None,
      "DESCRIBE a" -> None,
      "EXPLAIN SELECT * FROM a" -> None,
      "INSERT INTO t SELECT * FROM a" -> None,
      "WITH x AS (SELECT * FROM a) INSERT INTO t SELECT * FROM x" -> None,
      "CREATE TABLE t AS SELECT * FROM a" -> None,
      "SELEC nonsense" -> None)
    for ((sql, want) <- cases) assert(Core.tablesNamed(spark, sql) === want, sql)
  }

  test("pretty renders a bounded aligned table") {
    Core.addParquetTable(spark, "t_nation", Seq(s"$Sf/nation.parquet"))
    val s = Core.pretty(Core.execute(spark, "SELECT n_name FROM t_nation ORDER BY n_name LIMIT 2"))
    assert(s.contains("n_name"))
    assert(s.linesIterator.size === 6) // rule, header, rule, 2 rows, rule
  }

  test("EXPLAIN ANALYZE as plain SQL returns executed-plan metrics (the reference's lib.rs:88 reach)") {
    val rows = Core.execute(spark,
      "EXPLAIN ANALYZE SELECT n_regionkey, count(*) AS n FROM t_nation GROUP BY n_regionkey")
      .collect().map(_.getString(0))
    // scan metrics with the REAL row count, exchange metrics from the
    // shuffle, and the total-rows footer — all from one execution
    assert(rows.exists(l => l.contains("numOutputRows=")), rows.mkString("\n"))
    assert(rows.exists(l => l.contains("Exchange") && l.contains("shuffleRecordsWritten=")),
      rows.mkString("\n"))
    assert(rows.last === "rows: 5", rows.last) // 5 distinct region keys
    // case-insensitive, leading whitespace, multiline inner query
    val rows2 = Core.execute(spark, "  explain   analyze\n SELECT count(*) AS n FROM t_nation")
      .collect().map(_.getString(0))
    assert(rows2.last === "rows: 1", rows2.mkString("\n"))
    // a plain EXPLAIN still goes to Spark's own parser untouched
    val plain = Core.execute(spark, "EXPLAIN SELECT 1").collect()
    assert(plain.nonEmpty)
    // `TABLE t` ALONE is a query (SELECT * shorthand) — its runtime
    // metrics ARE served; only the COMPUTE STATISTICS command form is
    // excluded from interception
    val bare = Core.execute(spark, "EXPLAIN ANALYZE TABLE t_nation").collect().map(_.getString(0))
    assert(bare.last === "rows: 25", bare.mkString("\n"))
    // Spark's own `EXPLAIN ANALYZE TABLE ... COMPUTE STATISTICS` (an
    // EXPLAIN of the ANALYZE TABLE command) must NOT be hijacked —
    // its result is Spark's `plan` column, not the metrics report
    spark.sql("CREATE TABLE IF NOT EXISTS graft_ea_t (x INT) USING parquet")
    try {
      val df = Core.execute(spark, "EXPLAIN ANALYZE TABLE graft_ea_t COMPUTE STATISTICS")
      assert(df.columns.toSeq === Seq("plan"), df.columns.toSeq)
      assert(df.collect().head.getString(0).contains("AnalyzeTable"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ea_t")
  }
}

/** The local file system under the `permcount` scheme, whose file
  * statuses count the reads of their permission, owner and group and
  * answer them with FileStatus's defaults (the local FileSystem
  * without native IO forks `ls -ld` for each such read).
  */
class PermissionCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}

  override def getUri: java.net.URI = java.net.URI.create(s"${PermissionCountingFs.Scheme}:///")
  override def getScheme: String = PermissionCountingFs.Scheme

  private def counting(st: FileStatus): FileStatus = st match {
    case c: PermissionCountingFs.Status => c
    case _                              => new PermissionCountingFs.Status(st)
  }
  override def getFileStatus(f: Path): FileStatus = counting(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(counting)
}

object PermissionCountingFs {
  val Scheme = "permcount"
  val reads = new java.util.concurrent.atomic.AtomicInteger(0)

  final class Status(st: org.apache.hadoop.fs.FileStatus) extends org.apache.hadoop.fs.FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getPath) {
    override def getPermission: org.apache.hadoop.fs.permission.FsPermission = {
      reads.incrementAndGet(); super.getPermission
    }
    override def getOwner: String = { reads.incrementAndGet(); super.getOwner }
    override def getGroup: String = { reads.incrementAndGet(); super.getGroup }
  }
}
