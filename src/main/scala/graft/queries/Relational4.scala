package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import Tables.t

/** Fourth batch — SURVEY §2.8/§2.9 rows that had library coverage
  * but no declared query: the second string-function family
  * (left/right/chr/ascii/bit_length/locate), EXISTS / NOT EXISTS
  * subqueries, and LATERAL struct unnest (UNNEST of array<struct>,
  * the reference's `unnest of struct` row).
  */
object Relational4 {

  /** String functions #2 — the DuckDB-representable remainder of the
    * DF-44 string registry (initcap/overlay/find_in_set/
    * substring_index lack DuckDB 1.0 builtins — oracle-graded via
    * their defining rewrites in [[stringFuncs4]]).
    */
  def stringFuncs2(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql("""
      SELECT p_partkey,
             left(p_name, 5) AS l5,
             right(p_name, 5) AS r5,
             chr(CAST(p_partkey % 26 + 65 AS BIGINT)) AS ch,
             CAST(ascii(p_name) AS BIGINT) AS asc0,
             CAST(bit_length(p_name) AS BIGINT) AS bits,
             CAST(locate('al', p_name) AS BIGINT) AS pos_al
      FROM part ORDER BY p_partkey""")
  }

  /** String functions #3 — the six scalars DuckDB 1.0 lacks as
    * builtins (initcap, overlay, find_in_set, substring_index,
    * nanvl, isnan), oracle-graded through exact relational rewrites
    * on the DuckDB side (split/transform/slice lists, CASE isnan):
    * the rewrite IS the function's definition, so a pass grades the
    * Spark builtin itself, not a weaker rows-only check. NaN inputs
    * are synthesized deterministically from p_partkey so nanvl/isnan
    * see both branches.
    */
  def stringFuncs4(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql("""
      SELECT p_partkey,
             initcap(upper(p_name)) AS ic,
             overlay(p_name PLACING 'XY' FROM 3 FOR 2) AS ov,
             CAST(find_in_set(substring_index(p_name, ' ', 1),
                              'red,blue,green,hot,small') AS BIGINT) AS fis,
             substring_index(p_name, ' ', 1) AS si_first,
             substring_index(p_name, 'e', -2) AS si_neg,
             nanvl(CASE WHEN p_partkey % 3 = 0 THEN CAST('NaN' AS DOUBLE)
                        ELSE p_retailprice END, -1.0) AS nv,
             isnan(CASE WHEN p_partkey % 3 = 0 THEN CAST('NaN' AS DOUBLE)
                        ELSE p_retailprice END) AS isn
      FROM part ORDER BY p_partkey""")
  }

  /** EXISTS / NOT EXISTS correlated subqueries (SURVEY §2.9 row —
    * Catalyst decorrelates both into semi/anti joins; the grouped
    * counts make the result deterministic).
    */
  def subqueryExists(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_mktsegment,
             count(*) AS n_customers,
             CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_with,
             CAST(sum(CASE WHEN NOT EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_without
      FROM customer
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** LATERAL VIEW explode over an array<struct> (struct unnest):
    * rows → per-order struct list → back to rows through the lateral,
    * field-accessing the struct. Round-trips exactly, so the oracle
    * is DuckDB's native UNNEST of a STRUCT list.
    */
  def lateralStructUnnest(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      WITH g AS (
        SELECT l_orderkey,
               sort_array(collect_list(named_struct('ln', l_linenumber, 'qty', l_quantity))) AS items
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey, CAST(item.ln AS BIGINT) AS ln, item.qty AS qty
      FROM g LATERAL VIEW explode(items) ex AS item
      ORDER BY l_orderkey, ln""")
  }

  /** Weighted quantiles at p = 0.25 / 0.5 / 0.75 from one cumulative
    * pass — generalizes q_weighted_percentile's median, and shares
    * its scale shape: hash pre-aggregation to the distinct-price
    * table, then the [[graft.operators.Ranks]] two-pass bucketed
    * running sum instead of a per-flag single window (3 flags ⇒ each
    * window partition would hold a third of the distinct prices,
    * which grow with the part catalog at scale). Decimal cumulative
    * weights are exact either way; the DuckDB oracle replays the
    * single-window formulation.
    */
  def weightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.Ranks
    // same materialization + job-shape contract as
    // q_weighted_percentile (see its scaladoc): checkpoint the
    // (rf, price)-sized aggregate once (r18 bimodal slow-mode fix),
    // then the r21 3-job form — collected-literal bucket bounds so
    // `keyed` is a narrow map (no second checkpoint), and the
    // per-flag total riding the offsets broadcast (one join, not two)
    val a = graft.engine.Scratch.checkpoint(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"), col("l_extendedprice").as("p"))
        .agg(sum(col("l_quantity").cast("decimal(38,6)")).as("w")),
      "wq-agg")
    val keyed = Ranks.rangeBucketedAuto(a, "rf", col("p"), 64)
    val wIn = Window.partitionBy("rf", "bucket").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("cum_in", sum(col("w")).over(wIn))
      .join(broadcast(Ranks.bucketOffsetsWithTotal(keyed, Seq("rf"), col("w"))), Seq("rf", "bucket"))
      .withColumn("cw", col("b_off") + col("cum_in"))
      .groupBy(col("rf"))
      .agg(
        min(when(col("cw") * 4 >= col("tw"), col("p"))).as("wq25"),
        min(when(col("cw") * 2 >= col("tw"), col("p"))).as("wmedian"),
        min(when(col("cw") * 4 >= col("tw") * 3, col("p"))).as("wq75"))
      .orderBy("rf")
  }

  /** Banded temporal range self-join — the scalable execution of an
    * interval predicate (|date_a − date_b| ≤ 3 days over order
    * pairs): band dates into 4-day buckets, equi-join on the band
    * (left side emits bands {k−1, k, k+1}), then apply the exact
    * range residual — same rewrite as the n-gram length banding
    * (graft.pipeline.Dedup), applied to time. The oracle states the
    * predicate as a plain theta join; outputs are per-priority-pair
    * counts so the result is deterministic and small.
    */
  def rangeJoinBanded(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      WITH o AS (
        SELECT o_orderkey AS k, o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d,
               CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') / 4 AS INT) AS band
        FROM orders WHERE year(o_orderdate) = 1995),
      lhs AS (
        SELECT k AS k_a, pr AS pr_a, d AS d_a, explode(array(band - 1, band, band + 1)) AS band
        FROM o),
      pairs AS (
        SELECT k_a, pr_a, rhs.k AS k_b, rhs.pr AS pr_b
        FROM lhs JOIN o rhs USING (band)
        WHERE k_a < rhs.k AND abs(datediff(d_a, rhs.d)) <= 3)
      SELECT pr_a, pr_b, count(*) AS n_pairs
      FROM pairs GROUP BY pr_a, pr_b ORDER BY pr_a, pr_b""")
  }

  /** GROUPS window frame (SURVEY §2.5's one honest gap): neither
    * Spark nor DuckDB 1.0 implements `GROUPS BETWEEN`, so graft
    * *re-expresses* it — a GROUPS frame over (partition, order) is
    * exactly a RANGE frame over `dense_rank()` of the order key
    * (peer groups become consecutive integers; "1 group preceding"
    * becomes `dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING`). The
    * oracle states the identical rewrite in DuckDB (its parser also
    * rejects GROUPS mode), which checks the arithmetic cross-engine;
    * LawsSpec proves the rewrite implements GROUPS *semantics* against
    * a brute-force peer-group evaluation. o_orderdate ties within a
    * priority are real (~2.4k orders/priority over ~2.4k distinct
    * dates at sf0.01), so frames genuinely span multi-row peer groups.
    */
  def windowGroupsFrame(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(WindowGroupsSql)
  }

  private val WindowGroupsSql = """
      WITH b AS (
        SELECT o_orderkey, o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d,
               CAST(o_totalprice AS DECIMAL(38,6)) AS tp,
               dense_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(o_orderdate AS DATE)) AS dr
        FROM orders)
      SELECT o_orderkey, pr, d,
             CAST(count(*) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n_nbr,
             CAST(round(sum(tp) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS DOUBLE) AS s_nbr,
             CAST(round(sum(tp) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS s_cum
      FROM b ORDER BY pr, d, o_orderkey"""

  // ---------------------------------------------------------------- DDL external table

  /** CSV spool dirs backing [[ddlExternal]], one per sfDir per JVM,
    * removed on exit (same pattern as the stream-source spool).
    */
  private val ddlSrc = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** DDL-defined external table — the reference reaches external
    * tables through raw SQL (`CREATE EXTERNAL TABLE`, DataFusion DDL
    * via `/root/reference/csvb_engine/src/lib.rs:87-89`); the Spark
    * counterpart is `CREATE TABLE ... USING csv OPTIONS(...)` against
    * the session catalog, executed through the same
    * [[graft.engine.Core.execute]] raw-SQL surface. The table data is
    * a deterministic 3-column CSV spool of `nation` (no free-text
    * column, so no quoting ambiguity); schema is declared explicitly
    * in the DDL — at scale, `inferSchema` would be an extra full scan.
    *
    * The oracle reads `nation.parquet` directly rather than the CSV
    * spool (the spool is removed by the shutdown hook before the
    * driver's DuckDB pass runs) — which is also the stronger check:
    * the whole spool→DDL→scan round-trip must reproduce the source
    * table bit-for-bit.
    */
  def ddlExternal(s: SparkSession, dir: String): DataFrame = {
    val csvDir = ddlSrc.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files.createTempDirectory("graft-ddl-ext")
      sys.addShutdownHook(rmTree(p.toFile))
      t(s, d, "nation")
        .select(
          org.apache.spark.sql.functions.col("n_nationkey").cast("long"),
          org.apache.spark.sql.functions.col("n_name"),
          org.apache.spark.sql.functions.col("n_regionkey").cast("long"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(p.toString)
      p.toString
    })
    graft.engine.Core.execute(s, "DROP TABLE IF EXISTS ext_nation")
    graft.engine.Core.execute(s,
      s"""CREATE TABLE ext_nation (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
         |USING csv OPTIONS (path '$csvDir', header 'true')""".stripMargin)
    graft.engine.Core.execute(s,
      "SELECT n_nationkey, n_name, n_regionkey FROM ext_nation ORDER BY n_nationkey")
  }

  /** Spool dirs for [[ddlExternalFormats]] (dir → (parquetDir, jsonDir)). */
  private val ddlSrcFmt = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** DDL external tables for the reference's OTHER formats — its DDL
    * route (`csvb_engine/src/lib.rs:87-89` through DataFusion's
    * `CREATE EXTERNAL TABLE … STORED AS PARQUET/JSON`) is not
    * CSV-only; this grades `USING parquet LOCATION` (schema from
    * footers — no declared-schema drift possible) and `USING json`
    * (schema declared: at scale, json inference is an extra full
    * scan) through the same [[graft.engine.Core.execute]] raw-SQL
    * surface, joined so one result proves both round-trips.
    */
  def ddlExternalFormats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (pqDir, jsonDir) = ddlSrcFmt.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files.createTempDirectory("graft-ddl-fmt")
      sys.addShutdownHook(rmTree(p.toFile))
      val base = t(s, d, "nation").select(
        col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
      base.coalesce(1).write.mode("overwrite").parquet(s"$p/pq")
      base.coalesce(1).write.mode("overwrite").json(s"$p/js")
      (s"$p/pq", s"$p/js")
    })
    graft.engine.Core.execute(s, "DROP TABLE IF EXISTS ext_nation_pq")
    graft.engine.Core.execute(s, "DROP TABLE IF EXISTS ext_nation_json")
    graft.engine.Core.execute(s,
      s"CREATE TABLE ext_nation_pq USING parquet LOCATION '$pqDir'")
    graft.engine.Core.execute(s,
      s"""CREATE TABLE ext_nation_json (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
         |USING json OPTIONS (path '$jsonDir')""".stripMargin)
    graft.engine.Core.execute(s,
      """SELECT p.n_nationkey, p.n_name, j.n_regionkey
        |FROM ext_nation_pq p JOIN ext_nation_json j USING (n_nationkey)
        |ORDER BY p.n_nationkey""".stripMargin)
  }

  /** One ranged-HTTP server per sfDir per JVM (dir → url), stopped on
    * exit — the graded counterpart of the HTTP specs' in-process 206
    * server, kept alive for the session so the lazily-evaluated scan
    * (Verify writes parquet, Bench noop-writes AFTER the query
    * returns) can still fetch.
    */
  private val httpSrv = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The reference's HTTP object-store CSV scan
    * (`csvb_engine/src/lib.rs:54-71`) as a GRADED surface: `customer`
    * rendered to CSV bytes, served by an in-process server honoring
    * `Range:`, and registered through [[graft.engine.Core.addCsvTable]]
    * — the same CSV read contract as `exec`, over the ranged
    * [[graft.sources.GraftHttpFileSystem]]. The result must reproduce
    * the source table bit-for-bit, which the oracle reads from
    * parquet.
    */
  def httpScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val url = httpSrv.computeIfAbsent(dir, { d =>
      val rows = t(s, d, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
        .orderBy("c_custkey").collect()
      val sb = new StringBuilder("c_custkey,c_name,c_nationkey\n")
      rows.foreach(r => sb.append(r.getLong(0)).append(',').append(r.getString(1))
        .append(',').append(r.getLong(2)).append('\n'))
      val (server, u) = graft.sources.HttpFs.serveBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), "customer.csv")
      sys.addShutdownHook(server.stop(0))
      u
    })
    graft.engine.Core.addCsvTable(s, "http_customer", Seq(url))
      .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
      .orderBy("c_custkey")
  }

  /** One parquet-over-HTTP server per sfDir per JVM (dir → url). */
  private val httpSrvPq = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One json-over-HTTP server per sfDir per JVM (dir → url). */
  private val httpSrvJson = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** HTTP PARQUET scan through the [[graft.sources.GraftHttpFileSystem]]
    * ranged filesystem — the reference's object store serves ANY
    * format DataFusion reads, parquet included, reachable via DDL
    * (`csvb_engine/src/lib.rs:54-88`); this grades the same surface on
    * Spark's NATIVE parquet reader over ranged GETs: the footer and
    * column chunks arrive as 206 partial responses, and the
    * `c_nationkey < 13` predicate pushes down to the REMOTE scan
    * (PushedFilters asserted in HttpFsSpec) — no spool, no driver
    * byte path.
    */
  def httpScanParquet(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val url = httpSrvPq.computeIfAbsent(dir, { d =>
      // fixture serving, not a hot path: one coalesced parquet file's
      // bytes handed to the in-process 206 server
      val tmp = java.nio.file.Files.createTempDirectory("graft-http-pq")
      t(s, d, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/c")
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/c"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      val (server, u) = graft.sources.HttpFs.serveBytes(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "customer.parquet")
      sys.addShutdownHook(server.stop(0))
      u
    })
    graft.engine.Core.addParquetTable(s, "http_customer_pq", Seq(url))
      .filter(col("c_nationkey") < 13)
      .orderBy("c_custkey")
  }

  /** HTTP line-delimited JSON scan through the same ranged
    * filesystem: Spark's native json reader splits the remote object
    * by byte range (text formats are splittable over the FileSystem
    * contract), so N executors parse disjoint windows of the one URL.
    */
  def httpScanJson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val url = httpSrvJson.computeIfAbsent(dir, { d =>
      // serialize through to_json (proper escaping): hand-concatenated
      // NDJSON would emit invalid rows — silently dropped as corrupt
      // by the reader — the moment a name carries a quote or backslash
      import org.apache.spark.sql.functions.{struct, to_json}
      val rows = t(s, d, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
        .orderBy("c_custkey")
        .select(to_json(struct(col("c_custkey"), col("c_name"), col("c_nationkey"))))
        .collect()
      val sb = new StringBuilder
      rows.foreach(r => sb.append(r.getString(0)).append('\n'))
      val (server, u) = graft.sources.HttpFs.serveBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), "customer.json")
      sys.addShutdownHook(server.stop(0))
      u
    })
    graft.engine.Core.addJsonTable(s, "http_customer_json", Seq(url))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .filter(col("c_custkey") % 7 === 0)
      .orderBy("c_custkey")
  }

  /** Two-shard parquet-over-HTTP servers for [[httpScanParquetMulti]]. */
  private val httpSrvPqMulti =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The MULTI-url listing registration generalized past CSV:
    * `customer` split into two parquet shards (c_custkey mod 2), each
    * served by its own in-process 206 server, registered as ONE table
    * through [[graft.engine.Core.addParquetTable]] — Spark plans a
    * single scan across both remote objects (per-authority FileSystem
    * instances), and the union must reproduce the source table
    * bit-for-bit, which the oracle reads from parquet.
    */
  def httpScanParquetMulti(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (urlA, urlB) = httpSrvPqMulti.computeIfAbsent(dir, { d =>
      def shard(parity: Int, path: String): String = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-http-pqm")
        t(s, d, "customer")
          .filter(col("c_custkey") % 2 === parity)
          .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/c")
        val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/c"))
          .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        val (server, u) = graft.sources.HttpFs.serveBytes(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), path)
        sys.addShutdownHook(server.stop(0))
        u
      }
      (shard(0, "customer_even.parquet"), shard(1, "customer_odd.parquet"))
    })
    graft.engine.Core.addParquetTable(s, "http_customer_pq_multi", Seq(urlA, urlB))
      .orderBy("c_custkey")
  }

  /** Two-shard HTTP servers for [[httpScanMulti]], one pair per sfDir
    * per JVM (dir → (urlA, urlB)).
    */
  private val httpSrvMulti =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The reference's MULTI-url HTTP listing registration
    * (`csvb_engine/src/lib.rs:47-80`: one listing table over several
    * HTTP paths) as a graded surface: `customer` split into two CSV
    * shards (c_custkey mod 2), each served by its own in-process
    * ranged server, registered as ONE table through
    * [[graft.engine.Core.addCsvTable]] — header-equality bail
    * applied, schema inferred over both shards, one scan planned
    * across both remote objects. The union must reproduce the source
    * table bit-for-bit, which the oracle reads from parquet.
    */
  def httpScanMulti(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (urlA, urlB) = httpSrvMulti.computeIfAbsent(dir, { d =>
      // fixture serving, not a hot path: the collect builds the CSV
      // bytes the in-process test servers hand back (same argued
      // exception as httpScan above)
      val rows = t(s, d, "customer")
        .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
        .orderBy("c_custkey").collect()
      def shard(parity: Int, path: String): String = {
        val sb = new StringBuilder("c_custkey,c_name,c_nationkey\n")
        rows.filter(_.getLong(0) % 2 == parity)
          .foreach(r => sb.append(r.getLong(0)).append(',').append(r.getString(1))
            .append(',').append(r.getLong(2)).append('\n'))
        val (server, u) = graft.sources.HttpFs.serveBytes(
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), path)
        sys.addShutdownHook(server.stop(0))
        u
      }
      (shard(0, "customer_even.csv"), shard(1, "customer_odd.csv"))
    })
    graft.engine.Core.addCsvTable(s, "http_customer_multi", Seq(urlA, urlB))
      .select(col("c_custkey").cast("long"), col("c_name"), col("c_nationkey").cast("long"))
      .orderBy("c_custkey")
  }

  /** Layout spool for [[layoutRoundtrip]], one per sfDir per JVM. */
  private val layoutSrc = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The partitioned-write path through the oracle gate: events
    * written Hive-partitioned by day + sorted within files
    * ([[graft.engine.Layout.writePartitioned]]), read back, and
    * aggregated per day — the round-trip must reproduce the source
    * exactly (count + id-sum checksum per partition), which the
    * oracle computes straight from the source table. Partition-
    * directory pruning itself is runtime-proven in LayoutSpec; this
    * grades data fidelity through the layout.
    */
  /** Compacted-spool path for [[layoutCompact]] (dir → compacted). */
  private val compactSrc = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Small-file compaction through the oracle gate
    * ([[graft.engine.Layout.compactSmallFiles]]): events deliberately
    * shattered into 48 undersized files (every streaming sink's
    * steady state), bin-packed back to ⌈bytes/target⌉ files, and the
    * COMPACTED copy aggregated per day — the round-trip must
    * reproduce the source exactly (count + id-sum checksum per day,
    * oracle reads the source table), proving the rewrite moved bytes,
    * not content. The file-count arithmetic (48 → small-n) is
    * LayoutSpec's assertion; content equality is the graded one.
    */
  def layoutCompact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = compactSrc.computeIfAbsent(dir, { d =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-compact-q")
      sys.addShutdownHook(rmTree(tmp.toFile))
      Relational.events(s, d).repartition(48)
        .write.mode("overwrite").parquet(s"$tmp/shattered")
      graft.engine.Layout.compactSmallFiles(
        s, s"$tmp/shattered", s"$tmp/compacted", targetBytes = 8L * 1024 * 1024)
      s"$tmp/compacted"
    })
    s.read.parquet(p)
      .withColumn("event_date", to_date(col("ts")))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .orderBy("event_date")
  }

  def layoutRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = layoutSrc.computeIfAbsent(dir, { d =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-layout-q")
      sys.addShutdownHook(rmTree(tmp.toFile))
      graft.engine.Layout.writePartitioned(
        Relational.events(s, d).withColumn("event_date", to_date(col("ts"))),
        tmp.toString, "event_date", Seq("user_id"))
      tmp.toString
    })
    s.read.parquet(p)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .orderBy("event_date")
  }

  /** Latest-wins upsert ([[graft.operators.Upsert.latestWins]]): the
    * orders snapshot merged with a deterministic change feed (every
    * 10th order re-priced +100 at version 1), then summarized per
    * status. `n_updated` (the surviving change rows) proves the
    * merge replaced rather than appended; the decimal sum pins every
    * surviving price.
    */
  def upsertLatest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = orders.withColumn("version", lit(0L))
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("version", lit(1L))
    graft.operators.Upsert.latestWins(
        base.unionByName(updates), Seq("o_orderkey"), Seq(col("version")))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("version")).as("n_updated"),
        Num.dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** The analytic-window remainder of SURVEY §2.5: percent_rank /
    * cume_dist (exact integer-ratio doubles — bit-identical across
    * engines, no rounding device needed), first/last/nth_value over
    * an explicit ROWS frame, and last_value IGNORE NULLS over a
    * planted null pattern. Ordering key is unique per partition so
    * every frame is deterministic.
    */
  def windowAnalytic(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_custkey, o_orderkey, o_totalprice,
        percent_rank() OVER w AS pct,
        cume_dist() OVER w AS cd,
        first_value(o_totalprice) OVER w_rows AS fv,
        last_value(o_totalprice) OVER w_rows AS lv,
        nth_value(o_totalprice, 2) OVER w_rows AS nv2,
        last_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END)
          IGNORE NULLS OVER w_rows AS lv_in
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             w_rows AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")
  }

  /** UNPIVOT/melt — the inverse of q_pivot: four lineitem measures
    * folded into (metric, val) rows, then summarized per metric so
    * the oracle pins both the unpivot fan-out and the values.
    */
  def unpivot(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    t(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), Num.dsum(col("val")).as("total"))
      .orderBy("metric")
  }

  /** TPC-H Q3 (shipping priority), adapted to the fixture's columns
    * (o_orderpriority for the missing o_shippriority) — the classic
    * 3-table join + grouped revenue + top-k, stated in SQL and left
    * entirely to Catalyst: broadcast the filtered customer dim, AQE
    * picks the join order, TakeOrderedAndProject caps the sort.
    */
  def tpchQ3(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(s"""
      SELECT l_orderkey,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")
  }

  /** TPC-H Q10 (returned-item reporting), fixture-adapted: customer
    * revenue lost to returns in a quarter, 4-table join with two
    * broadcastable dims, grouped decimal revenue, top-20.
    */
  def tpchQ10(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "nation").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(s"""
      SELECT c_custkey, c_name,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
                    JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        AND o_orderdate < TIMESTAMP '1995-10-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")
  }

  // ---------------------------------------------------------------- oracle SQL

  val oracle: Map[String, String] = Map(
    "q_layout_roundtrip" -> """
      SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
      FROM events GROUP BY 1 ORDER BY 1""",

    "q_http_scan" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer ORDER BY c_custkey""",

    // compaction must move bytes, not content: same oracle shape as
    // the partitioned-layout round-trip, read from the SOURCE
    "q_layout_compact" -> """
      SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
      FROM events GROUP BY 1 ORDER BY 1""",

    // the two-shard union must reproduce the SAME source table the
    // single-url scan does
    "q_http_scan_multi" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer ORDER BY c_custkey""",

    // parquet over HTTP: native reader + pushed filter on the remote scan
    "q_http_scan_parquet" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer WHERE c_nationkey < 13 ORDER BY c_custkey""",

    // two parquet shards on two servers, one listing table
    "q_http_scan_parquet_multi" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer ORDER BY c_custkey""",

    // ndjson over HTTP: splittable native json reader
    "q_http_scan_json" -> """
      SELECT c_custkey, c_name, c_nationkey
      FROM customer WHERE c_custkey % 7 = 0 ORDER BY c_custkey""",

    "q_unpivot" -> s"""
      WITH u AS (
        SELECT l_orderkey, metric, val
        FROM lineitem UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax)))
      SELECT metric, count(*) AS n, ${Num.dsumSql("val")} AS total
      FROM u GROUP BY metric ORDER BY metric""",

    "q_tpch_q3" -> """
      SELECT l_orderkey,
             CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""",

    "q_tpch_q10" -> """
      SELECT c_custkey, c_name,
             CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 4) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
                    JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        AND o_orderdate < TIMESTAMP '1995-10-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    "q_window_analytic" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
        percent_rank() OVER w AS pct,
        cume_dist() OVER w AS cd,
        first_value(o_totalprice) OVER w_rows AS fv,
        last_value(o_totalprice) OVER w_rows AS lv,
        nth_value(o_totalprice, 2) OVER w_rows AS nv2,
        last_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END IGNORE NULLS) OVER w_rows AS lv_in
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             w_rows AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""",

    "q_upsert_latest" -> s"""
      WITH all_rows AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0, 1 FROM orders
        WHERE o_orderkey % 10 = 0),
      latest AS (
        SELECT * FROM all_rows
        QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1)
      SELECT o_orderstatus, count(*) AS n, CAST(sum(version) AS BIGINT) AS n_updated,
             ${Num.dsumSql("o_totalprice")} AS total
      FROM latest GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_ddl_external" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation ORDER BY n_nationkey""",

    // parquet + json DDL round-trips joined: both spools must
    // reproduce the source table (oracle reads it straight)
    "q_ddl_external_formats" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation ORDER BY n_nationkey""",

    "q_string_funcs3" -> """
      SELECT p_partkey,
             left(p_name, 5) AS l5,
             right(p_name, 5) AS r5,
             chr(CAST(p_partkey % 26 + 65 AS INT)) AS ch,
             CAST(ascii(p_name) AS BIGINT) AS asc0,
             CAST(bit_length(p_name) AS BIGINT) AS bits,
             CAST(strpos(p_name, 'al') AS BIGINT) AS pos_al
      FROM part ORDER BY p_partkey""",

    // the six Spark-only scalars, each stated as its defining rewrite:
    // initcap = per-word upper(head)+lower(tail); overlay = substr
    // splice; find_in_set = list_position over the comma split (0 when
    // absent); substring_index = slice of the delimiter split (negative
    // count = suffix slice); nanvl/isnan via DuckDB's isnan
    "q_string_funcs4" -> """
      WITH b AS (
        SELECT p_partkey, p_name,
               CASE WHEN p_partkey % 3 = 0 THEN CAST('NaN' AS DOUBLE)
                    ELSE p_retailprice END AS mn,
               string_split(p_name, ' ') AS pw,
               string_split(p_name, 'e') AS pe
        FROM part)
      SELECT p_partkey,
             array_to_string(list_transform(string_split(upper(p_name), ' '),
               w -> upper(w[1]) || lower(w[2:])), ' ') AS ic,
             substr(p_name, 1, 2) || 'XY' || substr(p_name, 5) AS ov,
             CAST(coalesce(list_position(
               string_split('red,blue,green,hot,small', ','), pw[1]), 0) AS BIGINT) AS fis,
             pw[1] AS si_first,
             array_to_string(list_slice(pe, greatest(len(pe) - 1, 1), len(pe)), 'e') AS si_neg,
             CASE WHEN isnan(mn) THEN -1.0 ELSE mn END AS nv,
             isnan(mn) AS isn
      FROM b ORDER BY p_partkey""",

    "q_subquery_exists" -> """
      SELECT c_mktsegment,
             count(*) AS n_customers,
             CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_with,
             CAST(sum(CASE WHEN NOT EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_without
      FROM customer
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // single-window replay of the two-pass bucketed cumulative form
    "q_weighted_quantiles" -> """
      WITH a AS (
        SELECT l_returnflag AS rf, l_extendedprice AS p,
               sum(CAST(l_quantity AS DECIMAL(38,6))) AS w
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT rf, p,
               sum(w) OVER (PARTITION BY rf ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(w) OVER (PARTITION BY rf) AS tw
        FROM a)
      SELECT rf,
             min(CASE WHEN cw * 4 >= tw THEN p END) AS wq25,
             min(CASE WHEN cw * 2 >= tw THEN p END) AS wmedian,
             min(CASE WHEN cw * 4 >= tw * 3 THEN p END) AS wq75
      FROM c GROUP BY rf ORDER BY rf""",

    // the identical dense_rank()-keyed RANGE rewrite, stated in DuckDB
    // (whose parser also rejects GROUPS mode — see windowGroupsFrame's
    // scaladoc; LawsSpec proves the rewrite implements GROUPS
    // semantics against a brute-force peer-group evaluation)
    "q_window_groups_frame" -> """
      WITH b AS (
        SELECT o_orderkey, o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d,
               CAST(o_totalprice AS DECIMAL(38,6)) AS tp,
               dense_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(o_orderdate AS DATE)) AS dr
        FROM orders)
      SELECT o_orderkey, pr, d,
             CAST(count(*) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n_nbr,
             CAST(round(sum(tp) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS DOUBLE) AS s_nbr,
             CAST(round(sum(tp) OVER (PARTITION BY pr ORDER BY dr
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS s_cum
      FROM b ORDER BY pr, d, o_orderkey""",

    "q_range_join_banded" -> """
      WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d
                 FROM orders WHERE date_part('year', o_orderdate) = 1995)
      SELECT a.pr AS pr_a, b.pr AS pr_b, count(*) AS n_pairs
      FROM o a JOIN o b
        ON a.k < b.k AND abs(date_diff('day', b.d, a.d)) <= 3
      GROUP BY pr_a, pr_b ORDER BY pr_a, pr_b""",

    "q_lateral_struct_unnest" -> """
      WITH g AS (
        SELECT l_orderkey,
               list({'ln': l_linenumber, 'qty': l_quantity} ORDER BY l_linenumber, l_quantity) AS items
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey, CAST(u.ln AS BIGINT) AS ln, u.qty AS qty
      FROM (SELECT l_orderkey, UNNEST(items) AS u FROM g)
      ORDER BY l_orderkey, ln""")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_string_funcs3" -> (stringFuncs2 _),
    "q_string_funcs4" -> (stringFuncs4 _),
    "q_subquery_exists" -> (subqueryExists _),
    "q_lateral_struct_unnest" -> (lateralStructUnnest _),
    "q_weighted_quantiles" -> (weightedQuantiles _),
    "q_range_join_banded" -> (rangeJoinBanded _),
    "q_window_groups_frame" -> (windowGroupsFrame _),
    "q_ddl_external" -> (ddlExternal _),
    "q_ddl_external_formats" -> (ddlExternalFormats _),
    "q_upsert_latest" -> (upsertLatest _),
    "q_window_analytic" -> (windowAnalytic _),
    "q_unpivot" -> (unpivot _),
    "q_http_scan" -> (httpScan _),
    "q_http_scan_multi" -> (httpScanMulti _),
    "q_layout_compact" -> (layoutCompact _),
    "q_http_scan_parquet" -> (httpScanParquet _),
    "q_http_scan_parquet_multi" -> (httpScanParquetMulti _),
    "q_http_scan_json" -> (httpScanJson _),
    "q_layout_roundtrip" -> (layoutRoundtrip _),
    "q_tpch_q3" -> (tpchQ3 _),
    "q_tpch_q10" -> (tpchQ10 _))
}
