package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Federation
import Tables.t
import Num.{dsum, dsumSql}

/** Graded federation queries over a LIVE JDBC engine.
  *
  * The reference's federated path reads N remote Postgres shards and
  * unions them (`/root/reference/csvb_engine/src/lib.rs:134-188`,
  * row-chunked streaming at
  * `third_party/postgres_provider/src/postgres_connection.rs:171-223`).
  * No database *server* exists in this sandbox, but Derby's embedded
  * in-memory engine ships on the Spark classpath, so the exact same
  * Spark JDBC machinery the Postgres path uses — schema discovery,
  * per-leg filter pushdown into the remote query, range-partitioned
  * parallel reads ([[Federation.jdbcShardsPartitioned]]) — executes
  * here against a real JDBC database in-process and is graded against
  * the DuckDB oracle on the parquet rows the shards were loaded from.
  *
  * Scale shape: each shard leg is an independent JDBC scan split into
  * `SlicesPerShard` range slices (the executor-side counterpart of the
  * reference streaming each shard in 4,000-row chunks,
  * `postgres_connection.rs:186`); the union introduces no shuffle and
  * the aggregate above it combines map-side per leg. Filters push into
  * the remote engine per leg, so a selective predicate never crosses
  * the wire.
  */
object Federated {

  val NumShards = 2
  val SlicesPerShard = 4

  /** One-time, per-fixture-dir load of the supplier table into
    * `NumShards` embedded in-memory Derby databases, split by
    * `s_suppkey % NumShards` — the stand-in for the external shards
    * that simply *exist* in a production deployment. Fixture setup,
    * not query path: the driver-side collect is bounded by the
    * supplier fixture (100 rows at sf0.01, 1k at sf0.1) and runs once
    * per JVM per dir. Derby in-memory databases are JVM-global (not
    * SparkSession-scoped), so a JVM-wide cache keyed by dir is the
    * correct guard here.
    */
  private val loaded = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def shardUrls(s: SparkSession, dir: String): Seq[String] =
    loaded.computeIfAbsent(dir, _ => {
      val tag = Tables.pathTag(dir)
      val rows = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .collect()
      (0 until NumShards).map { i =>
        val url = s"jdbc:derby:memory:graftfed_${tag}_$i;create=true"
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          // re-entrant under a fresh map (e.g. new classloader over a
          // live Derby engine): drop any previous copy of the table
          try st.execute("DROP TABLE supplier")
          catch { case _: java.sql.SQLException => () }
          st.execute(
            "CREATE TABLE supplier (s_suppkey BIGINT NOT NULL, s_name VARCHAR(64), " +
              "s_nationkey INT, s_acctbal DOUBLE)")
          val ins = conn.prepareStatement("INSERT INTO supplier VALUES (?, ?, ?, ?)")
          rows.iterator
            .filter(r => math.floorMod(r.getLong(0), NumShards.toLong) == i.toLong)
            .foreach { r =>
              ins.setLong(1, r.getLong(0)); ins.setString(2, r.getString(1))
              ins.setInt(3, r.getInt(2)); ins.setDouble(4, r.getDouble(3))
              ins.addBatch()
            }
          ins.executeBatch()
        } finally conn.close()
        url
      }
    })

  /** Live-JDBC scatter-gather: range-partitioned reads of every Derby
    * shard, schema-checked union ([[Federation.unionShards]] — the
    * reference's "Schema of shards was not identical" bail), a
    * predicate that pushes into each remote leg, and a per-nation
    * aggregate on top. The oracle runs the same query on the parquet
    * table the shards were loaded from, so the comparison proves the
    * JDBC round-trip (types included) is lossless.
    */
  def jdbcShards(s: SparkSession, dir: String): DataFrame = {
    // max over an empty table is NULL — default the range bound
    // instead of NPE-ing (same guard as Dedup's labelSum)
    val maxRow = t(s, dir, "supplier").agg(max(col("s_suppkey"))).head()
    val maxKey = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val legs = Federation.jdbcShardsPartitioned(
      s, shardUrls(s, dir), "supplier", "s_suppkey", 0L, maxKey + 1, SlicesPerShard)
    Federation.unionShards(legs)
      .select(
        col("S_SUPPKEY").as("s_suppkey"), col("S_NATIONKEY").as("s_nationkey"),
        col("S_ACCTBAL").as("s_acctbal"))
      .filter(col("s_acctbal") > 0.0) // pushed into each Derby leg's remote query
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"), dsum(col("s_acctbal")).as("total_bal"))
      .orderBy(col("s_nationkey"))
  }

  /** One pgwire server + shared-catalog registration per fixture dir
    * (ephemeral port; the registered name is dir-keyed so several
    * fixtures can coexist in one session). Fixture setup, not query
    * path — the deployed analog is a Postgres that simply exists.
    */
  private val pgServers =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.engine.PgWire.Server, Int, String)]()

  private def pgServerFor(s: SparkSession, dir: String): (Int, String) = {
    val (_, port, tbl) = pgServers.computeIfAbsent(dir, { _ =>
      val tbl = s"customer_fed_${math.abs(dir.hashCode)}"
      graft.engine.Serve.registerShared(s, tbl, Seq(s"$dir/customer.parquet"), "parquet")
      val srv = graft.engine.PgWire.start(s, 0)
      sys.addShutdownHook(srv.close())
      (srv, srv.boundPort, tbl)
    })
    (port, tbl)
  }

  /** Wire tasks (partitions) a self-federation stream may run at
    * once on a scheduler `width` slots wide: HALF the width, at most
    * `max`, floor 1. Server and client share one local[n] scheduler,
    * so client partitions must never hold every task slot while the
    * server needs slots to answer them (4 clients on local[4]
    * deadlock into read timeouts; so would 2 on local[2]). Callers
    * pass the running context's `defaultParallelism`, never
    * `SPARK_GRAFT_CPUS`: a session built narrower than the
    * environment says would otherwise get a cap that fills every
    * slot. A production remote server has its own resources and
    * takes the full fan-out. (local[1] cannot self-federate at all —
    * the one slot can't be both client and server.)
    */
  private[graft] def wireSlots(width: Int, max: Int): Int =
    math.min(max, math.max(1, width / 2))

  /** Federation over the WIRE PROTOCOL itself — the reference's
    * Postgres-connector path with zero JDBC involvement: the
    * customer table is served by this repo's own [[graft.engine
    * .PgWire]] v3 server on a loopback socket and read back through
    * [[graft.sources.PgFederation.pgTable]] — 4 range partitions,
    * each its own connection shipping a column-pruned, doubly
    * predicated remote SELECT (its c_custkey range + the shared
    * `c_nationkey < 13` pushdown) — then aggregated in Spark. Graded
    * against the DuckDB oracle on the SOURCE parquet, so a pass
    * proves the protocol round-trip (schema discovery by OID, text
    * decoding of bigint/double/varchar, NULL handling, partition
    * range math) is lossless end to end.
    */
  def pgWireFederation(s: SparkSession, dir: String): DataFrame = {
    val (port, tbl) = pgServerFor(s, dir)
    val parts = wireSlots(s.sparkContext.defaultParallelism, 4)
    graft.sources.PgFederation.pgTable(s, "127.0.0.1", port, tbl,
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "c_custkey", numPartitions = parts, where = Some("c_nationkey < 13"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"),
        dsum(col("c_acctbal")).as("acct_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** The same wire federation through the COPY OUT subprotocol
    * ([[graft.engine.PgClient.copyOut]] — `COPY (select) TO STDOUT`,
    * one CopyData frame per row instead of per-FIELD DataRow
    * framing, the wire shape the reference connector's chunked row
    * streaming optimizes for). Identical remote SELECTs, identical
    * aggregate, the SAME oracle as q_pg_federation — a pass proves
    * the text-format COPY escaping round-trip (tab/newline/backslash
    * escapes, `\\N` NULLs) is lossless against the source parquet,
    * which the DataRow path never exercises.
    */
  def pgWireFederationCopy(s: SparkSession, dir: String): DataFrame = {
    val (port, tbl) = pgServerFor(s, dir)
    val parts = wireSlots(s.sparkContext.defaultParallelism, 4)
    graft.sources.PgFederation.pgTable(s, "127.0.0.1", port, tbl,
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "c_custkey", numPartitions = parts, where = Some("c_nationkey < 13"),
        viaCopy = true)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"),
        dsum(col("c_acctbal")).as("acct_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Per-fixture-dir location for the round-trip target table —
    * created once, WIPED each run (the table is dropped and
    * re-created so a bench iteration never appends duplicates).
    */
  private val rtLocs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def rmTree(f: java.io.File): Unit = graft.engine.Scratch.removeTree(f)

  /** Wire-federation WRITE-BACK round trip — the missing half of the
    * reference's read-only connector: the filtered customer frame is
    * written INTO the remote server via `COPY FROM STDIN`
    * ([[graft.sources.PgFederation.writeTable]] — one connection per
    * partition streaming chunked text CopyData, server-side
    * positional cast + all-or-nothing append into a fresh parquet
    * table), then read BACK over the wire through the partitioned
    * [[graft.sources.PgFederation.pgTable]] scan and aggregated. The
    * oracle runs on the SOURCE parquet, so a pass proves the write
    * path (client-side text rendering + COPY escaping, server-side
    * parse/cast/commit) composed with the already-graded read path is
    * lossless end to end — both directions of the federation story.
    */
  def pgWireFederationRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (port, _) = pgServerFor(s, dir)
    val tbl = s"customer_rt_${math.abs(dir.hashCode)}"
    val loc = rtLocs.computeIfAbsent(dir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("graft-pg-rt")
      sys.addShutdownHook(rmTree(d.toFile))
      d.toString
    })
    // fresh writable target per RUN: drop + wipe + re-create, so the
    // COPY append lands in an empty external parquet table
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Option(new java.io.File(loc).listFiles).foreach(_.foreach(rmTree))
    s.sql(s"""CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, c_nationkey INT,
      c_acctbal DOUBLE, c_mktsegment STRING) USING parquet LOCATION '$loc'""")
    val src = t(s, dir, "customer")
      .filter(col("c_nationkey") < 13)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    // same self-federation slot cap as the read queries: writer tasks
    // block on the server's commit, which needs scheduler slots
    val parts = wireSlots(s.sparkContext.defaultParallelism, 4)
    graft.sources.PgFederation.writeTable(src, "127.0.0.1", port, tbl, parts)
    graft.sources.PgFederation.pgTable(s, "127.0.0.1", port, tbl,
        Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "c_custkey", numPartitions = parts)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"),
        dsum(col("c_acctbal")).as("acct_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Second wire server per fixture dir, for the scatter query — a
    * distinct endpoint (own port, own accept loop, own connections)
    * standing in for the second remote shard of a scatter-gather
    * deployment. Both in-repo servers necessarily share one Spark
    * catalog, so the shards route to distinct TABLE names — the
    * endpoint routing (which socket each partition's COPY lands on)
    * is what the query proves.
    */
  private val pgServers2 =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.engine.PgWire.Server, Int)]()

  private def pgServer2For(s: SparkSession, dir: String): Int =
    pgServers2.computeIfAbsent(dir, { _ =>
      val srv = graft.engine.PgWire.start(s, 0)
      sys.addShutdownHook(srv.close())
      (srv, srv.boundPort)
    })._2

  /** Multi-shard SCATTER publish + gather-back — the round trip of
    * the full scatter-gather story: the filtered customer frame is
    * round-robin routed across TWO live wire servers
    * ([[graft.sources.PgFederation.writeShards]] — each partition's
    * COPY lands on its own endpoint), then each shard is read back
    * over the wire, union'd (the federate read leg), and aggregated.
    * The oracle runs on the SOURCE parquet: a pass proves the scatter
    * lost nothing, duplicated nothing, and split across endpoints
    * (each shard is asserted non-empty — a routing collapse to one
    * shard fails loudly, not silently).
    */
  def pgWireFederationScatter(s: SparkSession, dir: String): DataFrame = {
    val (port1, _) = pgServerFor(s, dir)
    val port2 = pgServer2For(s, dir)
    val tag = math.abs(dir.hashCode)
    val shards = Seq(
      graft.sources.PgFederation.Shard("127.0.0.1", port1, s"customer_sc0_$tag"),
      graft.sources.PgFederation.Shard("127.0.0.1", port2, s"customer_sc1_$tag"))
    // fresh writable targets per RUN (the roundtrip query's wipe
    // discipline, once per shard)
    shards.foreach { shard =>
      val loc = rtLocs.computeIfAbsent(s"$dir#${shard.table}", { _ =>
        val d = java.nio.file.Files.createTempDirectory("graft-pg-sc")
        sys.addShutdownHook(rmTree(d.toFile))
        d.toString
      })
      s.sql(s"DROP TABLE IF EXISTS ${shard.table}")
      Option(new java.io.File(loc).listFiles).foreach(_.foreach(rmTree))
      s.sql(s"""CREATE TABLE ${shard.table} (c_custkey BIGINT, c_name STRING,
        c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING)
        USING parquet LOCATION '$loc'""")
    }
    val src = t(s, dir, "customer")
      .filter(col("c_nationkey") < 13)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    // 2 writer partitions (one per shard) makes the routing exact
    // (partition k → shard k) and fits the self-federation slot cap
    // from a scheduler width of 4 up (two wire slots). BELOW that
    // floor two concurrent writers would hold every scheduler slot
    // while the server's commit needs one — deadlock-to-timeout — so
    // the scatter degrades to sequential per-shard COPYs of a hash
    // split (a production remote has its own slots and always takes
    // the parallel path).
    val width = s.sparkContext.defaultParallelism
    if (width >= 4)
      graft.sources.PgFederation.writeShards(src, shards, numPartitions = 2)
    else shards.zipWithIndex.foreach { case (shard, i) =>
      graft.sources.PgFederation.writeTable(
        src.filter(col("c_custkey") % 2 === i), shard.host, shard.port, shard.table, 1)
    }
    // routing proof: a scatter that collapsed to one endpoint is a
    // fixture bug the union would hide — refuse it loudly
    shards.foreach { shard =>
      require(s.table(shard.table).limit(1).count() == 1L,
        s"scatter left shard ${shard.table} empty — routing collapsed")
    }
    // both legs read at once, so each gets half the width
    val parts = wireSlots(width / 2, 2)
    val legs = shards.map { shard =>
      graft.sources.PgFederation.pgTable(s, shard.host, shard.port, shard.table,
        Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "c_custkey", numPartitions = parts)
    }
    // the gather has the same self-federation floor as the scatter: a
    // union over both wire legs schedules BOTH legs' client tasks at
    // once, and below 4 slots they starve the servers' own scan jobs —
    // materialize each leg in its own job first (one client task +
    // one server scan fit in 2 slots), then union the local copies
    val gathered =
      if (width >= 4) legs
      else legs.zipWithIndex.map { case (l, i) =>
        graft.engine.Scratch.checkpoint(l, s"pg-scatter-leg$i") }
    graft.engine.Federation.unionShards(gathered)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("key_sum"),
        dsum(col("c_acctbal")).as("acct_bal"))
      .orderBy(col("c_mktsegment"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_jdbc_shards" -> (jdbcShards _),
    "q_pg_federation" -> (pgWireFederation _),
    "q_pg_federation_copy" -> (pgWireFederationCopy _),
    "q_pg_federation_roundtrip" -> (pgWireFederationRoundtrip _),
    "q_pg_federation_scatter" -> (pgWireFederationScatter _))

  val oracle: Map[String, String] = Map(
    "q_jdbc_shards" -> s"""
      SELECT s_nationkey, count(*) AS n_supp, ${dsumSql("s_acctbal")} AS total_bal
      FROM supplier WHERE s_acctbal > 0.0
      GROUP BY s_nationkey ORDER BY s_nationkey""",

    // the wire round-trip must reproduce the SOURCE table exactly
    "q_pg_federation" -> s"""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             ${dsumSql("c_acctbal")} AS acct_bal
      FROM customer WHERE c_nationkey < 13
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // ... and so must the COPY-framed round-trip, against the same truth
    "q_pg_federation_copy" -> s"""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             ${dsumSql("c_acctbal")} AS acct_bal
      FROM customer WHERE c_nationkey < 13
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // ... and the WRITE-back round trip (COPY FROM STDIN in, wire
    // scan back out) must land on the identical source truth
    "q_pg_federation_roundtrip" -> s"""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             ${dsumSql("c_acctbal")} AS acct_bal
      FROM customer WHERE c_nationkey < 13
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // ... and the two-shard SCATTER + gather must too: nothing lost,
    // nothing duplicated, across two endpoints
    "q_pg_federation_scatter" -> s"""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             ${dsumSql("c_acctbal")} AS acct_bal
      FROM customer WHERE c_nationkey < 13
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
}
