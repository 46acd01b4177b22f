package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Remote SQL surface — the Spark-native answer to the reference's
  * pgwire server (`/root/reference/csvb_engine/src/lib.rs:91-132`:
  * task-per-connection Postgres wire protocol over the session's
  * registered tables).
  *
  * Spark's idiomatic remote protocol is Spark Connect (gRPC + Arrow
  * result batches — the same columnar-batches-over-a-wire shape the
  * reference's pgwire encoder streams, `lib.rs:102-127`), so `graft
  * serve` boots the in-process Spark Connect service over the CLI
  * session's SparkContext. Any Spark Connect client (JVM, Python,
  * JDBC driver) can then run SQL against the registered tables.
  *
  * Session-visibility contract: each Connect client gets an ISOLATED
  * SparkSession (Connect's security model), so serve registers tables
  * in the SHARED external catalog (one external table per path, plus
  * a persistent UNION ALL view for multi-path groups) instead of the
  * temp views the one-process `exec` path uses — that is what makes
  * the tables visible to every client session, the analog of the
  * reference serving its SessionContext-registered tables to every
  * pgwire connection.
  */
object Serve {

  /** Escape a value for inclusion in a Spark SQL single-quoted string
    * literal. Spark's default parser escapes with BACKSLASH and treats
    * adjacent quoted literals as concatenation, so the Postgres-style
    * `''` doubling (correct for the DuckDB oracle SQL) would silently
    * mangle a path containing `'` here, and a trailing `\` would eat
    * the closing quote.
    */
  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Register `paths` under `name` so that OTHER sessions of the same
    * SparkContext (i.e. Spark Connect clients) can query it: one
    * external table per path, fronted by a persistent view when the
    * group has several paths. `format` is `csv` (read under
    * [[Core.csvOptions]], the same contract as `exec`) or `parquet`.
    *
    * Validation precedes any catalog mutation (same contract as
    * [[registerSharedJdbc]]): every path is resolved first, so a
    * re-registration with a bad path is rejected before the working
    * registration is touched. That read is the registration's one
    * metadata read: a non-csv path's validated schema becomes its
    * table's schema, so CREATE infers nothing again; a csv path is
    * only listed, and its CREATE is its one inference. A CREATE
    * failing after validation (e.g. a path deleted between
    * validation and CREATE — the residual TOCTOU window both
    * registration paths accept) drops the slots this call made,
    * though the prior registration the CREATEs already replaced is
    * not resurrected.
    */
  def registerShared(spark: SparkSession, name: String, paths: Seq[String], format: String): Unit = {
    require(paths.nonEmpty, s"no paths for table $name")
    // http(s) paths resolve through the ranged HTTP FileSystem — the
    // reference's per-scheme object-store registration posture
    graft.sources.HttpFs.registerIfHttp(spark, paths)
    // one validated schema per path, None for csv
    val schemas: Seq[Option[StructType]] = paths.map { p =>
      format match {
        // csv resolves as text: path listing happens eagerly (missing
        // path throws here) but nothing is scanned — a csv+inferSchema
        // validation read would cost a FULL pass over the data before
        // the CREATE's own inference pass
        case "csv" => spark.read.text(p); None
        case f     => Some(spark.read.format(f).load(p).schema)
      }
    }
    lazy val csvOpts = Core.csvOptions(paths)
      .map { case (k, v) => s"$k '${sqlLit(v)}'" }.mkString("OPTIONS (", ", ", ")")
    def mkTable(tbl: String, path: String, schema: Option[StructType]): Unit = {
      dropAnyShape(spark, tbl)
      schema match {
        // an external table (the "path" option is its location) with
        // the validated schema: the CREATE runs no inference job
        case Some(s) => spark.catalog.createTable(s"`$tbl`", format, s, Map("path" -> path))
        case None    => spark.sql(s"CREATE TABLE `$tbl` USING csv $csvOpts LOCATION '${sqlLit(path)}'")
      }
      ()
    }
    val created = scala.collection.mutable.ListBuffer.empty[String]
    try {
      if (paths.size == 1) { mkTable(name, paths.head, schemas.head); created += name }
      else {
        val parts = paths.zipWithIndex.map { case (p, i) => s"${name}__p$i" -> p }
        parts.zip(schemas).foreach { case ((tbl, p), s) => mkTable(tbl, p, s); created += tbl }
        dropAnyShape(spark, name)
        spark.sql(parts.map { case (tbl, _) => s"SELECT * FROM `$tbl`" }
          .mkString(s"CREATE VIEW `$name` AS ", " UNION ALL ", ""))
        ()
      }
    } catch {
      case NonFatal(e) =>
        created.foreach(dropAnyShape(spark, _))
        throw e
    }
    // a re-registration with FEWER paths (or a switch to single-path)
    // must not leave higher-index part tables queryable — same stale-
    // slot policy as [[registerSharedJdbc]]
    var i = if (paths.size == 1) 0 else paths.size
    while (spark.catalog.tableExists(s"${name}__p$i")) {
      dropAnyShape(spark, s"${name}__p$i")
      i += 1
    }
  }

  // a name may be re-registered across SHAPES (single-path table ↔
  // multi-path view ↔ jdbc shard table), and Spark rejects DROP TABLE
  // on a view and DROP VIEW on a table — so drop whatever shape
  // currently holds the name before creating the new one
  private def dropAnyShape(spark: SparkSession, tbl: String): Unit =
    if (spark.catalog.tableExists(tbl)) {
      val shape = if (spark.catalog.getTable(tbl).tableType == "VIEW") "VIEW" else "TABLE"
      spark.sql(s"DROP $shape `$tbl`")
      ()
    }

  /** Register the union of N JDBC shards under `name` for OTHER
    * sessions (Connect clients): one external JDBC table per shard
    * url, fronted by a UNION ALL view — the catalog counterpart of
    * the reference's federated VirtualTable
    * (`csvb/src/bin/csvb.rs:111-121`: name + shard addrs, served).
    *
    * Carries the reference's schema-equality bail
    * ([[Federation.unionShards]]), evaluated BEFORE any catalog
    * mutation: a failed re-registration must not destroy a working
    * one (the price is one extra schema-resolution pass over the
    * shards up front — correctness over the saved metadata
    * round-trips). A CREATE failing after validation (transient JDBC
    * outage) cleans up the slots it made. Slots left over from a
    * previous wider registration are dropped too (a stale
    * `name__sK` would otherwise stay queryable).
    */
  def registerSharedJdbc(spark: SparkSession, name: String, urls: Seq[String], dbtable: String,
      strict: Boolean = true): Unit = {
    require(urls.nonEmpty, s"no shard urls for federated table $name")
    val shards = Federation.jdbcShards(spark, urls, dbtable)
    Federation.unionShards(shards, strict)
    def q(s: String) = sqlLit(s)
    val parts = urls.zipWithIndex.map { case (u, i) => s"${name}__s$i" -> u }
    val created = scala.collection.mutable.ListBuffer.empty[String]
    try parts.foreach { case (tbl, u) =>
      dropAnyShape(spark, tbl)
      spark.sql(s"CREATE TABLE `$tbl` USING jdbc OPTIONS (url '${q(u)}', dbtable '${q(dbtable)}')")
      created += tbl
      ()
    } catch {
      case NonFatal(e) =>
        created.foreach(dropAnyShape(spark, _))
        throw e
    }
    var i = urls.size
    while (spark.catalog.tableExists(s"${name}__s$i")) {
      dropAnyShape(spark, s"${name}__s$i")
      i += 1
    }
    dropAnyShape(spark, name)
    // each leg projects the head shard's column order explicitly: the
    // view's UNION ALL is positional, so compat-mode (reordered-column)
    // shards must be aligned by name here, not by position
    val cols = shards.head.schema.fieldNames.map(c => s"`$c`").mkString(", ")
    spark.sql(parts.map { case (tbl, _) => s"SELECT $cols FROM `$tbl`" }
      .mkString(s"CREATE VIEW `$name` AS ", " UNION ALL ", ""))
    ()
  }

  /** Start the Spark Connect gRPC service on `port` over the
    * session's SparkContext. Returns once the server is bound
    * (callers decide whether to block; [[graft.Cli.main]] does).
    *
    * The binding port is a static conf read from the context's live
    * SparkConf at service start; `SparkContext.conf` is
    * `private[spark]` at the Scala level but public bytecode, so the
    * one reflective call below reaches the live conf without
    * `setAccessible` — the supported alternative (setting it before
    * the context exists) isn't available to a CLI that serves an
    * already-running session, which is exactly the reference's shape
    * (serve wraps the session it already built, `lib.rs:91-132`).
    */
  def start(spark: SparkSession, port: Int): Unit = {
    val liveConf = classOf[org.apache.spark.SparkContext]
      .getMethod("conf").invoke(spark.sparkContext)
      .asInstanceOf[org.apache.spark.SparkConf]
    liveConf.set("spark.connect.grpc.binding.port", port.toString)
    org.apache.spark.sql.connect.service.SparkConnectService.start(spark.sparkContext)
  }

  /** Stop the Connect service (test/embedding hook). */
  def stop(): Unit =
    org.apache.spark.sql.connect.service.SparkConnectService.stop(None, None)

  private val serveLatch = new java.util.concurrent.CountDownLatch(1)

  /** Block the serving process until killed (Ctrl-C / SIGTERM) — the
    * gRPC server runs on daemon threads, so the CLI holds the
    * process open itself.
    */
  def awaitTermination(): Unit = serveLatch.await()
}
