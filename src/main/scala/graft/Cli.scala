package graft

import java.io.PrintStream

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

import graft.engine.Core

/** User-facing command line — the reference's primary surface
  * (`/root/reference/csvb/src/bin/csvb.rs:168-178`: subcommands
  * `haiku | exec | serve | federate`, with `exec --csv <path>...
  * --table-name tbl "<SQL>"`). graft keeps the same contract for the
  * local subcommands over the existing engine pieces
  * ([[graft.engine.Core.addCsvTable]] / [[graft.engine.Core.execute]]
  * / [[graft.engine.Core.pretty]]), plus `--parquet` since the engine
  * is columnar-first:
  *
  * {{{
  * graft.Cli exec [--csv <path>]... [--parquet <path>]...
  *                [--table-name tbl] [--max-rows N] "<SQL>"
  * graft.Cli haiku
  * }}}
  *
  * `serve` answers the reference's pgwire server
  * (`csvb_engine/src/lib.rs:91-132`) with Spark's idiomatic remote
  * surface: it registers the given paths as shared catalog tables
  * and boots the in-process Spark Connect gRPC service
  * ([[graft.engine.Serve]]) — any Spark Connect client (JVM,
  * Python, JDBC) then queries them remotely. `federate` mirrors the
  * reference's federated virtual table
  * (`csvb/src/bin/csvb.rs:111-121`): N JDBC shard urls union under
  * one name ([[graft.engine.Federation]], schema-equality bail
  * included) and either answer a SQL inline or serve over Connect.
  *
  * {{{
  * graft.Cli serve [--csv <path>]... [--parquet <path>]...
  *                 [--table-name tbl] [--port 15002]
  * }}}
  */
object Cli {

  private val Usage =
    """usage:
      |  exec [--csv [name=]<path>]... [--parquet [name=]<path>]... [--table-name tbl]
      |       [--max-rows N] [--memory-cap BYTES[k|m|g]] [--analyze] "<SQL>"
      |  serve [--csv <path>]... [--parquet <path>]... [--table-name tbl] [--port 15002]
      |        [--pg-port N] [--pg-password PW] [--memory-cap BYTES[k|m|g]]
      |  federate [--jdbc <url>]... [--pg <host:port>]... [--pg-shard-password PW]
      |           [--dbtable t] [--table-name tbl]
      |           [--strict-schema] [--max-rows N] ["<SQL>" | --port 15002]
      |  publish --pg <host:port>... --dbtable t [--pg-shard-password PW]
      |          [--csv [name=]<path>]... [--parquet [name=]<path>]...
      |          [--table-name tbl] [--partitions N] ["<SQL>"]
      |  haiku
      |
      |exec registers the given paths as table <tbl> (default: tbl).
      |When BOTH --csv and --parquet are passed, the csv paths register
      |as <tbl> and the parquet paths as <tbl>_pq.
      |The name=path form binds each path to its OWN table name
      |(repeatable; several paths under one name union as a listing
      |table), so one exec can join many sources — the multi-table
      |binding the reference leaves as a TODO (csvb.rs:42-43).
      |A path may be an http(s) URL, read through ranged GETs. CSV
      |directories read only their *.csv files; that filter is off when
      |every path of a binding is a URL (a URL names one object, so an
      |extensionless or ?query URL still reads), and on when a binding
      |mixes local paths and URLs.
      |exec and publish register (and schema-infer) only the tables the
      |statement names; the path of a binding the statement does not
      |read is not checked. Every binding registers when that cannot be
      |told: the statement does not parse (COPY ... TO, EXPLAIN ANALYZE),
      |is a command (SHOW TABLES, DESCRIBE, INSERT, ...), uses
      |IDENTIFIER(...) or EXECUTE IMMEDIATE, or reads information_schema.
      |A CSV binding's inferred schema is kept for later calls in the same
      |process and reused, with no inference pass, while the binding is
      |unchanged: the same paths and session settings, and the same files
      |with the same length and modification time (the rule make and
      |rsync use; a rewrite that keeps both is not re-inferred). An
      |http(s) binding infers on every call.
      |--analyze prints, after the result, per-operator runtime
      |metrics from the executed plan (files read post-pruning, rows
      |scanned, shuffle bytes/records, spill) — the EXPLAIN ANALYZE
      |analog; the query runs exactly once.
      |serve registers the paths as shared catalog tables and starts a
      |Spark Connect server on --port; connect any Spark Connect client
      |to sc://<host>:<port> and query <tbl> remotely. --pg-port N also
      |serves the PostgreSQL wire protocol on N: `psql -h host -p N`
      |(or any pg driver, parameterless statements) queries the same
      |tables — the reference's pgwire surface.
      |federate unions remote table <t> across the shard legs as
      |<tbl>: --jdbc legs read through Spark JDBC, --pg legs speak the
      |Postgres v3 wire protocol directly (no driver jar; one
      |connection per shard; --pg-shard-password authenticates to the
      |shards via SCRAM-SHA-256). A --pg leg ships only the columns
      |the query reads and the predicates both engines evaluate alike
      |(integral, boolean and date comparisons; string = and IN, not
      |under NOT); Spark evaluates every predicate again. Each shard's
      |schema is probed once per session and reused; a statement that
      |finds it changed fails, and the next one probes again. Column reordering and
      |nullability differences between shards are accepted (resolved by name);
      |--strict-schema restores the reference's identical-schema bail.
      |With "<SQL>" it answers inline, without it serves the federated
      |view over Spark Connect (wire legs under global_temp).
      |publish is federate's write direction: register the given paths
      |(exec's binding rules), run "<SQL>" (default: SELECT * FROM
      |<tbl>), and COPY the result INTO remote table <t> over the v3
      |wire protocol — one connection per partition (--partitions
      |caps the fan-out), chunked text COPY FROM STDIN, the remote
      |casting positionally. Several --pg legs SCATTER the result:
      |partitions route round-robin across the legs, each COPYing
      |into <t> on its own shard — federate's gather, reversed.
      |Append-only, at-most-once per partition (a retried task fails
      |loudly; truncate and re-run).
      |--memory-cap scales the in-session memory knobs (broadcast-build
      |threshold = cap/8) the way the reference's --memory-pool-bytes
      |caps its GreedyMemoryPool; the JVM heap itself is launch-time
      |(-Xmx / spark.executor.memory — see BASELINE.md).
      |""".stripMargin

  /** Testable entry: parse + run against a provided session, print to
    * `out`, return a process exit code (0 ok, 2 usage error).
    */
  def run(args: Seq[String], spark: SparkSession, out: PrintStream): Int = {
    connectServerStarted = false
    pgServer = None
    runParsed(args, spark, out)
  }

  private def runParsed(args: Seq[String], spark: SparkSession, out: PrintStream): Int =
    try args.toList match {
      case "haiku" :: _ =>
        out.println(Core.haiku)
        0
      case "exec" :: rest =>
        exec(rest, spark, out)
      case "serve" :: rest =>
        serve(rest, spark, out)
      case "federate" :: rest =>
        federate(rest, spark, out)
      case "publish" :: rest =>
        publish(rest, spark, out)
      case _ =>
        out.println(Usage)
        2
    } catch {
      case UsageError(msg) =>
        out.println(s"$msg\n$Usage")
        2
    }

  /** A malformed flag VALUE is a usage mistake, not a crash: it gets
    * the same exit-2 + usage text as an unrecognized flag (a bare
    * NumberFormatException stack trace would exit 1).
    */
  private final case class UsageError(msg: String) extends RuntimeException(msg)

  private def intArg(flag: String, v: String): Int =
    try v.toInt
    catch { case _: NumberFormatException => throw UsageError(s"invalid value for $flag: $v") }

  private val BytesRe = "(?i)^(\\d{1,18})([kmg]?)$".r

  private def bytesArg(flag: String, v: String): Long = v match {
    case BytesRe(n, suf) =>
      val mult = suf.toLowerCase match {
        case "k" => 1L << 10
        case "m" => 1L << 20
        case "g" => 1L << 30
        case _   => 1L
      }
      // exact arithmetic: an over-Long value is a usage error, not a
      // NumberFormatException stack trace or a silent negative wrap
      val bytes = BigInt(n) * mult
      if (!bytes.isValidLong) throw UsageError(s"value for $flag too large: $v")
      bytes.toLong
    case _ => throw UsageError(s"invalid value for $flag: $v")
  }

  /** The reference's `--memory-pool-bytes` (GreedyMemoryPool cap,
    * `csvb/src/bin/csvb.rs:16-18` / `csvb_engine/src/lib.rs:23-27`)
    * mapped to Spark's RUNTIME-settable memory knob: the broadcast
    * build threshold scales to cap/8 (clamped to [1 MiB, 8 GiB],
    * Spark's broadcast hard limit), so a small cap stops large
    * hash-build allocations the same way a small pool rejects them.
    * The heap itself is launch-time (`-Xmx`/`spark.executor.memory`)
    * — that mapping is documented in BASELINE.md, and the notice
    * printed here points at it.
    */
  private def applyMemoryCap(spark: SparkSession, cap: Long, out: PrintStream): Unit = {
    val threshold = math.max(1L << 20, math.min(cap / 8, 8L << 30))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    out.println(s"memory cap $cap bytes: broadcast threshold -> $threshold " +
      "(executor heap is launch-time -Xmx; see BASELINE.md)")
  }

  /** Split an optional `name=path` binding (the multi-table form);
    * a bare path keeps name None. It only counts as a binding when
    * the prefix before the first `=` is a bare SQL identifier — a
    * Hive-partitioned path like `/data/events/date=2024-01-01` has a
    * slash before its `=` and stays a plain path. The one ambiguous
    * spelling is a RELATIVE single-segment partition dir
    * (`date=2024-01-01` from inside the dataset root), which parses
    * as a binding named `date`; prefix it `./date=2024-01-01` to
    * force the path reading — same escape every shell's option
    * parsing uses.
    */
  private val BindingName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  private def binding(v: String): (Option[String], String) = {
    val i = v.indexOf('=')
    if (i <= 0) (None, v)
    else {
      val name = v.substring(0, i)
      if (BindingName.matches(name)) (Some(name), v.substring(i + 1)) else (None, v)
    }
  }

  /** exec's source-registration rules, shared verbatim by `publish`:
    * positional csvs under <tbl> (parquets under <tbl>_pq when both
    * kinds are present), each name=path binding its own table, and
    * several paths under one name unioning as a listing table.
    *
    * Only the bindings `sql` names are registered ([[Core.tablesNamed]]),
    * each with all-files schema inference, or with the schema kept from
    * an unchanged earlier registration ([[Core.addCsvTable]]); where
    * that cannot tell
    * (an unparsable statement such as `COPY … TO` or `EXPLAIN
    * ANALYZE`, a command, `IDENTIFIER(...)`, `EXECUTE IMMEDIATE`,
    * information_schema) every binding is. So the path of a binding
    * the statement does not read is never checked.
    */
  private def registerSources(spark: SparkSession, sql: String, tableName: String,
      csvs: Vector[String], parquets: Vector[String],
      namedCsvs: Vector[(String, String)],
      namedParquets: Vector[(String, String)]): Unit = {
    val named = Core.tablesNamed(spark, sql)
    def wanted(n: String) = named.forall(_(n.toLowerCase(java.util.Locale.ROOT)))
    if (csvs.nonEmpty && wanted(tableName)) Core.addCsvTable(spark, tableName, csvs)
    val pqName = if (csvs.nonEmpty) s"${tableName}_pq" else tableName
    if (parquets.nonEmpty && wanted(pqName)) Core.addParquetTable(spark, pqName, parquets)
    namedCsvs.groupBy(_._1).foreach { case (n, ps) =>
      if (wanted(n)) Core.addCsvTable(spark, n, ps.map(_._2)) }
    namedParquets.groupBy(_._1).foreach { case (n, ps) =>
      if (wanted(n)) Core.addParquetTable(spark, n, ps.map(_._2)) }
  }

  /** `host:port` flag value, shared by federate's and publish's --pg. */
  private def hostPortArg(flag: String, v: String): (String, Int) =
    v.split(":", 2) match {
      case Array(h, p) if h.nonEmpty => (h, intArg(flag, p))
      case _ => throw UsageError(s"invalid value for $flag (want host:port): $v")
    }

  private def exec(rest: List[String], spark: SparkSession, out: PrintStream): Int = {
    var csvs = Vector.empty[String]
    var parquets = Vector.empty[String]
    var namedCsvs = Vector.empty[(String, String)]
    var namedParquets = Vector.empty[(String, String)]
    var tableName = "tbl"
    var maxRows = 100
    var memoryCap: Option[Long] = None
    var analyze = false
    var query: Option[String] = None
    var argv = rest
    while (argv.nonEmpty) argv match {
      case "--csv" :: p :: t => binding(p) match {
        case (Some(n), path) => namedCsvs :+= (n -> path); argv = t
        case (None, path)    => csvs :+= path; argv = t
      }
      case "--parquet" :: p :: t => binding(p) match {
        case (Some(n), path) => namedParquets :+= (n -> path); argv = t
        case (None, path)    => parquets :+= path; argv = t
      }
      case "--table-name" :: n :: t  => tableName = n; argv = t
      case "--max-rows" :: n :: t    => maxRows = intArg("--max-rows", n); argv = t
      case "--memory-cap" :: n :: t  => memoryCap = Some(bytesArg("--memory-cap", n)); argv = t
      case "--analyze" :: t          => analyze = true; argv = t
      case q :: t if !q.startsWith("--") && query.isEmpty => query = Some(q); argv = t
      case bad :: _ =>
        out.println(s"unrecognized argument: $bad\n$Usage")
        return 2
      case Nil => // unreachable: loop guard
    }
    query match {
      case None =>
        out.println(s"missing query\n$Usage")
        2
      case Some(sql) =>
        memoryCap.foreach(applyMemoryCap(spark, _, out))
        registerSources(spark, sql, tableName, csvs, parquets, namedCsvs, namedParquets)
        val df = Core.execute(spark, sql)
        if (analyze) {
          // one execution serves both the display rows and the
          // metrics (a second action would double-count SQLMetrics)
          val (head, n, report) = graft.engine.Analyze.run(df, maxRows)
          out.println(Core.prettyTable(df.columns.toSeq,
            head.map(_.toSeq.map(v => if (v == null) "NULL" else v.toString))))
          out.println(s"($n rows)")
          out.println("-- ANALYZE --")
          out.println(report)
        } else out.println(Core.pretty(df, maxRows))
        0
    }
  }

  /** `federate`'s write direction — the CLI face of
    * [[graft.sources.PgFederation.writeTable]]: register local
    * sources (exec's binding rules), evaluate one SQL (default the
    * whole registered table), and COPY the result INTO a remote v3
    * table, one connection per Spark partition. The reference's CLI
    * has no write path at all (its connector is read-only); this is
    * the superset half that makes federation round-trip from a
    * terminal.
    */
  private def publish(rest: List[String], spark: SparkSession, out: PrintStream): Int = {
    var csvs = Vector.empty[String]
    var parquets = Vector.empty[String]
    var namedCsvs = Vector.empty[(String, String)]
    var namedParquets = Vector.empty[(String, String)]
    var tableName = "tbl"
    var dbtable: Option[String] = None
    var legs = Vector.empty[(String, Int)]
    var password: Option[String] = None
    var partitions = 0
    var query: Option[String] = None
    var argv = rest
    while (argv.nonEmpty) argv match {
      case "--csv" :: p :: t => binding(p) match {
        case (Some(n), path) => namedCsvs :+= (n -> path); argv = t
        case (None, path)    => csvs :+= path; argv = t
      }
      case "--parquet" :: p :: t => binding(p) match {
        case (Some(n), path) => namedParquets :+= (n -> path); argv = t
        case (None, path)    => parquets :+= path; argv = t
      }
      case "--pg" :: hp :: t => legs :+= hostPortArg("--pg", hp); argv = t
      case "--pg-shard-password" :: pw :: t => password = Some(pw); argv = t
      case "--dbtable" :: n :: t     => dbtable = Some(n); argv = t
      case "--table-name" :: n :: t  => tableName = n; argv = t
      case "--partitions" :: n :: t  => partitions = intArg("--partitions", n); argv = t
      case q :: t if !q.startsWith("--") && query.isEmpty => query = Some(q); argv = t
      case bad :: _ =>
        out.println(s"unrecognized argument: $bad\n$Usage")
        return 2
      case Nil => // unreachable: loop guard
    }
    (legs, dbtable) match {
      case (v, _) if v.isEmpty => out.println(s"missing --pg <host:port>\n$Usage"); 2
      case (_, None) => out.println(s"missing --dbtable <t>\n$Usage"); 2
      case (shardLegs, Some(target)) =>
        val sql = query.getOrElse(s"SELECT * FROM $tableName")
        registerSources(spark, sql, tableName, csvs, parquets, namedCsvs, namedParquets)
        val df = Core.execute(spark, sql)
        // several --pg legs = SCATTER publish: partitions round-robin
        // across the legs (writeShards), the write direction of
        // federate's N-leg gather
        val shards = shardLegs.map { case (h, p) =>
          graft.sources.PgFederation.Shard(h, p, target) }
        val n = graft.sources.PgFederation.writeShards(
          df, shards, partitions, password = password)
        val where = shardLegs.map { case (h, p) => s"$h:$p" }.mkString(", ")
        out.println(s"published $n rows to $target @ $where")
        0
    }
  }

  /** The reference's `federate` subcommand made live
    * (`csvb/src/bin/csvb.rs:111-121`: one virtual table over N shard
    * addresses, scatter-gather union, served): shards are JDBC urls,
    * the union carries the reference's schema-equality bail, and the
    * result either answers one SQL inline (print mode, when a query
    * is passed) or registers as a shared catalog view and serves over
    * Spark Connect (the serve analog, when no query is passed).
    */
  private def federate(rest: List[String], spark: SparkSession, out: PrintStream): Int = {
    var urls = Vector.empty[String]
    var pgLegs = Vector.empty[(String, Int)] // wire-protocol shards (host, port)
    var pgPassword: Option[String] = None // SCRAM credential for the --pg legs
    var dbtable = "tbl"
    var tableName = "tbl"
    var port = 15002
    var maxRows = 20
    var strict = false
    var query: Option[String] = None
    var argv = rest
    while (argv.nonEmpty) argv match {
      case "--jdbc" :: u :: t       => urls :+= u; argv = t
      case "--pg" :: hp :: t => pgLegs :+= hostPortArg("--pg", hp); argv = t
      case "--pg-shard-password" :: pw :: t => pgPassword = Some(pw); argv = t
      case "--dbtable" :: n :: t    => dbtable = n; argv = t
      case "--table-name" :: n :: t => tableName = n; argv = t
      case "--port" :: n :: t       => port = intArg("--port", n); argv = t
      case "--max-rows" :: n :: t   => maxRows = intArg("--max-rows", n); argv = t
      case "--strict-schema" :: t   => strict = true; argv = t
      case q :: t if !q.startsWith("--") && query.isEmpty => query = Some(q); argv = t
      case bad :: _ =>
        out.println(s"unrecognized argument: $bad\n$Usage")
        return 2
      case Nil => // unreachable: loop guard
    }
    if (urls.isEmpty && pgLegs.isEmpty) {
      out.println(s"missing --jdbc <url> or --pg <host:port> (at least one shard)\n$Usage")
      return 2
    }
    // every leg reads the SAME remote table name, unioned under the
    // reference's schema bail: JDBC legs through Spark's JDBC source,
    // --pg legs through the wire-protocol source (one connection per
    // shard — the reference's connection-per-shard posture,
    // csvb/src/bin/csvb.rs:111-121 — shipping only the columns and
    // rows the query needs)
    def allLegs: Seq[org.apache.spark.sql.DataFrame] =
      (if (urls.nonEmpty) graft.engine.Federation.jdbcShards(spark, urls, dbtable)
       else Seq.empty) ++
        pgLegs.map { case (h, p) =>
          graft.sources.PgFederation.pgTableWhole(spark, h, p, dbtable,
            password = pgPassword) }
    // the schema-equality bail (the reference's), handled ONCE: both
    // surviving union paths (inline answer, wire-leg serve) build the
    // same unioned frame; the JDBC-only serve path instead bails
    // inside registerSharedJdbc over the registered tables
    // a bail or a failed statement may rest on a stale cached schema
    // (a changed type, a newly added column): the next one probes again
    def forgetLegs(): Unit =
      pgLegs.foreach { case (h, p) => graft.sources.PgFederation.forget(h, p, dbtable) }
    def unionOrBail(): Option[org.apache.spark.sql.DataFrame] =
      try Some(graft.engine.Federation.unionShards(allLegs, strict))
      catch {
        case e: IllegalArgumentException =>
          forgetLegs()
          out.println(e.getMessage)
          None
      }
    query match {
      case Some(sql) =>
        try unionOrBail() match {
          case None => 2
          case Some(union) =>
            union.createOrReplaceTempView(tableName)
            out.println(Core.pretty(Core.execute(spark, sql), maxRows))
            0
        } catch { case NonFatal(e) => forgetLegs(); throw e }
      case None if pgLegs.isEmpty =>
        try graft.engine.Serve.registerSharedJdbc(spark, tableName, urls, dbtable, strict)
        catch {
          case e: IllegalArgumentException =>
            out.println(e.getMessage)
            return 2
        }
        graft.engine.Serve.start(spark, port)
        connectServerStarted = true
        out.println(s"Spark Connect server listening on sc://localhost:$port " +
          s"(federated `$tableName` over ${urls.size} shards)")
        0
      case None =>
        // wire legs are DataFrames, not catalog tables — the served
        // view lives in global_temp, visible to every Connect session
        unionOrBail() match {
          case None => 2
          case Some(union) =>
            union.createOrReplaceGlobalTempView(tableName)
            graft.engine.Serve.start(spark, port)
            connectServerStarted = true
            out.println(s"Spark Connect server listening on sc://localhost:$port " +
              s"(federated `global_temp.$tableName` over ${urls.size + pgLegs.size} shards)")
            0
        }
    }
  }

  /** Parse + start the Connect server (non-blocking — the caller
    * decides whether to block, so CliSpec can round-trip a client
    * query and then stop the service in-process).
    */
  private def serve(rest: List[String], spark: SparkSession, out: PrintStream): Int = {
    var csvs = Vector.empty[String]
    var parquets = Vector.empty[String]
    var tableName = "tbl"
    var port = 15002
    var pgPort: Option[Int] = None
    // SCRAM-SHA-256 auth for the pgwire endpoint; absent = trust (the
    // reference's posture). Env var fallback keeps the secret out of
    // `ps` output.
    var pgPassword: Option[String] = sys.env.get("GRAFT_PG_PASSWORD").filter(_.nonEmpty)
    var memoryCap: Option[Long] = None
    var argv = rest
    while (argv.nonEmpty) argv match {
      case "--csv" :: p :: t        => csvs :+= p; argv = t
      case "--parquet" :: p :: t    => parquets :+= p; argv = t
      case "--table-name" :: n :: t => tableName = n; argv = t
      case "--port" :: n :: t       => port = intArg("--port", n); argv = t
      case "--pg-port" :: n :: t    => pgPort = Some(intArg("--pg-port", n)); argv = t
      case "--pg-password" :: p :: t => pgPassword = Some(p); argv = t
      case "--memory-cap" :: n :: t => memoryCap = Some(bytesArg("--memory-cap", n)); argv = t
      case bad :: _ =>
        out.println(s"unrecognized argument: $bad\n$Usage")
        return 2
      case Nil => // unreachable: loop guard
    }
    memoryCap.foreach(applyMemoryCap(spark, _, out))
    if (csvs.nonEmpty) graft.engine.Serve.registerShared(spark, tableName, csvs, "csv")
    if (parquets.nonEmpty)
      graft.engine.Serve.registerShared(
        spark, if (csvs.nonEmpty) s"${tableName}_pq" else tableName, parquets, "parquet")
    graft.engine.Serve.start(spark, port)
    connectServerStarted = true
    out.println(s"Spark Connect server listening on sc://localhost:$port")
    pgPort.foreach { p =>
      // same shared-catalog tables, Postgres wire protocol: psql and
      // pg drivers connect directly (the reference's pgwire surface)
      val srv = graft.engine.PgWire.start(spark, p, pgPassword)
      pgServer = Some(srv)
      val auth = if (pgPassword.isDefined) "SCRAM-SHA-256" else "trust"
      out.println(s"PostgreSQL wire protocol listening on 127.0.0.1:${srv.boundPort} ($auth auth)")
    }
    0
  }

  /** The pgwire server started by the current [[run]], if any —
    * exposed so CliSpec can round-trip a psql query and close it.
    */
  @volatile private[graft] var pgServer: Option[graft.engine.PgWire.Server] = None

  /** Set by the handlers that boot the Connect service during the
    * current [[run]] — the single source of truth [[main]] uses to
    * decide whether to block (a second parallel parse of the argv
    * would silently desynchronize from the real grammar).
    */
  @volatile private var connectServerStarted = false

  def main(args: Array[String]): Unit = {
    val spark = Core.session("graft-cli")
    val code =
      try {
        val c = run(args.toSeq, spark, System.out)
        // serve — and federate without an inline query — block the
        // process on the gRPC server (Ctrl-C stops); every other
        // subcommand is one-shot
        if (connectServerStarted && c == 0) graft.engine.Serve.awaitTermination()
        c
      } finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
