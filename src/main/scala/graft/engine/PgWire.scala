package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** PostgreSQL wire-protocol (v3) server — the direct analog of the
  * reference's pgwire `serve`
  * (`/root/reference/csvb_engine/src/lib.rs:91-132`: task-per-
  * connection Postgres protocol over the session's tables). Where
  * [[Serve]] answers the CAPABILITY (remote SQL, Arrow batches) with
  * Spark's idiomatic Connect service, this closes the ECOSYSTEM gap:
  * a stock `psql` (or any driver speaking protocol v3's simple /
  * extended query flows) connects directly and queries the shared
  * catalog tables.
  *
  * Scope ("pgwire-lite", implemented from the public protocol spec —
  * https://www.postgresql.org/docs/current/protocol.html):
  *  - startup: SSLRequest / GSSENCRequest answered `N` (cleartext),
  *    StartupMessage v3, ParameterStatus, BackendKeyData,
  *    ReadyForQuery. Auth is trust by default (the reference's
  *    posture); with a configured password the startup runs a full
  *    SCRAM-SHA-256 SASL exchange ([[Scram]], RFC 5802/7677 via JDK
  *    crypto), failing with FATAL 28P01 on a wrong password.
  *  - simple query `Q`: multi-statement strings split on top-level
  *    `;` (quote- and comment-aware, incl. nested block comments),
  *    one result set per statement, text-format values,
  *    `EmptyQueryResponse` for blank input, ErrorResponse +
  *    abort-rest on failure — pg's documented multi-statement
  *    semantics.
  *  - extended protocol: Parse/Bind/Describe/Execute/Close/Flush/
  *    Sync, INCLUDING text-format bound parameters — the default
  *    every ORM/JDBC/psycopg client speaks. `$N` placeholders are
  *    rewritten (quote/comment-aware) to Spark named-parameter
  *    markers and bound through the engine's parameterized
  *    `session.sql(sql, args)` — the same path the reference reaches
  *    through datafusion-postgres (`lib.rs:102-106`). Values convert
  *    by the Parse-declared type OID (unspecified OIDs stay text and
  *    lean on SQL implicit casts, pg's own inference posture).
  *    BINARY-format parameter values decode for the fixed-layout
  *    OIDs a wire client actually sends binary (bool, int2/4/8,
  *    float4/8, text/varchar, bytea, date, timestamp[tz] — the set
  *    the JDBC driver switches to binary after prepareThreshold);
  *    a binary value for any other OID — including an undeclared
  *    one, whose bytes are uninterpretable — draws a clean
  *    ErrorResponse. After an error the backend discards
  *    ALL messages (including a pipelined simple Query) until Sync or
  *    Terminate — the spec's error discipline, so a pipelining driver
  *    sees ONE ErrorResponse per failure and no out-of-order results.
  *    Execute honors the row cap: up to maxRows DataRows then
  *    PortalSuspended, resuming from the SAME iterator on the next
  *    Execute — the cursor flow JDBC's setFetchSize drives.
  *  - pg_catalog introspection: psql's `\dt`/`\dv`/`\dn`/`\d <tbl>`
  *    describe queries are answered by the [[PgCatalog]] shim from
  *    the Spark session catalog (the reference inherits the same
  *    surface from datafusion-postgres' catalog emulation).
  *    Bind's trailing result-format section is parsed and HONORED:
  *    a column whose requested format is binary (1) is encoded with
  *    the network-order encoding for its OID (the same set the
  *    binary-param decoder speaks: bool, int2/4/8, float4/8,
  *    text/varchar, bytea, date, timestamp[tz], and numeric's
  *    variable-length base-10000 form) — this is what stock pgJDBC
  *    switches to after `prepareThreshold` executions, and silently
  *    sending text where binary was requested would make the driver
  *    misparse the bytes. A binary request for an OID outside that
  *    set draws a clean ErrorResponse at Bind, never a misencoded
  *    DataRow.
  *  - cancel-request routing: BackendKeyData carries a real
  *    (pid, secret) pair; a cancel connection echoing it cancels the
  *    target connection's Spark JOB GROUP (interrupt-on-cancel) —
  *    the native analog of pg's statement cancel. Wrong secrets are
  *    silently ignored, per the spec's best-effort contract.
  *  - COPY subprotocol, both directions and all three formats:
  *    `COPY … TO STDOUT` streams CopyData rows (text escaping / csv
  *    quoting per the spec, or the PGCOPY binary tuple format) — the
  *    flow psql's `\copy … TO` drives — and `COPY tbl FROM STDIN`
  *    drains CopyData (text/csv line parsing or binary tuple
  *    decoding) into a positional cast + catalog append,
  *    all-or-nothing on parse/cast failure.
  *
  * Execution + memory contract: each connection gets an ISOLATED
  * `spark.newSession()` over the shared external catalog (the same
  * visibility contract as the Connect service — [[Serve]]'s
  * registerShared tables are visible, another connection's temp
  * views are not). Every statement yields one result value — a
  * schema and a row iterator — that simple Query, Describe and
  * Execute all consume. The [[PgCatalog]] shim's answers already sit
  * on the driver and go straight to the wire without a Spark job;
  * every DataFrame result streams through
  * `Dataset.toLocalIterator` — one partition resident on the driver
  * at a time, so an arbitrarily large result set reaches the client
  * in bounded memory exactly like the reference's streamed
  * RecordBatch encoder (`lib.rs:102-127`).
  */
object PgWire {

  /** Accepting server handle. `boundPort` is the real port (pass
    * `port = 0` for an ephemeral one in tests); `close()` stops the
    * accept loop and closes live connections.
    */
  final class Server(spark: SparkSession, port: Int,
      password: Option[String] = None) extends AutoCloseable {
    private val socket = new ServerSocket(port, 50, InetAddress.getLoopbackAddress)
    // AtomicBoolean, not a volatile check-then-act: two threads racing
    // close() must not BOTH pass the guard — removeRoot would run
    // twice, decrementing the root-session refcount past this server's
    // share and stripping visibility refresh from a server still
    // sharing the SparkSession
    private val closeGuard = new java.util.concurrent.atomic.AtomicBoolean(false)
    private def closed: Boolean = closeGuard.get()
    private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
    addRoot(spark) // root session: embedded readers see writes too

    val boundPort: Int = socket.getLocalPort

    private val acceptor = new Thread(() => {
      while (!closed) {
        try {
          val conn = socket.accept()
          live.add(conn)
          val t = new Thread(() => {
            // a malformed/startup-phase failure must die quietly, not
            // reach the thread's default uncaught-exception printer
            try runCatching(handleConnection(spark, conn, password))
            finally { live.remove(conn); runCatching(conn.close()) }
          }, s"pgwire-conn-${conn.getPort}")
          t.setDaemon(true)
          t.start()
        } catch {
          case _: SocketException => // closed
          case NonFatal(_) if closed =>
        }
      }
    }, s"pgwire-accept-$boundPort")
    acceptor.setDaemon(true)
    acceptor.start()

    override def close(): Unit = {
      // idempotent: a double close must not decrement the root
      // refcount twice (it could strip a session another live server
      // still counts on) — compareAndSet admits exactly one caller
      if (!closeGuard.compareAndSet(false, true)) return
      removeRoot(spark)
      runCatching(socket.close())
      live.forEach(s => runCatching(s.close()))
    }
  }

  /** Start serving on `port` (0 = ephemeral). `password` = None is
    * trust auth (the reference's posture); Some(pw) requires every
    * connection to pass a SCRAM-SHA-256 exchange ([[Scram]]).
    */
  def start(spark: SparkSession, port: Int,
      password: Option[String] = None): Server = new Server(spark, port, password)

  private def runCatching(f: => Unit): Unit =
    try f catch { case NonFatal(_) => () }

  /** Every session that may hold a cached relation of a served table:
    * one per live connection (each is `spark.newSession()`) plus each
    * server's root session (embedded library readers — the CLI, the
    * specs — read through it). After a write commits into `tbl`,
    * [[refreshSessions]] drops the cached file listing in ALL of them,
    * so a long-lived connection that SELECTed the table before
    * another connection's COPY/INSERT sees the committed rows on its
    * next statement — pg's cross-session visibility. Spark's own
    * insert path refreshes only the EXECUTING session; other sessions
    * keep a materialized InMemoryFileIndex until explicitly
    * invalidated (vanilla Spark asks readers to REFRESH TABLE; a pg
    * server must not).
    */
  private val liveSessions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Root-session membership is REFCOUNTED: several servers commonly
    * share one SparkSession (the CLI's serve + a federation query's
    * ad-hoc fixture server; every spec suite), and a plain
    * remove-on-close from any of them would silently disable the
    * embedded-reader visibility guarantee for the servers still
    * running.
    */
  private val rootRefs =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Integer]()

  private def addRoot(s: SparkSession): Unit = {
    rootRefs.merge(s, 1, (a, b) => a + b)
    liveSessions.add(s)
    ()
  }

  private def removeRoot(s: SparkSession): Unit =
    if (rootRefs.merge(s, -1, (a, b) => a + b) <= 0) {
      rootRefs.remove(s)
      liveSessions.remove(s)
      ()
    }

  private def refreshSessions(tbl: String): Unit = {
    val it = liveSessions.iterator()
    while (it.hasNext) {
      val s = it.next()
      try s.catalog.refreshTable(tbl) catch { case NonFatal(_) => () }
    }
  }

  // ---- per-connection protocol loop -------------------------------

  private val SslRequest    = 80877103
  private val GssEncRequest = 80877104
  private val CancelRequest = 80877102
  private val ProtocolV3    = 196608

  /** Cancel routing: pid → (secret, context, current statement's job
    * group — null while the connection is idle). Process-wide (a
    * cancel connection may land on any server instance in the JVM);
    * entries live exactly as long as their connection. The group ref
    * is MUTABLE because the group rotates per statement: Spark's
    * `cancelJobGroup` is asynchronous (a DAGScheduler event), so a
    * connection-lifetime group would let a cancel issued against
    * statement N kill statement N+1's jobs once the event finally
    * processes — the ThriftServer avoids this the same way, one
    * group per statement. An idle connection publishes null, so a
    * late cancel is a no-op rather than a bomb armed for the next
    * statement.
    */
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, org.apache.spark.SparkContext, java.util.concurrent.atomic.AtomicReference[String])]()
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(1000)
  private val secretRng = new java.security.SecureRandom()

  /** Frame-length sanity caps: the declared int32 length drives a
    * payload allocation, so a corrupt or hostile frame claiming 2 GB
    * must be rejected BEFORE `new Array[Byte]`, not discovered as an
    * OOM. 64 MB covers any legitimate message this server handles
    * (COPY IN data arrives in modest chunks from every real client);
    * startup-phase messages (SSL probe 8, cancel 16, StartupMessage
    * params) are far smaller still. After a bad length the stream is
    * unrecoverable (we can't know where the next frame starts), so
    * the connection closes — pg reports the same condition as a
    * FATAL "invalid frame length".
    */
  private val MaxFrameBytes = 64 * 1024 * 1024
  private val MaxStartupBytes = 1024 * 1024

  private def handleConnection(spark: SparkSession, conn: Socket,
      password: Option[String]): Unit = {
    conn.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(conn.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(conn.getOutputStream))

    // startup phase: encryption probes answered N until a real
    // StartupMessage (or a cancel request, which is routed and the
    // connection closed — the pg cancel flow uses a FRESH connection
    // carrying the target's BackendKeyData) arrives
    var started = false
    while (!started) {
      val len = in.readInt()
      if (len < 8 || len > MaxStartupBytes) {
        writeError(out, s"invalid startup frame length $len"); out.flush()
        return
      }
      val code = in.readInt()
      code match {
        case SslRequest | GssEncRequest =>
          out.writeByte('N'); out.flush()
        case CancelRequest =>
          // int32 pid + int32 secret follow; a wrong secret is
          // silently ignored per the spec (cancel is best-effort and
          // unauthenticated — no error reply either way)
          val pid = in.readInt()
          val secret = in.readInt()
          Option(cancelKeys.get(pid)).filter(_._1 == secret)
            .foreach { case (_, sc, ref) =>
              Option(ref.get()).foreach(g => runCatching(sc.cancelJobGroup(g)))
            }
          return
        case ProtocolV3 =>
          in.skipNBytes((len - 8).toLong) // user/database params: trust-auth ignores them
          started = true
        case other =>
          writeError(out, s"unsupported protocol code $other"); out.flush()
          return
      }
    }

    password match {
      case Some(pw) =>
        if (!scramAuthenticate(in, out, pw)) return // error already written
      case None => // trust
    }
    msg(out, 'R')(_.writeInt(0)) // AuthenticationOk
    Seq(
      "server_version" -> "15.0",
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO, MDY",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on",
      "TimeZone" -> "UTC"
    ).foreach { case (k, v) => msg(out, 'S') { d => cstr(d, k); cstr(d, v) } }
    // real BackendKeyData: a per-connection (pid, secret) pair the
    // client echoes on a cancel connection; Spark-side the routing
    // target is a JOB GROUP, rotated PER STATEMENT (pgwire-$pid-$seq)
    // so an asynchronous cancelJobGroup aimed at one statement can
    // never reach the next one's jobs, and cleared while idle so a
    // late cancel finds nothing to kill
    val pid = pidCounter.incrementAndGet()
    val secret = secretRng.nextInt()
    msg(out, 'K') { d => d.writeInt(pid); d.writeInt(secret) } // BackendKeyData
    readyForQuery(out)
    out.flush()

    // isolated session per connection, shared external catalog — the
    // same visibility contract as the Connect service
    val session = spark.newSession()
    liveSessions.add(session)
    val stmtSeq = new java.util.concurrent.atomic.AtomicInteger(0)
    val currentGroup = new java.util.concurrent.atomic.AtomicReference[String](null)
    cancelKeys.put(pid, (secret, session.sparkContext, currentGroup))
    // Every message that can submit Spark jobs (simple Query, Bind's
    // eager command run, Describe's statement-analysis, Execute's
    // streaming) runs inside a fresh group. setJobGroup is
    // thread-local, and this connection's protocol loop is one
    // thread, so the group covers exactly the jobs this statement
    // submits — including lazy toLocalIterator partitions pulled
    // during THIS Execute (a later Execute on the same portal runs
    // under its own group, which is the cancel scope pg defines:
    // "whatever is running now").
    def inStatementGroup[T](f: => T): T = {
      val g = s"pgwire-$pid-${stmtSeq.incrementAndGet()}"
      session.sparkContext.setJobGroup(g, s"pgwire connection $pid",
        interruptOnCancel = true)
      currentGroup.set(g)
      try f
      finally {
        currentGroup.set(null)
        session.sparkContext.clearJobGroup()
      }
    }
    val pgcat = new PgCatalog(session)
    val prepared = scala.collection.mutable.Map.empty[String, Prepared]
    val portals = scala.collection.mutable.Map.empty[String, Portal]
    // pg extended-protocol error discipline: after an ErrorResponse,
    // the backend discards further messages — INCLUDING a pipelined
    // simple Query — until Sync (or Terminate). A driver's already-
    // pipelined Describe/Execute must not draw a cascade of spurious
    // "unknown portal" errors on top of the one real failure, and a
    // Query behind the failure must not produce results the driver
    // would misattribute.
    var extFailed = false
    def extError(out: DataOutputStream, message: String): Unit = {
      writeError(out, message)
      // flushed as sent, as PostgreSQL's send_message_to_frontend does:
      // the discard below drops a Flush ('H') too, so a client that
      // pipelined Execute + Flush and waits would never see the error
      out.flush()
      extFailed = true
    }

    try {
      var open = true
      while (open) {
        val tpe = in.read()
        if (tpe < 0) open = false
        else {
          val len = in.readInt()
          if (len < 4 || len > MaxFrameBytes) {
            // reject BEFORE allocating; the stream is desynced past
            // repair, so error and close (pg's FATAL posture)
            writeError(out, s"invalid frame length $len"); out.flush()
            open = false
          } else {
          val payload = new Array[Byte](len - 4)
          in.readFully(payload)
          if (extFailed && tpe != 'S' && tpe != 'X') ()
          else (tpe: @unchecked) match {
            case 'Q' =>
              inStatementGroup {
                simpleQuery(session, pgcat, in, out, cstrAt(payload, 0)._1)
              }
              readyForQuery(out); out.flush()
            case 'P' => // Parse: name, query, declared param-type oids
              val (name, afterName) = cstrAt(payload, 0)
              val (query, afterQuery) = cstrAt(payload, afterName)
              val nOids = int16At(payload, afterQuery)
              val oids = Array.tabulate(nOids)(i => int32At(payload, afterQuery + 2 + 4 * i))
              prepared(name) = Prepared(query, oids)
              msg(out, '1')(_ => ())
            case 'B' => // Bind: portal, statement, formats, params
              val (portal, afterPortal) = cstrAt(payload, 0)
              val (stmt, afterStmt) = cstrAt(payload, afterPortal)
              val nFmt = int16At(payload, afterStmt)
              val fmts = Array.tabulate(nFmt)(i => int16At(payload, afterStmt + 2 + 2 * i))
              var off = afterStmt + 2 + 2 * nFmt
              val nParams = int16At(payload, off)
              off += 2
              // raw wire values: null, or (format, bytes)
              val raw = Array.tabulate(nParams) { i =>
                val len = int32At(payload, off)
                off += 4
                if (len < 0) None
                else {
                  val bytes = new Array[Byte](len)
                  System.arraycopy(payload, off, bytes, 0, len)
                  off += len
                  // pg format-code rule: none given = all text; one
                  // given = applies to all; else positional
                  val fmt = if (nFmt == 0) 0 else if (nFmt == 1) fmts(0) else fmts(i)
                  Some((fmt, bytes))
                }
              }
              try {
                val p = prepared.getOrElse(stmt,
                  throw new IllegalArgumentException(s"unknown prepared statement '$stmt'"))
                val args: Map[String, Any] = raw.zipWithIndex.map { case (v, i) =>
                  val value: Any = v match {
                    case None => null
                    case Some((fmt, bytes)) =>
                      val oid = if (i < p.paramOids.length) p.paramOids(i) else 0
                      if (fmt == 0) paramValue(new String(bytes, UTF_8), oid)
                      else paramValueBinary(bytes, oid)
                  }
                  s"gp_${i + 1}" -> value
                }.toMap
                // trailing result-format section: int16 count + codes.
                // Per the v3 protocol the DataRow encoding is whatever
                // Bind requested — parse it and VALIDATE here so a
                // binary request we can't honor fails the Bind, never
                // a half-streamed result.
                val nRFmt = int16At(payload, off)
                val rfmts = Array.tabulate(nRFmt)(i => int16At(payload, off + 2 + 2 * i))
                // sql() runs eagerly for commands — bound once HERE,
                // so Describe/Execute never re-run a DDL
                val r = inStatementGroup {
                  if (args.isEmpty) runStatement(session, pgcat, p.sql)
                  else Result(Core.writeTarget(p.sql) match {
                    // a parameterized INSERT is still a write: it must
                    // serialize with COPY commits on the same table and
                    // invalidate other sessions' cached relations — the
                    // jdbc prepareStatement path is the COMMON insert
                    case Some(t) =>
                      val d = Core.withTableWriteLock(t)(session.sql(p.rewritten, args))
                      refreshSessions(t)
                      d
                    case None => session.sql(p.rewritten, args)
                  })
                }
                portals(portal) = Portal(r, resolveResultFormats(rfmts, r.schema))
                msg(out, '2')(_ => ())
              } catch { case NonFatal(e) => extError(out, errMsg(e)) }
            case 'D' => // Describe
              val kind = payload(0).toChar
              val (name, _) = cstrAt(payload, 1)
              val schemaOpt =
                try inStatementGroup {
                  if (kind == 'S') {
                    val p = prepared.get(name)
                    val oids = p.map(s => s.paramOids).getOrElse(Array.empty[Int])
                    msg(out, 't') { d =>
                      d.writeShort(oids.length)
                      oids.foreach(o => d.writeInt(if (o == 0) 25 else o)) // unspecified -> text
                    }
                    // statement-level schema: analyze with NULL params
                    // bound (the client hasn't sent values yet).
                    // Result formats are unknown before Bind — the
                    // statement variant reports text, per the spec.
                    p.map { s =>
                      val schema =
                        // a WRITE must never run at Describe: sql()
                        // executes commands eagerly, so describing a
                        // prepared INSERT would commit it (and a
                        // parameterized one would commit NULLs). pg
                        // answers NoData for these; so do we.
                        if (Core.writeTarget(s.sql).isDefined) StructType(Nil)
                        // a catalog shape takes the shim's schema, as
                        // Bind takes its rows: Spark cannot parse psql's
                        // pg_catalog SQL
                        else if (s.nParams == 0)
                          pgcat.answer(s.sql).map(_._1).getOrElse(session.sql(s.sql).schema)
                        else session.sql(s.rewritten,
                          (1 to s.nParams).map(i => s"gp_$i" -> (null: Any)).toMap).schema
                      (schema, Array.fill(schema.size)(0))
                    }
                  } else portals.get(name).map(p => (p.result.schema, p.resultFormats))
                } catch { case NonFatal(e) => extError(out, errMsg(e)); None }
              schemaOpt match {
                case Some((s, f)) if s.nonEmpty => rowDescription(out, s, f)
                case _                          => msg(out, 'n')(_ => ()) // NoData
              }
            case 'E' => // Execute: portal, optional row cap
              val (portal, afterPortal) = cstrAt(payload, 0)
              val maxRows = int32At(payload, afterPortal)
              portals.get(portal) match {
                case None => extError(out, s"unknown portal '$portal'")
                case Some(p) =>
                  try inStatementGroup {
                    // a schema-free result is a command Bind already ran
                    if (p.result.schema.isEmpty) msg(out, 'C')(cstr(_, "OK"))
                    else {
                      // pg row-cap semantics: stream up to maxRows, then
                      // PortalSuspended; the result's iterator survives for
                      // the next Execute (this is what JDBC setFetchSize
                      // drives). maxRows <= 0 means stream everything.
                      val it = p.result.rows()
                      var n = 0L
                      while (it.hasNext && (maxRows <= 0 || n < maxRows)) {
                        dataRow(out, it.next(), p.result.schema, p.resultFormats)
                        n += 1
                      }
                      if (it.hasNext) msg(out, 's')(_ => ()) // PortalSuspended
                      else msg(out, 'C')(cstr(_, s"SELECT $n"))
                    }
                  } catch { case NonFatal(e) => extError(out, errMsg(e)) }
              }
            case 'C' => // Close statement/portal
              val kind = payload(0).toChar
              val (name, _) = cstrAt(payload, 1)
              if (kind == 'S') prepared.remove(name) else portals.remove(name)
              msg(out, '3')(_ => ())
            case 'H' => out.flush() // Flush
            case 'S' => extFailed = false; readyForQuery(out); out.flush() // Sync
            case 'X' => open = false // Terminate
            case other =>
              writeError(out, s"unsupported message type '${other.toChar}'")
              readyForQuery(out); out.flush()
          }
          }
        }
      }
    } catch {
      case _: EOFException | _: SocketException => // client went away
    } finally { cancelKeys.remove(pid); liveSessions.remove(session) }
  }

  // ---- simple query -----------------------------------------------

  /** Server side of the SASL/SCRAM-SHA-256 startup exchange (the pg
    * AuthenticationSASL → SASLInitialResponse → SASLContinue →
    * SASLResponse → SASLFinal flow, RFC 5802 math in [[Scram]]).
    * Returns true on success (caller then sends AuthenticationOk);
    * on any failure writes a FATAL 28P01 ErrorResponse — the code
    * psql keys its "password authentication failed" retry prompt
    * off — and returns false. The salt is fresh per connection: with
    * a single shared secret there is no stored-credential table to
    * keep stable, and a per-connection salt never lets an observer
    * correlate two exchanges.
    */
  private def scramAuthenticate(in: DataInputStream, out: DataOutputStream,
      pw: String): Boolean = {
    def fatal(m: String): Boolean = { writeError(out, m, fatal = true, code = "28P01"); out.flush(); false }
    try {
      msg(out, 'R') { d => // AuthenticationSASL: mechanism list, empty-terminated
        d.writeInt(10)
        cstr(d, Scram.Mechanism)
        d.writeByte(0)
      }
      out.flush()
      def readPasswordMessage(): Array[Byte] = {
        val tpe = in.read()
        if (tpe != 'p') throw new IllegalArgumentException(
          s"expected SASL response, got message type ${if (tpe < 0) "EOF" else tpe.toChar.toString}")
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        payload
      }
      // SASLInitialResponse: cstring mechanism, int32 length, bytes
      val first = readPasswordMessage()
      val (mech, off) = cstrAt(first, 0)
      if (mech != Scram.Mechanism)
        return fatal(s"unsupported SASL mechanism $mech (server offers ${Scram.Mechanism})")
      val n = int32At(first, off)
      if (n < 0 || off + 4 + n > first.length)
        return fatal("SASLInitialResponse carries no client-first message")
      val cf = Scram.parseClientFirst(new String(first, off + 4, n, UTF_8))
      val salt = new Array[Byte](16)
      secretRng.nextBytes(salt)
      val fullNonce = cf.clientNonce + Scram.freshServerNonce(secretRng)
      val srvFirst = Scram.serverFirst(fullNonce, salt, Scram.DefaultIterations)
      val saltedPw = Scram.saltedPassword(pw, salt, Scram.DefaultIterations)
      msg(out, 'R') { d => d.writeInt(11); d.write(srvFirst.getBytes(UTF_8)) } // SASLContinue
      out.flush()
      val clientFinal = new String(readPasswordMessage(), UTF_8)
      Scram.verifyClientFinal(clientFinal, cf, srvFirst, fullNonce, saltedPw) match {
        case Some(serverFinal) =>
          msg(out, 'R') { d => d.writeInt(12); d.write(serverFinal.getBytes(UTF_8)) } // SASLFinal
          true
        case None => fatal("password authentication failed for user")
      }
    } catch {
      case _: EOFException => false // client hung up mid-exchange
      case NonFatal(e)     => fatal(errMsg(e))
    }
  }

  /** Route one statement: known pg_catalog introspection shapes are
    * answered by the [[PgCatalog]] shim (psql `\dt`/`\d` queries
    * Spark can't parse) straight from its rows, never through a
    * DataFrame; everything else goes through [[Core.execute]] — the
    * engine's single delegation point, which also gives pgwire
    * clients the `COPY ... TO` statement form.
    */
  private def runStatement(session: SparkSession, pgcat: PgCatalog, sql: String): Result =
    pgcat.answer(sql) match {
      case Some((schema, rows)) => Result(schema, rows)
      case None =>
        val df = Core.execute(session, sql)
        // an INSERT through the query path must be visible to OTHER
        // connections' already-cached relations, same as COPY IN
        // (parameterized extended-protocol INSERTs take the
        // session.sql path and rely on fresh-session listing)
        Core.writeTarget(sql).foreach(refreshSessions)
        Result(df)
    }

  private def simpleQuery(session: SparkSession, pgcat: PgCatalog, in: DataInputStream,
      out: DataOutputStream, sql: String): Unit = {
    val stmts = splitStatements(sql)
    if (stmts.isEmpty) { msg(out, 'I')(_ => ()); return } // EmptyQueryResponse
    // pg multi-statement semantics: run in order, first error aborts
    // the remainder of THIS query string (the connection stays up)
    var failed = false
    stmts.foreach { stmt =>
      if (!failed) {
        try {
          parseCopyStdout(stmt) match {
            case Some((source, fmt, header)) =>
              copyOut(session, out, source, fmt, header)
            case None => parseCopyStdin(stmt) match {
              case Some((tbl, cols, fmt, header)) =>
                copyIn(session, in, out, tbl, cols, fmt, header)
              case None =>
                val r = runStatement(session, pgcat, stmt)
                // a schema-free result is an already-run command
                if (r.schema.isEmpty) msg(out, 'C')(cstr(_, commandTag(stmt)))
                else {
                  rowDescription(out, r.schema)
                  val n = streamRows(out, r)
                  msg(out, 'C')(cstr(_, s"SELECT $n"))
                }
            }
          }
        } catch {
          case NonFatal(e) => writeError(out, errMsg(e)); failed = true
        }
      }
    }
  }

  // ---- COPY TO STDOUT subprotocol ---------------------------------

  /** `COPY (query)|table TO STDOUT [(FORMAT csv|text, HEADER ...)]` —
    * what a stock psql sends for `\copy ... TO <localfile>`. Returns
    * (Left(query)|Right(table), csv?, header?). The server-side file
    * form (`COPY ... TO 'path'`) stays with [[Core.parseCopyTo]];
    * this is the WIRE form, where data flows back as CopyData frames.
    */
  private[engine] def parseCopyStdout(stmt: String): Option[(Either[String, String], CopyFmt, Boolean)] = {
    val m = java.util.regex.Pattern.compile(
      "(?is)^\\s*COPY\\s+(?:\\((.+)\\)|([\\w.\"]+))\\s+TO\\s+STDOUT\\s*(.*)$")
      .matcher(stmt)
    if (!m.matches()) None
    else {
      val source =
        if (m.group(1) != null) Left(m.group(1)) else Right(m.group(2).replace("\"", ""))
      val (fmt, header) = copyOptions(Option(m.group(3)).getOrElse(""))
      Some((source, fmt, header))
    }
  }

  /** COPY wire formats: pg's three. Binary is the PGCOPY tuple
    * stream (signature header, int16 field count, int32-length-
    * prefixed fields in each type's network-order binary encoding,
    * int16 -1 trailer).
    */
  private[engine] sealed trait CopyFmt
  private[engine] case object CopyText extends CopyFmt
  private[engine] case object CopyCsv extends CopyFmt
  private[engine] case object CopyBinary extends CopyFmt

  /** Shared option parsing for both COPY directions; rejects
    * HEADER with FORMAT binary like pg ("cannot specify HEADER in
    * BINARY mode").
    *
    * An explicit `FORMAT <name>` wins and an unknown name errors (pg's
    * behavior); only when no FORMAT keyword appears do the legacy bare
    * keywords (`COPY ... CSV`, `COPY ... BINARY`) apply, matched on
    * word boundaries — a raw substring scan would let an option list
    * like `FORCE_NULL (c)` with a column whose name merely CONTAINS
    * "binary" hijack the format of an explicit `FORMAT csv`.
    */
  private[engine] def copyOptions(optsRaw: String): (CopyFmt, Boolean) = {
    // scrub contexts where a keyword is DATA, not an option: the
    // column lists of FORCE_NULL/FORCE_QUOTE/FORCE_NOT_NULL (a column
    // named exactly `header` or `csv` must not flip a flag) and
    // quoted string values (a NULL sentinel containing "format ...")
    val deforced = optsRaw.toLowerCase
      .replaceAll("force_(?:not_)?null\\s*\\([^)]*\\)", " ")
      .replaceAll("force_quote\\s*(?:\\*|\\([^)]*\\))", " ")
    val opts = deforced.replaceAll("'[^']*'", " '' ")
    // unquoted `FORMAT name` resolves on the quote-scrubbed text (so
    // a quoted VALUE containing the word "format" can't hijack it);
    // the quoted `FORMAT 'name'` spelling is only consulted when no
    // unquoted FORMAT exists
    val fmtName = "(?<![\\w])format\\s+(\\w+)".r.findFirstMatchIn(opts).map(_.group(1))
      .orElse("(?<![\\w])format\\s+'(\\w+)'".r.findFirstMatchIn(deforced).map(_.group(1)))
    val fmt = fmtName match {
      case Some("binary") => CopyBinary
      case Some("csv")    => CopyCsv
      case Some("text")   => CopyText
      case Some(other) =>
        throw new IllegalArgumentException(s"COPY format \"$other\" not recognized")
      case None =>
        if ("(?<![\\w])binary(?![\\w])".r.findFirstIn(opts).isDefined) CopyBinary
        else if ("(?<![\\w])csv(?![\\w])".r.findFirstIn(opts).isDefined) CopyCsv
        else CopyText
    }
    // pg parse_bool accepts f/n/no besides false/off/0 (and quoted
    // forms, but those were scrubbed above — an explicit quoted value
    // is rare enough to land on the default-ON side conservatively)
    val header = "(?<![\\w])header(?![\\w])".r.findFirstIn(opts).isDefined &&
      !opts.matches("(?s).*header\\s+(false|off|0|f|no|n)(?![\\w]).*")
    if (fmt == CopyBinary && header)
      throw new IllegalArgumentException("cannot specify HEADER in BINARY mode")
    (fmt, header)
  }

  /** pg text-format COPY escaping: backslash doubles, tab/newline/CR
    * escape, NULL is `\N` (the format psql writes to the local file
    * verbatim).
    */
  private[engine] def copyTextField(v: Any): String =
    if (v == null) "\\N" else PgClient.escapeCopy(textValue(v))

  /** Minimal csv quoting: quote when the field contains the
    * delimiter, a quote, or a line break; quotes double inside. An
    * EMPTY string quotes too — pg's csv convention, where bare empty
    * is NULL and `""` is the empty string (round-trips through
    * [[splitCsvFields]]'s quoted flag).
    */
  private[engine] def copyCsvField(v: Any): String = {
    if (v == null) return ""
    val s = textValue(v)
    if (s.isEmpty) "\"\""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
  }

  /** Stream the COPY OUT flow: CopyOutResponse, one CopyData per row
    * (bounded memory via `toLocalIterator`, like every other result
    * path), CopyDone, `COPY <n>`.
    */
  private def copyOut(session: SparkSession, out: DataOutputStream,
      source: Either[String, String], fmt: CopyFmt, header: Boolean): Unit = {
    val df = source match {
      case Left(query) => session.sql(query)
      case Right(tbl)  => session.table(tbl)
    }
    val cols = df.columns
    val binary = fmt == CopyBinary
    msg(out, 'H') { d => // CopyOutResponse: overall + per-column format
      d.writeByte(if (binary) 1 else 0)
      d.writeShort(cols.length)
      cols.foreach(_ => d.writeShort(if (binary) 1 else 0))
    }
    var n = 0L
    if (binary) {
      val schema = df.schema
      msg(out, 'd') { d => // PGCOPY file header: signature, flags, no extension
        d.write(CopyBinarySignature)
        d.writeInt(0) // flags (no OIDs)
        d.writeInt(0) // header-extension length
      }
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        msg(out, 'd') { d =>
          d.writeShort(row.length)
          var i = 0
          while (i < row.length) {
            if (row.isNullAt(i)) d.writeInt(-1)
            else {
              val bytes = binaryResultValue(row.get(i), schema(i).dataType)
              d.writeInt(bytes.length)
              d.write(bytes)
            }
            i += 1
          }
        }
        n += 1
      }
      msg(out, 'd')(_.writeShort(-1)) // file trailer
    } else {
      val csv = fmt == CopyCsv
      def data(line: String): Unit =
        msg(out, 'd')(_.write((line + "\n").getBytes(UTF_8)))
      // pg 15+ accepts HEADER for FORMAT text too (column names,
      // text-escaped, tab-separated) — honor it for both formats
      if (header)
        data(if (csv) cols.map(c => copyCsvField(c)).mkString(",")
             else cols.map(c => copyTextField(c)).mkString("\t"))
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val fields = (0 until row.length).map(i =>
          if (row.isNullAt(i)) { if (csv) "" else "\\N" }
          else if (csv) copyCsvField(row.get(i)) else copyTextField(row.get(i)))
        data(fields.mkString(if (csv) "," else "\t"))
        n += 1
      }
    }
    msg(out, 'c')(_ => ()) // CopyDone
    msg(out, 'C')(cstr(_, s"COPY $n"))
  }

  /** The 11-byte PGCOPY binary signature: "PGCOPY\n\377\r\n\0". */
  private[engine] val CopyBinarySignature: Array[Byte] =
    Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xff.toByte, '\r', '\n', 0)

  /** `COPY tbl [(cols)] FROM STDIN [(FORMAT csv|text, HEADER …)]` —
    * the wire form psql's `\copy … FROM <localfile>` drives.
    */
  private[engine] def parseCopyStdin(stmt: String): Option[(String, Seq[String], CopyFmt, Boolean)] = {
    val m = java.util.regex.Pattern.compile(
      "(?is)^\\s*COPY\\s+([\\w.\"]+)\\s*(?:\\(([^)]*)\\))?\\s+FROM\\s+STDIN\\s*(.*)$")
      .matcher(stmt)
    if (!m.matches()) None
    else {
      val tbl = m.group(1).replace("\"", "")
      val cols = Option(m.group(2)).map(_.split(",").map(_.trim.replace("\"", ""))
        .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      val (fmt, header) = copyOptions(Option(m.group(3)).getOrElse(""))
      Some((tbl, cols, fmt, header))
    }
  }

  /** Undo pg text-format COPY escaping; `\N` (whole-field) is NULL. */
  private[engine] def copyTextUnescape(field: String): String = {
    val sb = new StringBuilder(field.length)
    var i = 0
    while (i < field.length) {
      val c = field.charAt(i)
      if (c == '\\' && i + 1 < field.length) {
        field.charAt(i + 1) match {
          case 't'   => sb += '\t'
          case 'n'   => sb += '\n'
          case 'r'   => sb += '\r'
          case '\\'  => sb += '\\'
          case other => sb += other
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Quote-aware csv field splitter (doubled quotes inside quoted
    * fields) — the mirror of [[copyCsvField]]. Each field carries
    * whether it was QUOTED: bare empty is NULL, `""` is the empty
    * string, pg's csv null convention.
    */
  private[engine] def splitCsvFields(line: String): Seq[(String, Boolean)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
    val cur = new StringBuilder
    var quoted = false
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 2 }
        else if (c == '"') { inQ = false; i += 1 }
        else { cur += c; i += 1 }
      } else if (c == '"') { inQ = true; quoted = true; i += 1 }
      else if (c == ',') { out += ((cur.toString, quoted)); cur.clear(); quoted = false; i += 1 }
      else { cur += c; i += 1 }
    }
    out += ((cur.toString, quoted))
    out.toSeq
  }

  /** Split COPY text into RECORDS. Text format: one record per
    * newline (data newlines arrive escaped as `\n`, so a bare
    * newline is always a boundary). CSV format: quote-aware — a
    * newline inside a quoted field is DATA, which is exactly what
    * [[copyOut]]'s csv quoting emits, so round-trips hold. The
    * trailing record is the leftover partial line (no terminator
    * yet) to carry into the next chunk; interior empty records are
    * REAL rows (a single empty/NULL field), per pg.
    */
  /** Stateful streaming record splitter: each `feed` scans ONLY the
    * new payload (the in-quote flag and the unterminated-record bytes
    * persist across frames), so a record spanning many CopyData
    * frames costs linear work — re-scanning `carry ++ payload` from
    * zero would be quadratic in record size. BYTE-level: '"' and
    * '\n' are ASCII and never occur inside a UTF-8 multibyte
    * sequence, so boundaries are exact even when a frame splits a
    * multibyte character — partial bytes stay buffered and decode
    * whole.
    */
  private[engine] final class CopyRecordSplitter(csv: Boolean) {
    private val buf = new ByteArrayOutputStream()
    private var inQ = false

    def feed(payload: Array[Byte]): Seq[String] = {
      val recs = scala.collection.mutable.ListBuffer.empty[String]
      var start = 0
      var i = 0
      while (i < payload.length) {
        val b = payload(i)
        if (csv && b == '"') inQ = !inQ
        else if (b == '\n' && !inQ) {
          buf.write(payload, start, i - start)
          val bytes = buf.toByteArray
          buf.reset()
          val end =
            if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
            else bytes.length
          recs += new String(bytes, 0, end, UTF_8)
          start = i + 1
        }
        i += 1
      }
      buf.write(payload, start, payload.length - start)
      recs.toSeq
    }

    /** The final unterminated record, if any. */
    def finish(): Option[String] =
      if (buf.size == 0) None else Some(new String(buf.toByteArray, UTF_8))

    /** Raw unconsumed bytes (may end mid-multibyte-char — never
      * round-trip these through a String).
      */
    def pending: Array[Byte] = buf.toByteArray
  }

  /** One-shot form of [[CopyRecordSplitter]] (complete records +
    * unconsumed remainder) — kept for unit tests and single-buffer
    * callers.
    */
  private[engine] def splitCopyRecords(bytes: Array[Byte], csv: Boolean): (Seq[String], Array[Byte]) = {
    val sp = new CopyRecordSplitter(csv)
    val recs = sp.feed(bytes)
    (recs, sp.pending)
  }

  /** Stateful incremental parser for the PGCOPY binary stream — the
    * binary twin of [[CopyRecordSplitter]]. CopyData frame boundaries
    * carry NO record alignment (a tuple may span frames, a frame may
    * carry many tuples), so the parser buffers bytes and emits every
    * COMPLETE tuple as an array of per-field byte slices (null = SQL
    * NULL). Validates the 11-byte signature, rejects critical header
    * flags (bits 16-31, incl. the ancient OID bit), skips the header
    * extension, enforces the per-tuple field count, and records the
    * int16 -1 trailer — [[requireTrailer]] makes a stream that ended
    * without it (truncated file) a hard error, not a silent partial
    * load. Buffer is compacted after each feed: memory is bounded by
    * one frame + one partial tuple, not the stream.
    */
  private[engine] final class CopyBinaryParser(nCols: Int) {
    private var buf = new Array[Byte](8192)
    private var len = 0
    private var pos = 0
    private var headerDone = false
    private var trailerSeen = false

    private def i16(at: Int): Int = ((buf(at) & 0xff) << 8 | (buf(at + 1) & 0xff)).toShort.toInt
    private def i32(at: Int): Int =
      (buf(at) & 0xff) << 24 | (buf(at + 1) & 0xff) << 16 | (buf(at + 2) & 0xff) << 8 | (buf(at + 3) & 0xff)

    def feed(payload: Array[Byte]): Seq[Array[Array[Byte]]] = {
      if (trailerSeen && payload.nonEmpty)
        throw new IllegalArgumentException("binary COPY data after the end-of-data trailer")
      if (len + payload.length > buf.length) {
        val grown = new Array[Byte](math.max(buf.length * 2, len + payload.length))
        System.arraycopy(buf, 0, grown, 0, len)
        buf = grown
      }
      System.arraycopy(payload, 0, buf, len, payload.length)
      len += payload.length
      val out = scala.collection.mutable.ListBuffer.empty[Array[Array[Byte]]]
      // validate the signature the moment 11 bytes exist — a garbage
      // stream shorter than the full 19-byte header still errors as
      // "not PGCOPY", not as a confusing missing-trailer complaint
      if (!headerDone && len - pos >= 11) {
        var i = 0
        while (i < 11) {
          if (buf(pos + i) != CopyBinarySignature(i))
            throw new IllegalArgumentException("binary COPY stream lacks the PGCOPY signature")
          i += 1
        }
      }
      if (!headerDone && len - pos >= 19) {
        val flags = i32(pos + 11)
        if ((flags & 0xffff0000) != 0)
          throw new IllegalArgumentException(
            f"binary COPY header carries unsupported critical flags 0x$flags%08x")
        val extLen = i32(pos + 15)
        // cap at 1 MiB: no real writer emits a header extension at
        // all, and an unchecked 0x7FFFFFF0 would overflow `19 +
        // extLen` into a negative position (AIOOBE instead of a
        // clean protocol error) while demanding the whole "extension"
        // be buffered
        if (extLen < 0 || extLen > (1 << 20)) throw new IllegalArgumentException(
          s"unsupported binary COPY header extension length $extLen")
        if (len - pos >= 19 + extLen) { // wait for the extension too before committing
          pos += 19 + extLen
          headerDone = true
        }
      }
      var progressing = headerDone && !trailerSeen
      while (progressing) {
        progressing = false
        if (len - pos >= 2) {
          val nf = i16(pos)
          if (nf == -1) { trailerSeen = true; pos += 2 }
          else if (nf != nCols)
            throw new IllegalArgumentException(
              s"binary COPY tuple has $nf fields, expected $nCols")
          else {
            // walk the tuple; bail (and retry on the next feed) if incomplete
            var at = pos + 2
            var f = 0
            var complete = true
            val fields = new Array[Array[Byte]](nCols)
            while (complete && f < nCols) {
              if (len - at < 4) complete = false
              else {
                val flen = i32(at)
                at += 4
                if (flen == -1) fields(f) = null
                else if (flen < 0)
                  throw new IllegalArgumentException(s"negative binary COPY field length $flen")
                else if (len - at < flen) complete = false
                else { fields(f) = java.util.Arrays.copyOfRange(buf, at, at + flen); at += flen }
                f += 1
              }
            }
            if (complete && f == nCols) {
              out += fields
              pos = at
              progressing = true
            }
          }
        }
      }
      if (trailerSeen && pos < len)
        throw new IllegalArgumentException("binary COPY data after the end-of-data trailer")
      // compact: drop consumed bytes so memory tracks the partial tail
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, len - pos)
        len -= pos
        pos = 0
      }
      out.toSeq
    }

    def requireTrailer(): Unit = {
      if (!trailerSeen)
        throw new IllegalArgumentException(
          "binary COPY stream ended without the end-of-data trailer (truncated file?)")
    }
  }

  /** Decode one PGCOPY binary field by the TARGET column's Spark
    * type — the exact inverse of [[binaryResultValue]], with the same
    * strict length checks as [[paramValueBinary]] (a wrong-length
    * buffer is a malformed stream, not a coercible value).
    */
  private[engine] def copyBinaryDecode(bytes: Array[Byte], dt: DataType): Any = {
    def need(n: Int): java.nio.ByteBuffer = {
      if (bytes.length != n) throw new IllegalArgumentException(
        s"malformed binary COPY field for $dt: expected $n bytes, got ${bytes.length}")
      java.nio.ByteBuffer.wrap(bytes)
    }
    dt match {
      case BooleanType          => need(1).get() != 0
      case ByteType | ShortType => need(2).getShort
      case IntegerType          => need(4).getInt
      case LongType             => need(8).getLong
      case FloatType            => need(4).getFloat
      case DoubleType           => need(8).getDouble
      case _: DecimalType       => numericFromBinary(bytes)
      case DateType             => java.time.LocalDate.ofEpochDay(need(4).getInt.toLong + PgEpochDay)
      case TimestampType | TimestampNTZType =>
        PgEpoch.plus(need(8).getLong, java.time.temporal.ChronoUnit.MICROS)
      case BinaryType           => bytes
      case _                    => new String(bytes, UTF_8) // text/varchar: binary IS utf8
    }
  }

  /** COPY IN flow: CopyInResponse, drain CopyData frames parsing
    * record-incrementally (text/csv through [[CopyRecordSplitter]],
    * binary through [[CopyBinaryParser]] — bounded memory: complete records leave
    * the buffer as they arrive and spill to a parquet staging dir
    * every `SpillEvery` rows — a multi-GB `\copy FROM` never holds
    * the stream on the driver), then ONE positional-cast append via
    * the catalog. The single `insertInto` runs after all data is
    * staged and parsed, so a parse/cast failure is one ErrorResponse
    * and no partial append — the all-or-nothing a psql user expects.
    * The column list resolves against the table schema with the
    * session's resolver (case-insensitive by default); an unknown
    * column is an error up front, exactly like pg — never a silent
    * NULL fill.
    */
  private val CopyInSpillEvery = 100000

  private def copyIn(session: SparkSession, in: DataInputStream, out: DataOutputStream,
      tbl: String, cols: Seq[String], fmt: CopyFmt, header: Boolean): Unit = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val target = session.table(tbl).schema // resolves (and errors) BEFORE CopyInResponse
    val resolver = session.sessionState.analyzer.resolver
    val binary = fmt == CopyBinary
    val csv = fmt == CopyCsv
    // resolve the column list against the schema NOW: unknown names
    // error before any data flows, and the resolved (canonical) names
    // drive the positional cast — a case-mismatched list can never
    // silently NULL-fill
    val listed: Seq[String] =
      if (cols.isEmpty) target.fieldNames.toSeq
      else cols.map { c =>
        target.fields.find(f => resolver(f.name, c)).map(_.name).getOrElse(
          throw new IllegalArgumentException(s"column \"$c\" of relation \"$tbl\" does not exist"))
      }
    val listedTypes: Seq[DataType] =
      listed.map(c => target.fields.find(_.name == c).get.dataType)
    msg(out, 'G') { d => // CopyInResponse: overall + per-column format
      d.writeByte(if (binary) 1 else 0)
      d.writeShort(listed.size)
      listed.foreach(_ => d.writeShort(if (binary) 1 else 0))
    }
    out.flush()
    // staging schema: strings cast positionally at commit; a BINARY
    // target column fed by binary COPY stays raw bytes end-to-end
    // (a hex string would cast to its utf8 bytes, not the value)
    val strSchema = StructType(listed.zip(listedTypes).map { case (c, dt) =>
      StructField(c, if (binary && dt == BinaryType) BinaryType else StringType)
    })
    val staging = java.nio.file.Files.createTempDirectory("graft-copyin")
    var part = 0
    var total = 0L
    // pg 15+ accepts HEADER with FORMAT text too — a text-format
    // import with HEADER must skip the first line, not ingest it as
    // a data row (or fail the field-count check)
    var headerPending = header
    val rows = new java.util.ArrayList[Row]()
    def parseRecord(l: String): Unit =
      if (headerPending) headerPending = false
      else if (csv) {
        val fs = splitCsvFields(l)
        if (fs.size != listed.size) throw new IllegalArgumentException(
          s"COPY row has ${fs.size} fields, expected ${listed.size}: $l")
        rows.add(Row.fromSeq(fs.map { case (f, quoted) =>
          if (f.isEmpty && !quoted) null else f // bare empty NULL, "" empty string (pg csv)
        }))
        total += 1
        if (rows.size >= CopyInSpillEvery) spill()
      } else {
        val fs = l.split("\t", -1).toSeq
        if (fs.size != listed.size) throw new IllegalArgumentException(
          s"COPY row has ${fs.size} fields, expected ${listed.size}: $l")
        rows.add(Row.fromSeq(fs.map(f => if (f == "\\N") null else copyTextUnescape(f))))
        total += 1
        if (rows.size >= CopyInSpillEvery) spill()
      }
    def spill(): Unit = if (!rows.isEmpty) {
      session.createDataFrame(new java.util.ArrayList[Row](rows), strSchema)
        .write.mode("append").parquet(s"$staging/p$part")
      part += 1
      rows.clear()
    }
    // binary tuples: decode each field by the TARGET column's type
    // (pg's contract — binary COPY fields are the column type's
    // binary encoding), then stage through the same string pipeline
    // as text/csv (exact: textValue of a decoded value is the text-
    // format rendering); BINARY targets keep the raw bytes
    def parseTuple(fields: Array[Array[Byte]]): Unit = {
      rows.add(Row.fromSeq(fields.iterator.zip(listedTypes.iterator).map {
        case (null, _)         => null
        case (b, BinaryType)   => b
        case (b, dt)           => textValue(copyBinaryDecode(b, dt))
      }.toSeq))
      total += 1
      if (rows.size >= CopyInSpillEvery) spill()
    }
    try {
      // drain the COPY data stream, record-incrementally through the
      // STATEFUL splitter (linear even when one record spans many
      // frames). A parse/spill failure must NOT abort the drain: the
      // client is still streaming CopyData, and throwing mid-stream
      // would leave its frames to be misread as top-level messages —
      // a protocol desync (and, with both TCP buffers full of
      // spurious ErrorResponses, a deadlock). Hold the FIRST error,
      // consume through CopyDone/CopyFail, then raise it.
      val splitter = if (binary) null else new CopyRecordSplitter(csv)
      val binParser = if (binary) new CopyBinaryParser(listed.size) else null
      var done = false
      var failMsg: Option[String] = None
      var parseError: Option[Throwable] = None
      def tryParse(l: String): Unit =
        if (parseError.isEmpty) {
          try parseRecord(l)
          catch { case NonFatal(e) => parseError = Some(e) }
        }
      def tryParseTuple(t: Array[Array[Byte]]): Unit =
        if (parseError.isEmpty) {
          try parseTuple(t)
          catch { case NonFatal(e) => parseError = Some(e) }
        }
      while (!done) {
        val tpe = in.read()
        if (tpe < 0) throw new EOFException("connection closed mid-COPY")
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        (tpe: @unchecked) match {
          case 'd' => if (parseError.isEmpty) {
            if (binary) {
              try binParser.feed(payload).foreach(tryParseTuple)
              catch { case NonFatal(e) => parseError = Some(e) }
            } else splitter.feed(payload).foreach(tryParse)
          }
          case 'c' => done = true
          case 'f' => done = true; failMsg = Some(cstrAt(payload, 0)._1)
          case _   => // Flush/Sync during COPY: ignore per the subprotocol
        }
      }
      failMsg.foreach(m => throw new IllegalArgumentException(s"COPY aborted by client: $m"))
      parseError.foreach(throw _)
      if (binary) binParser.requireTrailer()
      else splitter.finish().foreach(parseRecord) // final unterminated record
      val asStrings =
        if (part == 0)
          session.createDataFrame(rows, strSchema)
        else {
          spill()
          session.read.schema(strSchema).parquet((0 until part).map(i => s"$staging/p$i"): _*)
        }
      // positional cast to the FULL target schema; columns outside the
      // list go NULL (pg's column-list semantics). A BINARY target fed
      // by TEXT/CSV format arrives as pg's bytea text rendering — the
      // `\x…` hex form every modern client (and our own write-back)
      // emits — which must be hex-DECODED: Spark's string→binary cast
      // takes the utf8 bytes of the literal, a corruption write. A
      // value without the hex prefix falls back to utf8 bytes (pg's
      // legacy escape format, minus octal escapes).
      val typed = asStrings.select(target.fields.map { f =>
        import org.apache.spark.sql.functions.{col, lit, when, unhex, substring, upper}
        if (!listed.contains(f.name))
          lit(null).cast(f.dataType).as(f.name)
        else if (f.dataType == BinaryType && !binary)
          when(col(f.name).isNull, lit(null).cast(BinaryType))
            .when(substring(col(f.name), 1, 2) === "\\x",
              unhex(upper(col(f.name).substr(lit(3), lit(Int.MaxValue)))))
            .otherwise(col(f.name).cast(BinaryType))
            .as(f.name)
        else
          col(f.name).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      // per-table commit serialization, SHARED with the SQL INSERT
      // path ([[Core.withTableWriteLock]]): concurrent parquet appends
      // into one location race in the shared _temporary staging. Data
      // still streams/parses/stages fully concurrently per connection;
      // only the short commit tail serializes.
      Core.withTableWriteLock(tbl) {
        typed.write.insertInto(tbl)
      }
      refreshSessions(tbl) // other connections' cached relations see the commit
      msg(out, 'C')(cstr(_, s"COPY $total"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      runCatching(rm(staging.toFile))
    }
  }

  /** Split a simple-Query string on top-level `;` — quote-aware
    * (single quotes with `''` doubling, double-quoted identifiers)
    * and comment-aware (`--` to end of line, `/* */` blocks which
    * NEST per the pg lexer), the same split every pg frontend
    * applies before handing each statement to the executor. Without
    * comment awareness a `;` inside a comment would cut a statement
    * in half.
    */
  private[engine] def splitStatements(sql: String): Seq[String] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inSingle = false
    var inDouble = false
    var blockDepth = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val next = if (i + 1 < sql.length) sql.charAt(i + 1) else ' '
      if (blockDepth > 0) {
        if (c == '*' && next == '/') { blockDepth -= 1; cur.append("*/"); i += 2 }
        else if (c == '/' && next == '*') { blockDepth += 1; cur.append("/*"); i += 2 }
        else { cur += c; i += 1 }
      } else if (inSingle) {
        cur += c; if (c == '\'') inSingle = false; i += 1
      } else if (inDouble) {
        cur += c; if (c == '"') inDouble = false; i += 1
      } else if (c == '-' && next == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') { cur += sql.charAt(i); i += 1 }
      } else if (c == '/' && next == '*') {
        blockDepth = 1; cur.append("/*"); i += 2
      } else if (c == '\'') { inSingle = true; cur += c; i += 1 }
      else if (c == '"') { inDouble = true; cur += c; i += 1 }
      else if (c == ';') { parts += cur.toString; cur.clear(); i += 1 }
      else { cur += c; i += 1 }
    }
    parts += cur.toString
    parts.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def commandTag(stmt: String): String = {
    val head = stmt.trim.takeWhile(!_.isWhitespace).toUpperCase
    if (head.isEmpty) "OK" else head
  }

  // ---- result encoding --------------------------------------------

  /** Spark type → (pg type oid, typlen). Complex types serialize as
    * text (oid 25) via their Spark string rendering.
    */
  private[engine] def pgType(dt: DataType): (Int, Int) = dt match {
    case BooleanType             => (16, 1)
    case ByteType | ShortType    => (21, 2)
    case IntegerType             => (23, 4)
    case LongType                => (20, 8)
    case FloatType               => (700, 4)
    case DoubleType              => (701, 8)
    case _: DecimalType          => (1700, -1)
    case DateType                => (1082, 4)
    case TimestampType           => (1114, 8)
    case TimestampNTZType        => (1114, 8)
    case BinaryType              => (17, -1)
    case _                       => (25, -1)
  }

  /** pg text-format rendering. Booleans are `t`/`f`, bytea is
    * `\x<hex>`, timestamps drop a bare `.0` — the formats psql and
    * the pg drivers parse.
    */
  private[engine] def textValue(v: Any): String = v match {
    case b: Boolean              => if (b) "t" else "f"
    case bytes: Array[Byte]      => "\\x" + bytes.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal           => d.bigDecimal.toPlainString
    case ts: java.sql.Timestamp  =>
      val s = ts.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    case ldt: java.time.LocalDateTime => ldt.toString.replace('T', ' ')
    case i: java.time.Instant =>
      val s = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).toString
      s.replace('T', ' ')
    case other => String.valueOf(other)
  }

  private def rowDescription(out: DataOutputStream, schema: StructType,
      formats: Array[Int] = Array.empty): Unit =
    msg(out, 'T') { d =>
      d.writeShort(schema.size)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val (oid, typlen) = pgType(f.dataType)
        cstr(d, f.name)
        d.writeInt(0)      // table oid
        d.writeShort(0)    // attnum
        d.writeInt(oid)
        d.writeShort(typlen)
        d.writeInt(-1)     // typmod
        d.writeShort(if (i < formats.length) formats(i) else 0)
      }
    }

  /** Send every row of `r` as a DataRow. Returns the row count for
    * CommandComplete.
    */
  private def streamRows(out: DataOutputStream, r: Result): Long = {
    var n = 0L
    val it = r.rows()
    while (it.hasNext) {
      dataRow(out, it.next())
      n += 1
    }
    n
  }

  private def dataRow(out: DataOutputStream, row: Row,
      schema: StructType = null, formats: Array[Int] = Array.empty): Unit =
    msg(out, 'D') { d =>
      d.writeShort(row.length)
      var i = 0
      while (i < row.length) {
        if (row.isNullAt(i)) d.writeInt(-1)
        else {
          val bytes =
            if (i < formats.length && formats(i) == 1)
              binaryResultValue(row.get(i), schema(i).dataType)
            else textValue(row.get(i)).getBytes(UTF_8)
          d.writeInt(bytes.length)
          d.write(bytes)
        }
        i += 1
      }
    }

  /** Resolve Bind's result-format codes against the portal's result
    * schema, per the pg format-code rule: zero codes = all text, one
    * code = applies to every column, else positional (count must
    * equal the column count). Validates HERE — at Bind — that every
    * binary-requested column has an OID the encoder knows a fixed
    * layout for, so an unhonorable request fails the Bind cleanly
    * instead of streaming misencoded DataRows.
    */
  private[engine] def resolveResultFormats(codes: Array[Int], schema: StructType): Array[Int] = {
    val n = schema.size
    val resolved: Array[Int] =
      if (codes.isEmpty) Array.fill(n)(0)
      else if (codes.length == 1) Array.fill(n)(codes(0))
      else if (codes.length == n) codes
      else throw new IllegalArgumentException(
        s"bind message has ${codes.length} result formats but query has $n columns")
    var i = 0
    while (i < n) {
      resolved(i) match {
        case 0 =>
        case 1 =>
          val (oid, _) = pgType(schema(i).dataType)
          if (!binaryResultOids.contains(oid)) throw new IllegalArgumentException(
            s"binary result format is not supported for type oid $oid " +
              s"(column '${schema(i).name}'; request text)")
        case other => throw new IllegalArgumentException(
          s"invalid result format code $other (column '${schema(i).name}')")
      }
      i += 1
    }
    resolved
  }

  /** OIDs the binary result encoder speaks — the mirror image of
    * [[paramValueBinary]]'s decode set, including the variable-length
    * numeric (1700) base-10000 form.
    */
  private val binaryResultOids: Set[Int] =
    Set(16, 21, 23, 20, 700, 701, 25, 1043, 17, 1082, 1114, 1184, 1700)

  /** pg BINARY-format result encoding — network-order fixed layouts,
    * the reverse of [[paramValueBinary]]. Date is int32 days and
    * timestamp int64 micros since 2000-01-01 (integer_datetimes);
    * both the java.sql.* and java.time.* row representations (Spark's
    * datetime.java8API switch) are handled.
    */
  private[engine] def binaryResultValue(v: Any, dt: DataType): Array[Byte] = {
    def i16(x: Short) = java.nio.ByteBuffer.allocate(2).putShort(x).array()
    def i32(x: Int)   = java.nio.ByteBuffer.allocate(4).putInt(x).array()
    def i64(x: Long)  = java.nio.ByteBuffer.allocate(8).putLong(x).array()
    def micros(ldt: java.time.LocalDateTime): Long =
      java.time.temporal.ChronoUnit.MICROS.between(PgEpoch, ldt)
    dt match {
      case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case ByteType    => i16(v.asInstanceOf[Byte].toShort)
      case ShortType   => i16(v.asInstanceOf[Short])
      case IntegerType => i32(v.asInstanceOf[Int])
      case LongType    => i64(v.asInstanceOf[Long])
      case FloatType   => java.nio.ByteBuffer.allocate(4).putFloat(v.asInstanceOf[Float]).array()
      case DoubleType  => java.nio.ByteBuffer.allocate(8).putDouble(v.asInstanceOf[Double]).array()
      case BinaryType  => v.asInstanceOf[Array[Byte]]
      case _: DecimalType => v match {
        case d: java.math.BigDecimal => numericBinary(d)
        case d: BigDecimal           => numericBinary(d.bigDecimal)
      }
      case DateType => v match {
        case d: java.sql.Date       => i32((d.toLocalDate.toEpochDay - PgEpochDay).toInt)
        case d: java.time.LocalDate => i32((d.toEpochDay - PgEpochDay).toInt)
      }
      case TimestampType | TimestampNTZType => v match {
        case ts: java.sql.Timestamp       => i64(micros(ts.toLocalDateTime))
        case ldt: java.time.LocalDateTime => i64(micros(ldt))
        case i: java.time.Instant =>
          i64(micros(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)))
      }
      // StringType and everything else rendered as oid 25: binary
      // text IS the utf8 bytes, identical to the text format
      case _ => textValue(v).getBytes(UTF_8)
    }
  }

  /** A Parse'd statement: the raw SQL, the client-declared parameter
    * type OIDs, and the `$N → :gp_N` rewrite Spark's parameterized
    * `sql(sql, args)` consumes. `nParams` is the highest `$N` the SQL
    * references (outside strings/comments); clients may declare fewer
    * OIDs than that — undeclared positions stay OID 0 (unspecified →
    * bound as text, SQL implicit casts pick the type, which is pg's
    * own inference posture for untyped parameters).
    */
  private[engine] final case class Prepared(sql: String, declaredOids: Array[Int]) {
    val (rewritten: String, nParams: Int) = scanDollarParams(sql)
    val paramOids: Array[Int] = Array.tabulate(math.max(nParams, declaredOids.length)) {
      i => if (i < declaredOids.length) declaredOids(i) else 0
    }
  }

  /** Rewrite pg `$N` placeholders to Spark named-parameter markers
    * `:gp_N`, outside single/double quotes and line/block comments
    * (same lexer discipline as [[splitStatements]] — a `$1` inside a
    * string literal is data, not a parameter). Returns the rewritten
    * SQL and the highest parameter index seen.
    */
  private[engine] def scanDollarParams(sql: String): (String, Int) = {
    val outSql = new StringBuilder
    var maxN = 0
    var inSingle = false
    var inDouble = false
    var blockDepth = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val next = if (i + 1 < sql.length) sql.charAt(i + 1) else ' '
      if (blockDepth > 0) {
        if (c == '*' && next == '/') { blockDepth -= 1; outSql.append("*/"); i += 2 }
        else if (c == '/' && next == '*') { blockDepth += 1; outSql.append("/*"); i += 2 }
        else { outSql += c; i += 1 }
      } else if (inSingle) {
        outSql += c; if (c == '\'') inSingle = false; i += 1
      } else if (inDouble) {
        outSql += c; if (c == '"') inDouble = false; i += 1
      } else if (c == '-' && next == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') { outSql += sql.charAt(i); i += 1 }
      } else if (c == '/' && next == '*') {
        blockDepth = 1; outSql.append("/*"); i += 2
      } else if (c == '\'') { inSingle = true; outSql += c; i += 1 }
      else if (c == '"') { inDouble = true; outSql += c; i += 1 }
      else if (c == '$' && next.isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        val n = sql.substring(i + 1, j).toInt
        maxN = math.max(maxN, n)
        outSql.append(":gp_").append(n)
        i = j
      } else { outSql += c; i += 1 }
    }
    (outSql.toString, maxN)
  }

  /** Convert a text-format parameter value by its declared type OID.
    * Unspecified/unknown OIDs pass the string through — Spark's SQL
    * implicit casts then coerce it at the use site, matching how pg
    * treats untyped text parameters.
    */
  private[engine] def paramValue(text: String, oid: Int): Any = oid match {
    case 16 => // bool: pg accepts t/f/true/false/1/0 (and yes/no/on/off)
      text.trim.toLowerCase match {
        case "t" | "true" | "1" | "yes" | "on"  => true
        case "f" | "false" | "0" | "no" | "off" => false
        case other => throw new IllegalArgumentException(s"invalid bool parameter '$other'")
      }
    case 20 | 21 | 23 => text.trim.toLong
    case 700 | 701    => text.trim.toDouble
    case 1700         => new java.math.BigDecimal(text.trim)
    case 1082         => java.time.LocalDate.parse(text.trim)
    case 1114 | 1184  => // timestamp[tz]: pg text form "yyyy-MM-dd HH:mm:ss[.f]"
      java.time.LocalDateTime.parse(text.trim.replace(' ', 'T'))
    case 17 => // bytea hex form \x...
      val h = text.trim.stripPrefix("\\x")
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    case _ => text
  }

  /** pg epoch (2000-01-01) as a Julian-ish day/micro offset: binary
    * date is int32 DAYS and binary timestamp int64 MICROSECONDS since
    * 2000-01-01 (integer_datetimes, the only mode modern servers
    * ship).
    */
  private val PgEpochDay = java.time.LocalDate.of(2000, 1, 1).toEpochDay
  private val PgEpoch = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  /** Convert a BINARY-format parameter value by its declared type
    * OID — the fixed-layout network-order encodings from the public
    * protocol docs (all multi-byte integers big-endian). Strict
    * length checks: a wrong-length buffer is a malformed message,
    * not a coercible value. Binary for any OTHER oid (including an
    * undeclared oid 0, whose bytes cannot be interpreted) rejects
    * with a clean error the session recovers from.
    */
  private[engine] def paramValueBinary(bytes: Array[Byte], oid: Int): Any = {
    def need(n: Int): java.nio.ByteBuffer = {
      if (bytes.length != n) throw new IllegalArgumentException(
        s"malformed binary parameter for oid $oid: expected $n bytes, got ${bytes.length}")
      java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    }
    oid match {
      case 16         => need(1).get() != 0
      case 21         => need(2).getShort.toLong
      case 23         => need(4).getInt.toLong
      case 20         => need(8).getLong
      case 700        => need(4).getFloat.toDouble
      case 701        => need(8).getDouble
      case 25 | 1043  => new String(bytes, UTF_8)
      case 17         => bytes
      case 1082       => java.time.LocalDate.ofEpochDay(need(4).getInt.toLong + PgEpochDay)
      case 1114 | 1184 =>
        PgEpoch.plus(need(8).getLong, java.time.temporal.ChronoUnit.MICROS)
      case 1700       => numericFromBinary(bytes)
      case other => throw new IllegalArgumentException(
        s"binary parameter format is not supported for type oid $other (send text)")
    }
  }

  private val NumericPos = 0x0000
  private val NumericNeg = 0x4000
  private val NumericNaN = 0xC000

  /** pg `numeric` BINARY encoding — the documented base-10000 form:
    * int16 ndigits, int16 weight (of the FIRST digit group, in
    * 10000^weight units), int16 sign (0x0000 +, 0x4000 −, 0xC000
    * NaN), int16 dscale, then ndigits × int16 groups most-significant
    * first with leading/trailing zero groups trimmed. Unlike the
    * fixed-layout OIDs this is variable-length but still exact — no
    * float ever touches the value.
    */
  private[engine] def numericBinary(bd: java.math.BigDecimal): Array[Byte] = {
    val dscale = math.max(bd.scale, 0)
    val abs = bd.abs
    val intPart = abs.toBigInteger
    val intStr = { val s = intPart.toString; if (s == "0") "" else s }
    val fracStr =
      if (dscale == 0) ""
      else {
        val raw = abs.subtract(new java.math.BigDecimal(intPart))
          .movePointRight(dscale).toBigInteger.toString
        ("0" * dscale + raw).takeRight(dscale) // keep leading fraction zeros
      }
    val intPad = "0" * ((4 - intStr.length % 4) % 4) + intStr
    val fracPad = fracStr + "0" * ((4 - fracStr.length % 4) % 4)
    val groups = (intPad + fracPad).grouped(4).map(_.toInt).toArray
    var lo = 0
    while (lo < groups.length && groups(lo) == 0) lo += 1
    var hi = groups.length
    while (hi > lo && groups(hi - 1) == 0) hi -= 1
    val digits = java.util.Arrays.copyOfRange(groups, lo, hi)
    // first group's weight: int part has intPad.length/4 groups, the
    // leftmost weighing (nIntGroups - 1); each trimmed leading zero
    // group shifts the first REAL group one weight down
    val weight = if (digits.isEmpty) 0 else intPad.length / 4 - 1 - lo
    val sign = if (digits.nonEmpty && bd.signum < 0) NumericNeg else NumericPos
    val buf = java.nio.ByteBuffer.allocate(8 + 2 * digits.length)
    buf.putShort(digits.length.toShort).putShort(weight.toShort)
      .putShort(sign.toShort).putShort(dscale.toShort)
    digits.foreach(d => buf.putShort(d.toShort))
    buf.array()
  }

  /** Decode the pg numeric binary form above to an exact BigDecimal.
    * NaN (0xC000) rejects — SQL decimals have no NaN. Strict: a
    * length/digit inconsistency or a dscale that would require
    * rounding is a malformed message.
    */
  private[engine] def numericFromBinary(bytes: Array[Byte]): java.math.BigDecimal =
    try {
      val b = java.nio.ByteBuffer.wrap(bytes)
      val nd = b.getShort.toInt
      val weight = b.getShort.toInt
      val sign = b.getShort & 0xFFFF
      val dscale = b.getShort.toInt
      if (sign == NumericNaN) throw new IllegalArgumentException(
        "numeric NaN has no SQL decimal representation")
      if (bytes.length != 8 + 2 * nd) throw new IllegalArgumentException(
        s"malformed binary numeric: $nd digit groups but ${bytes.length} bytes")
      var acc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < nd) {
        val d = b.getShort.toInt
        if (d < 0 || d > 9999) throw new IllegalArgumentException(
          s"malformed binary numeric: digit group $d out of base-10000 range")
        acc = acc.add(java.math.BigDecimal.valueOf(d.toLong)
          .scaleByPowerOfTen(4 * (weight - i)))
        i += 1
      }
      val v = if (sign == NumericNeg) acc.negate else acc
      v.setScale(dscale) // exact by construction in a well-formed message
    } catch {
      case e: ArithmeticException =>
        throw new IllegalArgumentException(s"malformed binary numeric: ${e.getMessage}")
      case e: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException("malformed binary numeric: truncated buffer")
    }

  /** A statement's result as the wire sends it: its schema and its
    * rows. The row iterator opens at first use and is KEPT, so the pg
    * row-cap flow (Execute(maxRows) → PortalSuspended → Execute …)
    * resumes where it left off — the wire behavior JDBC's
    * setFetchSize drives.
    */
  private final class Result(val schema: StructType, open: () => java.util.Iterator[Row]) {
    private var it: java.util.Iterator[Row] = _
    def rows(): java.util.Iterator[Row] = {
      if (it == null) it = open()
      it
    }
  }

  private object Result {
    def apply(schema: StructType, rows: Seq[Row]): Result =
      new Result(schema, () => rows.iterator.asJava)
    /** Stream through `toLocalIterator`: one partition resident on
      * the driver at a time, so a large result reaches the client in
      * bounded memory.
      */
    def apply(df: DataFrame): Result = new Result(df.schema, () => df.toLocalIterator())
  }

  /** A bound portal: its result and Bind's resolved result formats. */
  private final case class Portal(result: Result, resultFormats: Array[Int])

  // ---- framing helpers --------------------------------------------

  private def msg(out: DataOutputStream, tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    body(d)
    d.flush()
    out.writeByte(tpe.toInt)
    out.writeInt(buf.size + 4)
    buf.writeTo(out)
  }

  private def readyForQuery(out: DataOutputStream): Unit =
    msg(out, 'Z')(_.writeByte('I'.toInt)) // idle (lite: no transaction state)

  private def writeError(out: DataOutputStream, message: String,
      fatal: Boolean = false, code: String = "XX000"): Unit =
    msg(out, 'E') { d =>
      val sev = if (fatal) "FATAL" else "ERROR"
      d.writeByte('S'.toInt); cstr(d, sev)
      d.writeByte('V'.toInt); cstr(d, sev)
      d.writeByte('C'.toInt); cstr(d, code)
      d.writeByte('M'.toInt); cstr(d, message)
      d.writeByte(0)
    }

  private def errMsg(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    if (m.length > 2000) m.take(2000) + "…" else m
  }

  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8))
    d.writeByte(0)
  }

  /** Read the null-terminated string starting at `off`; returns
    * (string, offset past the terminator).
    */
  private def cstrAt(payload: Array[Byte], off: Int): (String, Int) = {
    var end = off
    while (end < payload.length && payload(end) != 0) end += 1
    (new String(payload, off, end - off, UTF_8), end + 1)
  }

  private def int16At(payload: Array[Byte], off: Int): Int =
    ((payload(off) & 0xff) << 8) | (payload(off + 1) & 0xff)

  /** Signed big-endian int32 at `off`; 0 if the payload is truncated
    * (a client that omits Execute's row cap means "no limit").
    */
  private def int32At(payload: Array[Byte], off: Int): Int =
    if (off + 4 > payload.length) 0
    else ((payload(off) & 0xff) << 24) | ((payload(off + 1) & 0xff) << 16) |
      ((payload(off + 2) & 0xff) << 8) | (payload(off + 3) & 0xff)
}
