package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

/** Minimal Postgres v3 wire-protocol CLIENT: trust startup + simple
  * query, text-format results. This is the sandbox-legal realization
  * of the reference's vendored Postgres connector (connection +
  * query + row streaming,
  * `/root/reference/third_party/postgres_provider/src/postgres_connection.rs:171-223`;
  * pooling, `postgres_pool.rs:103-169`): no Postgres JDBC driver jar
  * exists under /opt/spark/jars, but the PROTOCOL needs none — this
  * client federates against any v3 server speaking trust auth, and
  * is exercised in-repo against [[PgWire]] over real loopback
  * sockets (the reference's "pool" becomes one connection per Spark
  * partition in [[graft.sources.PgFederation]] — the executor-side
  * shape of pooling).
  *
  * Scope: simple protocol only, text results only — exactly the
  * subset a federated SELECT needs; extended protocol and COPY live
  * on the server side ([[PgWire]]). Auth: trust by default, plus
  * client-side SCRAM-SHA-256 when `password` is given (the
  * [[Scram]] client functions — mutual: the server's `v=` signature
  * is verified, so a server that doesn't know the password is
  * rejected even after it "accepts" the proof).
  */
final class PgClient(host: String, port: Int, timeoutMs: Int = 120000,
    password: Option[String] = None) extends AutoCloseable {

  private val socket = new java.net.Socket(host, port)
  // stream setup is failure-covered too, not just the auth exchange
  // below: a setter/getInputStream throw before the try block would
  // otherwise leak the connected fd (same per-task-retry accumulation
  // argument as auth failures)
  private val (in, out) =
    try {
      socket.setTcpNoDelay(true)
      socket.setSoTimeout(timeoutMs)
      (new DataInputStream(new BufferedInputStream(socket.getInputStream)),
        new DataOutputStream(new BufferedOutputStream(socket.getOutputStream)))
    } catch {
      case NonFatal(e) =>
        try socket.close() catch { case NonFatal(_) => () }
        throw e
    }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  /** pg-style identifier quoting: wrap in double quotes, double any
    * embedded quote — the only safe rendering when the name comes
    * from a DataFrame schema rather than a trusted literal.
    */
  private def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  // trust startup; drain the greeting burst (R/S/K) to ReadyForQuery.
  // ANY startup failure — a server ErrorResponse, a non-pg endpoint
  // closing the stream, a bad frame — must close the socket before
  // rethrowing: the constructor never returned, so no caller finally
  // can, and a leaked fd per Spark task retry adds up.
  try {
    val params = cstr("user") ++ cstr("graft") ++ cstr("database") ++ cstr("graft") :+ 0.toByte
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    var err: String = null
    var done = false
    // SCRAM state across the R-message sequence (10 → 11 → 12 → 0)
    var clientNonce: String = null
    var clientBare: String = null
    var expectedServerFinal: String = null
    var scramPassword: String = null
    while (!done) {
      val (tpe, p) = readMsg()
      tpe match {
        case 'Z' => done = true
        case 'E' => err = errorMessage(p); done = true
        case 'R' =>
          val code = ByteBuffer.wrap(p, 0, 4).getInt
          code match {
            case 0 => // AuthenticationOk
            case 10 => // AuthenticationSASL: cstring mechanism list
              val pw = password.getOrElse(throw new RuntimeException(
                "server requires SASL authentication but no password was configured"))
              val mechs = new String(p, 4, p.length - 4, UTF_8).split('\u0000').filter(_.nonEmpty)
              if (!mechs.contains(Scram.Mechanism)) throw new RuntimeException(
                s"server offers ${mechs.mkString(",")}; client speaks only ${Scram.Mechanism}")
              clientNonce = Scram.freshClientNonce(new java.security.SecureRandom())
              clientBare = Scram.clientFirstBare(clientNonce)
              val first = (Scram.Gs2NoBinding + clientBare).getBytes(UTF_8)
              val mech = cstr(Scram.Mechanism)
              out.writeByte('p')
              out.writeInt(4 + mech.length + 4 + first.length)
              out.write(mech); out.writeInt(first.length); out.write(first); out.flush()
              scramPassword = pw // consumed at the Continue(11) step
            case 11 => // AuthenticationSASLContinue: server-first
              if (clientNonce == null) throw new RuntimeException(
                "out-of-order SASL: Continue before AuthenticationSASL")
              val srvFirst = new String(p, 4, p.length - 4, UTF_8)
              val sf = Scram.parseServerFirst(srvFirst, clientNonce)
              val (clientFinal, expectV) = Scram.clientFinalMessage(
                Scram.Gs2NoBinding, clientBare, srvFirst, sf, scramPassword)
              expectedServerFinal = expectV
              val body = clientFinal.getBytes(UTF_8)
              out.writeByte('p'); out.writeInt(4 + body.length); out.write(body); out.flush()
            case 12 => // AuthenticationSASLFinal: mutual-auth check
              if (expectedServerFinal == null) throw new RuntimeException(
                "out-of-order SASL: Final before the client proof was sent")
              val srvFinal = new String(p, 4, p.length - 4, UTF_8)
              if (!Scram.verifyServerFinal(srvFinal, expectedServerFinal))
                throw new RuntimeException(
                  "SCRAM server signature mismatch — the server does not know the password")
            case other => throw new RuntimeException(
              s"unsupported authentication request $other (trust and SCRAM-SHA-256 only)")
          }
        case _ => ()
      }
    }
    if (err != null) throw new RuntimeException(s"pg startup failed: $err")
  } catch {
    case NonFatal(e) => runQuiet(socket.close()); throw e
  }

  private def runQuiet(f: => Unit): Unit = try f catch { case NonFatal(_) => () }

  private def readMsg(): (Char, Array[Byte]) = {
    val tpe = in.read()
    if (tpe < 0) throw new EOFException("server closed the connection")
    val len = in.readInt()
    // same sanity posture as the server: reject before allocating
    require(len >= 4 && len <= 64 * 1024 * 1024, s"invalid frame length $len")
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    (tpe.toChar, payload)
  }

  /** ErrorResponse fields are (code byte, cstr)* with a 0 terminator;
    * 'M' carries the human message.
    */
  private def errorMessage(payload: Array[Byte]): String = {
    var off = 0
    var msg = "server error"
    while (off < payload.length && payload(off) != 0) {
      val code = payload(off).toChar
      off += 1
      val end = payload.indexOf(0.toByte, off)
      if (end < 0) return msg
      if (code == 'M') msg = new String(payload, off, end - off, UTF_8)
      off = end + 1
    }
    msg
  }

  /** [[readMsg]], except that a server which sent an ErrorResponse
    * and then dropped the link (EOF, or an RST raising
    * SocketException) reports its error, not the I/O failure.
    */
  private def readAfter(err: String): (Char, Array[Byte]) =
    try readMsg()
    catch {
      case _: java.io.IOException if err != null => throw new RuntimeException(s"pg error: $err")
    }

  /** Send one simple-protocol statement and stream its result: the
    * header (RowDescription, or CopyOutResponse for a COPY) is read
    * before this returns, the rows one frame at a time as the
    * iterator advances. A server error raises with the server's
    * message once the response has drained to ReadyForQuery (pg's
    * E-then-Z discipline), so the connection stays usable after it.
    */
  final class Rows private[PgClient] (sql: String)
      extends Iterator[Vector[String]] {
    /** RowDescription as (name, type oid); empty for COPY, whose
      * header carries the column count only.
      */
    var fields: Vector[(String, Int)] = Vector.empty
    /** The result's column count (0 for a statement with no rows). */
    var width: Int = -1
    private var err: String = null
    private var done = false
    private var pending: Vector[String] = null

    private val body = cstr(sql)
    out.writeByte('Q'); out.writeInt(body.length + 4); out.write(body); out.flush()
    while (width < 0 && !done) step()
    if (width < 0) width = 0

    private def step(): Unit = {
      val (tpe, p) = readAfter(err)
      tpe match {
        case 'T' =>
          val n = ByteBuffer.wrap(p).getShort.toInt
          var off = 2
          val fs = Vector.newBuilder[(String, Int)]
          for (_ <- 0 until n) {
            val end = p.indexOf(0.toByte, off)
            val name = new String(p, off, end - off, UTF_8)
            off = end + 1 + 6 // skip table oid (4) + attnum (2)
            val oid = ByteBuffer.wrap(p, off, 4).getInt
            off += 4 + 8 // oid, then typlen (2) + typmod (4) + format (2)
            fs += ((name, oid))
          }
          fields = fs.result()
          width = n
        case 'H' => width = ByteBuffer.wrap(p, 1, 2).getShort.toInt // format, then count
        case 'D' =>
          val bb = ByteBuffer.wrap(p)
          val n = bb.getShort.toInt
          val vs = Vector.newBuilder[String]
          for (_ <- 0 until n) {
            val l = bb.getInt
            if (l < 0) vs += null
            else {
              vs += new String(p, bb.position(), l, UTF_8)
              bb.position(bb.position() + l)
            }
          }
          pending = vs.result()
        case 'd' =>
          val l = if (p.nonEmpty && p(p.length - 1) == '\n') p.length - 1 else p.length
          pending = splitCopyLine(new String(p, 0, l, UTF_8))
        case 'E' => err = errorMessage(p)
        case 'Z' =>
          done = true
          if (err != null) throw new RuntimeException(s"pg error: $err")
        case _ => () // C/S/N/n/s/c and anything else: not row data
      }
    }

    def hasNext: Boolean = {
      while (pending == null && !done) step()
      pending != null
    }

    def next(): Vector[String] = {
      if (!hasNext) throw new NoSuchElementException("no more rows")
      val r = pending
      pending = null
      r
    }
  }

  /** Stream `sql`'s rows as DataRow text values (SQL NULL as null). */
  def rows(sql: String): Rows = new Rows(sql)

  /** Stream `selectSql`'s rows through `COPY (select) TO STDOUT`
    * (text format): one CopyData frame per row — a tab-separated
    * escaped line — instead of a DataRow message carrying a 4-byte
    * length header per FIELD. On wide rows the per-field framing is
    * the dominant protocol overhead, and COPY amortizes it to one
    * frame per row. Fields decode to text identical to [[rows]]'
    * (both sides of [[PgWire]] render through one textValue), with
    * `\\N` as SQL NULL.
    */
  def copyRows(selectSql: String): Rows = new Rows(s"COPY ($selectSql) TO STDOUT")

  /** Run one simple-protocol query; returns (fields as (name, type
    * oid), rows as text values with SQL NULL as Scala null).
    */
  def query(sql: String): (Vector[(String, Int)], Vector[Vector[String]]) = {
    val r = rows(sql)
    val all = r.toVector
    (r.fields, all)
  }

  /** Bulk extraction via [[copyRows]], collected. */
  def copyOut(selectSql: String): Vector[Vector[String]] = copyRows(selectSql).toVector

  /** Bulk load via `COPY tbl [(cols)] FROM STDIN` (text format) —
    * the WRITE-BACK half of the connector (the reference's is
    * read-only; a federation story needs both directions). `rows`
    * streams as tab-separated escaped lines batched into ~64 KiB
    * CopyData frames (the reference connector's 4,000-row chunking,
    * pointed the other way — never one frame per row, never the
    * whole load in memory), then CopyDone; the server casts
    * positionally against the target schema and commits
    * all-or-nothing. A null field renders as `\N`; everything else
    * is escaped as the exact inverse of [[splitCopyLine]]. Returns
    * the server-reported row count from the `COPY <n>` tag.
    */
  def copyIn(table: String, columns: Seq[String], rows: Iterator[Seq[String]]): Long = {
    // identifiers come straight from df.schema.fieldNames — quote them
    // (pg-style, embedded quotes doubled) or a mixed-case/reserved-word
    // column case-folds to the wrong name on a real PostgreSQL target;
    // a dotted table quotes per part so schema qualification survives.
    // CONTRACT: `table` is an UNQUOTED [schema.]name — a name already
    // carrying double quotes would be re-quoted into garbage, so
    // reject it loudly instead of mis-rendering silently; a literal
    // dot inside one part is likewise unsupported by this renderer.
    require(!table.contains("\""),
      s"copyIn table must be an unquoted [schema.]name, got: $table")
    val colList =
      if (columns.isEmpty) "" else columns.map(quoteIdent).mkString(" (", ", ", ")")
    val tbl = table.split('.').map(quoteIdent).mkString(".")
    val body = cstr(s"COPY $tbl$colList FROM STDIN")
    out.writeByte('Q'); out.writeInt(body.length + 4); out.write(body); out.flush()
    var err: String = null
    var ready = false
    var atReady = false
    while (!ready && !atReady) {
      // a server that errors and then closes without ReadyForQuery
      // must surface ITS message, not a bare EOF (query()'s posture)
      val (tpe, p) = readAfter(err)
      tpe match {
        case 'G' => ready = true // CopyInResponse
        case 'E' => err = errorMessage(p)
        case 'Z' => atReady = true // error path drains to ReadyForQuery
        case _   => ()
      }
    }
    if (!ready) throw new RuntimeException(
      s"pg error: ${Option(err).getOrElse("no CopyInResponse to COPY FROM STDIN")}")
    val buf = new java.io.ByteArrayOutputStream(1 << 16)
    def flushFrame(): Unit = if (buf.size() > 0) {
      out.writeByte('d'); out.writeInt(4 + buf.size()); buf.writeTo(out)
      buf.reset()
    }
    // a caller-side failure mid-stream (the rows iterator throwing)
    // must NOT leave the wire inside the COPY subprotocol — the next
    // query's 'Q' frame would be swallowed by the server's copy drain
    // and the connection would hang to its timeout. Send CopyFail,
    // drain the server's error + ReadyForQuery, THEN rethrow: the
    // connection stays usable, matching query()'s E-then-Z posture.
    try {
      rows.foreach { r =>
        val line = r.iterator
          .map(f => if (f == null) "\\N" else escapeCopy(f)).mkString("", "\t", "\n")
        buf.write(line.getBytes(UTF_8))
        if (buf.size() >= 64 * 1024) flushFrame()
      }
    } catch {
      case NonFatal(e) =>
        runQuiet {
          val reason = cstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          out.writeByte('f'); out.writeInt(4 + reason.length); out.write(reason); out.flush()
          var draining = true
          while (draining) { if (readMsg()._1 == 'Z') draining = false }
        }
        throw e
    }
    flushFrame()
    out.writeByte('c'); out.writeInt(4); out.flush() // CopyDone
    var nRows = -1L
    var done = false
    while (!done) {
      // same EOF-after-ErrorResponse posture as the pre-Copy drain: a
      // server that aborted the COPY mid-stream (bad row, constraint)
      // and dropped the link reports its error, not "server closed"
      val (tpe, p) = readAfter(err)
      tpe match {
        case 'C' =>
          val tag = new String(p, UTF_8).takeWhile(_ != '\u0000')
          if (tag.startsWith("COPY ")) nRows = tag.substring(5).trim.toLong
        case 'E' => err = errorMessage(p)
        case 'Z' => done = true
        case _   => ()
      }
    }
    if (err != null) throw new RuntimeException(s"pg error: $err")
    nRows
  }

  /** Text-format COPY escaping ([[PgClient.escapeCopy]]). */
  private[graft] def escapeCopy(f: String): String = PgClient.escapeCopy(f)

  /** Raw tab bytes only ever SEPARATE fields (an in-value tab is the
    * two characters `\` `t`), so a top-level split is exact; then
    * per-field unescape with whole-field `\N` as NULL.
    */
  private[engine] def splitCopyLine(line: String): Vector[String] =
    // -1: a trailing empty field (row ends in a tab) must survive
    line.split("\t", -1).iterator.map { f =>
      if (f == "\\N") null
      else {
        val sb = new StringBuilder(f.length)
        var i = 0
        while (i < f.length) {
          val c = f.charAt(i)
          if (c == '\\' && i + 1 < f.length) {
            // the full set a real Postgres emits for control chars —
            // our own server only writes \t \n \r \\, but the client
            // federates against any v3 server
            f.charAt(i + 1) match {
              case 't'  => sb.append('\t')
              case 'n'  => sb.append('\n')
              case 'r'  => sb.append('\r')
              case 'b'  => sb.append('\b')
              case 'f'  => sb.append('\f')
              case 'v'  => sb.append('\u000B')
              case '\\' => sb.append('\\')
              case o    => sb.append('\\').append(o)
            }
            i += 2
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }
    }.toVector

  override def close(): Unit = {
    runQuiet { out.writeByte('X'); out.writeInt(4); out.flush() }
    runQuiet(socket.close())
  }
}

object PgClient {

  /** Text-format COPY escaping in one pass, and only when the field
    * holds a backslash, tab, LF or CR — the exact inverse of
    * `splitCopyLine`'s unescape. Shared by the client's COPY IN and
    * the server's COPY OUT ([[PgWire]]).
    */
  def escapeCopy(f: String): String =
    if (f.indexOf('\\') < 0 && f.indexOf('\t') < 0 &&
        f.indexOf('\n') < 0 && f.indexOf('\r') < 0) f
    else {
      val sb = new StringBuilder(f.length + 8)
      var i = 0
      while (i < f.length) {
        f.charAt(i) match {
          case '\\' => sb.append("\\\\")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case c    => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }
}
