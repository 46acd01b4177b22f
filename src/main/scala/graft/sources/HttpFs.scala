package graft.sources

import java.io.FileNotFoundException
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, FSInputStream, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** HTTP(S) as a read-only Hadoop [[FileSystem]] over ranged GETs —
  * the analog of the reference's per-base-URL HTTP object store
  * (`csvb_engine/src/lib.rs:54-71`), which serves every format it
  * reads, CSV included, through one transport.
  *
  * This is the only HTTP transport: once `fs.http.impl` points here
  * ([[HttpFs.register]]), `spark.read.csv/parquet/json/orc("http://…")`
  * and the `CREATE TABLE … USING <fmt> LOCATION 'http://…'` DDL read
  * remote objects through Spark's own readers. Parquet footers and
  * column chunks become ranged GETs (column pruning and PushedFilters
  * reach the remote object), text formats split by byte range across
  * executors, and nothing flows through the driver.
  *
  * Scale: [[getFileStatus]] is one 1-byte probe; each task's reads
  * fetch only its own split (+ a readahead window).
  *
  * HTTP has no listing: a path names one object. [[listStatus]] and
  * [[globStatus]] return that object alone, so `?` in a presigned
  * URL's query string is looked up literally, not as a glob wildcard.
  *
  * Read-only: every mutation op throws; rename/delete can't exist
  * over plain HTTP.
  */
final class GraftHttpFileSystem extends FileSystem {

  private var fsUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
  }

  override def getScheme: String = if (fsUri == null) "http" else fsUri.getScheme

  override def getUri: URI = fsUri

  private def urlOf(f: Path): String = {
    val u = f.toUri
    val auth = Option(u.getAuthority).getOrElse(fsUri.getAuthority)
    // carry the query string through: a presigned / query-
    // parameterized URL rebuilt without it would fetch the wrong
    // resource (or 403) with no hint why. Fragments are client-side
    // only and never sent on the wire, so they stay dropped.
    val q = Option(u.getRawQuery).map("?" + _).getOrElse("")
    s"${fsUri.getScheme}://$auth${u.getPath}$q"
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val url = urlOf(f)
    new FSDataInputStream(new HttpSeekableStream(url, HttpFs.contentLength(url),
      math.max(bufferSize, GraftHttpFileSystem.Readahead)))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val url = urlOf(f)
    // map ONLY genuine absence (404/410, surfaced by contentLength
    // as FNF) to FileNotFoundException — a connect timeout, DNS
    // failure or 5xx at planning time must stay an IOException, or
    // spark.sql.files.ignoreMissingFiles would silently skip the
    // file on a transient network blip
    val len =
      try HttpFs.contentLength(url)
      catch {
        case e: FileNotFoundException => throw e
        case e: java.io.IOException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new java.io.IOException(s"$url: ${e.getMessage}", e)
      }
    new FileStatus(len, false, 1, GraftHttpFileSystem.BlockSize, 0L, f)
  }

  override def listStatus(f: Path): Array[FileStatus] = Array(getFileStatus(f))

  override def globStatus(p: Path): Array[FileStatus] =
    try Array(getFileStatus(p))
    catch { case _: FileNotFoundException => null }

  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    Option(globStatus(p)).map(_.filter(s => filter.accept(s.getPath))).orNull

  override def setWorkingDirectory(dir: Path): Unit = ()

  override def getWorkingDirectory: Path = new Path(fsUri.toString)

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw new UnsupportedOperationException("http filesystem is read-only")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("http filesystem is read-only")

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("http filesystem is read-only")

  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException("http filesystem is read-only")

  override def delete(f: Path, recursive: Boolean): Boolean =
    throw new UnsupportedOperationException("http filesystem is read-only")
}

private object GraftHttpFileSystem {

  /** Bytes one ranged GET fetches: multi-MB ranges amortize
    * per-request latency against a remote store — a parquet column
    * chunk read through a KB-sized window would cost tens of
    * round-trips.
    */
  val Readahead: Int = 4 * 1024 * 1024

  /** Block size reported to Spark's split math: 32 MiB keeps remote
    * splits coarse enough that per-request latency amortizes
    * (`spark.sql.files.maxPartitionBytes` still caps above it).
    */
  val BlockSize: Long = 32L * 1024 * 1024
}

/** Seekable positioned reads over HTTP ranges: `seek` is lazy (just
  * moves the cursor), the first read at a new position fetches a
  * `readahead`-sized window with one `Range:` GET and subsequent
  * sequential reads drain it — so a parquet footer parse costs a
  * couple of small GETs and a column-chunk scan costs
  * ceil(chunk/readahead) GETs, never a whole-object download.
  */
private final class HttpSeekableStream(url: String, len: Long, readahead: Int)
    extends FSInputStream {

  private var pos = 0L
  private var buf: Array[Byte] = Array.emptyByteArray
  private var bufStart = 0L

  override def seek(p: Long): Unit = {
    if (p < 0 || p > len) throw new java.io.EOFException(s"seek($p) outside [0, $len] for $url")
    pos = p
  }

  override def getPos: Long = pos

  override def seekToNewSource(targetPos: Long): Boolean = false

  private def ensure(): Unit =
    if (pos < bufStart || pos >= bufStart + buf.length) {
      buf = HttpFs.fetchRange(url, pos, math.min(pos + readahead, len))
      bufStart = pos
      // a shorter-than-asked body still makes progress; an EMPTY one
      // below the advertised length means the object changed/was
      // truncated after the length probe — fail loudly, or read()
      // would index past the buffer and bulk reads would return 0
      // forever (an InputStream-contract violation callers spin on)
      if (buf.length == 0 && pos < len) throw new java.io.IOException(
        s"$url: empty range response at $pos/$len — remote object truncated or changed")
    }

  override def read(): Int =
    if (pos >= len) -1
    else {
      ensure()
      val b = buf((pos - bufStart).toInt) & 0xff
      pos += 1
      b
    }

  override def read(b: Array[Byte], off: Int, n: Int): Int =
    if (pos >= len) -1
    else if (n == 0) 0
    else {
      ensure()
      val k = math.min((bufStart + buf.length - pos).toInt, n)
      System.arraycopy(buf, (pos - bufStart).toInt, b, off, k)
      pos += k
      k
    }

  override def available(): Int = math.min(len - pos, Int.MaxValue.toLong).toInt
}


/** Session wiring for [[GraftHttpFileSystem]], its ranged-GET
  * primitives, the multi-URL CSV header check, and the in-process
  * test server.
  */
object HttpFs {

  def isHttp(path: String): Boolean =
    path.startsWith("http://") || path.startsWith("https://")

  /** Register iff any path is http(s) — the one scheme-detection
    * point shared by every registration surface (Core adders, Serve).
    */
  def registerIfHttp(spark: SparkSession, paths: Seq[String]): Unit =
    if (paths.exists(isHttp)) register(spark)

  /** Point `fs.http.impl` / `fs.https.impl` at the ranged filesystem
    * (idempotent; per-SparkContext hadoopConfiguration, which tasks
    * inherit — the cluster-correct channel). After this, every Spark
    * reader and the `LOCATION 'http://…'` DDL path resolve http
    * objects natively.
    */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.http.impl", classOf[GraftHttpFileSystem].getName)
    conf.set("fs.https.impl", classOf[GraftHttpFileSystem].getName)
  }

  /** Fetch `[from, to)` of `url` with one `Range:` GET (bounds
    * clamped server-side). A server that ignores Range (200, whole
    * body) is sliced to the window here.
    */
  private[sources] def fetchRange(url: String, from: Long, to: Long): Array[Byte] = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestProperty("Range", s"bytes=$from-${to - 1}")
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    val in = conn.getInputStream
    try {
      val body = in.readAllBytes()
      if (code == 206) body
      else { // Range ignored: whole body came back — slice our window
        val lo = math.min(from, body.length.toLong).toInt
        val hi = math.min(to, body.length.toLong).toInt
        java.util.Arrays.copyOfRange(body, lo, hi)
      }
    } finally in.close()
  }

  /** Content length via a 1-byte ranged GET (reads the total from
    * `Content-Range: bytes 0-0/<len>`), falling back to
    * `Content-Length` when the server ignores Range.
    */
  private[sources] def contentLength(url: String): Long = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestProperty("Range", "bytes=0-0")
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(30000)
    val code = conn.getResponseCode
    // only "the resource is not there" codes may surface as
    // FileNotFoundException: callers (the Hadoop FS contract) treat
    // FNF as "path does not exist", and under
    // spark.sql.files.ignoreMissingFiles that silently DROPS the
    // file — a 500 or a timeout must stay a hard IOException
    // drain+close the error body before throwing: an unconsumed
    // error stream pins the socket and blocks keep-alive reuse on
    // every missing-file probe
    def closeError(): Unit = {
      val es = conn.getErrorStream
      if (es != null) { try es.readAllBytes() catch { case _: Exception => }; es.close() }
      else conn.disconnect()
    }
    // 416 to `bytes=0-0` means the resource exists but is EMPTY (a
    // compliant server can't satisfy any range of a 0-byte body);
    // the total comes back in `Content-Range: bytes */<len>`. Only a
    // WELL-FORMED total is trusted — a 416 without it stays a hard
    // IOException like every other >=400, because under
    // ignoreMissingFiles a silent length-0 would DROP a non-empty
    // file a misbehaving proxy answered 416 for (the same silent-loss
    // contract as the FNF carve-out above)
    if (code == 416) {
      val len = Option(conn.getHeaderField("Content-Range"))
        .map(_.trim)
        .collect { case cr if cr.matches("(?i)bytes\\s+\\*/\\d{1,18}") => cr.split('/').last.toLong }
      closeError()
      return len.getOrElse(throw new java.io.IOException(
        s"$url: HTTP 416 without a parseable 'Content-Range: bytes */<len>'"))
    }
    if (code == 404 || code == 410) {
      closeError()
      throw new java.io.FileNotFoundException(s"$url: HTTP $code")
    }
    if (code >= 400) {
      closeError()
      throw new java.io.IOException(s"$url: HTTP $code")
    }
    val len =
      if (code == 206)
        Option(conn.getHeaderField("Content-Range"))
          .flatMap(cr => cr.split('/').lastOption)
          .map(_.trim.toLong)
          .getOrElse(sys.error(s"206 without Content-Range from $url"))
      else conn.getContentLengthLong
    conn.getInputStream.close()
    require(len >= 0, s"server reports no content length for $url")
    len
  }

  /** First line of the resource — one small ranged GET. 64 KiB
    * covers any sane CSV header; a header longer than that fails
    * loudly.
    */
  private def headerLine(url: String): String = {
    val bytes = fetchRange(url, 0, 64 * 1024)
    var i = 0
    while (i < bytes.length && bytes(i) != '\n') i += 1
    require(i < bytes.length || bytes.length < 64 * 1024,
      s"no line break in the first 64 KiB of $url — not a CSV header")
    val end = if (i > 0 && bytes(i - 1) == '\r') i - 1 else i
    new String(bytes, 0, end, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The schema-equality bail of the reference's union table
    * (`union_table_provider.rs:35-62`) at the cheapest point: every
    * http(s) url of the CSV binding `name` must carry the first url's
    * header line, checked with one small ranged GET each before any
    * Spark job, so a drifted object fails at registration, not as
    * nulls mid-scan.
    */
  def requireSameCsvHeader(name: String, paths: Seq[String]): Unit = {
    val urls = paths.filter(isHttp)
    if (urls.size > 1) {
      val head = headerLine(urls.head)
      urls.tail.foreach { u =>
        val h = headerLine(u)
        require(h == head,
          s"csv header mismatch under listing table '$name': $u has '$h', expected '$head'")
      }
    }
  }

  /** In-process HTTP server for `bytes` at `/path`, honoring `Range`
    * with 206 partial content (optionally ignoring it, for fallback
    * testing) — the zero-egress stand-in for an object store, used by
    * the HTTP specs and the graded `q_http_*` fixtures. Returns (server, url);
    * caller owns shutdown.
    */
  def serveBytes(bytes: Array[Byte], path: String,
      honorRange: Boolean = true): (com.sun.net.httpserver.HttpServer, String) = {
    // start() inside a daemon thread: the JDK server's dispatcher
    // thread inherits daemon status from its creator, so a server a
    // query leaves running for lazy evaluation can never pin the JVM
    // open (a non-daemon dispatcher deadlocks exit: main returns, the
    // JVM waits for the dispatcher, and the shutdown hook that would
    // stop it only runs once all non-daemon threads are gone)
    var out: (com.sun.net.httpserver.HttpServer, String) = null
    val starter = new Thread(() => out = serveBytesBlocking(bytes, path, honorRange))
    starter.setDaemon(true)
    starter.start()
    starter.join()
    out
  }

  private def serveBytesBlocking(bytes: Array[Byte], path: String,
      honorRange: Boolean): (com.sun.net.httpserver.HttpServer, String) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // concurrent handling (32 executor threads fetch ranges in
    // parallel); daemon threads so the pool can't pin the JVM either
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r); t.setDaemon(true); t
    }))
    server.createContext(s"/$path", (ex: com.sun.net.httpserver.HttpExchange) => {
      val range = Option(ex.getRequestHeaders.getFirst("Range")).filter(_ => honorRange)
      range match {
        case Some(r) =>
          val Array(lo, hi) = r.stripPrefix("bytes=").split("-").map(_.toLong)
          if (lo >= bytes.length) { // unsatisfiable (incl. any range of a 0-byte body)
            ex.getResponseHeaders.set("Content-Range", s"bytes */${bytes.length}")
            ex.sendResponseHeaders(416, -1)
          } else {
            val from = lo.toInt
            val to = math.min(hi + 1, bytes.length.toLong).toInt
            val slice = java.util.Arrays.copyOfRange(bytes, from, to)
            ex.getResponseHeaders.set("Content-Range", s"bytes $from-${to - 1}/${bytes.length}")
            ex.sendResponseHeaders(206, slice.length)
            ex.getResponseBody.write(slice)
          }
        case None =>
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}/$path")
  }
}
