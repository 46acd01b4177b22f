package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Cli
import graft.engine.{Core, Federation, PgClient, PgWire, Serve}
import graft.sources.PgFederation

/** The JVM half of the benchmark: one workload, one process.
  *
  * `Harness <config.json>` builds the workload's session through the
  * program's public entry points and runs, from `clients` threads:
  * the first operation alone (the cold one), a fixed warm-up of whole
  * rounds, then closed-loop rounds for the configured seconds. It then
  * tears down and sets up three more times, so set-up time is a
  * median. Every operation's raw output goes into the results file;
  * `run.py` checks it against the oracle and derives the metrics.
  *
  * With `trace` on, the measured time is split into untraced and
  * traced chunks in ABBA order (the latency difference is the tracing
  * overhead), a SparkListener counts jobs, tasks and bytes read in the
  * traced chunks, spans are kept in memory around every call into the
  * program, and a quiet layer phase replays each operation through
  * `Core.addCsvTable` / `Core.execute` / `executedPlan` / collect to
  * split its time by layer. Spans are written out at the end.
  */
object Harness {

  // ---- config and output ------------------------------------------

  final case class Op(id: String, kind: String, node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
  }

  final case class Rec(id: String, kind: String, conn: Int, round: Int, phase: String,
      startNs: Long, ns: Long, rows: Long, result: Any, error: String)

  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val spanIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var tracing = false
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  /** Time `f` as a span (recorded only while tracing). */
  def span[T](name: String)(f: => T): T = {
    if (!tracing) return f
    val id = spanIds.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parent, name, t0, System.nanoTime()))
      current.set(parent)
    }
  }

  /** Minimal JSON writer for the results file (numbers, strings,
    * booleans, null, Seq, Map).
    */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case o => json(o.toString)
  }

  // ---- Spark and JVM counters -------------------------------------

  final class Counters extends SparkListener {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val taskRunMs = new AtomicLong
    val bytesRead = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
      ()
    }
  }

  /** Listener events arrive asynchronously; drain the bus before
    * reading counters (`listenerBus` is package-private to Spark,
    * hence reflection).
    */
  def drain(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(10000L))
      ()
    } catch { case NonFatal(_) => Thread.sleep(300) }

  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size) s.getValues.sum.toDouble else h.getCount * s.getMean
  }
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** A snapshot of every cumulative counter, for deltas. */
  def snap(c: Counters): Map[String, Double] = Map(
    "jobs" -> c.jobs.get.toDouble, "tasks" -> c.tasks.get.toDouble,
    "task_run_ms" -> c.taskRunMs.get.toDouble, "bytes_read" -> c.bytesRead.get.toDouble,
    "codegen_ms" -> codegenMs(), "gc_ms" -> gcMs().toDouble, "jit_ms" -> jitMs().toDouble)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Rows that left the leaf scans of an executed plan. */
  def scanRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case p if p.children.isEmpty =>
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(scanRows).sum
  }

  /** The executed plan of a session's last action (`Core.pretty` and
    * `collect` run a new Dataset, so the caller's `df` has no metrics).
    */
  final class LastPlan extends QueryExecutionListener {
    @volatile var plan: SparkPlan = _
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan = qe.executedPlan
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // ---- result shapes ----------------------------------------------

  /** Parse a `Core.pretty` box table back into rows of cell text. */
  def parsePretty(text: String): Seq[Seq[String]] = {
    val lines = text.linesIterator.filter(_.startsWith("|")).toVector
    lines.drop(1).map(_.split("\\|", -1).toSeq.drop(1).dropRight(1).map(_.trim))
  }

  /** Order-independent column summaries of a bulk result: per column
    * the null count and the sum of the values (numbers), epoch days
    * (dates) or lengths (text).
    */
  def summarize(rows: Seq[Seq[String]], types: Seq[String]): Seq[Seq[String]] = {
    val sums = Array.fill(types.size)(BigDecimal(0))
    val nulls = Array.fill(types.size)(0L)
    rows.foreach { r =>
      var i = 0
      while (i < types.size) {
        val v = r(i)
        if (v == null) nulls(i) += 1
        else sums(i) += (types(i) match {
          case "int" | "float" => BigDecimal(v)
          case "date" => BigDecimal(java.time.LocalDate.parse(v).toEpochDay)
          case _ => BigDecimal(v.length)
        })
        i += 1
      }
    }
    Seq(rows.size.toString) +: types.indices.map(i => Seq(sums(i).toString, nulls(i).toString))
  }

  // ---- workloads --------------------------------------------------

  abstract class Workload(val conf: JsonNode) {
    val cpus: Int = conf.get("cpus").asInt()
    var spark: SparkSession = _
    def clients: Int = 1
    def setup(): Unit
    def teardown(): Unit = { if (spark != null) spark.stop(); spark = null }
    /** Run one operation; returns (rows moved, result). */
    def run(op: Op, conn: Int): (Long, Any)
    /** What the oracle compares, made from a result after the
      * operation's clock has stopped.
      */
    def checked(op: Op, result: Any): Any = result
    /** Traced-only: per-layer samples, name -> values. */
    def layers(counters: Counters, out: scala.collection.mutable.Map[String, ArrayBuffer[Double]]): Unit
    def newSession(): SparkSession = span("core.session")(Core.session("perfbench", cpus))
  }

  /** `[[name, path], ...]` from the config. */
  def pairs(n: JsonNode): Vector[(String, String)] =
    n.elements().asScala.map(p => p.get(0).asText() -> p.get(1).asText()).toVector

  def add(out: scala.collection.mutable.Map[String, ArrayBuffer[Double]], k: String, v: Double): Unit =
    out.getOrElseUpdate(k, ArrayBuffer.empty[Double]) += v

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time `client` and `replay` back to back, alternating which runs
    * first, so that neither always runs second on warmer caches.
    */
  def bothWays[A, B](rep: Int)(client: => A)(replay: => B): (Double, A, Double, B) = {
    def timed[T](f: => T): (Double, T) = { val t0 = System.nanoTime(); val r = f; (ms(t0), r) }
    if (rep % 2 == 0) {
      val (c, a) = timed(client); val (r, b) = timed(replay); (c, a, r, b)
    } else {
      val (r, b) = timed(replay); val (c, a) = timed(client); (c, a, r, b)
    }
  }

  /** `Core.execute`, then the executed plan, then `collect`, each timed
    * into its layer metric; returns what `collect` returned.
    */
  def coreLayers[T](session: SparkSession, sql: String,
      out: scala.collection.mutable.Map[String, ArrayBuffer[Double]])(collect: DataFrame => T): T = {
    var t0 = System.nanoTime()
    val df = span("core.execute")(Core.execute(session, sql))
    add(out, "core.analyze_ms", ms(t0))
    t0 = System.nanoTime()
    span("core.executedPlan")(df.queryExecution.executedPlan)
    add(out, "core.plan_ms", ms(t0))
    t0 = System.nanoTime()
    val r = span("core.collect")(collect(df))
    add(out, "core.collect_ms", ms(t0))
    r
  }

  /** `exec` over a multi-file CSV listing table, through `Cli.run`. */
  final class CsvExec(c: JsonNode) extends Workload(c) {
    private val tables = pairs(conf.get("csv"))
    def setup(): Unit = spark = newSession()

    def cli(sql: String): String = {
      val bos = new ByteArrayOutputStream()
      val ps = new PrintStream(bos, true, "UTF-8")
      val args = tables.flatMap { case (n, d) => Seq("--csv", s"$n=$d") } :+ sql
      val code = span("cli.exec")(Cli.run("exec" +: args, spark, ps))
      ps.flush()
      if (code != 0) throw new IllegalStateException(s"exec exited $code: ${bos.toString("UTF-8")}")
      bos.toString("UTF-8")
    }

    def run(op: Op, conn: Int): (Long, Any) = (0L, parsePretty(cli(op.str("sql"))))

    def layers(counters: Counters, out: scala.collection.mutable.Map[String, ArrayBuffer[Double]]): Unit = {
      val csvBytes = tables.map { case (n, d) =>
        n -> Files.list(Paths.get(d)).iterator().asScala.filter(_.toString.endsWith(".csv"))
          .map(Files.size(_)).sum
      }.toMap
      for (op <- roundOps; rep <- 0 until 3) {
        val sql = op.str("sql")
        var before, after: Map[String, Double] = Map.empty
        val (client, _, replay, _) = bothWays(rep)(cli(sql)) {
          drain(spark)
          before = snap(counters)
          span("replay.exec") {
            tables.foreach { case (n, d) =>
              val r0 = System.nanoTime()
              span("core.addCsvTable")(Core.addCsvTable(spark, n, Seq(d)))
              add(out, "core.register_ms", ms(r0))
            }
            coreLayers(spark, sql, out)(df => Core.pretty(df, 100))
          }
          drain(spark)
          after = snap(counters)
        }
        val d = delta(before, after)
        add(out, "frontend.overhead_ms", client - replay)
        val referenced = op.node.get("tables").elements().asScala.map(t => csvBytes(t.asText())).sum
        add(out, "scan.read_ratio", d("bytes_read") / referenced)
        add(out, s"csv.scan_passes.${op.id}", d("bytes_read") / referenced)
        add(out, s"spark.jobs.${op.id}", d("jobs"))
      }
    }
  }

  /** psql's `\d <table>`: the oid lookup, then every follow-up query
    * psql 15 sends with that oid substituted.
    */
  def describe(c: PgClient, lookup: String, followUps: Seq[String]): Seq[Seq[String]] = {
    val (_, found) = c.query(lookup)
    if (found.size != 1) return found.map(_.drop(1))
    val oid = found.head.head
    val detail = followUps.map(q => c.query(q.replace("{oid}", oid))._2)
    // lookup row (schema, name) followed by the column list (name, type)
    found.map(_.drop(1)) ++ detail(1).map(_.take(2))
  }

  /** A PgWire server over the parquet tables, driven by PgClient. */
  final class PgServe(c: JsonNode) extends Workload(c) {
    private val tables = pairs(conf.get("parquet"))
    private val wideTypes = conf.get("wide_types").elements().asScala.map(_.asText()).toVector
    private val followUps = conf.get("describe_followups").elements().asScala.map(_.asText()).toVector
    private var server: PgWire.Server = _
    private var conns: Array[PgClient] = Array.empty
    override def clients: Int = conf.get("clients").asInt()

    def setup(): Unit = {
      spark = newSession()
      tables.foreach { case (n, p) =>
        val t0 = System.nanoTime()
        span("serve.registerShared")(Serve.registerShared(spark, n, Seq(p), "parquet"))
        registerMs += ms(t0)
      }
      server = span("pgwire.start")(PgWire.start(spark, 0))
    }
    val registerMs = ArrayBuffer.empty[Double]

    def connect(): Unit = conns = Array.fill(clients)(new PgClient("127.0.0.1", server.boundPort))

    override def teardown(): Unit = {
      conns.foreach(x => try x.close() catch { case NonFatal(_) => () })
      conns = Array.empty
      if (server != null) server.close()
      server = null
      super.teardown()
    }

    def statement(op: Op, c: PgClient): (Long, Any) = op.kind match {
      case "short" | "catalog_dt" =>
        val (_, rows) = span("pgclient.query")(c.query(op.str("sql")))
        (0L, rows)
      case "catalog_d" => (0L, span("pgclient.describe")(describe(c, op.str("sql"), followUps)))
      case "wide_rows" =>
        val (_, rows) = span("pgclient.query")(c.query(op.str("sql")))
        (rows.size.toLong, rows)
      case "wide_copy" =>
        val rows = span("pgclient.copyOut")(c.copyOut(op.str("sql")))
        (rows.size.toLong, rows)
    }

    def run(op: Op, conn: Int): (Long, Any) =
      try statement(op, conns(conn)) catch {
        case e: java.io.IOException =>
          // a broken socket would fail every later statement on it
          try conns(conn).close() catch { case NonFatal(_) => () }
          conns(conn) = new PgClient("127.0.0.1", server.boundPort)
          throw e
      }

    override def checked(op: Op, result: Any): Any = result match {
      case rows: Seq[_] if op.kind.startsWith("wide") =>
        summarize(rows.asInstanceOf[Seq[Seq[String]]], wideTypes)
      case r => r
    }

    def layers(counters: Counters, out: scala.collection.mutable.Map[String, ArrayBuffer[Double]]): Unit = {
      val tableRows = tables.map { case (n, _) => n -> spark.table(n).count().toDouble }.toMap
      val replaySession = spark.newSession()
      val last = new LastPlan
      replaySession.listenerManager.register(last)
      val byKind = roundOps.groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
      for (op <- byKind; rep <- 0 until 3) {
        if (op.kind.startsWith("catalog")) {
          drain(spark)
          val before = snap(counters)
          val t0 = System.nanoTime()
          statement(op, conns(0))
          val client = ms(t0)
          drain(spark)
          val d = delta(before, snap(counters))
          add(out, "pgcatalog.stmt_ms", client)
          add(out, "pgcatalog.jobs_per_stmt", d("jobs"))
          add(out, s"pgwire.jobs_per_stmt.${op.id}", d("jobs"))
        } else {
          val sql = op.node.get("replay_sql").asText()
          var jobs = 0.0
          val (client, (rows, _), replay, _) = bothWays(rep) {
            drain(spark)
            val before = snap(counters)
            val r = statement(op, conns(0))
            drain(spark)
            jobs = delta(before, snap(counters))("jobs")
            r
          }(span("replay.statement")(coreLayers(replaySession, sql, out)(_.collect())))
          add(out, s"pgwire.jobs_per_stmt.${op.id}", jobs)
          if (op.kind == "short") {
            add(out, "frontend.overhead_ms", client - replay)
            add(out, s"pgwire.overhead_ms.${op.id}", client - replay)
            drain(spark)
            val referenced = op.node.get("tables").elements().asScala.map(t => tableRows(t.asText())).sum
            add(out, "scan.read_ratio", scanRows(last.plan) / referenced)
          } else {
            add(out, s"pgwire.${if (op.kind == "wide_rows") "datarow" else "copy"}_ns_per_row",
              (client - replay) * 1e6 / rows)
          }
        }
      }
    }
  }

  /** Two real PostgreSQL shards: the CLI federate path, partitioned
    * gathers and a scatter publish.
    */
  final class Federate(c: JsonNode) extends Workload(c) {
    private val shards = conf.get("shards").elements().asScala.map(s =>
      (s.get("host").asText(), s.get("port").asInt(), s.get("log").asText())).toVector
    private val source = conf.get("source").asText()
    private val gatherCols = conf.get("gather_columns").elements().asScala.map(_.asText()).toVector
    private val pubTable = conf.get("publish_table").asText()

    def setup(): Unit = {
      spark = newSession()
      span("core.addParquetTable")(Core.addParquetTable(spark, "orders_src", Seq(source)))
      ()
    }

    def cli(sql: String): String = {
      val bos = new ByteArrayOutputStream()
      val ps = new PrintStream(bos, true, "UTF-8")
      val args = Seq("federate") ++ shards.flatMap { case (h, p, _) => Seq("--pg", s"$h:$p") } ++
        Seq("--dbtable", "orders", "--table-name", "orders", sql)
      val code = span("cli.federate")(Cli.run(args, spark, ps))
      ps.flush()
      if (code != 0) throw new IllegalStateException(s"federate exited $code: ${bos.toString("UTF-8")}")
      bos.toString("UTF-8")
    }

    val probeMs = ArrayBuffer.empty[Double]

    def gather(where: String, viaCopy: Boolean): (Long, Any) = {
      val legs = shards.map { case (h, p, _) =>
        val t0 = System.nanoTime()
        val df = span("fed.pgTable")(PgFederation.pgTable(spark, h, p, "orders", gatherCols,
          "o_orderkey", math.max(1, cpus / shards.size), Some(where), viaCopy = viaCopy))
        if (tracing) probeMs.synchronized(probeMs += ms(t0))
        df
      }
      val u = span("fed.unionShards")(Federation.unionShards(legs))
      val r = span("core.collect")(u.selectExpr("count(*)", "sum(o_totalprice)", "sum(o_custkey)",
        "sum(o_orderkey)").collect()(0))
      (r.getLong(0), Seq(r.toSeq.map(v => if (v == null) null else v.toString)))
    }

    def remote(sql: String): Seq[Seq[String]] = shards.flatMap { case (h, p, _) =>
      val c = new PgClient(h, p)
      try c.query(sql)._2 finally c.close()
    }

    def publish(): (Long, Any) = {
      remote(s"TRUNCATE $pubTable")
      val df = spark.table("orders_src")
      val n = span("fed.writeShards")(PgFederation.writeShards(df,
        shards.map { case (h, p, _) => PgFederation.Shard(h, p, pubTable) }, cpus))
      (n, n)
    }

    def run(op: Op, conn: Int): (Long, Any) = op.kind match {
      case "fed_query" => (0L, parsePretty(cli(op.str("sql"))))
      case "gather_rows" => gather(op.str("where"), viaCopy = false)
      case "gather_copy" => gather(op.str("where"), viaCopy = true)
      case "publish" => publish()
    }

    /** A publish is checked by asking the shards themselves. */
    override def checked(op: Op, result: Any): Any =
      if (op.kind != "publish") result
      else Seq(result, remote(s"SELECT count(*), count(DISTINCT o_orderkey), sum(o_orderkey), " +
        s"sum(o_orderkey::numeric * o_orderkey), sum(o_totalprice::numeric) FROM $pubTable"))

    def statementsLogged(): Long = shards.map { case (_, _, log) =>
      scala.io.Source.fromFile(log, "UTF-8").getLines().count(_.contains("statement: ")).toLong
    }.sum

    def layers(counters: Counters, out: scala.collection.mutable.Map[String, ArrayBuffer[Double]]): Unit = {
      probeMs.foreach(add(out, "fed.probe_ms", _))
      val last = new LastPlan
      spark.listenerManager.register(last)
      for (op <- roundOps.filter(_.kind == "fed_query")) {
        val logged = statementsLogged()
        cli(op.str("sql"))
        add(out, "fed.remote_stmts_per_query", (statementsLogged() - logged).toDouble)
      }
      for (op <- roundOps.filter(_.kind == "fed_query"); rep <- 0 until 3) {
        val sql = op.str("sql")
        val (client, _, replay, _) = bothWays(rep)(cli(sql))(span("replay.federate") {
          val legs = shards.map { case (h, p, _) =>
            val r0 = System.nanoTime()
            val leg = span("fed.pgTableWhole")(PgFederation.pgTableWhole(spark, h, p, "orders"))
            add(out, "fed.probe_ms", ms(r0))
            add(out, "core.register_ms", ms(r0))
            leg
          }
          span("fed.unionShards")(Federation.unionShards(legs)).createOrReplaceTempView("orders")
          coreLayers(spark, sql, out)(df => Core.pretty(df, 20))
        })
        drain(spark)
        add(out, "frontend.overhead_ms", client - replay)
        val shipped = scanRows(last.plan).toDouble
        val matched = op.node.get("matched_rows").asDouble()
        add(out, "fed.rows_shipped_per_row_matched", shipped / math.max(matched, 1.0))
        add(out, "scan.read_ratio", shipped / math.max(matched, 1.0))
      }
    }
  }

  // ---- the loop ---------------------------------------------------

  var roundOps: Vector[Op] = Vector.empty

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val conf = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(args(0))))
    val launchMs = conf.get("launch_ms").asLong()
    val seconds = conf.get("seconds").asDouble()
    val trace = conf.get("trace").asBoolean()
    roundOps = conf.get("round").elements().asScala.map(n =>
      Op(n.get("id").asText(), n.get("kind").asText(), n)).toVector
    val wl: Workload = conf.get("workload").asText() match {
      case "csv_exec" => new CsvExec(conf)
      case "pg_serve" => new PgServe(conf)
      case "federate" => new Federate(conf)
    }
    tracing = trace
    wl.setup()
    val readyS = (System.currentTimeMillis() - launchMs) / 1000.0
    wl match { case s: PgServe => s.connect(); case _ => () }

    val recs = new ConcurrentLinkedQueue[Rec]()
    val counters = new Counters
    val chunkCounters = ArrayBuffer.empty[Map[String, Any]]

    def runOp(op: Op, conn: Int, round: Int, phase: String): Unit = {
      val t0 = System.nanoTime()
      var t1 = 0L
      val (rows, result, err) =
        try {
          val (r, res) = span(s"op.${op.kind}")(wl.run(op, conn))
          t1 = System.nanoTime()
          (r, wl.checked(op, res), null)
        } catch { case NonFatal(e) => (0L, null, s"${e.getClass.getName}: ${e.getMessage}") }
      if (t1 == 0L) t1 = System.nanoTime()
      recs.add(Rec(op.id, op.kind, conn, round, phase, t0, t1 - t0, rows, result, err))
    }

    def runRound(conn: Int, round: Int, phase: String): Unit = {
      val n = roundOps.size
      // each connection starts its round at its own offset, so the
      // connections do not all send the wide results at once
      val start = (conn * n) / math.max(wl.clients, 1)
      for (i <- 0 until n) runOp(roundOps((start + i) % n), conn, round, phase)
    }

    /** Closed loop: every client runs whole rounds until the deadline
      * (at least one), and reports its own window and operation count.
      */
    val windows = new ConcurrentLinkedQueue[Map[String, Any]]()
    def loop(secs: Double, phase: String, firstRound: Int): Unit = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val threads = (0 until wl.clients).map { conn =>
        val t = new Thread(() => {
          val t0 = System.nanoTime()
          var r = firstRound
          do { runRound(conn, r, phase); r += 1 }
          while (System.nanoTime() < deadline)
          windows.add(Map("conn" -> conn, "phase" -> phase, "seconds" -> (System.nanoTime() - t0) / 1e9,
            "ops" -> (r - firstRound) * roundOps.size))
          ()
        }, s"perfbench-client-$conn")
        t.start()
        t
      }
      threads.foreach(_.join())
    }

    // The first operation alone in the fresh JVM is the cold one. Then
    // the clients warm up with whole rounds until every operation has
    // run at least twice. The warm-up is a fixed amount of work, not a
    // time: a time-based one ends after one round in some runs and two
    // in others, and the JVM still warming up shows in the next window.
    runOp(roundOps.head, 0, 0, "cold")
    val warmRounds = (wl.clients + 1) / wl.clients // ceil(2 / clients)
    for (r <- 1 to warmRounds) loop(0, "warmup", r)

    if (!trace) loop(seconds, "measure", warmRounds + 1)
    else {
      // untraced and traced chunks in ABBA order, so that a JVM still
      // warming up favours neither; the listener counts only in traced
      // chunks
      for ((traced, chunk) <- Seq(false, true, true, false).zipWithIndex) {
        val phase = if (traced) "traced" else "untraced"
        tracing = traced
        if (traced) wl.spark.sparkContext.addSparkListener(counters)
        drain(wl.spark)
        val before = snap(counters)
        loop(seconds / 4, phase, (chunk + 1) * 10000)
        drain(wl.spark)
        if (traced) {
          chunkCounters += delta(before, snap(counters))
          wl.spark.sparkContext.removeSparkListener(counters)
        }
      }
    }
    // Spark caches generated code per query, so after the first round
    // nothing compiles; codegen is counted over every operation run
    val codegenTotal = Map("codegen_ms" -> codegenMs(), "ops" -> recs.size)

    val layerSamples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    if (trace) {
      tracing = true
      wl.spark.sparkContext.addSparkListener(counters)
      wl.layers(counters, layerSamples)
      wl.spark.sparkContext.removeSparkListener(counters)
    }

    // set-up timed again, three times, in the warm JVM: setup_s is the median
    wl.teardown()
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      val s = ms(t0) / 1000.0
      wl.teardown()
      s
    }
    wl match {
      case s: PgServe if trace => s.registerMs.foreach(add(layerSamples, "core.register_ms", _))
      case _ => ()
    }

    val opsOut = recs.asScala.toSeq.sortBy(_.startNs).map { r =>
      Map("id" -> r.id, "kind" -> r.kind, "conn" -> r.conn, "round" -> r.round, "phase" -> r.phase,
        "start_ms" -> (r.startNs - mainNs) / 1e6, "ms" -> r.ns / 1e6, "rows" -> r.rows,
        "result" -> r.result, "error" -> r.error)
    }
    val result = Map(
      "ready_s" -> readyS,
      "setup_s" -> setups,
      "peak_rss_kb" -> peakRssKb(),
      "windows" -> windows.asScala.toSeq,
      "codegen_total" -> codegenTotal,
      "ops" -> opsOut,
      "traced_counters" -> chunkCounters,
      "layers" -> layerSamples)
    Files.write(Paths.get(conf.get("out").asText()), json(result).getBytes(UTF_8))
    if (trace) {
      val sp = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(conf.get("spans").asText()), sp.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
