package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.HttpFs

/** Session + catalog glue — the Spark-native analog of the reference
  * engine core (see `/root/reference/csvb_engine/src/lib.rs:13-31`:
  * session construction with information_schema + a greedy memory
  * pool; here: a `SparkSession` with UTC, AQE, and a bounded shuffle
  * partition count — Spark's `UnifiedMemoryManager` replaces the
  * greedy pool, see SURVEY.md §4).
  *
  * Scale notes (100 TB design point):
  *  - shuffle partitions default to the local core count for tests;
  *    on a real cluster this is AQE-coalesced from a high initial
  *    count, so we leave `spark.sql.adaptive.enabled=true`.
  *  - no driver-side state is kept here beyond the catalog names.
  */
object Core {

  /** Build the standard session. `cpus` mirrors the harness contract
    * (`local[$SPARK_GRAFT_CPUS]`, shuffle.partitions = cpus).
    */
  def session(appName: String = "graft", cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // keep wide aggregates (128-col minhash) in whole-stage codegen
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Inference-time timestamp shape: date-anchored forms only (space
    * or `T` separator, optional seconds, optional fraction, optional
    * zone offset with or without colon). The point is what it
    * EXCLUDES — Spark's default lenient formatter accepts a bare
    * `12:34:56` and anchors it to the CURRENT date, so a Time32/64
    * -shaped CSV column (SURVEY §1.4's "avoid" type) would silently
    * become a timestamp whose date changes between runs. With the
    * explicit pattern (+ fallback parsing disabled) a time-of-day
    * column stays an untouched string — deterministic and lossless;
    * callers who want it typed cast explicitly.
    *
    * Accepted shapes (the explicit contract, pinned by CoreSpec):
    * `yyyy-MM-dd HH:mm[:ss]` with ` ` or `T` separator, optional
    * fraction of ANY width (Spark rewrites the `S` run to a
    * flexible-width fraction), optional `Z` / `+HH:MM` / `+HHMM`
    * offset. DEGRADES TO STRING (by design — lossless, cast to
    * recover): hour-only offsets (`+01`) and any other layout.
    * Known quirk of a
    * single-pattern contract: both separators are individually
    * optional, so the degenerate `2023-01-0203:04:05` (no separator)
    * also parses — accepted as harmless, since no real producer
    * emits it and the alternative is two inference passes. The
    * fraction nests INSIDE the optional seconds (r17 advice: a
    * trailing independent `[.SSSSSS]` made minute-precision values
    * with a fraction, `03:04.5`, parse with the fraction applied to
    * second 0 — an accidental shape no producer emits; nested, it
    * degrades to string like every other unsupported layout).
    */
  private val CsvTimestampPattern =
    "yyyy-MM-dd[ ]['T']HH:mm[:ss[.SSSSSS]][XXX][XX]"

  /** The one CSV read contract, shared by [[addCsvTable]] and
    * `Serve.registerShared`'s `CREATE TABLE … OPTIONS`: header +
    * schema inference over every file, [[CsvTimestampPattern]] with
    * the lenient fallback off, and the reference's `.csv` extension
    * filter for directories — except when every path is an http(s)
    * URL, which names one object ([[graft.sources.GraftHttpFileSystem]]
    * has no listing), so the filter could only drop an extensionless
    * or query-string URL. A binding that mixes local paths and URLs
    * keeps the filter, as the reference does.
    */
  private[engine] def csvOptions(paths: Seq[String]): Map[String, String] = {
    val opts = Map(
      "header" -> "true",
      "inferSchema" -> "true",
      "timestampFormat" -> CsvTimestampPattern,
      "enableDateTimeParsingFallback" -> "false")
    if (paths.forall(HttpFs.isHttp)) opts else opts + ("pathGlobFilter" -> "*.csv")
  }

  /** Register N CSV files/dirs/URLs as ONE named table — the
    * reference's multi-path "listing table"
    * (`csvb_engine/src/lib.rs:33-85`) read under [[csvOptions]].
    * Spark's reader unions the paths under one scan with
    * split-parallel reads, so Catalyst can push filters and
    * projections into it. The schema is inferred over all files (a
    * superset of the reference's infer-from-the-first-path, pinned by
    * CoreSpec). http(s) paths read through the ranged HTTP
    * FileSystem; two or more URLs first have their header lines
    * compared ([[HttpFs.requireSameCsvHeader]]).
    *
    * Schema reuse: the reference infers once, when it registers the
    * table, and every later query reuses that schema. Here each call
    * re-registers, so the inferred schema is kept (see [[csvSchemaKey]])
    * and a binding whose key is unchanged reads with it, running no
    * inference job. A file counts as unchanged when its length and
    * modification time are both unchanged (the rule `make` and
    * `rsync` use); adding or deleting a file, or changing any session
    * conf, re-infers. A binding with an http(s) path infers on every
    * call: a URL has no listing or modification time. The key costs
    * one metadata listing per call, hit or miss, which reads only each
    * file's length and modification time ([[csvSchemaKey]]).
    */
  def addCsvTable(spark: SparkSession, name: String, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "No sources provided")
    HttpFs.registerIfHttp(spark, paths)
    HttpFs.requireSameCsvHeader(name, paths)
    // the key is taken BEFORE the read: a file that changes between
    // the two then only leaves an entry no later listing can match
    val key = csvSchemaKey(spark, paths)
    val reader = spark.read.options(csvOptions(paths))
    val df = key.flatMap(csvSchemas.get) match {
      case Some(schema) => reader.schema(schema).csv(paths: _*)
      case None =>
        val inferred = reader.csv(paths: _*)
        key.foreach(csvSchemas.put(_, inferred.schema))
        inferred
    }
    df.createOrReplaceTempView(name)
    df
  }

  /** What CSV schema inference depends on: the path list (which also
    * fixes [[csvOptions]]), every file under those paths as
    * `(path, length, modificationTime)` — listed recursively with no
    * extension filter, a superset of what Spark reads — and the
    * session's SQL confs (`spark.sql.timestampType` and the like).
    */
  private[engine] final case class CsvSchemaKey(paths: Seq[String],
      files: Seq[(String, Long, Long)], confs: Map[String, String])

  /** The key for `paths`, or None where no schema may be reused: an
    * http(s) path, a path that matches nothing, or a listing that
    * fails — Spark's own read then raises what it raises today
    * (PATH_NOT_FOUND for a missing path).
    *
    * The walk is `globStatus` then a recursive `listStatus`, the same
    * file set as a recursive `listFiles`. `listFiles` builds a
    * `LocatedFileStatus` per file, which reads the file's permission,
    * and the local FileSystem without native IO forks `ls -ld` for
    * that: about 3 ms per file on every call, hit or miss. Only
    * length and modification time are read here, as Spark's own
    * `InMemoryFileIndex` listing does.
    */
  private[engine] def csvSchemaKey(spark: SparkSession, paths: Seq[String]): Option[CsvSchemaKey] =
    if (paths.exists(HttpFs.isHttp)) None
    else try {
      import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
      val conf = spark.sessionState.newHadoopConf()
      val roots = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        fs -> Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      }
      // as `listFiles(_, recursive = true)`: a file is a leaf, anything
      // else is listed
      def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
        if (st.isFile) Seq(st) else fs.listStatus(st.getPath).toSeq.flatMap(leaves(fs, _))
      if (roots.exists(_._2.isEmpty)) None
      else {
        val files = roots.flatMap { case (fs, matched) =>
          matched.flatMap(leaves(fs, _))
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        }.sorted
        Some(CsvSchemaKey(paths.toVector, files, spark.sessionState.conf.getAllConfs))
      }
    } catch { case _: java.io.IOException => None }

  /** Inferred CSV schemas by [[CsvSchemaKey]]: an access-ordered LRU
    * of 64 entries. Every access holds the map's lock, since
    * `Cli.run` may be called from several threads.
    */
  private object csvSchemas {
    private val MaxEntries = 64
    private val lru = new java.util.LinkedHashMap[CsvSchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CsvSchemaKey, StructType]): Boolean = size() > MaxEntries
    }
    def get(k: CsvSchemaKey): Option[StructType] = lru.synchronized(Option(lru.get(k)))
    def put(k: CsvSchemaKey, s: StructType): Unit = lru.synchronized { lru.put(k, s); () }
  }

  /** Register one-or-more parquet paths as a named table. */
  def addParquetTable(spark: SparkSession, name: String, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "No sources provided")
    HttpFs.registerIfHttp(spark, paths)
    val df = spark.read.parquet(paths: _*)
    df.createOrReplaceTempView(name)
    df
  }

  /** Register JSON-lines paths as a named table (schema-on-read —
    * one inference pass, then a pinned-schema distributed scan).
    */
  def addJsonTable(spark: SparkSession, name: String, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "No sources provided")
    HttpFs.registerIfHttp(spark, paths)
    val df = spark.read.json(paths: _*)
    df.createOrReplaceTempView(name)
    df
  }

  /** Register ORC paths as a named table (columnar like parquet;
    * predicate pushdown and column pruning apply identically).
    */
  def addOrcTable(spark: SparkSession, name: String, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "No sources provided")
    HttpFs.registerIfHttp(spark, paths)
    val df = spark.read.orc(paths: _*)
    df.createOrReplaceTempView(name)
    df
  }

  /** Execute SQL — the single delegation point, mirroring the
    * reference's one-call-site execute (`csvb_engine/src/lib.rs:87-89`
    * delegates everything to the underlying engine; here Catalyst).
    * One statement form is handled BEFORE delegation: `COPY ... TO`,
    * which Spark's parser lacks but the reference reaches through raw
    * DataFusion SQL (SURVEY §2.1) — recognized here and routed to the
    * [[copyTo]] sink, so CLI `exec` and pgwire clients can export
    * with the same statement they'd use against the reference.
    */
  /** Per-table write-commit serialization shared by EVERY server-side
    * append path — pgwire COPY FROM STDIN and SQL `INSERT INTO` alike:
    * two concurrent appends into one parquet-backed table race in the
    * location's shared `_temporary` staging dir (job A's commit
    * cleanup can delete job B's in-flight task files — lost rows or a
    * commit failure). Keyed by the lower-cased table reference; two
    * different spellings of one table (qualified vs bare) would
    * bypass each other, which matches the session resolver's own
    * ambiguity and is documented rather than chased.
    */
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withTableWriteLock[T](table: String)(f: => T): T =
    writeLocks.computeIfAbsent(table.toLowerCase(java.util.Locale.ROOT).replace("`", ""),
      _ => new Object).synchronized(f)

  // identifier: dotted bare parts and/or backquoted parts (a
  // backquoted name may hold spaces/dashes — `my-tbl` must capture
  // whole, not stop at the dash). Both INTO and OVERWRITE admit the
  // optional TABLE keyword (`INSERT INTO TABLE t` is valid Spark SQL
  // — without this the word TABLE itself was captured as the target,
  // keying the lock on the wrong name and refreshing a nonexistent
  // relation).
  private val WriteTargetRe =
    java.util.regex.Pattern.compile(
      "(?is)^\\s*(?:INSERT\\s+(?:INTO|OVERWRITE)(?:\\s+TABLE)?|TRUNCATE\\s+TABLE)\\s+" +
        "((?:`[^`]+`|[\\w.])+)")

  /** Skip a leading `WITH cte AS (...)[, ...]` prefix (Spark allows
    * CTEs before INSERT) so [[writeTarget]] sees the INSERT itself.
    * A paren-depth scan that respects single-quoted strings (with ''
    * escapes), backquoted identifiers, and -- / &#47;* comments; at
    * depth 0 the first INSERT keyword marks the statement. Returns
    * `sql` unchanged when it doesn't start with WITH or no top-level
    * INSERT exists (a CTE'd SELECT is not a write).
    *
    * Config assumption: the quote-skipping below matches Spark's
    * DEFAULT lexer (escapedStringLiterals=false, non-ANSI), where
    * backslash escapes inside string literals. Under
    * `spark.sql.parser.escapedStringLiterals=true` (or ANSI
    * double-quoted identifiers) backslash is literal and `'a\'`
    * CLOSES at the quote — this scanner would overshoot and could
    * miss a real INSERT target. All in-repo callers run the default
    * lexer; revisit (branch on the session conf) before using
    * writeTarget to guard locks under non-default parser settings.
    */
  private def afterCtePrefix(sql: String): String = {
    if (!sql.stripLeading().regionMatches(true, 0, "WITH", 0, 4)) return sql
    // SQL identifier char: underscore counts — `my_insert_x` must NOT
    // present an "insert" word boundary at its underscores
    def ident(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    val s = sql; val n = s.length
    var i = 0; var depth = 0
    while (i < n) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case '\'' =>
          i += 1
          while (i < n && !(s.charAt(i) == '\'' &&
            (i + 1 >= n || s.charAt(i + 1) != '\''))) {
            // Spark's default (non-ANSI) lexer also treats backslash
            // as an escape — \' must not close the literal
            if (s.charAt(i) == '\'' || s.charAt(i) == '\\') i += 2 else i += 1
          }
          i += 1
        case '"' => // Spark double-quoted string literal (\" escapes)
          i += 1
          while (i < n && s.charAt(i) != '"') {
            if (s.charAt(i) == '\\') i += 2 else i += 1
          }
          i += 1
        case '`' =>
          i += 1
          while (i < n && s.charAt(i) != '`') i += 1
          i += 1
        case '-' if i + 1 < n && s.charAt(i + 1) == '-' =>
          while (i < n && s.charAt(i) != '\n') i += 1
        case '/' if i + 1 < n && s.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < n && !(s.charAt(i) == '*' && s.charAt(i + 1) == '/')) i += 1
          i += 2
        case c if depth == 0 && (c == 'i' || c == 'I') &&
            s.regionMatches(true, i, "INSERT", 0, 6) &&
            (i == 0 || !ident(s.charAt(i - 1))) &&
            (i + 6 >= n || !ident(s.charAt(i + 6))) =>
          return s.substring(i)
        case _ => i += 1
      }
    }
    sql
  }

  /** The table a statement WRITES (INSERT INTO/OVERWRITE, TRUNCATE
    * TABLE), if `sql` is one — shared by the write-lock wrap here and
    * pgwire's cross-session cache invalidation (TRUNCATE included:
    * another session's cached listing of deleted files would
    * otherwise throw on its next read instead of seeing 0 rows).
    * Tolerates the optional TABLE keyword and a leading CTE clause —
    * both valid Spark INSERT spellings that previously bypassed the
    * per-table commit lock and cross-connection invalidation.
    */
  def writeTarget(sql: String): Option[String] = {
    val m = WriteTargetRe.matcher(afterCtePrefix(sql))
    if (m.find()) Some(m.group(1)) else None
  }

  def execute(spark: SparkSession, sql: String): DataFrame =
    parseCopyTo(sql) match {
      case Some((source, path, format, header)) =>
        val df = source match {
          case Left(query) => spark.sql(query)
          case Right(tbl)  => spark.table(tbl)
        }
        copyTo(df, path, format, header)
        spark.emptyDataFrame // schema-free command frame → "COPY" tag
      case None => parseExplainAnalyze(sql) match {
        case Some(inner) => explainAnalyze(spark, inner)
        case None =>
          if (InfoSchemaRef.matcher(sql).find()) refreshInformationSchema(spark)
          // SQL write commands (INSERT, TRUNCATE) execute eagerly
          // inside spark.sql — serialize them per target table with
          // the COPY-IN commits
          writeTarget(sql) match {
            case Some(t) => withTableWriteLock(t)(spark.sql(sql))
            case None    => spark.sql(sql)
          }
      }
    }

  /** `EXPLAIN ANALYZE <query>` — the reference reaches DataFusion's
    * runtime-metrics explain through its one SQL delegation point
    * (`csvb_engine/src/lib.rs:87-89`), so a pgwire/CLI user types it
    * as plain SQL. Spark's parser has no ANALYZE form; [[execute]]
    * intercepts the statement, runs the inner query ONCE (streamed,
    * bounded memory — [[Analyze.run]]), and returns the per-operator
    * metric lines as a one-column result set, the same presentation
    * shape as Spark's own `EXPLAIN`.
    */
  private val ExplainAnalyzeRe =
    java.util.regex.Pattern.compile("(?is)^\\s*EXPLAIN\\s+ANALYZE\\s+(.+)$")

  // `EXPLAIN ANALYZE TABLE t COMPUTE STATISTICS` is Spark's own valid
  // statement (EXPLAIN of the ANALYZE TABLE command) and must reach
  // Spark's parser untouched — but `TABLE t` ALONE is a query
  // (SELECT * shorthand) whose runtime metrics we do serve, so the
  // exclusion keys on the COMPUTE STATISTICS clause, not on TABLE
  private val AnalyzeTableCmd =
    java.util.regex.Pattern.compile("(?is)^TABLES?\\b.*\\bCOMPUTE\\s+STATISTICS.*$")

  private def parseExplainAnalyze(sql: String): Option[String] = {
    val m = ExplainAnalyzeRe.matcher(sql)
    if (!m.matches()) None
    else {
      val inner = m.group(1).trim
      if (AnalyzeTableCmd.matcher(inner).matches()) None else Some(inner)
    }
  }

  private def explainAnalyze(spark: SparkSession, inner: String): DataFrame = {
    import org.apache.spark.sql.types._
    if (InfoSchemaRef.matcher(inner).find()) refreshInformationSchema(spark)
    val df = spark.sql(inner)
    val (_, n, report) = Analyze.run(df, 0) // metrics only; rows drain through the noop capture
    val lines = (report.linesIterator.toSeq :+ s"rows: $n").map(org.apache.spark.sql.Row(_))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(lines).asJava),
      StructType(Seq(StructField("plan_with_metrics", StringType))))
  }

  private val InfoSchemaRef = java.util.regex.Pattern.compile(
    "(?i)information_schema\\s*\\.\\s*(tables|columns)")

  /** The table names a query statement reads, lower-cased (the last
    * part of each multi-part name), so a front end can register only
    * those of its sources. `None` means "cannot tell: register every
    * source": the statement does not parse (`COPY … TO`, `EXPLAIN
    * ANALYZE`), is a command rather than a query (SHOW TABLES,
    * DESCRIBE, INSERT, CTAS, EXPLAIN, …), names a table through
    * `IDENTIFIER(...)` or a string (`EXECUTE IMMEDIATE`), or reads
    * information_schema, which lists every table.
    *
    * The walk covers the plan, its subquery expressions and each
    * node's `innerChildren`, where the parser keeps CTE bodies. It may
    * over-include (a CTE named like a table adds that table), never
    * under-include.
    */
  def tablesNamed(spark: SparkSession, sql: String): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier,
      UnresolvedExecuteImmediate, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement}
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    if (InfoSchemaRef.matcher(sql).find()) None
    else scala.util.Try(spark.sessionState.sqlParser.parsePlan(sql)).toOption.flatMap { plan =>
      val names = Set.newBuilder[String]
      var opaque = false
      def walk(p: LogicalPlan): Unit = p.foreachWithSubqueries { node =>
        node match {
          case r: UnresolvedRelation => names += lower(r.multipartIdentifier.last)
          case _: PlanWithUnresolvedIdentifier | _: UnresolvedExecuteImmediate |
              _: Command | _: ParsedStatement =>
            opaque = true
          case _ =>
        }
        node.innerChildren.foreach {
          case c: LogicalPlan => walk(c)
          case _ =>
        }
      }
      walk(plan)
      if (opaque) None else Some(names.result())
    }
  }

  /** `information_schema.tables` / `.columns` as REAL queryable
    * tables — the reference enables DataFusion's information_schema
    * (`csvb_engine/src/lib.rs:22`), so `SELECT … FROM
    * information_schema.tables` is part of its SQL surface, joins and
    * all; `SHOW TABLES`/`DESCRIBE` alone don't give a client that.
    * Spark has no information_schema, so [[execute]] materializes a
    * snapshot into an actual `information_schema` database right
    * before any statement that references it, then delegates to the
    * engine — full SQL over the views (filters, joins, aggregates)
    * for free, always-current because every referencing statement
    * refreshes first. The snapshot is catalog-sized (rows = tables +
    * columns), so the overwrite is introspection-cost, not data-cost.
    */
  private def refreshInformationSchema(spark: SparkSession): Unit = synchronized {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")
    val current = spark.catalog.currentDatabase
    val tabs = spark.catalog.listTables().collect()
      .filterNot(t => Option(t.namespace).exists(_.contains("information_schema")))
    def str(n: String) = StructField(n, StringType)
    val tRows = tabs.map { t =>
      val schema = Option(t.namespace).filter(_.nonEmpty).map(_.mkString("."))
        .getOrElse(if (t.isTemporary) "session" else current)
      val tpe = if (t.tableType == "VIEW" || t.isTemporary) "VIEW" else "BASE TABLE"
      Row("spark_catalog", schema, t.name, tpe)
    }
    val cRows = tabs.flatMap { t =>
      val schema = Option(t.namespace).filter(_.nonEmpty).map(_.mkString("."))
        .getOrElse(if (t.isTemporary) "session" else current)
      try spark.table(t.name).schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
        Row("spark_catalog", schema, t.name, f.name, (i + 1).toLong,
          f.dataType.catalogString, if (f.nullable) "YES" else "NO")
      } catch { case scala.util.control.NonFatal(_) => Seq.empty[Row] } // unresolvable view: skip, don't fail
    }
    def save(rows: Seq[Row], schema: StructType, name: String): Unit = {
      // a previous PROCESS' managed-table files can survive in the
      // warehouse dir while this process' in-memory catalog has no
      // entry for them; saveAsTable then refuses the "existing
      // location". Orphaned location (no catalog entry) → delete it.
      if (!spark.catalog.tableExists(s"information_schema.$name")) {
        val db = new org.apache.hadoop.fs.Path(
          new java.net.URI(spark.catalog.getDatabase("information_schema").locationUri))
        val loc = new org.apache.hadoop.fs.Path(db, name)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      val l = new java.util.ArrayList[Row](rows.size)
      rows.foreach(r => l.add(r))
      spark.createDataFrame(l, schema).write.mode("overwrite")
        .saveAsTable(s"information_schema.$name")
    }
    save(tRows.toSeq, StructType(Seq(
      str("table_catalog"), str("table_schema"), str("table_name"), str("table_type"))),
      "tables")
    save(cRows.toSeq, StructType(Seq(
      str("table_catalog"), str("table_schema"), str("table_name"), str("column_name"),
      StructField("ordinal_position", LongType), str("data_type"), str("is_nullable"))),
      "columns")
  }

  /** Parse `COPY (<query>) TO '<path>' [(FORMAT f[, HEADER b])]` /
    * `COPY <table> TO '<path>' [...]` — the COPY-TO surface of
    * DuckDB/Postgres SQL. Returns (Left(query)|Right(table), path,
    * format, header); None when the statement is not a COPY TO (it
    * then goes to Spark's parser, whose error names the real
    * problem). Quote-aware: the subquery's parens balance across
    * string literals, and the path unescapes `''`.
    */
  private[engine] def parseCopyTo(
      sql: String): Option[(Either[String, String], String, String, Boolean)] = {
    val s = sql.trim
    if (!s.take(5).equalsIgnoreCase("COPY ") && !s.take(5).equalsIgnoreCase("COPY\t"))
      return None
    var i = 4
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    skipWs()
    if (i >= s.length) return None
    val source: Either[String, String] =
      if (s.charAt(i) == '(') { // balanced, quote-aware subquery
        var depth = 0
        var inSingle = false
        val start = i + 1
        var end = -1
        while (i < s.length && end < 0) {
          val c = s.charAt(i)
          if (inSingle) { if (c == '\'') inSingle = false }
          else if (c == '\'') inSingle = true
          else if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        if (end < 0) return None
        Left(s.substring(start, end))
      } else { // bare (possibly backquoted) table name
        val start = i
        while (i < s.length && !s.charAt(i).isWhitespace) i += 1
        Right(s.substring(start, i).stripPrefix("`").stripSuffix("`"))
      }
    skipWs()
    if (i + 2 > s.length || !s.substring(i, i + 2).equalsIgnoreCase("TO")) return None
    i += 2
    skipWs()
    if (i >= s.length || s.charAt(i) != '\'') return None
    i += 1
    val pb = new StringBuilder
    var closed = false
    while (i < s.length && !closed) {
      val c = s.charAt(i)
      if (c == '\'') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\'') { pb += '\''; i += 2 }
        else { closed = true; i += 1 }
      } else { pb += c; i += 1 }
    }
    if (!closed) return None
    skipWs()
    // optional (FORMAT f[, HEADER b]) options list, duckdb/pg style
    var format = "parquet"
    var header = true
    if (i < s.length && s.charAt(i) == '(') {
      val close = s.indexOf(')', i)
      if (close < 0) return None
      val opts = s.substring(i + 1, close)
      i = close + 1
      opts.split(',').map(_.trim).filter(_.nonEmpty).foreach { o =>
        val parts = o.split("\\s+")
        parts(0).toUpperCase match {
          case "FORMAT" if parts.length > 1 =>
            format = parts(1).stripPrefix("'").stripSuffix("'").toLowerCase
          case "HEADER" =>
            header = parts.length < 2 || parts(1).equalsIgnoreCase("true")
          case _ => return None // unknown option: not our statement shape
        }
      }
    }
    skipWs()
    if (i < s.length && s.charAt(i) == ';') i += 1
    skipWs()
    if (i != s.length) return None // trailing garbage: let Spark's parser complain
    Some((source, pb.toString, format, header))
  }

  /** Sink: write a result out — the reference's `COPY ... TO`
    * surface (also reachable as a SQL statement through [[execute]]).
    * Distributed write; `header` applies to csv only.
    */
  def copyTo(df: DataFrame, path: String, format: String = "parquet",
      header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).format(format).save(path)

  /** Easter egg — the reference ships one (`csvb/src/lib.rs:5-78`);
    * ours is original and about this engine.
    */
  def haiku: String =
    """columns of autumn —
      |a shuffle of falling leaves
      |sorted on the wind""".stripMargin

  /** Pretty-print a result like the reference's collect-then-format
    * sink (`csvb/src/lib.rs:101-113`). Bounded: takes the first
    * `maxRows` — never a full collect of an unbounded result.
    */
  def pretty(df: DataFrame, maxRows: Int = 100): String =
    prettyTable(df.columns.toSeq,
      df.take(maxRows).toSeq.map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)))

  /** Render pre-collected rows in the same +---+ box [[pretty]]
    * draws — shared with the `--analyze` path, which captures its
    * display rows out of the SAME execution it measures.
    */
  def prettyTable(header: Seq[String], rows: Seq[Seq[String]]): String = {
    val all = header +: rows
    val widths = header.indices.map(i => all.map(_(i).length).max)
    def line(ch: String) = widths.map(w => ch * (w + 2)).mkString("+", "+", "+")
    def fmt(r: Seq[String]) =
      r.zip(widths).map { case (v, w) => " " + v.padTo(w, ' ') + " " }.mkString("|", "|", "|")
    (Seq(line("-"), fmt(header), line("-")) ++ rows.map(r => fmt(r)) :+ line("-"))
      .mkString("\n")
  }
}
