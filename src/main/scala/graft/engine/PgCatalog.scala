package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.types._

/** Minimal pg_catalog emulation for the pgwire sink: answers the
  * handful of introspection queries psql's `\dt`/`\dv`/`\d <table>`
  * expand to, synthesized from the Spark session catalog (the same
  * data CatalogSpec already proves SHOW TABLES / DESCRIBE expose).
  * The reference inherits this from datafusion-postgres' catalog
  * emulation (`/root/reference/csvb_engine/src/lib.rs:22` enables
  * `information_schema`); here the psql-visible surface is matched
  * query-shape by query-shape instead of embedding a pg parser —
  * psql's describe queries are stable, versioned SQL (psql 15
  * observed live), so shape-matching is the proportionate shim.
  *
  * Scope: relation listings (`\dt`, `\dv`, any relkind subset), the
  * `\d <pattern>` oid lookup + pg_class detail row + pg_attribute
  * column list (Spark types rendered as pg type names), and EMPTY
  * results for the footer queries a `\d` fans out afterwards
  * (inheritance, constraints, indexes, triggers, policies, extended
  * stats, publications — none of which have Spark analogs). Unknown
  * pg_catalog shapes fall through to the engine, whose parse error
  * reaches the client unchanged — loud, not silently empty.
  *
  * One instance per connection: oids are assigned lazily per table
  * name (16384+k in first-seen order) and looked back up when psql
  * echoes them in follow-up queries, so the instance must live
  * exactly as long as the session that handed the oids out.
  */
private[engine] final class PgCatalog(session: SparkSession) {

  private val oids = mutable.LinkedHashMap.empty[String, Int]

  private def oidOf(name: String): Int =
    oids.getOrElseUpdate(name, 16384 + oids.size)

  private def nameOf(oid: Int): Option[String] =
    oids.collectFirst { case (n, o) if o == oid => n }

  private def str(n: String) = StructField(n, StringType)
  private def int(n: String) = StructField(n, IntegerType)
  private def bool(n: String) = StructField(n, BooleanType)

  /** (name, relkind) for every visible table/view: permanent tables
    * are 'r', temp/permanent views 'v' — the two kinds Spark has.
    * Read from the session catalog itself: `session.catalog
    * .listTables()` plans a SHOW TABLES command and collects it with
    * a Spark job, which queues for the task slots behind real scans.
    * `getTablesByName` skips a table another connection dropped since
    * the listing, so a concurrent DROP cannot fail the listing.
    */
  private def relations(): Seq[(String, String)] = {
    val cat = session.sessionState.catalog
    val (temp, permanent) = cat.listTables(cat.getCurrentDatabase).partition(cat.isTempView)
    val tables = cat.getTablesByName(permanent).map { t =>
      (t.identifier.table, if (t.tableType == CatalogTableType.VIEW) "v" else "r")
    }
    (temp.map(id => (id.table, "v")) ++ tables).sortBy(_._1)
  }

  /** Spark type → pg type name, the `format_type` rendering `\d`
    * shows in its Type column.
    */
  private[engine] def pgTypeName(dt: DataType): String = dt match {
    case BooleanType          => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType          => "integer"
    case LongType             => "bigint"
    case FloatType            => "real"
    case DoubleType           => "double precision"
    case d: DecimalType       => s"numeric(${d.precision},${d.scale})"
    case DateType             => "date"
    case TimestampType        => "timestamp without time zone"
    case TimestampNTZType     => "timestamp without time zone"
    case BinaryType           => "bytea"
    case StringType           => "text"
    case other                => other.simpleString
  }

  private val RelkindIn = """relkind IN \(([^)]*)\)""".r.unanchored
  private val NamePattern =
    """relname OPERATOR\(pg_catalog\.~\) '([^']*)'""".r.unanchored
  private val OidEq = """(?:attrelid|c\.oid|oid) = '?(\d+)'?""".r.unanchored

  /** Try to answer `sql` as one of the known psql introspection
    * shapes; None = not a shape we emulate (caller falls through to
    * the engine).
    */
  def answer(sql: String): Option[(StructType, Seq[Row])] = {
    if (!sql.contains("pg_catalog")) return None

    // psql \dt / \dv / \dm ...: relation listing with a relkind set
    if (sql.contains("pg_class") && sql.contains("\"Schema\"")) {
      val kinds: Set[String] = RelkindIn.findFirstMatchIn(sql)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSet)
        .getOrElse(Set("r", "v", "p"))
      val typeName = Map("r" -> "table", "v" -> "view", "p" -> "partitioned table")
      val rows = relations().collect {
        case (name, kind) if kinds.contains(kind) =>
          Row("public", name, typeName.getOrElse(kind, "table"), "graft")
      }
      return Some((StructType(Seq(str("Schema"), str("Name"), str("Type"), str("Owner"))), rows))
    }

    // psql \dn: schema listing — Spark's default database presents
    // as the single 'public' namespace
    if (sql.contains("pg_namespace") && !sql.contains("pg_class")) {
      return Some((StructType(Seq(str("Name"), str("Owner"))), Seq(Row("public", "graft"))))
    }

    // \d <pattern> step 1: oid lookup by anchored name regex
    if (sql.contains("pg_class") && sql.contains("c.oid") && sql.contains("relname OPERATOR")) {
      val pat = NamePattern.findFirstMatchIn(sql).map(_.group(1).replace("''", "'"))
      val rows = pat.toSeq.flatMap { p =>
        val rx = try p.r catch {
          case _: java.util.regex.PatternSyntaxException => java.util.regex.Pattern.quote(p).r
        }
        relations().collect {
          case (name, _) if rx.pattern.matcher(name).find() =>
            Row(Integer.valueOf(oidOf(name)), "public", name)
        }
      }
      return Some((StructType(Seq(int("oid"), str("nspname"), str("relname"))), rows))
    }

    // \d step 2: the pg_class detail row (flags gate psql's footer
    // queries; everything Spark lacks reports false)
    if (sql.contains("relchecks") && sql.contains("relhasindex")) {
      val oid = OidEq.findFirstMatchIn(sql).map(_.group(1).toInt)
      val known = oid.flatMap(nameOf).isDefined
      val schema = StructType(Seq(
        int("relchecks"), str("relkind"), bool("relhasindex"), bool("relhasrules"),
        bool("relhastriggers"), bool("relrowsecurity"), bool("relforcerowsecurity"),
        bool("relhasoids"), bool("relispartition"), str("reltypename"),
        int("reltablespace"), str("reloftype"), str("relpersistence"),
        str("relreplident"), str("amname")))
      val rows = if (known)
        Seq(Row(Integer.valueOf(0), "r", false, false, false, false, false, false, false,
          "", Integer.valueOf(0), "", "p", "d", null))
      else Seq.empty
      return Some((schema, rows))
    }

    // \d step 3: the column list from pg_attribute
    if (sql.contains("pg_attribute") && sql.contains("attname")) {
      val cols = for {
        oid <- OidEq.findFirstMatchIn(sql).map(_.group(1).toInt).toSeq
        name <- nameOf(oid).toSeq
        f <- session.table(name).schema.fields
      } yield Row(f.name, pgTypeName(f.dataType), null,
        Boolean.box(!f.nullable), null, "", "")
      return Some((StructType(Seq(
        str("attname"), str("format_type"), str("attrdef"), bool("attnotnull"),
        str("attcollation"), str("attidentity"), str("attgenerated"))), cols))
    }

    // \d footer fan-out: features with no Spark analog answer empty
    val emptyShapes = Seq("pg_inherits", "pg_constraint", "pg_index", "pg_trigger",
      "pg_rewrite", "pg_policy", "pg_policies", "pg_statistic_ext", "pg_publication",
      "pg_rules", "pg_depend", "pg_attrdef", "pg_description")
    if (emptyShapes.exists(sql.contains))
      return Some((StructType(Seq(str("x"))), Seq.empty))

    None
  }
}
