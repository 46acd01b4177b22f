package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional dev-only filter: comma-separated query names as 3rd arg
    val only: Set[String] = rest.headOption.map(_.split(",").toSet).getOrElse(Set.empty)
    val spark = engine.Core.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(s"$outDir/oracle_sql.json")
    spark.stop()
  }

  /** Dump `SparkEntry.oracleSql` as JSON — shared by the driver dump
    * above and OracleBudgetSpec's suite-enforced budget gate.
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def writeOracleJson(path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
    ()
  }

  /** The DuckDB type family a Spark result column lands in — the
    * Spark half of the oracle TYPE gate (r19 verdict #2: the NB pair
    * was value-equal but HUGEINT-vs-BIGINT for two rounds because
    * nothing local compared physical types). `tools/check_types.py`
    * holds the compatibility rules; this just names the family.
    */
  def duckTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType      => "BIGINT"
      case IntegerType   => "INTEGER"
      case ShortType     => "SMALLINT"
      case ByteType      => "TINYINT"
      case DoubleType    => "DOUBLE"
      case FloatType     => "FLOAT"
      case _: StringType => "VARCHAR"
      case BooleanType   => "BOOLEAN"
      case DateType      => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BinaryType    => "BLOB"
      case ArrayType(e, _) => duckTypeOf(e) + "[]"
      // struct/map results: the checker only asserts the duck side is
      // the same container family — element drift is caught by the
      // value compare, and no current query emits one anyway
      case _: StructType => "ANY"
      case _: MapType    => "ANY"
      case other => "UNMAPPED:" + other.catalogString
    }
  }

  /** Dump every declared query's RESULT schema as
    * `{query: {column: duck-family}}` — the input
    * `tools/check_types.py` compares against `DESCRIBE <oracle>` in
    * DuckDB. Building a DataFrame is analysis-only for the lazy
    * builders; the side-channel producers must have run first (the
    * suite gate runs them), though the types — unlike the values —
    * are identical under the fallback dummy models too.
    */
  def writeSchemaJson(path: String, spark: SparkSession, sfDir: String): Unit = {
    def q(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cols = fn(spark, sfDir).schema.fields
        .map(f => s"${q(f.name)}: ${q(duckTypeOf(f.dataType))}")
        .mkString("{", ",", "}")
      s"${q(name)}: $cols"
    }
    Files.writeString(Paths.get(path), entries.mkString("{", ",", "}"))
    ()
  }
}
