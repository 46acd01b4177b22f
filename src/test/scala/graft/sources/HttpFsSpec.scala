package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The HTTP Hadoop-FileSystem surface: Spark's NATIVE readers over
  * ranged GETs — parquet (footer + column chunks as range reads,
  * pushdown intact), json lines, and the `LOCATION 'http://…'` DDL
  * route the reference serves through its object store
  * (`csvb_engine/src/lib.rs:54-88`).
  */
class HttpFsSpec extends SparkSpec {

  private var servers = List.empty[com.sun.net.httpserver.HttpServer]

  override def afterAll(): Unit = {
    servers.foreach(s => s.stop(0))
    super.afterAll()
  }

  private def serve(bytes: Array[Byte], path: String, honorRange: Boolean = true): String = {
    val (srv, url) = HttpFs.serveBytes(bytes, path, honorRange)
    servers ::= srv
    url
  }

  /** The single-file nation parquet bytes (coalesced copy of the
    * testdata table).
    */
  private lazy val nationParquet: Array[Byte] = {
    val dir = Files.createTempDirectory("httpfs-pq")
    spark.read.parquet(s"$Sf/nation.parquet").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/n")
    val f = Files.list(Paths.get(s"$dir/n")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.readAllBytes(Paths.get(f))
  }

  test("spark.read.parquet over http matches the local table, via 206 ranged reads") {
    val url = serve(nationParquet, "nation.parquet")
    HttpFs.register(spark)
    val got = spark.read.parquet(url)
      .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    val want = spark.read.parquet(s"$Sf/nation.parquet")
      .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("filter pushdown reaches the remote parquet scan") {
    val url = serve(nationParquet, "nation_pushdown.parquet")
    HttpFs.register(spark)
    val df = spark.read.parquet(url).filter(col("n_nationkey") < 5).select("n_name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), LessThan(n_nationkey,5)]"), plan)
    assert(plan.contains("ReadSchema") && !plan.contains("n_comment"), plan)
    assert(df.count() === 5)
  }

  test("spark.read.json over http parses line-delimited json") {
    val body = """{"id":1,"name":"a"}
{"id":2,"name":"b"}
{"id":3,"name":"c"}
""".getBytes(UTF_8)
    val url = serve(body, "rows.json")
    HttpFs.register(spark)
    val got = spark.read.json(url).orderBy("id")
      .collect().map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name"))))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("CREATE TABLE ... USING parquet LOCATION 'http://...' (the reference's DDL object-store route)") {
    val url = serve(nationParquet, "nation_ddl.parquet")
    HttpFs.register(spark)
    spark.sql("DROP TABLE IF EXISTS http_ddl_nation")
    graft.engine.Core.execute(spark,
      s"CREATE TABLE http_ddl_nation USING parquet LOCATION '$url'")
    try {
      val n = spark.sql("SELECT count(*) AS n FROM http_ddl_nation").collect().head.getLong(0)
      assert(n === spark.read.parquet(s"$Sf/nation.parquet").count())
    } finally spark.sql("DROP TABLE IF EXISTS http_ddl_nation")
  }

  test("a server that ignores Range still yields correct reads (sliced fallback)") {
    val url = serve("{\"id\":10}\n{\"id\":20}\n".getBytes(UTF_8), "norange.json",
      honorRange = false)
    val df = graft.engine.Core.addJsonTable(spark, "norange_json", Seq(url))
    assert(df.agg(sum("id")).collect().head.getLong(0) === 30L)
  }

  test("filesystem is read-only and missing objects surface as FileNotFound") {
    HttpFs.register(spark)
    val url = serve("x".getBytes(UTF_8), "exists.txt")
    val fs = new org.apache.hadoop.fs.Path(url)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftHttpFileSystem])
    intercept[UnsupportedOperationException](
      fs.delete(new org.apache.hadoop.fs.Path(url), false))
    // a path no context serves (JDK server prefix-matches, so a
    // SUBpath of exists.txt would still answer) → 404 → FileNotFound
    intercept[java.io.FileNotFoundException](
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        url.replace("exists.txt", "missing.txt"))))
    // no listing over HTTP: a glob is the literal object, so a
    // presigned URL's `?` is not a wildcard
    val signed = new org.apache.hadoop.fs.Path(s"$url?sig=abc")
    assert(fs.globStatus(signed).map(_.getLen).toSeq === Seq(1L))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      url.replace("exists.txt", "missing.txt?sig=abc"))) === null)
  }
}
