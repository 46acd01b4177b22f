package graft.sources

import graft.SparkSpec
import graft.engine.Core
import org.apache.spark.sql.functions._

/** CSV over HTTP: `Core.addCsvTable` reading through
  * [[GraftHttpFileSystem]] against an in-process JDK HttpServer that
  * serves 206 partial content — the executors' ranged GETs are real
  * HTTP, no egress. Spark's own split reader owns the line
  * boundaries; these cases pin that every line arrives exactly once.
  */
class HttpCsvSpec extends SparkSpec {

  /** CSV body with line lengths varying around the split size so
    * split boundaries land mid-line in many positions.
    */
  private lazy val csvBody: Array[Byte] = {
    val sb = new StringBuilder("id,name,score\n")
    (0 until 5000).foreach { i =>
      sb.append(i).append(",n").append("x" * (i % 37)).append(i)
        .append(",").append(i * 3 % 101).append("\n")
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("ranged scan reassembles every line exactly once across chunk boundaries") {
    val (server, url) = HttpFs.serveBytes(csvBody, "data.csv")
    try withConf("spark.sql.files.maxPartitionBytes", "4096") {
      // 4 KiB splits -> ~40 ranged reads, every boundary mid-line somewhere
      val df = Core.addCsvTable(spark, "http_csv", Seq(url))
      assert(df.rdd.getNumPartitions > 10)
      assert(df.count() === 5000)
      assert(df.columns.toSeq === Seq("id", "name", "score"))
      // exact content: ids are a permutation of 0..4999, scores match
      assert(df.agg(sum("id")).head().getLong(0) === (0 until 5000).map(_.toLong).sum)
      assert(df.filter(col("id") === 4999).head().getInt(2) === 4999 * 3 % 101)
      assert(df.select("id").distinct().count() === 5000)
    } finally server.stop(0)
  }

  test("content length comes from Content-Range on a 1-byte probe") {
    val (server, url) = HttpFs.serveBytes(csvBody, "data.csv")
    try assert(HttpFs.contentLength(url) === csvBody.length.toLong)
    finally server.stop(0)
  }

  test("empty-but-existing file: 416 to the 1-byte probe reports length 0, not an error") {
    val (server, url) = HttpFs.serveBytes(Array.emptyByteArray, "empty.csv")
    try assert(HttpFs.contentLength(url) === 0L)
    finally server.stop(0)
  }

  test("multi-url listing table unions two servers under one name, schema inferred over every url") {
    // two shards with the same header, different row ranges, on two
    // INDEPENDENT servers (≡ the reference's several HTTP paths per
    // base store); only the second shard's scores are fractional
    def shardBytes(lo: Int, hi: Int, score: Int => String): Array[Byte] = {
      val sb = new StringBuilder("id,name,score\n")
      (lo until hi).foreach(i => sb.append(i).append(",n").append(i)
        .append(",").append(score(i)).append("\n"))
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    val (s1, u1) = HttpFs.serveBytes(shardBytes(0, 1200, i => s"${i * 3 % 101}"), "a.csv")
    val (s2, u2) = HttpFs.serveBytes(shardBytes(1200, 2000, i => s"$i.5"), "b.csv")
    try withConf("spark.sql.files.maxPartitionBytes", "4096") {
      val df = Core.addCsvTable(spark, "http_csv_multi", Seq(u1, u2))
      assert(df.columns.toSeq === Seq("id", "name", "score"))
      assert(df.schema("score").dataType.typeName === "double")
      assert(df.count() === 2000)
      // every row exactly once across both shards — no duplicated or
      // swallowed header/boundary lines
      assert(df.select("id").distinct().count() === 2000)
      assert(df.agg(sum("id")).head().getLong(0) === (0 until 2000).map(_.toLong).sum)
      // registered as ONE queryable table
      assert(spark.sql("SELECT count(*) FROM http_csv_multi").head().getLong(0) === 2000)
    } finally { s1.stop(0); s2.stop(0) }
  }

  test("falls back correctly when the server ignores Range") {
    val (server, url) = HttpFs.serveBytes(csvBody, "data.csv", honorRange = false)
    try withConf("spark.sql.files.maxPartitionBytes", "16384") {
      // small splits: every task gets the whole body and slices its window
      val df = Core.addCsvTable(spark, "http_csv_noranges", Seq(url))
      assert(df.count() === 5000)
      assert(df.agg(sum("id")).head().getLong(0) === (0 until 5000).map(_.toLong).sum)
    } finally server.stop(0)
  }

  test("multi-url listing bails on header drift before any distributed work") {
    val (s1, u1) = HttpFs.serveBytes("id,name\n1,a\n".getBytes, "a.csv")
    val (s2, u2) = HttpFs.serveBytes("id,label\n2,b\n".getBytes, "b.csv")
    try {
      val (e, jobs) = jobsStarted(intercept[IllegalArgumentException] {
        Core.addCsvTable(spark, "http_csv_drift", Seq(u1, u2))
      })
      assert(e.getMessage.contains("header mismatch"), e.getMessage)
      assert(jobs === 0)
    } finally { s1.stop(0); s2.stop(0) }
  }
}
