package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (SCALE.md): measure stratum-width independence of the
  * two-pass corpus operators. Builds a SINGLE-stratum synthetic
  * corpus — the adversarial case for per-stratum windows, where the
  * whole corpus funnels through one window partition — and times each
  * operator in its degenerate single-window shape (`nBuckets = 1`,
  * exactly the pre-round-12 plan) against the bucketed two-pass
  * shape. The two are rank-identical by construction (CorpusSpec),
  * so the delta is pure parallelism.
  *
  * Usage: runMain graft.PackProbe [nRows] [nBuckets]
  */
object PackProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val buckets = args.lift(1).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = engine.Core.session("graft-pack-probe", cpus.toInt)

    // one (lang, source) stratum; deterministic short texts and a
    // near-continuous quality column
    val docs = spark.range(0, n).select(
      col("id").as("doc_id"),
      lit("en").as("lang"),
      lit("web").as("source"),
      concat_ws(" ", lit("tok"), (col("id") % 97).cast("string"),
        lit("a b c d e f g")).as("text"))
    val quality = spark.range(0, n).select(
      col("id").as("doc_id"),
      (col("id") % 23 + 3).as("n_tokens"),
      (hash(col("id")).cast("double") / Int.MaxValue.toDouble).as("quality"))
    docs.write.format("noop").mode("overwrite").save() // warm the JVM

    def time(tag: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $tag%-28s $s%8.2f s")
      s
    }
    import graft.pipeline.Corpus
    val results = Seq(
      "pack_serial" -> time("pack nBuckets=1")(Corpus.packSequences(docs, 200, 1)),
      "pack_bucketed" -> time(s"pack nBuckets=$buckets")(Corpus.packSequences(docs, 200, buckets)),
      "budget_serial" -> time("budget nBuckets=1")(
        Corpus.tokenBudgetSelect(docs, quality, n * 6, 1)),
      "budget_bucketed" -> time(s"budget nBuckets=$buckets")(
        Corpus.tokenBudgetSelect(docs, quality, n * 6, buckets)))
    println("{" + results.map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString(",") +
      s""","n":$n,"buckets":$buckets,"cpus":$cpus}""")
    spark.stop()
  }
}
