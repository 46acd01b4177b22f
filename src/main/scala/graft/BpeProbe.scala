package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (SCALE.md): measure batched BPE induction at the regime
  * the operator exists for — hundreds of merges at batch ≥ 32. The
  * driver fixture can't exercise it (31 distinct types ⇒ ~107
  * learnable merges total), so the probe builds a synthetic corpus
  * with a 4,096-word vocabulary (deterministic base-20 words over
  * 'a'..'t', head-skewed frequencies) and runs
  * [[graft.pipeline.TextAnalysis.bpeMergesBatchedStats]] at each
  * requested batch size, recording wall, counting rounds, Spark job
  * count, and the conflict skip-rate (candidates lost to the
  * shared-symbol rule per round). The law under measure: wall and
  * jobs scale with ROUNDS = ⌈nMerges / batch⌉, not with nMerges.
  *
  * Usage: runMain graft.BpeProbe [nTokens] [nMerges] [batch,batch,...]
  */
object BpeProbe {

  /** Deterministic synthetic corpus: `nTokens` one-word docs drawn
    * from a 4,096-word vocabulary. Words are the 6 base-20 digits
    * (chars 'a'..'t') of a multiplicative scramble of the word id —
    * without the scramble every head word carries the same zero-
    * digit padding and all top pairs collide on one hot symbol,
    * which degenerates batching; scrambled digits share substrings
    * the way real orthography does instead. Skew: 3 of 4 tokens draw
    * from the 256-word head, the rest from the full vocabulary.
    */
  def syntheticCorpus(spark: SparkSession, nTokens: Long): DataFrame =
    spark.range(0, nTokens).select(
      col("id").as("doc_id"),
      lit("en").as("lang"),
      expr("""
        concat_ws('', transform(sequence(0, 5), k -> chr(97 +
          CAST((pmod(CASE WHEN pmod(hash(id), 4) = 0
                     THEN pmod(hash(id * 31 + 7), 4096)
                     ELSE pmod(hash(id * 31 + 7), 256) END * 2654435761, 64000000)
                div CAST(pow(20, k) AS BIGINT)) % 20 AS BIGINT))))""").as("text"))

  def main(args: Array[String]): Unit = {
    val nTokens = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nMerges = args.lift(1).map(_.toInt).getOrElse(256)
    val batches = args.lift(2).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 32, 128))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = engine.Core.session("graft-bpe-probe", cpus.toInt)

    val docs = syntheticCorpus(spark, nTokens)
    docs.write.format("noop").mode("overwrite").save() // warm the JVM

    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1000) } // async listener bus drain
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }

    import graft.pipeline.TextAnalysis
    val results = batches.map { b =>
      var merged = 0
      var rounds = Seq.empty[TextAnalysis.BpeRoundStat]
      val t0 = System.nanoTime()
      val jobs = countJobs {
        val (m, r) = TextAnalysis.bpeMergesBatchedStats(docs, nMerges, b)
        merged = m.size; rounds = r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val skipped = rounds.map(_.skipped).sum
      val examined = rounds.map(r => r.taken + r.skipped).sum
      val skipRate = if (examined == 0) 0.0 else skipped.toDouble / examined
      println(f"[probe] batch=$b%-4d merges=$merged rounds=${rounds.size}%-4d " +
        f"jobs=$jobs%-5d wall=$wall%7.2f s skip-rate=$skipRate%.3f " +
        f"(skipped $skipped of $examined examined)")
      (b, merged, rounds.size, jobs, wall, skipRate)
    }
    println("{\"batches\":[" + results.map { case (b, m, r, j, w, s) =>
      f"""{"batch":$b,"merges":$m,"rounds":$r,"jobs":$j,"wall_sec":$w%.2f,"skip_rate":$s%.4f}"""
    }.mkString(",") + s"""],"n_tokens":$nTokens,"n_merges":$nMerges,"cpus":$cpus}""")
    spark.stop()
  }
}
