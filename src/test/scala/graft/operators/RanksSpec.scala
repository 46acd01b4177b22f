package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared two-pass machinery must reproduce the single-window
  * running sum EXACTLY for any bucket count, both sort directions,
  * ties, skew, and NULL keys — the property every caller
  * (corpus packing, token budget, weighted percentiles) stakes its
  * oracle hash on.
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  // deterministic messy data: duplicate keys, skewed strata, nulls
  private def data = {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      val stratum = if (i % 10 < 7) "a" else if (i % 10 < 9) "b" else "c"
      val key: java.lang.Double =
        if (i % 97 == 0) null else (rnd.nextInt(50).toDouble + (if (i % 3 == 0) 0.5 else 0.0))
      (i.toLong, stratum, key, (rnd.nextInt(9) + 1).toLong)
    }
    rows.toDF("id", "s", "k", "w")
  }

  private def serial(desc: Boolean) = {
    val ord = if (desc) col("k").desc_nulls_last else col("k").asc_nulls_last
    val w = Window.partitionBy("s").orderBy(ord, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data.withColumn("cum", sum("w").over(w))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def bucketed(desc: Boolean, n: Int) = {
    val keyed = Ranks.withRangeBucket(data, Seq("s"), col("k"), n, descending = desc)
    val ord = if (desc) col("k").desc_nulls_last else col("k").asc_nulls_last
    val wIn = Window.partitionBy("s", "bucket").orderBy(ord, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.withColumn("cum_in", sum("w").over(wIn))
      .join(broadcast(Ranks.bucketOffsets(keyed, Seq("s"), col("w"))), Seq("s", "bucket"))
      .select(col("id"), (col("b_off") + col("cum_in")).as("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bucketed running sums equal the single window for any bucket count, asc") {
    val want = serial(desc = false)
    for (n <- Seq(1, 2, 7, 64)) assert(bucketed(desc = false, n) === want, s"n=$n")
  }

  test("bucketed running sums equal the single window, desc with ties and nulls") {
    val want = serial(desc = true)
    for (n <- Seq(1, 3, 16)) assert(bucketed(desc = true, n) === want, s"n=$n")
  }

  test("collectedRangeBucket: literal-bounds running sums equal the single window (r21)") {
    val want = serial(desc = false)
    val base = data
    for (n <- Seq(1, 7, 64)) {
      val keyed = base.withColumn("bucket",
        Ranks.collectedRangeBucket(base, "s", col("k"), n))
      val wIn = Window.partitionBy("s", "bucket").orderBy(col("k").asc_nulls_last, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = keyed.withColumn("cum_in", sum("w").over(wIn))
        .join(broadcast(Ranks.bucketOffsets(keyed, Seq("s"), col("w"))), Seq("s", "bucket"))
        .select(col("id"), (col("b_off") + col("cum_in")).as("cum"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"n=$n")
    }
  }

  test("rangeBucketedAuto: literal path below the strata cap, join-form fallback above it, equivalent (r22)") {
    val want = serial(desc = false)
    def cum(keyed: org.apache.spark.sql.DataFrame) = {
      val wIn = Window.partitionBy("s", "bucket").orderBy(col("k").asc_nulls_last, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      keyed.withColumn("cum_in", sum("w").over(wIn))
        .join(broadcast(Ranks.bucketOffsets(keyed, Seq("s"), col("w"))), Seq("s", "bucket"))
        .select(col("id"), (col("b_off") + col("cum_in")).as("cum"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // 3 strata, cap 128 (default): the literal path — no
    // percentile_approx left in the final plan (bounds are collected)
    val lite = Ranks.rangeBucketedAuto(data, "s", col("k"), 16)
    assert(!lite.queryExecution.analyzed.toString.contains("percentile_approx"),
      "literal path expected below the cap")
    assert(cum(lite) === want, "literal path")
    // 3 strata against a cap of 2: the fallback path — the join form's
    // bounds aggregate stays IN the plan, and the result is identical
    val fell = Ranks.rangeBucketedAuto(data, "s", col("k"), 16, maxCollectedStrata = 2)
    assert(fell.queryExecution.analyzed.toString.contains("percentile_approx"),
      "join-form fallback expected above the cap")
    assert(cum(fell) === want, "fallback path")
    // the guarded Column form refuses loudly above the cap
    val e = intercept[IllegalArgumentException] {
      val rows = data.withColumn("s2", col("id") % 200)
      rows.withColumn("bucket", Ranks.collectedRangeBucket(rows, "s2", col("k"), 8))
    }
    assert(e.getMessage.contains("strata"))
  }

  test("rangeBucketedAuto keeps a NULL stratum with its own boundaries on both paths") {
    val withNull = data.withColumn("s", when(col("id") % 3 === 0, lit(null)).otherwise(col("s")))
    val nullRows = withNull.where(col("s").isNull).count()
    val lite = Ranks.rangeBucketedAuto(withNull, "s", col("k"), 8)
    // a cap of 0 forces the join-form fallback
    val fell = Ranks.rangeBucketedAuto(withNull, "s", col("k"), 8, maxCollectedStrata = 0)
    assert(fell.queryExecution.analyzed.toString.contains("percentile_approx"))
    assert(!fell.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    for ((label, keyed) <- Seq("literal" -> lite, "fallback" -> fell)) {
      assert(keyed.columns.toSet === withNull.columns.toSet + "bucket", label)
      assert(keyed.count() === 5000, label)
      val nulls = keyed.where(col("s").isNull && col("k").isNotNull)
        .select("k", "bucket").as[(Double, Int)].collect().sortBy(_._1)
      assert(nulls.length + keyed.where(col("s").isNull && col("k").isNull).count() === nullRows, label)
      // its own boundaries: order-consistent buckets spread over the range
      assert(nulls.map(_._2).toSeq === nulls.map(_._2).toSeq.sorted, label)
      assert(nulls.map(_._2).distinct.length > 1, label)
    }
  }

  test("collectedRangeBucket: a stratum the bounds collect did not see lands in bucket 0") {
    val bucket = Ranks.collectedRangeBucket(data, "s", col("k"), 8)
    // stratum "z" arrives after the collect; a NULL key keeps its
    // trailing bucket. Both ANSI modes: legacy size(NULL) is -1.
    val late = Seq[(Long, String, java.lang.Double)]((1L, "z", 3.0), (2L, "z", null))
      .toDF("id", "s", "k")
    for (ansi <- Seq("true", "false")) {
      val old = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val got = late.withColumn("bucket", bucket).orderBy("id").select("bucket").as[Int].collect()
        assert(got.toSeq === Seq(0, 8), s"ansi=$ansi")
      } finally spark.conf.set("spark.sql.ansi.enabled", old)
    }
  }

  test("bucketOffsetsWithTotal: b_off matches bucketOffsets and tw is the stratum grand total (r21)") {
    val keyed = Ranks.withRangeBucket(data, Seq("s"), col("k"), 8, descending = false)
    val wt = Ranks.bucketOffsetsWithTotal(keyed, Seq("s"), col("w")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val off = Ranks.bucketOffsets(keyed, Seq("s"), col("w")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val totals = data.groupBy("s").agg(sum("w").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wt.keySet === off.keySet)
    wt.foreach { case ((s, b), (boff, tw)) =>
      assert(boff === off((s, b)), s"b_off mismatch at ($s,$b)")
      assert(tw === totals(s), s"tw mismatch at ($s,$b)")
    }
  }

  test("empty strata-free input and all-null keys do not error") {
    val empty = Seq.empty[(Long, String, java.lang.Double, Long)].toDF("id", "s", "k", "w")
    assert(Ranks.withRangeBucket(empty, Seq("s"), col("k"), 8, descending = false).count() === 0)
    val nulls = Seq((1L, "a", null: java.lang.Double, 2L), (2L, "a", null: java.lang.Double, 3L))
      .toDF("id", "s", "k", "w")
    val keyed = Ranks.withRangeBucket(nulls, Seq("s"), col("k"), 8, descending = false)
    // every all-null row lands in the trailing bucket
    assert(keyed.select("bucket").distinct().collect().map(_.getInt(0)).toSeq === Seq(8))
  }
}
