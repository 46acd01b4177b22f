package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-pass distributed ranking/prefix-sum machinery shared by
  * every operator that needs an EXACT per-stratum running total or
  * rank without a stratum-width window funnel
  * ([[graft.pipeline.Corpus]]'s packing / token-budget / temperature
  * operators; the weighted-percentile query family). The shape:
  *
  *  1. assign each row an order-consistent `bucket` (every row of
  *     bucket i sorts before every row of bucket i+1 under the
  *     operator's ORDER BY — from approximate quantile boundaries of
  *     the sort key, or any natural prefix of the key);
  *  2. run the window per (stratum, bucket) — parallel, width
  *     corpus/(strata·buckets);
  *  3. shift per-bucket results by the broadcast strata × buckets
  *     exclusive-prefix offset table ([[bucketOffsets]]).
  *
  * The result is value-identical to the single stratum-wide window:
  * approximate boundaries steer only the parallelism, never the
  * answer. See SCALE.md addendum 7 for the measured single-stratum
  * A/B (the serial window's cost grows with corpus size on one task;
  * the bucketed form tracks corpus/parallelism).
  */
object Ranks {

  /** Per-(strata, bucket) total of `weight`, shifted to the
    * EXCLUSIVE prefix offset each bucket's local ranks/sums add to.
    * The frame is strata × buckets rows — dimension-sized by
    * construction — so the internal cumulative window and the
    * caller's join back are trivially cheap; callers broadcast it.
    */
  def bucketOffsets(keyed: DataFrame, strataCols: Seq[String], weight: Column): DataFrame = {
    val grouped = keyed
      .groupBy((strataCols :+ "bucket").map(col): _*)
      .agg(sum(weight).as("b_tot"))
    val w =
      if (strataCols.isEmpty) Window.orderBy("bucket")
      else Window.partitionBy(strataCols.map(col): _*).orderBy("bucket")
    grouped
      .withColumn("b_off",
        coalesce(sum(col("b_tot")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((strataCols :+ "bucket" :+ "b_off").map(col): _*)
  }

  /** [[bucketOffsets]] plus the per-stratum GRAND total in the same
    * dimension-sized frame (`b_off`, `tw`): consumers that need both
    * the exclusive prefix offset and the stratum total (the weighted
    * percentile family's `cw * k >= tw` rank tests) get them from ONE
    * tiny aggregate + broadcast join instead of re-scanning the keyed
    * frame a second time for a separate total aggregate. The windows
    * here run over the strata × buckets frame — trivially cheap.
    */
  def bucketOffsetsWithTotal(keyed: DataFrame, strataCols: Seq[String], weight: Column): DataFrame = {
    val grouped = keyed
      .groupBy((strataCols :+ "bucket").map(col): _*)
      .agg(sum(weight).as("b_tot"))
    val w =
      if (strataCols.isEmpty) Window.orderBy("bucket")
      else Window.partitionBy(strataCols.map(col): _*).orderBy("bucket")
    grouped
      .withColumn("b_off",
        coalesce(sum(col("b_tot")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tw",
        sum(col("b_tot")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select((strataCols :+ "bucket" :+ "b_off" :+ "tw").map(col): _*)
  }

  /** Strata-cardinality ceiling for the collected-literal bucket form
    * (r21 verdict #4): above this, the driver collect and the
    * per-stratum `when`-chain (which whole-stage codegen must compile)
    * stop being "dimension-sized" — the join form is the scale-safe
    * shape there. 128 is ~40× the widest current caller (3 returnflag
    * strata) and far below any codegen/driver-memory cliff.
    */
  val MaxCollectedStrata = 128

  /** The collected per-stratum boundary rows, with the driver transfer
    * STRUCTURALLY bounded: `limit(cap + 1)` caps what can ever reach
    * the driver, and callers branch on `rows.length > cap`.
    */
  private def boundsRows(df: DataFrame, strataCol: String, k: Column,
      nBuckets: Int, cap: Int): Array[org.apache.spark.sql.Row] = {
    val pcts = typedLit((1 until nBuckets).map(_.toDouble / nBuckets))
    df.groupBy(col(strataCol))
      .agg(percentile_approx(k, pcts, lit(1000)).as("bnds"))
      .limit(cap + 1)
      .collect()
  }

  /** The literal `when`-chain bucket column over collected boundary
    * rows. Stratum match is null-safe (`<=>`), so a NULL stratum — if
    * a caller ever has one — gets ITS OWN boundaries like any other
    * stratum value, instead of falling through to bucket 0, as
    * [[withRangeBucket]]'s null-safe join does, so both forms keep
    * NULL-stratum rows. `lit(r.get(0))` requires a
    * literal-encodable stratum type (atomic types are; exotic structs
    * are not) — the same contract as grouping by the column at all.
    * A stratum missing from `rows` (one a non-deterministic frame
    * brings in after the collect) matches no branch and takes the
    * empty-bounds base: bucket 0, like a stratum with no boundaries.
    */
  private def literalBucket(rows: Array[org.apache.spark.sql.Row],
      strataCol: String, key: Column, nBuckets: Int): Column = {
    val k = key.cast("double")
    val boundsCol = rows.foldLeft(typedLit(Seq.empty[Double])) { (acc, r) =>
      val bnds = Option(r.getSeq[Double](1)).getOrElse(Seq.empty[Double]).toSeq
      when(col(strataCol) <=> lit(r.get(0)), typedLit(bnds)).otherwise(acc)
    }
    when(key.isNull, lit(nBuckets))
      .otherwise(size(filter(boundsCol, b => b < k)))
  }

  /** [[withRangeBucket]]'s boundaries, collected: returns a bucket
    * COLUMN built from per-stratum boundary LITERALS (strata ×
    * (nBuckets−1) doubles — dimension-sized driver state, the same
    * class as the broadcast centroid/codebook localizations). Use it
    * when the keyed frame feeds SEVERAL scans: withRangeBucket's
    * broadcast-join form re-derives the percentile-sketch aggregate
    * once per consumer unless the caller pays a materialization
    * boundary for the keyed frame; a literal bucket expression makes
    * every re-scan a pure narrow map over the source. Boundaries are
    * computed on the key cast to DOUBLE — a monotone map, so bucket
    * assignment stays order-consistent and ties still land in one
    * bucket (approximate boundaries steer only parallelism, never the
    * answer — see the object scaladoc).
    *
    * Scale contract (enforced): at most [[MaxCollectedStrata]] strata
    * — the collect is limit-bounded and higher cardinality REFUSES
    * loudly rather than building an unbounded driver array plus a
    * when-chain codegen can't chew. Callers that can't bound their
    * strata use [[rangeBucketedAuto]], which falls back to the join
    * form instead of failing. See [[literalBucket]] for the
    * null-stratum / literal-encodable-type contract.
    */
  def collectedRangeBucket(df: DataFrame, strataCol: String, key: Column, nBuckets: Int): Column =
    if (nBuckets <= 1) lit(0)
    else {
      val rows = boundsRows(df, strataCol, key.cast("double"), nBuckets, MaxCollectedStrata)
      require(rows.length <= MaxCollectedStrata,
        s"collectedRangeBucket: more than $MaxCollectedStrata strata in '$strataCol' — " +
          "use rangeBucketedAuto (join-form fallback) or withRangeBucket for high-cardinality strata")
      literalBucket(rows, strataCol, key, nBuckets)
    }

  /** [[collectedRangeBucket]] behind the cardinality guard WITH a
    * fallback instead of a refusal: attaches `bucket` from collected
    * literals when the stratum count fits (the narrow-map shape the
    * weighted-percentile family wants), else silently degrades to
    * [[withRangeBucket]]'s broadcast-join form (ascending), which is
    * scale-safe at any stratum cardinality. The probe is the SAME
    * single boundary aggregate either way — the fallback costs one
    * discarded ≤(cap+1)-row collect, never a second corpus scan.
    */
  def rangeBucketedAuto(df: DataFrame, strataCol: String, key: Column, nBuckets: Int,
      maxCollectedStrata: Int = MaxCollectedStrata): DataFrame =
    if (nBuckets <= 1) df.withColumn("bucket", lit(0))
    else {
      val rows = boundsRows(df, strataCol, key.cast("double"), nBuckets, maxCollectedStrata)
      if (rows.length > maxCollectedStrata)
        withRangeBucket(df, Seq(strataCol), key, nBuckets, descending = false)
      else df.withColumn("bucket", literalBucket(rows, strataCol, key, nBuckets))
    }

  /** Attach an order-consistent range `bucket` for `key` per stratum
    * (`descending` per the operator's sort direction): `nBuckets - 1`
    * approximate quantile boundaries are computed per stratum (one
    * sketch per stratum — dimension-sized), broadcast back, and each
    * row's bucket is the count of boundaries strictly on the wrong
    * side of its key. Counting by VALUE makes ties always land in one
    * bucket; strict comparison makes the assignment monotone along
    * the sort. NULL keys land in a dedicated trailing bucket
    * (matching NULLS LAST). `nBuckets <= 1` degenerates to a constant
    * bucket — the serial single-window shape, kept reachable for A/B
    * probes (the two forms are rank-identical by construction).
    */
  def withRangeBucket(df: DataFrame, strataCols: Seq[String], key: Column,
      nBuckets: Int, descending: Boolean): DataFrame =
    if (nBuckets <= 1) df.withColumn("bucket", lit(0))
    else {
      val pcts = typedLit((1 until nBuckets).map(_.toDouble / nBuckets))
      val bounds = df.groupBy(strataCols.map(col): _*)
        .agg(percentile_approx(key, pcts, lit(1000)).as("bnds"))
      val cmp: (Column, Column) => Column =
        if (descending) (b, k) => b > k else (b, k) => b < k
      // no strata ⇒ the bounds frame is ONE row; an empty using-column
      // join is an (intended) broadcast cross join, spelled explicitly.
      // With strata the join is null-safe (`<=>`), so a NULL stratum
      // gets its own boundaries and keeps its rows, as in
      // [[literalBucket]]; the columns keep the using-join's order
      // (strata first).
      val withBounds =
        if (strataCols.isEmpty) df.crossJoin(broadcast(bounds))
        else {
          val keys = strataCols.indices.map(i => s"__rb_s$i")
          val renamed = bounds.select(
            strataCols.zip(keys).map { case (c, k) => col(c).as(k) } :+ col("bnds"): _*)
          val on = strataCols.zip(keys).map { case (c, k) => col(c) <=> col(k) }.reduce(_ && _)
          val rest = df.columns.filterNot(strataCols.contains).map(c => s"`${c.replace("`", "``")}`")
          df.join(broadcast(renamed), on).select((strataCols ++ rest :+ "bnds").map(col): _*)
        }
      withBounds
        .withColumn("bucket",
          when(key.isNull, lit(nBuckets))
            .otherwise(coalesce(size(filter(col("bnds"), b => cmp(b, key))), lit(0)).cast("int")))
        .drop("bnds")
    }
}
