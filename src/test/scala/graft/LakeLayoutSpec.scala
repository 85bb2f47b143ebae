package graft

import graft.sources.LakeLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketed lake layout ([[graft.sources.LakeLayout]]): the plan proof that
  * bucketing by the series key deletes the exchanges every series op
  * otherwise pays, and that results are identical to the unbucketed path.
  * The session series memos get the same zero-exchange property from a
  * series-keyed checkpoint instead of a table, pinned here too. */
class LakeLayoutSpec extends SparkSpec {

  /** Shuffle exchanges in the FINAL (post-AQE) plan: execute first — the
    * adaptive plan only materializes its stages (and thus its exchanges)
    * at runtime, so inspecting before execution undercounts to zero. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
  }

  private def freshTable(name: String): Unit = LakeLayout.freshTable(spark, name)

  private def frame(): DataFrame = {
    import spark.implicits._
    (for { s <- 1 to 20; t <- 1 to 30 } yield
      (s"s$s", java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(t)),
        (s * 31 + t * 7) % 100 / 10.0))
      .toDF("series_id", "ds", "y")
  }

  test("groupBy on the bucket key plans no exchange; unbucketed pays one") {
    val df = frame()
    freshTable("ll_series")
    LakeLayout.writeBucketed(df, "ll_series", buckets = 4)
    val bucketed = LakeLayout.readBucketed(spark, "ll_series")
      .groupBy("series_id").agg(sum("y").as("sy"))
    val plain = df.groupBy("series_id").agg(sum("y").as("sy"))
    assert(exchanges(bucketed) === 0, "bucketed scan must feed the agg directly")
    assert(exchanges(plain) >= 1,
      "the unbucketed agg must pay the hash exchange the layout deletes")
    // identical results either way
    val a = bucketed.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toSet
    val b = plain.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toSet
    assert(a === b)
  }

  test("series memos are series-keyed checkpoints carrying their measured row count") {
    // sf0.01, not sf0.001: at sf0.001 even the fact scan's estimate is
    // under the broadcast gate, so ts_dynamic_ci_by_series would plan no
    // exchange without the measured stats too
    val sfDir = "/root/testdata/sf0.01"
    SparkEntry.clearMemos()
    SparkEntry.prewarmMemos(spark, sfDir)
    try {
      // the memo leaf advertises hash(series_id), so the per-series windows
      // and joins over it plan no exchange; ts_dynamic_ci_by_series also
      // needs the measured size, or its joins fall back to sort-merge
      // joins sized by the fact scan's estimate (9 exchanges)
      Seq("ts_diff", "ts_dynamic_ci_by_series").foreach { q =>
        val n = exchanges(SparkEntry.queries(q)(spark, sfDir))
        assert(n === 0, s"$q planned $n hash exchanges over the memo")
      }
      val leaves = SparkEntry.queries("ts_diff")(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r
        }
      val rows = graft.core.SeriesFrame.ordersMonthly(spark, sfDir).count()
      assert(leaves.nonEmpty, "ts_diff must read the memo checkpoint")
      leaves.foreach(l => assert(l.stats.rowCount === Some(BigInt(rows))))
    } finally SparkEntry.clearMemos()
  }

  test("self-join on the bucket key plans no exchange on either side") {
    freshTable("ll_series_j")
    LakeLayout.writeBucketed(frame(), "ll_series_j", buckets = 4)
    val t = LakeLayout.readBucketed(spark, "ll_series_j")
    val agg = t.groupBy("series_id").agg(avg("y").as("mu"))
    val joined = t.join(agg.hint("merge"), "series_id")
      .withColumn("dev", col("y") - col("mu"))
    assert(exchanges(joined) === 0,
      "both sides derive the bucket distribution — no shuffle anywhere")
    assert(joined.count() === 600)
  }

  test("partitioned write prunes directories at planning time") {
    val dir = "/tmp/graft_ll_part"
    val df = frame().withColumn("month",
      date_format(col("ds"), "yyyy-MM"))
    LakeLayout.writePartitioned(df, dir, Seq("month"))
    val pruned = LakeLayout.readPartitioned(spark, dir)
      .filter(col("month") === "2020-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("month"),
      s"partition predicate must prune at the scan: $plan")
    // the pruned read returns exactly January's rows (ds 2020-01-02..31)
    assert(pruned.count() === frame()
      .filter(date_format(col("ds"), "yyyy-MM") === "2020-01").count())
    // files actually touched: only the 2020-01 directory
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("month=2020-01")),
      s"scan must touch only the pruned partition: ${files.toSeq}")
  }

  test("window over (series_id, ds) on the bucketed table needs no exchange") {
    import org.apache.spark.sql.expressions.Window
    freshTable("ll_series_w")
    LakeLayout.writeBucketed(frame(), "ll_series_w", buckets = 4)
    val w = Window.partitionBy("series_id").orderBy("ds")
    val lagged = LakeLayout.readBucketed(spark, "ll_series_w")
      .withColumn("y1", lag("y", 1).over(w))
    assert(exchanges(lagged) === 0,
      "the bucket distribution satisfies the window's partitioning requirement")
    assert(lagged.filter(col("y1").isNotNull).count() === 580)
  }
}
