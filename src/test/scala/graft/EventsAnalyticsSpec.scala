package graft

class EventsAnalyticsSpec extends SparkTestBase {

  test("retention cohorts: week-0 retention is exactly 1.0 and counts never exceed the cohort") {
    val rows = SparkEntry.queries("q_retention_cohorts")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (offset, nActive, size, ret) =
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(offset >= 0, "activity cannot precede the cohort's first purchase")
      assert(nActive <= size, s"active $nActive exceeds cohort size $size")
      assert(ret == nActive.toDouble / size.toDouble, "retention is the exact ratio")
      if (offset == 0) assert(nActive == size, "every cohort member is active in week 0")
    }
  }

  test("retention cohorts: cohort sizes partition the purchasing-user population") {
    val df = SparkEntry.queries("q_retention_cohorts")(spark, sf)
    val perCohort = df.collect().groupBy(_.getDate(0)).view.mapValues(_.head.getLong(3))
    val purchasers = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(perCohort.values.sum == purchasers,
           "summed cohort sizes must equal the distinct purchasing users")
  }

  test("funnel: stage counts are monotone non-increasing and fractions consistent") {
    val rows = SparkEntry.queries("q_funnel")(spark, sf).collect().sortBy(_.getString(0))
    assert(rows.map(_.getString(0)).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val n = rows.map(_.getLong(1))
    assert(n(0) >= n(1) && n(1) >= n(2), "each stage can only lose users")
    assert(rows(2).getDouble(3) == n(2).toDouble / n(0).toDouble,
           "conv_from_first is the exact purchase/view ratio")
  }

  test("MAD outliers: the rule is live and consistent with its own counts") {
    val rows = SparkEntry.queries("q_mad_outliers")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, med, mad, out, pm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(med > 0 && mad > 0, "degenerate median/MAD")
      assert(out < n, "the robust rule must not flag a majority")
      assert(pm == out * 1000 / n, "permille is the exact integer ratio")
    }
    // the heavy-tailed event values must actually trip the 3-MAD rule
    // somewhere — a zero total means the threshold went dead (the failure
    // mode the first cut on near-uniform order totals had)
    assert(rows.map(_.getLong(4)).sum > 0, "outlier branch is dead")
  }
}
