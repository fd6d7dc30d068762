package graft

class CooccurrenceSpec extends SparkTestBase {

  test("cooccurrence: pairs are ordered, supported, and bounded by marginals") {
    val rows = SparkEntry.queries("text_cooccurrence_pmi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t1, t2, n12, df1, df2, fx) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(t1 < t2, "pair tokens must be in strict lexical order (one row per unordered pair)")
      assert(n12 >= graft.queries.TextQueries.CoocMinSupport)
      assert(n12 <= math.min(df1, df2), "joint doc count cannot exceed either marginal")
      assert(fx >= 0L)
    }
  }

  test("cooccurrence: pmi_fx is the exact integer fixed-point ratio") {
    val df = SparkEntry.queries("text_cooccurrence_pmi")(spark, sf)
    val nd = Tables.documents(spark, sf).count()
    df.collect().foreach { r =>
      val (n12, df1, df2, fx) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(fx == (n12 * nd * 1000000L) / (df1 * df2),
             "pmi_fx must be (n12*N*10^6) div (df1*df2) exactly")
    }
  }
}
