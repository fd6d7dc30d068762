package graft

class InvertedIndexSpec extends SparkTestBase {

  test("inverted index: posting lists are sorted, consistent with df and total_tf") {
    val rows = SparkEntry.queries("q_inverted_index")(spark, sf).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val (term, df, totalTf, postings) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))
      assert(term.nonEmpty)
      val entries = postings.split(" ").map { e =>
        val Array(d, t) = e.split(":"); (d.toLong, t.toLong)
      }
      assert(entries.length.toLong == df, s"$term: df must equal the posting count")
      assert(entries.map(_._2).sum == totalTf, s"$term: total_tf must equal summed tf")
      assert(entries.map(_._1).toSeq == entries.map(_._1).sorted.toSeq &&
             entries.map(_._1).distinct.length == entries.length,
             s"$term: doc ids must be strictly increasing")
      assert(entries.forall(_._2 >= 1), s"$term: every posting has tf >= 1")
    }
  }

  test("inverted index: bucketed assembly equals a direct per-term build") {
    import org.apache.spark.sql.functions._
    val direct = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(graft.text.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
      .select(col("term"),
              array_join(expr(
                "transform(ps, p -> concat(cast(p.doc_id AS string), ':', cast(p.tf AS string)))"),
                " ").as("postings"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    SparkEntry.queries("q_inverted_index")(spark, sf).collect().foreach { r =>
      assert(r.getString(3) == direct(r.getString(0)),
             s"${r.getString(0)}: segmented concat must equal the unsegmented postings")
    }
  }
}
