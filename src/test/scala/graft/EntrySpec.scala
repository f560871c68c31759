package graft

class EntrySpec extends SparkTestBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("declared queries have unique, well-formed names and non-blank oracles") {
    val declared = SparkEntry.declared
    // a name declared twice would collapse silently in the derived maps
    val dup = declared.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    assert(dup.isEmpty, s"names declared more than once: ${dup.toSeq.sorted.mkString(", ")}")
    // CoverageDocSpec and PlansCoverageSpec key on the qNNN_ prefix
    val badName = declared.map(_.name).filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(badName.isEmpty, s"names not of the form qNNN_name: ${badName.mkString(", ")}")
    // a module `val` declared above its SQL vals captures nulls
    val blank = declared.filter(d => d.oracleSql == null || d.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"declared queries with a null or blank oracle: ${blank.mkString(", ")}")
  }

  test("every query key with an oracle exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without a query: $missing")
  }

  test("all declared queries run at sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("q01 pricing summary has expected shape") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, Sf)
    assert(df.columns.toSet == Set("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
      "count_order"))
    assert(df.count() <= 9) // at most 3 returnflags x 3 linestatus
  }
}
