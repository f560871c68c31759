package graft

import org.apache.spark.sql.functions._
import graft.queries.Bucketed

/** Bucketing: pre-shuffling both join sides into the same bucket
  * layout removes the per-query exchange — the co-located-join
  * strategy for repeatedly-joined 100 TB fact tables (SURVEY.md
  * "Partitioning & shuffle"). Asserts the q57 join fragment plans
  * with NO Exchange on either side, and that the declared q57 result
  * matches the plain (unbucketed) join.
  */
class BucketingSpec extends SparkTestBase {

  test("q57 bucketed join fragment plans without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.bucketedJoin(spark, Sf)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("a fresh catalog re-registers surviving layout files instead of rewriting") {
    val (li, ord) = Bucketed.ensureBucketed(spark, Sf)
    // simulate the next JVM: catalog entries gone, warehouse files
    // intact (external tables — DROP keeps the files)
    spark.sql(s"DROP TABLE $li")
    spark.sql(s"DROP TABLE $ord")
    val t0 = System.nanoTime()
    Bucketed.ensureBucketed(spark, Sf)
    val reRegisterSec = (System.nanoTime() - t0) / 1e9
    assert(graft.io.Warehouse.lastProvision(spark, li).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(spark, li)}")
    assert(graft.io.Warehouse.lastProvision(spark, ord).contains("files"))
    // the recovered registration must keep the zero-exchange property
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Bucketed.bucketedJoin(spark, Sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered layout lost its bucketing:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    info(f"files-reuse registration took $reRegisterSec%.2f s (vs a full layout rewrite)")
    // and a SOURCE change must force the rewrite: corrupt the stored
    // fingerprint and re-ensure from a clean catalog
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val fpPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse, li), "_graft_src_fingerprint")
    val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(fpPath, true)
    try out.write("stale-corpus-generation".getBytes("UTF-8")) finally out.close()
    spark.sql(s"DROP TABLE $li")
    Bucketed.ensureBucketed(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, li).contains("written"),
      "a fingerprint mismatch must force the layout rewrite")
  }

  test("q57 values equal the unbucketed join") {
    val bucketed = Bucketed.q57(spark, Sf).collect().toSeq
    val plain = graft.sources.Tables.orders(spark, Sf)
      .join(graft.sources.Tables.lineitem(spark, Sf),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderpriority"))
      .collect().toSeq
    assert(bucketed.nonEmpty && bucketed == plain)
  }

  test("q146 week filter lands in PartitionFilters and prunes to 7 of 30 days") {
    val df = graft.queries.Bucketed.q146(spark, Sf)
    // the scan leaf must carry the day range as PARTITION filters
    // (directory pruning), not data filters (row-group work)
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the
    // scan from collect until execution
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.headOption.getOrElse(fail("no file scan in q146 plan"))
    assert(scan.partitionFilters.nonEmpty, "day range must be a partition filter")
    assert(scan.dataFilters.isEmpty,
      s"day range leaked into data filters: ${scan.dataFilters}")
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).size
    assert(selected == 7, s"expected 7 pruned day-partitions, scanned $selected")
    // and the pruned read equals the flat-file computation
    val flat = graft.sources.Tables.events(spark, Sf)
      .withColumn("day", to_date(col("ts")))
      .where(col("day").between(lit(Bucketed.WeekLo).cast("date"),
        lit(Bucketed.WeekHi).cast("date")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type")).collect().toSeq
    assert(df.collect().toSeq == flat && flat.nonEmpty)
  }

  test("partitioned events layout re-registers from surviving files (MSCK path)") {
    val t = Bucketed.ensurePartitionedEvents(spark, Sf)
    spark.sql(s"DROP TABLE $t")
    Bucketed.ensurePartitionedEvents(spark, Sf)
    assert(graft.io.Warehouse.lastProvision(spark, t).contains("files"),
      s"expected files-reuse, got ${graft.io.Warehouse.lastProvision(spark, t)}")
    // the rediscovered partitions must serve the full corpus
    val viaTable = spark.table(t).count()
    val flat = graft.sources.Tables.events(spark, Sf).count()
    assert(viaTable == flat)
  }
}
