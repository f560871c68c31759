package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ZOrderLong
import graft.queries.Layout

/** Z-order interleave: bit-level correctness, codegen containment,
  * and the rectangle property that makes it a layout primitive.
  */
class ZOrderSpec extends SparkTestBase {

  /** Slow reference: interleave bits positionally. */
  private def refInterleave(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("mask-ladder interleave == positional reference (boundaries + random)") {
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0x7fffffffL, 0x7fffffffL),
      (0x7fffffffL, 0L), (12345L, 67890L)) ++
      Seq.fill(500)((rnd.nextLong().abs & 0x7fffffffL, rnd.nextLong().abs & 0x7fffffffL))
    cases.foreach { case (x, y) =>
      assert(ZOrderLong.interleave(x, y) == refInterleave(x, y), s"($x, $y)")
    }
    // inputs beyond 31 bits are masked, never corrupt high bits
    assert(ZOrderLong.interleave(Long.MaxValue, Long.MaxValue) ==
      refInterleave(0x7fffffffL, 0x7fffffffL))
  }

  test("3-key interleave == positional reference; codegen == SQL surface") {
    def ref3(x: Long, y: Long, z: Long): Long = {
      var out = 0L
      var i = 0
      while (i < 21) {
        out |= ((x >> i) & 1L) << (3 * i)
        out |= ((y >> i) & 1L) << (3 * i + 1)
        out |= ((z >> i) & 1L) << (3 * i + 2)
        i += 1
      }
      out
    }
    val rnd = new scala.util.Random(11)
    (Seq((0L, 0L, 0L), (0x1fffffL, 0x1fffffL, 0x1fffffL), (1L, 2L, 4L)) ++
      Seq.fill(300)((rnd.nextLong().abs & 0x1fffffL,
        rnd.nextLong().abs & 0x1fffffL, rnd.nextLong().abs & 0x1fffffL)))
      .foreach { case (x, y, z) =>
        assert(ZOrderLong.interleave3(x, y, z) == ref3(x, y, z), s"($x,$y,$z)")
      }
    // masked beyond 21 bits
    assert(ZOrderLong.interleave3(Long.MaxValue, 0, 0) == ref3(0x1fffffL, 0, 0))
    val df = spark.range(500).select(
      (col("id") * 7919 % 100000).as("a"), (col("id") * 104729 % 100000).as("b"),
      (col("id") * 1299709 % 100000).as("c"))
    df.createOrReplaceTempView("z3pts")
    val viaSql = spark.sql("SELECT graft_zorder3(a, b, c) AS z FROM z3pts").collect()
    spark.catalog.dropTempView("z3pts")
    val gen = df.select(ZOrderLong.zorder3(col("a"), col("b"), col("c"))).collect()
    val interp = df.collect().map(r =>
      ZOrderLong.interleave3(r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gen.map(_.getLong(0)).sameElements(interp))
    assert(viaSql.map(_.getLong(0)).sameElements(interp))
  }

  test("codegen path == interpreted path == SQL surface") {
    val df = spark.range(1000).select(
      (col("id") * 2654435761L % 100000).as("x"),
      (col("id") * 40503L % 100000).as("y"))
    val gen = df.select(ZOrderLong.zorder2(col("x"), col("y")).as("z")).collect()
    val viaSql = {
      df.createOrReplaceTempView("zpts")
      val r = spark.sql("SELECT graft_zorder(x, y) AS z FROM zpts").collect()
      spark.catalog.dropTempView("zpts")
      r
    }
    val interp = df.collect().map(r =>
      ZOrderLong.interleave(r.getLong(0), r.getLong(1)))
    assert(gen.map(_.getLong(0)).sameElements(interp))
    assert(viaSql.map(_.getLong(0)).sameElements(interp))
  }

  test("zorder stays inside WholeStageCodegen") {
    val df = graft.sources.Tables.lineitem(spark, Sf)
      .select(ZOrderLong.zorder2(col("l_partkey"), col("l_suppkey")).as("z"))
    val p = df.queryExecution.executedPlan.toString
    val projLine = p.split('\n').find(_.contains("graft_zorder")).getOrElse("")
    assert(projLine.trim.startsWith("*"),
      s"zorder project must carry the codegen star:\n$p")
  }

  test("z-sorted layout prunes row groups on BOTH keys (measured, not claimed)") {
    // same rows, two layouts, small row groups so statistics have
    // resolution; then the same two selective predicates against each
    // and the scan's actual output-row metric decides. Keys need real
    // domains: lineitem's l_suppkey spans 0–9 at this SF, so every
    // row group contains every value and NO layout could prune it —
    // use two 512-value keys instead (one full aligned z-square).
    val base = spark.range(50000).select(
      (col("id") * 2654435761L % 512).as("x"),
      (col("id") * 40503L % 512).as("y"),
      col("id"))
    val dir = tempDir("zorder")
    base.withColumn("z", ZOrderLong.zorder2(col("x"), col("y")))
      .repartition(1).sortWithinPartitions(col("z")).drop("z")
      .write.option("parquet.block.size", 16 * 1024)
      .mode("overwrite").parquet(s"$dir/zsorted")
    base.repartition(1)
      .write.option("parquet.block.size", 16 * 1024)
      .mode("overwrite").parquet(s"$dir/unsorted")
    def scannedRows(path: String, cond: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(path).where(cond)
      val kept = df.count()
      val df2 = spark.read.parquet(path).where(cond)
      df2.collect()
      val scan = df2.queryExecution.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, kept)
    }
    for (cond <- Seq(col("x") <= 25, col("y") <= 25)) {
      val (z, zKept) = scannedRows(s"$dir/zsorted", cond)
      val (u, uKept) = scannedRows(s"$dir/unsorted", cond)
      assert(zKept == uKept, "layouts must agree on the answer")
      // numOutputRows of the scan counts rows SURVIVING row-group
      // pruning; identical answers, so any gap is pure data skipping.
      // Demand a ≥2x scan reduction on BOTH dimensions from the ONE
      // z layout (a single-key sort can win one dimension only).
      assert(z * 2 <= u,
        s"z-layout should skip >=half the scan for $cond: scanned $z vs $u")
    }
  }

  test("Writers.zOrderedParquet: every output file is key-local in both dimensions") {
    import org.apache.spark.sql.functions.input_file_name
    val base = spark.range(50000).select(
      (col("id") * 2654435761L % 512).as("x"),
      (col("id") * 40503L % 512).as("y"))
    val dir = tempDir("zwriter")
    graft.io.Writers.zOrderedParquet(base, s"$dir/out", col("x"), col("y"),
      numFiles = Some(64))
    val perFile = spark.read.parquet(s"$dir/out")
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        (max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .collect()
    assert(perFile.map(_.getAs[Long]("n")).sum == 50000L, "rows preserved")
    assert(perFile.length > 16, "range partitioner should spread files")
    // a contiguous z-interval of ~domain/64 codes bounds each file's
    // (x, y) box far below the 512x512 domain; an unsorted writer
    // gives every file the full domain (area 262144)
    perFile.foreach { r =>
      val area = (r.getAs[Long]("sx") + 1) * (r.getAs[Long]("sy") + 1)
      assert(area <= 65536, s"file not key-local: $r")
    }
  }

  test("q86 rectangle property: every 2^18 z-bucket spans < 512 in BOTH keys") {
    val rows = Layout.q86(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pMin, pMax) = (r.getAs[Long]("p_min"), r.getAs[Long]("p_max"))
      val (sMin, sMax) = (r.getAs[Long]("s_min"), r.getAs[Long]("s_max"))
      assert(pMax - pMin < 512, s"part span leaked the rectangle: $r")
      assert(sMax - sMin < 512, s"supp span leaked the rectangle: $r")
    }
    // and the buckets partition the table
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == graft.sources.Tables.lineitem(spark, Sf).count())
  }
}
