package graft

import java.io.File
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.execution.CacheManager
import graft.jobs._

/** Every job's `run` releases the caches it made, so nothing it cached
  * outlives it and a rerun in the same session reads fresh inputs.
  *
  * Suites share one session, and other suites' cached frames and local
  * checkpoints must survive this one, so the spec asserts that a run
  * leaves the cache manager and the RDD storage as it found them: no
  * new cache entry, no new persisted RDD.
  */
class JobCachesSpec extends SparkTestBase {

  private def cacheEntries: Seq[AnyRef] = {
    val cacheManager = castToImpl(spark).sharedState.cacheManager
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(cacheManager).asInstanceOf[Seq[AnyRef]]
  }

  private def assertReleases(run: String => Unit): Unit = {
    val (entries, rdds) = (cacheEntries, spark.sparkContext.getPersistentRDDs.keySet)
    run(tempDir("job_caches"))
    assert(cacheEntries.count(e => !entries.contains(e)) == 0, "cached plans outlived run")
    val stored = spark.sparkContext.getRDDStorageInfo.filterNot(i => rdds.contains(i.id))
    assert(stored.isEmpty, s"cached RDDs outlived run: ${stored.map(_.name).toSeq}")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty,
      "persisted RDDs outlived run")
  }

  private val fixtures = "src/test/resources/fixtures"

  test("CasesTimeAnalysis.run leaves no cache behind") {
    assertReleases(CasesTimeAnalysis.run(spark, s"$fixtures/cases_time.csv", _))
  }

  test("ClinicalAnalysis.run leaves no cache behind") {
    assertReleases(ClinicalAnalysis.run(spark, s"$fixtures/clinical.csv", _))
  }

  test("ResearchChallengeAnalysis.run leaves no cache behind") {
    assertReleases(ResearchChallengeAnalysis.run(spark,
      Seq((s"$fixtures/cord19/pdf_json", "pdf_json")), _))
  }

  test("RadiographyAnalysis.run leaves no cache behind; a rerun sees an added image") {
    val images = JobFixtures.radiographyImages(tempDir("radiography"))
    def imageCount(): Long = {
      val out = tempDir("radiography_rerun")
      assertReleases(_ => RadiographyAnalysis.run(spark, images, out))
      spark.read.json(s"$out/percentage_of_samples").agg(sum("count")).head().getLong(0)
    }
    assert(imageCount() == 48)
    JobFixtures.writePng(new File(images, "Normal/added.png"), 200)
    assert(imageCount() == 49, "the rerun served the first run's cached images")
  }
}
