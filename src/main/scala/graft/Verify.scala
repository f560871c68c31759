package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name filter (substring match)
    // for fast single-query iteration with scripts/check.py
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [name1,name2,...]")
        sys.exit(2)
    }
    val spark = GraftSession.local("graft-verify")
    // sweep fixture dirs superseded by format-version bumps before
    // anything fingerprint-matches against them
    graft.io.Warehouse.dropSuperseded(spark)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.declared.filter(d => only.forall(_.exists(d.name.contains)))
    selected.foreach { d =>
      try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map(d => s"${q(d.name)}: ${q(d.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
