package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional arg 3: comma-separated query names — dev-only filter for
    // fast single-query iteration; the driver always runs the full set
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // a filtered dump also filters oracle_sql.json, so check.py over this
    // out dir validates only the subset — mark it loudly and on disk so a
    // stale partial run can't be mistaken for a full gate pass
    only.foreach { names =>
      val kept = SparkEntry.queries.keySet.intersect(names).size
      val msg = s"FILTERED RUN ($kept of ${SparkEntry.queries.size} queries)"
      System.err.println(s"[verify] $msg")
      new java.io.File(outDir).mkdirs()
      Files.writeString(Paths.get(s"$outDir/FILTERED_RUN"), msg)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the gate runs the session a CLUSTER would run: production
      // extensions installed, analysis-time scale guard armed — any
      // query GlobalWindowCheck rejects is a real finding
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.failOnGlobalWindow", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a query that throws must leave NO output behind: a previous run's
    // parquet in a reused out dir would otherwise pass the compare
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        deleteRecursively(Paths.get(s"$outDir/$name"))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name
        }
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(q => Files.delete(q))
      finally walk.close()
    }
}
