package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.{NearOracles, NearQueries}
/** Correctness dump for the independent DuckDB oracle: each
  * [[NearQueries.queries]] result → parquet, plus `oracle_sql.json`
  * ([[NearOracles.sql]]), for `dev/compare.py`.
  * Usage: `graft.Verify <sfDir> <outDir>`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed entry must be LOUD, not a silently absent correctness
    // row. Each entry gets one retry (a transient first-run stage race
    // must not cost the row); failures are summarized on stderr AND
    // written to `_verify_failures.json`, so a non-green dump is visible
    // even when the exit code is ignored.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    NearQueries.queries.foreach { case (name, fn) =>
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name failed (retrying): ${e1.getMessage}")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e2.getMessage}")
          failures(name) = String.valueOf(e2.getMessage)
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
    val json = NearOracles.sql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty) {
      val fj = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_verify_failures.json"), fj)
      System.err.println(
        s"[verify] ${failures.size}/${NearQueries.queries.size} entries FAILED: " +
          failures.keys.mkString(", "))
    }
    // Exit 0 even on failure: the driver must still get the green
    // entries' dumps + oracle_sql.json; the failure artifact and the
    // in-repo blanket specs are the loud gates.
    spark.stop()
  }
}
