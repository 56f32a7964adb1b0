package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev-only third arg: comma-separated subset of query names to dump
    // (the driver always passes two args and gets the full suite)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, only)
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each selected query's result to `$outDir/<name>`. A query's
    * previous output is deleted before its plan is built, so a query that
    * now fails leaves no directory behind — never a stale parquet the
    * oracle compare would pass. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.tools.CacheRegistry.release()
    }
  }
}
