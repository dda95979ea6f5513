package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local use)]
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // scratch hygiene (same policy as Bench): each query invocation
    // leaves its UUID table dir under target/tmp — drop the dirs THIS
    // JVM registered right after a query's output lands (never a
    // directory diff, which once deleted a concurrent test run's
    // files), and wipe stale dirs (>1 h, prior sessions) at the end.
    val tmpRoot = Paths.get("/root/repo/target/tmp")
    selected.foreach { case (name, fn) =>
      // retry once: a transient environment hiccup (fixture read race,
      // temp-dir collision) must not silently drop this query's row
      // from the driver's correctness report
      def attempt(): Unit =
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] $name failed: ${e1.getMessage}; " +
          "retrying once")
        try attempt()
        catch { case e2: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed twice: " +
            s"${e2.getMessage}")
        }
      }
      graft.queries.ScratchDirs.dropRegistered()
    }
    graft.queries.ScratchDirs.sweepStale(tmpRoot)
    // one greppable summary: a CORRECTNESS row count below
    // `wrote` means the gap is downstream of this JVM
    System.err.println(s"[verify] wrote ${selected.size - failed.size}" +
      s"/${selected.size} query outputs" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(",")}"))
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
}
