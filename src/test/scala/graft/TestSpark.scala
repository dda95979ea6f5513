package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  // the dirs this JVM created go when it exits: nothing reads a test's
  // scratch after its suite finished
  sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    created.asScala.foreach { d =>
      try {
        val w = Files.walk(d)
        try w.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally w.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Fresh temp dir under target/ (keeps everything inside the repo),
    * deleted when the test JVM exits.
    */
  def tmpDir(prefix: String): String = {
    val base = Paths.get("target", "tmp")
    Files.createDirectories(base)
    val d = Files.createTempDirectory(base, prefix)
    created.add(d)
    d.toString
  }
}
