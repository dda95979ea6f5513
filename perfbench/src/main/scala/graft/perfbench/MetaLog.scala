package graft.perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** Raw writer of a log-only table in the reference metadata bench shape
  * (`300k-add-files-100-col-partitioned`): commit 0 holds protocol and
  * metadata, commits 1..`commits` hold `addsPerCommit` adds each. File
  * `i` sits in partition `p = i % 64` and carries min/max/nullCount stats
  * for the first 20 of 100 long columns, with `c_j` spanning
  * `[i*1000 + j, i*1000 + j + 999]`. The engine never writes this log,
  * so it is generated once per shape and kept in the benchmark's cache.
  */
final case class MetaLog(commits: Int, addsPerCommit: Int) {
  import MetaLog._

  def numFiles: Long = commits.toLong * addsPerCommit

  /** Live files at `version` (commit `v` adds files `[(v-1)*A, v*A)`). */
  def filesAt(version: Long): Long = version * addsPerCommit

  /** Files a `p = 'k' AND c0 >= lo AND c0 <= hi` scan must keep at
    * `version`: partition `k` files whose c0 range meets `[lo, hi]`.
    */
  def prunedCount(k: Int, lo: Long, hi: Long,
      version: Long = commits): Long = {
    val n = filesAt(version)
    // file i keeps iff i % 64 == k and i*1000 <= hi and i*1000 + 999 >= lo
    val iMin = math.max(0L, ceilDiv(lo - 999, 1000))
    val iMax = math.min(n - 1, Math.floorDiv(hi, 1000L))
    if (iMax < iMin) 0L else countCongruent(iMin, iMax, k)
  }

  /** Files in partition `k` at `version`. */
  def partitionCount(k: Int, version: Long = commits): Long =
    countCongruent(0, filesAt(version) - 1, k)

  /** Write the log under `root` unless a complete copy is there. */
  def ensure(root: Path, threads: Int): Boolean = {
    val done = root.resolve(".generated")
    if (Files.exists(done)) return false
    if (Files.exists(root)) { // a partial copy from an interrupted run
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
    val log = Files.createDirectories(root.resolve("_delta_log"))
    write(log.resolve(commitName(0)), w => {
      w.write("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      w.newLine()
      w.write(metadataLine)
      w.newLine()
    })
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = (1 to commits).map { v =>
        pool.submit(new Runnable {
          def run(): Unit = write(log.resolve(commitName(v)),
            w => writeCommit(w, v))
        })
      }
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    Files.write(done, Array.emptyByteArray)
    true
  }

  private def writeCommit(w: BufferedWriter, v: Int): Unit = {
    w.write(s"""{"commitInfo":{"timestamp":${BaseTs + v},""" +
      """"operation":"WRITE","operationParameters":{}}}""")
    w.newLine()
    val sb = new java.lang.StringBuilder(2048)
    var i = (v - 1).toLong * addsPerCommit
    val end = i + addsPerCommit
    while (i < end) {
      sb.setLength(0)
      val part = i % 64
      val lo = i * 1000
      sb.append("""{"add":{"path":"p=""").append(part)
        .append("/part-").append(i).append(""".parquet",""")
        .append(""""partitionValues":{"p":"""").append(part)
        .append(""""},"size":1048576,"modificationTime":""")
        .append(BaseTs + i)
        .append(""","dataChange":true,"stats":"{\"numRecords\":""")
        .append(RecordsPerFile).append(',')
      def statMap(name: String, value: Int => Long): Unit = {
        sb.append("\\\"").append(name).append("\\\":{")
        var c = 0
        while (c < StatsCols) {
          if (c > 0) sb.append(',')
          sb.append("\\\"c").append(c).append("\\\":").append(value(c))
          c += 1
        }
        sb.append('}')
      }
      statMap("minValues", c => lo + c); sb.append(',')
      statMap("maxValues", c => lo + c + 999); sb.append(',')
      statMap("nullCount", _ => 0L)
      sb.append("}\"}}")
      w.write(sb.toString)
      w.newLine()
      i += 1
    }
  }

  private def write(path: Path, body: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }
}

object MetaLog {
  val NumCols = 100
  val StatsCols = 20
  val Partitions = 64
  val RecordsPerFile = 1000
  private val BaseTs = 1700000000000L

  def commitName(v: Long): String = f"$v%020d.json"

  private def ceilDiv(a: Long, b: Long): Long = -Math.floorDiv(-a, b)

  /** Count of `i` in `[lo, hi]` with `i % 64 == k`. */
  private def countCongruent(lo: Long, hi: Long, k: Int): Long =
    if (hi < lo) 0L
    else {
      def upTo(x: Long): Long = // count of i in [0, x] with i % 64 == k
        if (x < k) 0L else (x - k) / Partitions + 1
      upTo(hi) - (if (lo == 0) 0L else upTo(lo - 1))
    }

  private val metadataLine: String = {
    val cols = (0 until NumCols).map(i =>
      s"""{"name":"c$i","type":"long","nullable":true,"metadata":{}}""") :+
      """{"name":"p","type":"string","nullable":true,"metadata":{}}"""
    val schema = s"""{"type":"struct","fields":[${cols.mkString(",")}]}"""
    val quoted = "\"" + schema.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    """{"metaData":{"id":"perfbench-meta","format":{"provider":"parquet",""" +
      s""""options":{}},"schemaString":$quoted,"partitionColumns":["p"],""" +
      s""""configuration":{},"createdTime":$BaseTs}}"""
  }
}
