package graft.delta

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The enriched `_last_checkpoint` hint (reference
  * kernel/src/last_checkpoint_hint.rs, #2777): v2Checkpoint identity +
  * sidecar refs + non-file actions let a reader build a V2 snapshot
  * without ever opening the top-level checkpoint file.
  */
class LastCheckpointHintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hintOf(dir: String, json: String)
      : Option[LogSegment.LastCheckpointHint] = {
    val logDir = FileNames.logDir(new Path(dir))
    val fs = Storage.fs(logDir, spark.sessionState.newHadoopConf())
    fs.mkdirs(logDir)
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT), json)
    LogSegment.readLastCheckpointHint(fs, logDir)
  }

  test("parses the v2Checkpoint object: path, sidecars, non-file " +
      "actions (reference wire shape)") {
    val dir = TestSpark.tmpDir("hint-parse")
    val h = hintOf(dir,
      """{"version":7,"size":42,"sizeInBytes":1234,
        |"v2Checkpoint":{"path":"00000000000000000007.checkpoint.abc.parquet",
        |"sizeInBytes":999,"modificationTime":111,
        |"sidecarFiles":[{"path":"sc-0.parquet","sizeInBytes":10,
        |  "modificationTime":5}],
        |"nonFileActions":[
        |  {"protocol":{"minReaderVersion":3,"minWriterVersion":7,
        |    "readerFeatures":["v2Checkpoint"],
        |    "writerFeatures":["v2Checkpoint"]}},
        |  {"metaData":{"id":"mid","format":{"provider":"parquet",
        |    "options":{}},
        |    "schemaString":"{\"type\":\"struct\",\"fields\":[]}",
        |    "partitionColumns":[],"configuration":{}}},
        |  {"txn":{"appId":"app","version":9}},
        |  {"domainMetadata":{"domain":"d","configuration":"{}",
        |    "removed":false}},
        |  {"checkpointMetadata":{"version":7}}]}}"""
        .stripMargin.replace("\n", "")).get
    assert(h.version == 7 && h.sizeInBytes.contains(1234L))
    val v2 = h.v2Checkpoint.get
    assert(v2.path == "00000000000000000007.checkpoint.abc.parquet")
    assert(v2.sizeInBytes.contains(999L) &&
      v2.modificationTime.contains(111L))
    assert(v2.sidecarFiles.get == Seq(Sidecar("sc-0.parquet", 10L, 5L)))
    val nfa = v2.nonFileActions.get
    assert(nfa.protocol.get.minReaderVersion == 3)
    assert(nfa.metadata.get.id == "mid")
    assert(nfa.txns == Seq(SetTransaction("app", 9L, None)))
    assert(nfa.domainMetadatas.head.domain == "d")
    assert(nfa.checkpointMetadataVersion.contains(7L))
  }

  test("absent v2Checkpoint parses to None; an UNRECOGNIZED non-file " +
      "action key fails the whole hint; oversized sidecars drop the " +
      "field, not the hint") {
    assert(hintOf(TestSpark.tmpDir("hint-v1"),
      """{"version":3,"size":10,"parts":2}""")
      .exists(h => h.v2Checkpoint.isEmpty && h.parts.contains(2)))

    // future-writer action type: the reader must not half-trust the
    // hint — the WHOLE parse fails and the build falls back to files
    assert(hintOf(TestSpark.tmpDir("hint-bad"),
      """{"version":3,"size":10,"v2Checkpoint":{"path":"p",
        |"nonFileActions":[{"someFutureAction":{}}]}}"""
        .stripMargin.replace("\n", "")).isEmpty)

    val many = (0 until 31).map(i =>
      s"""{"path":"sc-$i.parquet","sizeInBytes":1,"modificationTime":1}""")
      .mkString("[", ",", "]")
    val dropped = hintOf(TestSpark.tmpDir("hint-big"),
      s"""{"version":3,"size":10,"v2Checkpoint":{"path":"p",
         |"sidecarFiles":$many}}""".stripMargin.replace("\n", "")).get
    assert(dropped.v2Checkpoint.get.sidecarFiles.isEmpty,
      "31 sidecars must drop the FIELD (whole, not truncated)")
  }

  test("hint identity gate: a v2Checkpoint hint applies only to the " +
      "checkpoint file it names") {
    import LogSegment.{LastCheckpointHint, LastCheckpointV2}
    val sel = Seq(FileNames.CheckpointFile(7L,
      new Path("/t/_delta_log/00000000000000000007.checkpoint.abc.parquet"),
      1, 1, isV2 = true, length = 1L))
    def hint(p: String, v: Long = 7L) = LastCheckpointHint(v, None, None,
      v2Checkpoint = Some(LastCheckpointV2(p, None, None, None, None)))
    assert(hint("00000000000000000007.checkpoint.abc.parquet")
      .appliesTo(sel))
    assert(!hint("00000000000000000007.checkpoint.OTHER.parquet")
      .appliesTo(sel), "same version, different checkpoint")
    assert(!hint("00000000000000000007.checkpoint.abc.parquet", 6L)
      .appliesTo(sel), "version mismatch")
  }

  test("V2 snapshot builds WITHOUT opening the top-level checkpoint " +
      "file: P&M, txns and sidecar refs served from the enriched hint") {
    val dir = TestSpark.tmpDir("hint-skip")
    val src = (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"k" === 1),    // a txn the hint must carry
      txn = Some(SetTransaction("hint-app", 3L, None)))
    t.append(src.filter($"k" > 1))
    t.checkpointV2(numSidecars = 2)
    val expected = t.toDF.orderBy("k").collect().toSeq

    val logDir = FileNames.logDir(new Path(dir))
    val fs = Storage.fs(logDir, spark.sessionState.newHadoopConf())
    // force every source of truth EXCEPT the hint out of the picture:
    // no CRC fast path, and a top-level checkpoint file that fails any
    // attempt to read it
    fs.listStatus(logDir).filter(_.getPath.getName.endsWith(".crc"))
      .foreach(st => fs.delete(st.getPath, false))
    val top = fs.listStatus(logDir)
      .find(st => FileNames.parse(st).exists {
        case c: FileNames.CheckpointFile => c.isV2
        case _ => false
      }).get.getPath
    Storage.put(fs, top, "not a parquet file")

    val snap = Snapshot.forTable(spark, dir)
    assert(snap.version == t.snapshot().version)
    assert(snap.setTransactions.exists(x =>
      x.appId == "hint-app" && x.version == 3L))
    assert(snap.toDF.orderBy("k").collect().toSeq == expected)

    // now point the hint at a DIFFERENT (nonexistent) checkpoint: the
    // identity gate must refuse it and the build must go to the file —
    // which is corrupt — proving a stale hint can never serve a
    // checkpoint it does not describe
    val raw = Storage.readLines(fs, new Path(logDir,
      FileNames.LAST_CHECKPOINT)).mkString
    Storage.put(fs, new Path(logDir, FileNames.LAST_CHECKPOINT),
      raw.replace(top.getName,
        top.getName.replace(".checkpoint.", ".checkpoint.0")))
    intercept[Exception] {
      Snapshot.forTable(spark, dir).toDF.count()
    }
  }
}
