package graft.delta

import java.nio.file.{Files, Path, Paths}

/** The reference kernel's test corpus, the one locator for the golden
  * and interop specs: plain tables resolve in place, archives extract
  * once under target/tmp. Without the corpus every test that asks for
  * it fails with the same explicit message.
  */
object ReferenceCorpus {
  private val root = "/root/reference/kernel/tests"

  /** The corpus's unpacked `data` set. */
  def dataDir: String = present("data")

  /** A `golden_data` archive's table, extracted once. */
  def golden(name: String): Path = extracted("golden_data", name, "golden")

  /** A `data` archive's table, extracted once. */
  def dataArchive(name: String): Path = extracted("data", name, "fixtures")

  private def present(set: String): String = {
    val dir = s"$root/$set"
    if (!Files.isDirectory(Paths.get(dir)))
      throw new AssertionError(s"reference corpus absent at $dir")
    dir
  }

  private def extracted(set: String, name: String, into: String): Path = {
    val archive = s"${present(set)}/$name.tar.zst"
    val destRoot = Paths.get("target", "tmp", into)
    Files.createDirectories(destRoot)
    val table = destRoot.resolve(name)
    if (!Files.exists(table)) {
      require(TarZst.extract(archive, destRoot.toString),
        s"failed to extract $archive")
      // some archives ship stale Hadoop-local `.name.crc` companion
      // files; LocalFileSystem would fail checksum verification on them
      // (they are filesystem artifacts, not Delta data)
      import scala.jdk.CollectionConverters._
      val w = Files.walk(table)
      try w.iterator().asScala.toList
        .filter(p => p.getFileName.toString.startsWith(".") &&
          p.getFileName.toString.endsWith(".crc"))
        .foreach(Files.delete)
      finally w.close()
    }
    table
  }
}
