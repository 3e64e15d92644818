package graft

import scala.jdk.CollectionConverters._

/** The conf-key registry ([[GraftConf.KnownKeys]] + requireKnown): a
  * typo'd `spark.graft.*` dial must fail fast instead of silently
  * reverting to its default — for guard confs that silent fallback is
  * an unguarded production run that looks configured. The source scan
  * keeps the registry equal to the keys main actually reads, so
  * neither can drift. */
class ConfRegistrySpec extends SparkFunSuite {

  test("registry equals the quoted spark.graft.* literals in main source") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"source scan expects sbt cwd at the repo root (missing $root)")
    // exact-literal keys only: a closing quote right after the key, so
    // error-message strings ("...maxBufferedRows must be an integer")
    // and scaladoc prose never match
    val keyRe = """"(spark\.graft\.[a-zA-Z][a-zA-Z0-9.]*)"""".r
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => keyRe.findAllMatchIn(
        java.nio.file.Files.readString(p)).map(_.group(1)))
      .toSet
    val unregistered = found -- GraftConf.KnownKeys
    assert(unregistered.isEmpty,
      s"conf keys read in main but missing from GraftConf.KnownKeys: $unregistered")
    val dead = GraftConf.KnownKeys -- found
    assert(dead.isEmpty,
      s"registered keys no source line reads (stale registry): $dead")
  }

  test("requireKnown rejects a typo'd conf by name and accepts known keys") {
    // a typo'd case, then the four shuffle-sizing keys the engine no
    // longer reads: a deployment still setting one must learn at once
    // instead of the setting being silently ignored
    for (bad <- Seq(
        "spark.graft.winnow.maxDocsPerFP",
        "spark.graft.shuffle.expansionAware",
        "spark.graft.shuffle.expansionArtifact",
        "spark.graft.shuffle.targetBytesPerPartition",
        "spark.graft.shuffle.targetShuffleBytesPerPartition")) {
      withConf(bad -> "1") {
        val e = intercept[IllegalArgumentException] {
          GraftConf.requireKnown(spark)
        }
        assert(e.getMessage.contains(bad), s"$bad not named: ${e.getMessage}")
      }
    }
    withConf("spark.graft.winnow.maxDocsPerFp" -> "10000",
        "spark.graft.profile" -> "scale") {
      GraftConf.requireKnown(spark) // must not throw
    }
  }
}
