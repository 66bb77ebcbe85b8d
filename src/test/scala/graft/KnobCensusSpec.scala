package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable and `spark.graft.*` setting the program
  * reads. A knob stays only while two real workloads need different
  * values; a new one is added to `kept` together with that reason. */
class KnobCensusSpec extends AnyFunSuite {
  private val kept = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",             // deployment
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_DETAIL",     // paths
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",                      // Bench's partitions sweep
    "SPARK_GRAFT_BENCH_ONLY")                              // full vs targeted Bench run

  private val envRead = """(?:sys\.env|System\.getenv)""".r
  private val namedEnvRead =
    """(?:sys\.env|System\.getenv)\s*(?:\.\s*\w+\s*)?\(\s*"([^"]+)"""".r
  private val graftConf = """"(spark\.graft\.[^"]*)"""".r

  test("src/main reads exactly the kept knobs") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val sources = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val reads = sources.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      val named = namedEnvRead.findAllMatchIn(text).map(_.group(1)).toList
      assert(named.size == envRead.findAllIn(text).size,
        s"$p reads the environment without a literal name")
      named ++ graftConf.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(reads == kept,
      s"added: ${(reads -- kept).toSeq.sorted}; gone: ${(kept -- reads).toSeq.sorted}")
  }
}
