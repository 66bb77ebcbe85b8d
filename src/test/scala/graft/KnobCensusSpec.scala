package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable and `spark.graft.*` setting the program
  * reads, and every entry point it has. A knob stays only while two
  * real workloads need different values; a new one is added to `kept`
  * together with that reason. A new main is added to `mains` the same
  * way. No operator takes a per-call partition count. */
class KnobCensusSpec extends AnyFunSuite {
  private val kept = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",             // deployment
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_DETAIL",     // paths
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",                      // Bench's partitions sweep
    "SPARK_GRAFT_BENCH_ONLY")                              // full vs targeted Bench run

  private val mains = Set(
    "Bench", "Verify",                                     // timing and correctness dump
    "JobProfile", "PlanDump", "RuleAudit", "WindowAudit",  // per-gate profilers and audits
    "pipeline.BagJobMain")                                 // the paper's job

  private val envRead = """(?:sys\.env|System\.getenv)""".r
  private val namedEnvRead =
    """(?:sys\.env|System\.getenv)\s*(?:\.\s*\w+\s*)?\(\s*"([^"]+)"""".r
  private val graftConf = """"(spark\.graft\.[^"]*)"""".r

  private val packageDecl = """(?m)^package\s+([\w.]+)""".r
  private val objectOrMain = """(?m)^object\s+(\w+)|\bdef\s+main\s*\(""".r

  private val defaultedPartitions = """\bpartitions\s*:\s*\w+\s*=""".r

  private lazy val sources = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("src/main reads exactly the kept knobs") {
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

  test("src/main defines exactly the kept entry points") {
    // each `def main(` belongs to the top-level `object` declared before it
    val defined = sources.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      val qualifier = packageDecl.findFirstMatchIn(text).map(_.group(1)) match {
        case Some("graft") | None => ""
        case Some(pkg) => pkg.stripPrefix("graft.") + "."
      }
      objectOrMain.findAllMatchIn(text).foldLeft((Option.empty[String], List.empty[String])) {
        case ((_, found), m) if m.group(1) != null => (Some(m.group(1)), found)
        case ((obj, found), _) => (obj, qualifier + obj.getOrElse(s"<no object in $p>") :: found)
      }._2
    }.toSet
    assert(defined == mains,
      s"added: ${(defined -- mains).toSeq.sorted}; gone: ${(mains -- defined).toSeq.sorted}")
  }

  test("no def in src/main takes a defaulted partitions parameter") {
    // the slice and range counts are the session's shuffle partitions
    // (EventAnalytics.sliceBoundsFor, TrainingPrep.packByTokenBudget);
    // a per-call default would be a second route to the same setting
    val found = sources.flatMap { p =>
      defaultedPartitions.findAllIn(java.nio.file.Files.readString(p))
        .map(_ => p.getFileName.toString)
    }
    assert(found.isEmpty,
      s"${found.size} defaulted partitions parameters in ${found.distinct.mkString(", ")}")
  }
}
