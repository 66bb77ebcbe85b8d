package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection main: prints explain("formatted") for the gates
  * named in args, or for every gate of [[SparkEntry.specs]] in order
  * when none are named, so two checkouts' plans can be diffed:
  *
  *   tools/runmain.sh graft.PlanDump [gate ...] > plans.txt
  *
  * (data from `SPARK_GRAFT_SF_DIR`, default sf0.01). Ids that differ
  * between two runs of the same plan are masked by [[mask]]. Masking
  * cannot undo an operator order that Spark derives from expression-id
  * hashes: the Expand behind several distinct aggregates (q245) can
  * list its groups in another order on each run. A gate
  * whose plan cannot be built prints one `PLAN_ERROR <name>` line
  * (the exception goes to stderr); the rest are still dumped and the
  * main then exits 1. */
object PlanDump {
  /** Masks what differs between two dumps of the same plans:
    *  - expression ids: `#123` → `#N`;
    *  - exchange and broadcast plan ids: `plan_id=42` → `plan_id=N`;
    *  - checkpoint RDD ids and the source lines of their call sites:
    *    `MapPartitionsRDD[104] … at Profile.scala:981` →
    *    `MapPartitionsRDD[N] … at Profile.scala:N` (a line moved by an
    *    edit is not a plan change);
    *  - the JVM names of the lambdas that typed operators such as
    *    `MapPartitions` print: `$$Lambda/0x…@1a2b` → `$$Lambda@N`;
    *  - identity hashes in the default `toString` of arrays and
    *    objects held by literals: `[[D@54c1dfd8` → `[[D@N`;
    *  - the process-id suffix of a per-process fixture dir (q34, q48):
    *    `/tmp/graft_wkt_scan_123_4567` → `/tmp/graft_wkt_scan_123`. */
  def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("(?<=\\.scala:)\\d+", "N")
      .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda@N")
      .replaceAll("(?<=\\w)@[0-9a-f]+\\b", "@N")
      .replaceAll("(/tmp/graft_[a-z_]+_\\d+)_\\d+", "$1")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.specs.map(_.name)
    val failed = names.filterNot { n =>
      println(s"\n========== $n ==========")
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        println(mask(qe.explainString(FormattedMode)))
        true
      } catch { case NonFatal(e) =>
        println(s"PLAN_ERROR $n")
        System.err.println(s"[plandump] $n: $e")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
