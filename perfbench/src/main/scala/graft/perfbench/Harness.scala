package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.model.BagTables
import graft.pipeline.BagJob
import graft.plans.OrderedDumpSortRule
import graft.queries.FixtureCache

/** The benchmark's JVM side. `run.py` prepares inputs, starts this once
  * per benchmark run, and checks what it reports:
  *
  *   Harness describe <out.json>
  *     the BAG table specs (`BagTables.loadOrder`) the extract generator
  *     derives its CSV headers from;
  *   Harness import <extract> <out> <result.json>
  *     one `BagJob.run` into `out` (the committed base the bag workload's
  *     re-imports start from), its table outcomes written to the result;
  *   Harness prewarm <dir> <work>
  *     build every fixture root of `dir` (`FixtureCache.prewarmAll`);
  *   Harness run --workload gates|bag --out <result.json> ...
  *     set-up, an untraced timed loop, and, with --trace 1, one traced
  *     pass that writes the per-layer ledger.
  *
  * The program is reached only through `SparkEntry.specs`, `BagJob.run`,
  * `OrderedDumpSortRule.install` and `FixtureCache.prewarmAll`. */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "describe" :: out :: Nil => describe(out)
    case "run" :: rest => run(Conf(rest))
    case "import" :: extract :: out :: result :: Nil => importOnce(extract, out, result)
    case "prewarm" :: dir :: work :: Nil => prewarm(dir, work)
    case _ => sys.error("usage: Harness describe <out.json> | Harness import <extract> " +
      "<out> <result.json> | Harness prewarm <dir> <work> | Harness run --workload ...")
  }

  // ---------------------------------------------------------------- conf

  final case class Conf(kv: Map[String, Seq[String]]) {
    def get(k: String): String = kv.get(k).flatMap(_.lastOption)
      .getOrElse(sys.error(s"missing --$k"))
    def all(k: String): Seq[String] = kv.getOrElse(k, Nil)
    def workload: String = get("workload")
    def seconds: Double = get("seconds").toDouble
    def trace: Boolean = get("trace") == "1"
    def work: String = get("work")
  }
  object Conf {
    def apply(args: List[String]): Conf = {
      val kv = mutable.LinkedHashMap[String, Seq[String]]()
      args.grouped(2).foreach {
        case k :: v :: Nil if k.startsWith("--") =>
          kv(k.drop(2)) = kv.getOrElse(k.drop(2), Nil) :+ v
        case bad => sys.error(s"bad arguments: ${bad.mkString(" ")}")
      }
      Conf(kv.toMap)
    }
  }

  // ------------------------------------------------------------- helpers

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(v))

  private def now(): Long = System.currentTimeMillis()
  private val born = System.nanoTime()
  /** Progress line on stderr (run.py keeps it in the run's log). */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${secs(born)}%8.2f s] $msg")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Copy a directory tree, leaving out the top-level entries `skip`. */
  private def copyTree(from: File, to: File, skip: Set[String] = Set.empty): Unit = {
    val src = from.toPath
    Files.walk(src).forEach { p =>
      val rel = src.relativize(p)
      if (rel.getNameCount == 0 || !skip(rel.getName(0).toString)) {
        val dst = to.toPath.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
      }
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // a dropped listener event would silently lose a job's counters
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "160000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    OrderedDumpSortRule.install(s)
    s
  }

  /** One-time JVM costs (encoders, datetime and regex init, collation
    * tables) that would otherwise land on the first timed op. */
  private def warmJvm(spark: SparkSession): Unit = {
    import spark.implicits._
    Seq((1, "warm")).toDF("a", "b").count()
    Seq("1900-01-01 00:00:00").toDF("s")
      .selectExpr("to_timestamp(s)", "to_date(substring(s,1,10))",
        "regexp_count(s, '[0-9]+')", "upper(s) IN ('J','Y')", "try_to_timestamp(s)")
      .count()
  }

  /** Between ops nothing persisted may carry over: a gate served from
    * another gate's cache would skip its own exchanges. */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def drain(spark: SparkSession): Unit = {
    var tries = 0
    while (!GraftShim.drainListenerBus(spark.sparkContext, 15000L))
      if ({ tries += 1; tries } > 8) sys.error("listener bus did not drain")
  }

  private def label[T](spark: SparkSession, l: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(JobLedger.LabelKey, l)
    try body finally spark.sparkContext.setLocalProperty(JobLedger.LabelKey, null)
  }

  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** Physical nodes of the final (post-AQE) plan, query-stage wrappers
    * unwrapped, subqueries included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
  private def planCounts(qe: QueryExecution): (Int, Int) = {
    val nodes = planNodes(qe.executedPlan)
    (nodes.size, nodes.count(_.isInstanceOf[Exchange]))
  }

  // ------------------------------------------------------------ describe

  private def describe(out: String): Unit = {
    val specs = BagTables.loadOrder.map { s =>
      Map(
        "name" -> s.name,
        "gob" -> (if (BagTables.gobPath(s.name) == "gebieden") "GBD" else "BAG"),
        "columns" -> s.sourceCols.map { case (src, tgt) => Seq(src, tgt) },
        "fks" -> s.fks.map(f => Seq(f.childCol, f.parentTable, f.parentKeyCol)),
        "geometry" -> s.geometry.map(_.targetType),
        "srid" -> s.geometry.map(_.srid))
    }
    writeJson(out, Map("tables" -> specs))
  }

  // -------------------------------------------------------------- import

  private def outcomes(os: Seq[BagJob.TableOutcome]): Seq[Seq[Any]] =
    os.map(o => Seq(o.name, o.loaded, o.rejected, o.errors, o.skipped))

  private def importOnce(extract: String, out: String, result: String): Unit = {
    val spark = session(new File(out).getParent)
    deleteTree(new File(out))
    val os = BagJob.run(spark, extract, out)
    spark.stop()
    writeJson(result, Map("outcomes" -> outcomes(os)))
  }

  private def prewarm(dir: String, work: String): Unit = {
    val spark = session(work)
    SparkEntry.specs
    FixtureCache.prewarmAll(spark, dir)
    spark.stop()
  }

  // ----------------------------------------------------------------- run

  private def run(c: Conf): Unit = {
    new File(c.work).mkdirs()
    val result = c.workload match {
      case "gates" => Gates(c).run()
      case "bag" => Bag(c).run()
      case w => sys.error(s"unknown workload $w")
    }
    writeJson(c.get("out"), result + ("peak_rss_mb" -> peakRssMb()))
  }

  /** Set-up, timed from JVM start: session start and warm-up
    * (`setup_session_s`), then the workload's own preparation
    * (`setup_prepare_s`); `setup_s` is their sum. */
  private def setUp(c: Conf)(
      prepare: SparkSession => Unit): (SparkSession, Map[String, Double]) = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c.work)
    warmJvm(spark)
    val t1 = now()
    prepare(spark)
    val t2 = now()
    note(s"set-up: ${(t2 - t0) / 1000.0} s")
    (spark, Map("setup_s" -> (t2 - t0) / 1000.0,
      "setup_session_s" -> (t1 - t0) / 1000.0, "setup_prepare_s" -> (t2 - t1) / 1000.0))
  }

  // --------------------------------------------------------------- gates

  /** One gate run: its times (s), row count, final-plan shape and window. */
  private final case class Op(name: String, rows: Long, seconds: Double,
      build: Double, analyze: Double, optimize: Double, physical: Double,
      nodes: Int, exchanges: Int, startMs: Long, endMs: Long)

  /** Timed passes per run, at least; the first is cold. */
  private val MinPasses = 3

  /** One gate list: `--gate name=dir` in run order, `--rows name=n` the
    * pinned row count of each, `--prewarm dir` for every directory whose
    * fixtures set-up builds. An op is
    * `spec.fn(spark, dir).queryExecution.toRdd.count()`. */
  private final case class Gates(c: Conf) {
    private def pairs(k: String): Seq[(String, String)] = c.all(k).map { g =>
      val i = g.indexOf('=')
      (g.take(i), g.drop(i + 1))
    }
    private val gates = pairs("gate")
    private val expectedRows = pairs("rows").map { case (n, r) => n -> r.toLong }.toMap
    private lazy val specs = SparkEntry.specs.map(s => s.name -> s).toMap

    private def op(spark: SparkSession, name: String, dir: String,
        traced: Boolean): Either[String, Op] = {
      clearCaches(spark)
      val fn = specs.getOrElse(name, sys.error(s"no gate $name")).fn
      val startMs = now()
      val t0 = System.nanoTime()
      try {
        val df = label(spark, s"$name|build")(fn(spark, dir))
        val build = secs(t0)
        var analyze, optimize, physical = 0.0
        if (traced) {
          val qe = df.queryExecution
          var t = System.nanoTime(); qe.analyzed; analyze = secs(t)
          t = System.nanoTime(); qe.optimizedPlan; optimize = secs(t)
          t = System.nanoTime(); qe.executedPlan; physical = secs(t)
        }
        val rows = label(spark, s"$name|action")(df.queryExecution.toRdd.count())
        val seconds = secs(t0)
        val (nodes, exchanges) = if (traced) planCounts(df.queryExecution) else (0, 0)
        Right(Op(name, rows, seconds, build, analyze, optimize, physical,
          nodes, exchanges, startMs, now()))
      } catch { case NonFatal(e) => Left(s"$name: $e") }
    }

    def run(): Map[String, Any] = {
      val (spark, setupS) = setUp(c) { s =>
        specs
        c.all("prewarm").foreach(d => FixtureCache.prewarmAll(s, d))
      }
      val failures = mutable.ArrayBuffer[String]()
      var attempted = 0
      /** One pass. A gate that throws, or returns another row count than
        * its pinned `--rows`, is a failed op and its time stays out of
        * the pass. */
      def pass(traced: Boolean): (Double, Seq[Op]) = {
        val ops = gates.flatMap { case (n, d) =>
          attempted += 1
          op(spark, n, d, traced) match {
            case Right(o) if expectedRows.get(n).contains(o.rows) => Some(o)
            case Right(o) =>
              failures += s"$n: ${o.rows} rows, expected ${expectedRows.get(n)}"; None
            case Left(err) => failures += err; None
          }
        }
        (ops.map(_.seconds).sum, ops)
      }

      val passes = mutable.ArrayBuffer[Double]()
      val loop0 = System.nanoTime()
      while (passes.size < MinPasses || secs(loop0) < c.seconds) {
        System.gc()
        passes += pass(traced = false)._1
        note(s"pass ${passes.size}: ${passes.last} s")
      }
      var out = setupS ++ Map[String, Any]("pass_s" -> passes.toSeq,
        "attempted" -> attempted, "failures" -> failures.toSeq)
      if (c.trace) {
        val ledger = new JobLedger
        spark.sparkContext.addSparkListener(ledger)
        System.gc()
        val (wall, ops) = pass(traced = true)
        drain(spark)
        spark.sparkContext.removeSparkListener(ledger)
        val (layers, rows) = gateLayers(ops, ledger.jobs, wall, median(passes.toSeq))
        out ++= Map("layers" -> layers, "ledger" -> rows,
          "attempted" -> attempted, "failures" -> failures.toSeq)
      }
      spark.stop()
      out
    }

    private def gateLayers(ops: Seq[Op], jobs: Seq[JobLedger.Job], wall: Double,
        untraced: Double): (Map[String, Double], Seq[Map[String, Any]]) = {
      val byGate = jobs.groupBy(_.label.takeWhile(_ != '|'))
      val rows = ops.map { o =>
        val js = byGate.getOrElse(o.name, Nil)
        val eager = js.filter(_.label.endsWith("|build"))
        Map[String, Any]("gate" -> o.name, "rows" -> o.rows, "seconds" -> o.seconds,
          "build_s" -> o.build, "eager_jobs" -> eager.size,
          "eager_job_s" -> eager.map(_.ms).sum / 1000.0,
          "analyze_s" -> o.analyze, "optimize_s" -> o.optimize,
          "physical_s" -> o.physical, "nodes" -> o.nodes, "exchanges" -> o.exchanges,
          "driver_only_s" -> (o.endMs - o.startMs -
            JobLedger.busyMs(js, o.startMs, o.endMs)) / 1000.0,
          "operators" -> js.groupBy(_.site).map { case (s, g) => s -> g.size }) ++
          Layers.counters(js)
      }
      val mine = ops.flatMap(o => byGate.getOrElse(o.name, Nil))
      val eager = mine.filter(_.label.endsWith("|build"))
      val layers = Layers.counters(mine) ++ Layers.exec(mine, wall) ++ Map(
        "queries.build_s" -> ops.map(_.build).sum,
        "queries.eager_jobs" -> eager.size.toDouble,
        "queries.eager_job_s" -> eager.map(_.ms).sum / 1000.0,
        "plans.analyze_s" -> ops.map(_.analyze).sum,
        "plans.optimize_s" -> ops.map(_.optimize).sum,
        "plans.physical_s" -> ops.map(_.physical).sum,
        "plans.nodes" -> ops.map(_.nodes).sum.toDouble,
        "plans.exchanges" -> ops.map(_.exchanges).sum.toDouble,
        "sched.driver_only_s" -> rows.map(_("driver_only_s").asInstanceOf[Double]).sum,
        "sources.read_amp" -> Layers.ratio(mine.map(_.input).sum.toDouble,
          c.get("input-bytes").toDouble),
        "trace.overhead" -> Layers.ratio(wall, untraced)) ++ Layers.noPipeline
      (layers, rows)
    }
  }

  // ----------------------------------------------------------------- bag

  /** `BagJob.run` over generated extracts of the `--table`s. `--base`
    * holds the committed snapshots of every table. Each iteration imports
    * `--load` where the `--table`s have no snapshot yet (a copy of the
    * base without them), then re-imports `--reimport` through the SCD2
    * merge over a full copy of the base. One iteration is timed, in a
    * JVM that has run neither phase before, as `BagJobMain` runs them.
    * The traced run ends with one untraced import of `--load` into an
    * empty output dir, where `BagJob.run` first builds an empty snapshot
    * of every table. */
  private final case class Bag(c: Conf) {
    private def phase(spark: SparkSession, data: String, out: String,
        l: String): (Double, Seq[BagJob.TableOutcome]) = {
      clearCaches(spark)
      val t0 = System.nanoTime()
      val os = label(spark, l)(BagJob.run(spark, data, out))
      (secs(t0), os)
    }

    /** md5 over every file of a snapshot dir, names and bytes. */
    private def snapshotHash(dir: File): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def walk(f: File, rel: String): Unit =
        if (f.isDirectory) f.listFiles().sortBy(_.getName)
          .foreach(x => walk(x, s"$rel/${x.getName}"))
        else { md.update(rel.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath)) }
      if (dir.exists()) walk(dir, "") else md.update("absent".getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }

    def run(): Map[String, Any] = {
      // Set-up is session start and the generic JVM warm-up only: each
      // phase then runs as BagJobMain runs it, once in a fresh session.
      val (spark, setupS) = setUp(c)(_ => require(BagTables.loadOrder.nonEmpty))
      val iters = mutable.ArrayBuffer[Map[String, Any]]()
      val loadS, reimportS = mutable.ArrayBuffer[Double]()
      val base = new File(c.get("base"))
      val tables = c.all("table").toSet
      val loadOut = new File(s"${c.work}/bag_load")
      val reimportOut = new File(s"${c.work}/bag_reimport")
      // The re-import extract of this table drops one history row, so
      // its import must abort and leave the committed snapshot as it was,
      // byte for byte.
      val abortDir = new File(reimportOut, c.get("abort-table"))
      def iteration(i: Int): (Long, Long, Long, Long) = {
        deleteTree(loadOut)
        copyTree(base, loadOut, skip = tables)
        val s0 = now()
        val (l, lo) = phase(spark, c.get("load"), loadOut.getPath, "load")
        val s1 = now()
        deleteTree(reimportOut)
        copyTree(base, reimportOut)
        val before = snapshotHash(abortDir)
        val s2 = now()
        val (r, ro) = phase(spark, c.get("reimport"), reimportOut.getPath, "reimport")
        val s3 = now()
        loadS += l; reimportS += r
        note(s"iteration $i: load $l s, reimport $r s")
        iters += Map("load" -> outcomes(lo), "reimport" -> outcomes(ro),
          "abort_snapshot_identical" -> (snapshotHash(abortDir) == before))
        (s0, s1, s2, s3)
      }
      System.gc()
      iteration(0)
      var result = setupS ++ Map[String, Any]("load_s" -> loadS.head,
        "reimport_s" -> reimportS.head)
      if (c.trace) {
        // The timed iteration ran cold; the overhead is taken against one
        // more untraced iteration, as warm as the traced one.
        iteration(1)
        val untraced = loadS.last + reimportS.last
        val ledger = new JobLedger
        val plans = new PlanMeter
        spark.sparkContext.addSparkListener(ledger)
        spark.listenerManager.register(plans)
        System.gc()
        val (s0, s1, s2, s3) = iteration(2)
        drain(spark)
        spark.sparkContext.removeSparkListener(ledger)
        spark.listenerManager.unregister(plans)
        val emptyOut = new File(s"${c.work}/bag_empty")
        val (emptyLoad, emptyOs) = phase(spark, c.get("load"), emptyOut.getPath, "empty_load")
        note(s"load into an empty dir: $emptyLoad s")
        result ++= bagLayers(ledger.jobs, plans,
          Map("load" -> (s0, s1), "reimport" -> (s2, s3)), untraced) ++ Map(
          "empty_load_s" -> emptyLoad, "empty_load" -> outcomes(emptyOs))
      }
      spark.stop()
      result + ("iterations" -> iters.toSeq)
    }

    /** Pipeline attribution: the innermost `ImportPipeline` or `BagJob`
      * frame of the job's call site. */
    private def stage(j: JobLedger.Job): String = j.frames.collectFirst {
      case f if f.startsWith("graft.pipeline.ImportPipeline$") && f.contains("validate") => "validate"
      case f if f.startsWith("graft.pipeline.ImportPipeline$") && f.contains("commitSnapshot") => "commit"
      case f if f.startsWith("graft.pipeline.ImportPipeline$") && f.contains("importTable") => "merge"
      case f if f.startsWith("graft.pipeline.BagJob$") => "recount"
    }.getOrElse("other")

    private def bagLayers(jobs: Seq[JobLedger.Job], plans: PlanMeter,
        phases: Map[String, (Long, Long)], untraced: Double): Map[String, Any] = {
      val wallMs = phases.values.map { case (a, b) => b - a }.sum
      val driverMs = phases.map { case (p, (a, b)) =>
        (b - a) - JobLedger.busyMs(jobs.filter(_.label == p), a, b) }.sum
      def stageS(s: String) = jobs.filter(stage(_) == s).map(_.ms).sum / 1000.0
      val reimportCommits = jobs.filter(j => j.label == "reimport" && stage(j) == "commit")
      val layers = Layers.counters(jobs) ++ Layers.exec(jobs, wallMs / 1000.0) ++
        plans.layers ++ Map(
          "queries.build_s" -> 0.0, "queries.eager_jobs" -> 0.0, "queries.eager_job_s" -> 0.0,
          "sched.driver_only_s" -> driverMs / 1000.0,
          "sources.read_amp" -> Layers.ratio(jobs.map(_.input).sum.toDouble,
            c.get("input-bytes").toDouble),
          "pipeline.validate_s" -> stageS("validate"),
          "pipeline.merge_s" -> stageS("merge"),
          "pipeline.commit_s" -> stageS("commit"),
          "pipeline.recount_s" -> stageS("recount"),
          "pipeline.driver_s" -> driverMs / 1000.0,
          "pipeline.jobs" -> jobs.size.toDouble,
          "pipeline.write_mb" -> jobs.filter(stage(_) == "commit").map(_.output).sum / 1e6,
          "pipeline.rows_rewritten_per_changed_row" -> Layers.ratio(
            reimportCommits.map(_.outputRecords).sum.toDouble, c.get("changed-rows").toDouble),
          "trace.overhead" -> Layers.ratio(wallMs / 1000.0, untraced))
      val ledger = phases.keys.toSeq.sorted.map { p =>
        val js = jobs.filter(_.label == p)
        Map[String, Any]("phase" -> p,
          "stages" -> js.groupBy(stage).map { case (s, g) =>
            s -> Map("jobs" -> g.size, "job_s" -> g.map(_.ms).sum / 1000.0) },
          "operators" -> js.groupBy(_.site).map { case (s, g) => s -> g.size }) ++
          Layers.counters(js)
      }
      Map("layers" -> layers, "ledger" -> ledger)
    }
  }

  /** Catalyst phase times and final-plan shape of every action the
    * pipeline runs (it builds its own DataFrames, so the phases are read
    * from each query's planning tracker instead of being forced). */
  private final class PlanMeter extends QueryExecutionListener {
    private var analyze, optimize, physical = 0L
    private var nodes, exchanges = 0
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      analyze += ms("analysis"); optimize += ms("optimization"); physical += ms("planning")
      val (n, e) = planCounts(qe)
      nodes += n; exchanges += e
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def layers: Map[String, Double] = synchronized(Map(
      "plans.analyze_s" -> analyze / 1000.0, "plans.optimize_s" -> optimize / 1000.0,
      "plans.physical_s" -> physical / 1000.0, "plans.nodes" -> nodes.toDouble,
      "plans.exchanges" -> exchanges.toDouble))
  }
}

/** Per-layer counters over a set of jobs. */
private[perfbench] object Layers {
  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def counters(js: Seq[JobLedger.Job]): Map[String, Double] = {
    val tasks = js.map(_.tasks).sum
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> js.map(_.stages).sum.toDouble,
      "sched.tasks" -> tasks.toDouble,
      "sched.tasks_per_job" -> ratio(tasks, js.size),
      "shuffle.write_mb" -> js.map(_.shuffleWrite).sum / 1e6,
      "shuffle.read_mb" -> js.map(_.shuffleRead).sum / 1e6,
      "shuffle.spill_mb" -> js.map(_.spill).sum / 1e6,
      "sources.input_mb" -> js.map(_.input).sum / 1e6)
  }

  def exec(js: Seq[JobLedger.Job], wallS: Double): Map[String, Double] = {
    val run = js.map(_.runMs).sum / 1000.0
    Map(
      "exec.run_s" -> run,
      "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "exec.max_task_s" -> (0L +: js.map(_.maxTaskMs)).max / 1000.0,
      "exec.core_util" -> ratio(run, wallS * 4),
      "exec.max_task_mem_mb" -> (0L +: js.map(_.maxTaskMem)).max / 1e6,
      "shuffle.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1000.0)
  }

  /** The pipeline layer is not run by the gate workloads. */
  val noPipeline: Map[String, Double] = Seq("validate_s", "merge_s", "commit_s",
    "recount_s", "driver_s", "jobs", "write_mb", "rows_rewritten_per_changed_row")
    .map(k => s"pipeline.$k" -> 0.0).toMap
}
