package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.BagTables
import graft.pipeline.{BagJob, DirCommit, ImportPipeline}

/** The sequential loop the FK DAG of `BagJob.run` replaced: the seed, then
  * every table in `loadOrder`, one after another. Kept here only as the
  * witness the DAG is compared with. */
object SequentialBagJob {
  import BagJob.TableOutcome

  private def csvFile(dataDir: String, name: String): java.io.File = {
    val gobId = if (BagTables.gobPath(name) == "gebieden") "GBD" else "BAG"
    new java.io.File(s"$dataDir/${gobId}_${name}_ActueelEnHistorie.csv")
  }

  def run(spark: SparkSession, dataDir: String, outDir: String): Seq[TableOutcome] = {
    val parents = scala.collection.mutable.Map[String, DataFrame]()
    def dir(name: String) = s"$outDir/$name"
    def snapshot(name: String, schema: StructType): Option[DataFrame] =
      Some(dir(name)).filter(DirCommit.current).map(spark.read.schema(schema).parquet(_))

    val gemeente = BagTables.gemeenteSeed(spark)
    ImportPipeline.commitSnapshot(gemeente, dir("gemeente"))
    parents("gemeente") = snapshot("gemeente", gemeente.schema).get

    val live = BagTables.loadOrder.flatMap { spec =>
      val empty = ImportPipeline.emptySnapshot(spark, spec)
      val committed = snapshot(spec.name, empty.schema)
      parents(spec.name) = committed.getOrElse(empty)
      committed.map(spec.name -> _)
    }.toMap

    val outcomes = BagTables.loadOrder.map { spec =>
      val f = csvFile(dataDir, spec.name)
      if (!f.exists()) {
        TableOutcome(spec.name, 0, 0, Nil, skipped = true)
      } else {
        val result = ImportPipeline.importTable(spark, spec, f.getPath,
          parents.toMap, live.get(spec.name))
        try {
          if (result.report.failed) {
            TableOutcome(spec.name, 0, result.rejectedRows,
              result.report.errors, skipped = false, result.rejectedBy)
          } else {
            ImportPipeline.commitSnapshot(result.merged, dir(spec.name))
            parents(spec.name) = snapshot(spec.name, parents(spec.name).schema).get
            TableOutcome(spec.name, result.loaded, result.rejectedRows,
              Nil, skipped = false, result.rejectedBy)
          }
        } finally result.release()
      }
    }
    TableOutcome("gemeente", 1, 0, Nil, skipped = false) +: outcomes
  }
}

/** Whole-pipeline run over the registry (SURVEY §3.1): seed + a
  * three-table FK chain from GOB-named CSV extracts, with cascade
  * rejection and idempotent re-run, and the FK DAG against the
  * sequential loop it replaced. */
class BagJobSpec extends SparkSuite {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(s"$dir/$name"),
      ("﻿" + lines.mkString("\n")).getBytes(StandardCharsets.UTF_8))

  private def csvFor(spec: graft.model.TableSpec,
      rows: Seq[Map[String, String]]): Seq[String] = {
    val header = spec.sourceCols.map(_._1)
    header.mkString(";") +: rows.map(r => header.map(h => r.getOrElse(h, "")).mkString(";"))
  }

  private val stadsdeelRows = Seq(
    Map("identificatie" -> "SDL1", "volgnummer" -> "1",
      "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
      "naam" -> "Centrum", "code" -> "A",
      "ligtIn:BRK.GME.identificatie" -> "0363", "ligtIn:BRK.GME.volgnummer" -> "1"),
    Map("identificatie" -> "SDL2", "volgnummer" -> "1",
      "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
      "naam" -> "West", "code" -> "B",
      "ligtIn:BRK.GME.identificatie" -> "0363"))

  /** The three-table FK chain stadsdeel -> ggw_gebied -> wijk; one wijk
    * row names a stadsdeel that does not exist. */
  private def writeChain(data: String,
      stadsdeel: Seq[Map[String, String]] = stadsdeelRows): Unit = {
    writeCsv(data, "GBD_stadsdeel_ActueelEnHistorie.csv", csvFor(BagTables.stadsdeel, stadsdeel))
    writeCsv(data, "GBD_ggw_gebied_ActueelEnHistorie.csv", csvFor(BagTables.ggwGebied, Seq(
      Map("identificatie" -> "GGW1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "naam" -> "Gebied 1", "code" -> "G1",
        "ligtIn:GBD.SDL.identificatie" -> "SDL1", "ligtIn:GBD.SDL.volgnummer" -> "1"))))
    writeCsv(data, "GBD_wijk_ActueelEnHistorie.csv", csvFor(BagTables.wijk, Seq(
      Map("identificatie" -> "WIJK1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "naam" -> "Wijk 1", "code" -> "W1", "cbsCode" -> "CBS1",
        "ligtIn:GBD.SDL.identificatie" -> "SDL1", "ligtIn:GBD.SDL.volgnummer" -> "1",
        "ligtIn:GBD.GGW.identificatie" -> "GGW1", "ligtIn:GBD.GGW.volgnummer" -> "1"),
      Map("identificatie" -> "WIJK9", "volgnummer" -> "1",   // dangling stadsdeel
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "naam" -> "Spook", "code" -> "W9", "cbsCode" -> "CBS9",
        "ligtIn:GBD.SDL.identificatie" -> "SDL9", "ligtIn:GBD.SDL.volgnummer" -> "1"))))
  }

  private lazy val meter = RunMeter.attach(spark)

  /** `f`'s result and the number of Spark jobs it started. */
  private def countingJobs[T](f: => T): (T, Int) = {
    meter.reset()
    val r = f
    (r, meter.read().jobs)
  }

  /** The reported `loaded` of every committed table is its snapshot's
    * row count. */
  private def assertLoadedIsCommitted(outcomes: Seq[BagJob.TableOutcome], out: String): Unit =
    outcomes.filter(o => !o.skipped && o.errors.isEmpty).foreach { o =>
      assert(o.loaded == spark.read.parquet(s"$out/${o.name}").count(), o.name)
    }

  test("BagJob: seed + stadsdeel -> ggw_gebied -> wijk chain, FK cascade, idempotent") {
    val base = Files.createTempDirectory("graft-bagjob").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))

    writeChain(data)

    // job budgets of the single tagged pass per table: a schema-
    // inference read or a recount of a commit shows up here
    val (outcomes, jobs) = countingJobs(BagJob.run(spark, data, out))
    assert(jobs <= 24, s"load ran $jobs jobs")
    assertLoadedIsCommitted(outcomes, out)
    val byName = outcomes.map(o => o.name -> o).toMap
    assert(byName("gemeente").loaded == 1)
    assert(byName("stadsdeel").loaded == 2 && byName("stadsdeel").rejected == 0)
    assert(byName("ggw_gebied").loaded == 1)
    assert(byName("wijk").loaded == 1 && byName("wijk").rejected == 1)
    assert(byName("nummeraanduiding").skipped && byName("pand").skipped)

    // committed snapshots carry the versioned FK ids
    val wijk = spark.read.parquet(s"$out/wijk")
    val r = wijk.select($"id", $"stadsdeel_id", $"ggw_gebied_id")
      .as[(String, String, String)].head()
    assert(r == (("WIJK1_001", "SDL1_001", "GGW1_001")))

    // second run over the same extracts: incremental merge inserts and
    // changes nothing (reference README.md:28 semantics)
    val (again, jobs2) = countingJobs(BagJob.run(spark, data, out))
    assert(jobs2 <= 39, s"re-import ran $jobs2 jobs")
    assertLoadedIsCommitted(again, out)
    val byName2 = again.map(o => o.name -> o).toMap
    assert(byName2("stadsdeel").loaded == 2 && byName2("wijk").loaded == 1)

    // O2 named-task restart mid-DAG (--bagh_start semantics,
    // batch/batch.py:19-30): wijk's FK checks must resolve against the
    // stadsdeel/ggw_gebied snapshots committed by the earlier run, not
    // throw on a missing `parents` entry.
    val restart = BagJob.run(spark, data, out, startAt = Some("wijk"))
    assertLoadedIsCommitted(restart, out)
    val byName3 = restart.map(o => o.name -> o).toMap
    assert(!byName3.contains("stadsdeel") && !byName3.contains("ggw_gebied"))
    assert(byName3("wijk").loaded == 1 && byName3("wijk").rejected == 1)
  }

  test("BagJob: startAt with an absent parent FK-rejects instead of throwing") {
    val base = Files.createTempDirectory("graft-bagjob-restart").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))

    // only the child extract exists; stadsdeel was never committed
    writeCsv(data, "GBD_ggw_gebied_ActueelEnHistorie.csv", csvFor(BagTables.ggwGebied, Seq(
      Map("identificatie" -> "GGW1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "naam" -> "Gebied 1", "code" -> "G1",
        "ligtIn:GBD.SDL.identificatie" -> "SDL1", "ligtIn:GBD.SDL.volgnummer" -> "1"))))

    val outcomes = BagJob.run(spark, data, out, startAt = Some("ggw_gebied"))
    assertLoadedIsCommitted(outcomes, out)
    val byName = outcomes.map(o => o.name -> o).toMap
    // the row references SDL1 but stadsdeel's snapshot is an empty
    // spec-schema frame -> honest fk_miss rejection, zero rows loaded
    assert(byName("ggw_gebied").loaded == 0 && byName("ggw_gebied").rejected == 1)
  }

  test("BagJob: a startAt that names no table throws before anything is committed") {
    val base = Files.createTempDirectory("graft-bagjob-badstart").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))
    Files.createDirectories(Paths.get(out))
    writeChain(data)
    val err = intercept[IllegalArgumentException] {
      BagJob.run(spark, data, out, startAt = Some("wjik"))
    }
    assert(err.getMessage.contains("wjik"))
    assert(new java.io.File(out).list().isEmpty, "the job wrote before rejecting startAt")
  }

  test("BagJob: a restart after a crash between the commit's two moves keeps the snapshots") {
    import org.apache.commons.io.FileUtils
    val base = Files.createTempDirectory("graft-bagjob-crash").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))
    writeChain(data)
    BagJob.run(spark, data, out)
    val tables = Seq("gemeente", "stadsdeel", "ggw_gebied", "wijk")
    def rows(t: String) = spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq
    val clean = tables.map(t => t -> rows(t)).toMap
    def assertClean(): Unit = tables.foreach { t =>
      assert(rows(t) == clean(t), t)
      assert(!Files.exists(Paths.get(s"$out/$t.staging")), t)
      assert(!Files.exists(Paths.get(s"$out/$t/_GRAFT_COMMIT_READY")), t)
    }
    val live = new java.io.File(s"$out/stadsdeel")
    val staging = new java.io.File(s"$out/stadsdeel.staging")
    // the residue of a crash between the commit's two moves: the live
    // snapshot demoted to `.old`, its complete successor staged and sealed
    def crash(): Unit = {
      FileUtils.copyDirectory(live, staging)
      Files.createFile(staging.toPath.resolve("_GRAFT_COMMIT_READY"))
      FileUtils.deleteDirectory(new java.io.File(s"$out/stadsdeel.old"))
      Files.move(live.toPath, Paths.get(s"$out/stadsdeel.old"))
    }
    def byName(os: Seq[BagJob.TableOutcome]) = os.map(o => o.name -> o).toMap

    // restart at the crashed table's child: its FK checks see the
    // rolled-forward parent, not an empty one
    crash()
    val child = byName(BagJob.run(spark, data, out, startAt = Some("ggw_gebied")))
    assert(child("ggw_gebied").loaded == 1 && child("ggw_gebied").rejected == 0)
    assert(child("wijk").loaded == 1 && child("wijk").rejected == 1)
    assertClean()

    // full restart: the crashed table re-imports against its history
    crash()
    val full = byName(BagJob.run(spark, data, out))
    assert(full("stadsdeel").loaded == 2 && full("stadsdeel").errors.isEmpty)
    assertClean()

    // a re-import that drops a history row still aborts after a crash
    crash()
    writeChain(data, stadsdeelRows.take(1))
    val dropped = byName(BagJob.run(spark, data, out))
    assert(dropped("stadsdeel").errors == Seq("deleted_history_rows:1"))
    assertClean()

    // an unsealed staging next to the live snapshot is discarded, never
    // promoted
    spark.read.parquet(live.getPath).limit(1).write.parquet(staging.getPath)
    BagJob.run(spark, data, out, startAt = Some("ggw_gebied"))
    assertClean()
  }

  /** Every directory under `out` (`.old` versions included) with its
    * rows and its schema, field metadata included. */
  private def snapshots(out: String): Map[String, (Seq[String], StructType)] =
    new java.io.File(out).listFiles().filter(_.isDirectory).map { d =>
      val df = spark.read.parquet(d.getPath)
      d.getName -> ((df.collect().map(_.toString).sorted.toSeq, df.schema))
    }.toMap

  test("BagJob: the FK DAG commits what the sequential loop commits") {
    val base = Files.createTempDirectory("graft-bagjob-dag").toString
    val data = s"$base/data"; val seqOut = s"$base/seq"; val dagOut = s"$base/dag"
    Files.createDirectories(Paths.get(data))
    writeChain(data)
    def both(): Seq[BagJob.TableOutcome] = {
      val seq = SequentialBagJob.run(spark, data, seqOut)
      val dag = BagJob.run(spark, data, dagOut)
      assert(dag == seq)
      val (s, d) = (snapshots(seqOut), snapshots(dagOut))
      assert(d.keySet == s.keySet)
      s.foreach { case (t, (rows, schema)) =>
        assert(d(t)._1 == rows, t)
        assert(d(t)._2 == schema, t)
        schema.fields.filter(_.metadata.contains("srid")).foreach { f =>
          assert(d(t)._2(f.name).metadata == f.metadata, s"$t.${f.name}")
        }
      }
      dag
    }
    both()                                    // load
    assert(snapshots(dagOut)("stadsdeel")._2("geometrie").metadata.getLong("srid") == 28992)
    both()                                    // re-import
    writeChain(data, stadsdeelRows.take(1))   // drops a history row
    val aborted = both()
    assert(aborted.find(_.name == "stadsdeel").get.errors == Seq("deleted_history_rows:1"))
  }

  private def poolThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName == BagJob.ThreadName)
  }

  test("BagJob: a table that throws stops its FK descendants, not independent tables") {
    val base = Files.createTempDirectory("graft-bagjob-throw").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))
    writeChain(data)
    // ggw_gebied's stadsdeel ref raises at the action, like the
    // reference's int(); wijk refers to ggw_gebied, pand to nothing
    writeCsv(data, "GBD_ggw_gebied_ActueelEnHistorie.csv", csvFor(BagTables.ggwGebied, Seq(
      Map("identificatie" -> "GGW1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "naam" -> "Gebied 1", "code" -> "G1",
        "ligtIn:GBD.SDL.identificatie" -> "SDL1", "ligtIn:GBD.SDL.volgnummer" -> "abc"))))
    writeCsv(data, "BAG_pand_ActueelEnHistorie.csv", csvFor(BagTables.pand, Seq(
      Map("identificatie" -> "P1", "volgnummer" -> "1",
        "registratiedatum" -> "2020-01-01 00:00:00", "beginGeldigheid" -> "2020-01-01",
        "status" -> "Pand in gebruik"))))
    spark.catalog.clearCache()
    val ex = intercept[Exception](BagJob.run(spark, data, out))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("non-numeric volgnummer")))
    // the parent and the independent table committed before the rethrow;
    // the failed table and its descendant did not
    assert(spark.read.parquet(s"$out/stadsdeel").count() == 2)
    assert(spark.read.parquet(s"$out/pand").count() == 1)
    assert(!Files.exists(Paths.get(s"$out/ggw_gebied")))
    assert(!Files.exists(Paths.get(s"$out/wijk")))
    assert(!new java.io.File(out).list().exists(_.endsWith(".staging")))
    assert(poolThreads().isEmpty)
    // the failed import unpersisted what it cached before rethrowing
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("BagJob: every job carries the calling thread's local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = Files.createTempDirectory("graft-bagjob-props").toString
    val data = s"$base/data"; val out = s"$base/out"
    Files.createDirectories(Paths.get(data))
    writeChain(data)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        labels.add(String.valueOf(j.properties.getProperty("graft.test.label")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.label", "bag")
    try {
      BagJob.run(spark, data, out)  // a load
      BagJob.run(spark, data, out)  // a re-import
      assert(org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(sc, 60000L))
    } finally {
      sc.setLocalProperty("graft.test.label", null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = labels.asScala.toSeq
    assert(seen.nonEmpty && seen.forall(_ == "bag"), seen)
    assert(poolThreads().isEmpty)
  }
}
