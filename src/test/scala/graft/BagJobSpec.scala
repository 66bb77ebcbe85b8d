package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import graft.model.BagTables
import graft.pipeline.BagJob

/** Whole-pipeline run over the registry (SURVEY §3.1): seed + a
  * three-table FK chain from GOB-named CSV extracts, with cascade
  * rejection and idempotent re-run. */
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
}
