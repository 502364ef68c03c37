package graft

import java.nio.file.{Files, Paths}

import graft.tools.Probe

/** The per-query probe on the smallest corpus: both runs are timed
  * and print parseably, run 2's stage table is filled from the
  * listener, and the plan written is the AQE-final one that ran. */
class ProbeSpec extends SparkSpec with VectorServeFixtures {

  test("probe one query: run times parse, stages recorded, AQE-final plan written") {
    assumeTestdata()
    val planDir = Files.createTempDirectory("probe-plans").toString
    val r = Probe.probe(spark, "q02_ship_priority", SfDir, Some(planDir))

    val runs = """run1=([0-9.]+) run2=([0-9.]+) min=([0-9.]+)""".r
      .findFirstMatchIn(r.lines.head).map(m => (1 to 3).map(m.group(_).toDouble))
    assert(runs.exists(_.forall(_ > 0)), r.lines.head)
    assert(r.stages.nonEmpty, "run 2 recorded no stages")
    assert(r.lines.exists(_.contains("\"run_ms\":")), r.lines.mkString("\n"))
    val cpuMs = r.stages.map(s => "\"cpu_ms\":(-?[0-9]+)".r.findFirstMatchIn(s).map(_.group(1).toLong))
    assert(cpuMs.forall(_.exists(_ >= 0)), s"a stage row lacks a non-negative cpu_ms:\n${r.stages.mkString("\n")}")
    assert(r.cacheScans + r.parquetScans > 0, s"run 2's plan scans nothing:\n${r.plan}")

    val written = Paths.get(planDir, "q02_ship_priority.txt")
    assert(Files.exists(written), s"no plan at $written")
    assert(Files.readString(written).contains("isFinalPlan=true"), Files.readString(written))

    // run 2 repeats run 1's plan, so it reuses every class run 1 compiled
    val codegen = """run2 codegen: compiles=(\d+) compile_ms=([0-9.]+)""".r
      .findFirstMatchIn(r.lines.mkString("\n")).map(m => (m.group(1).toLong, m.group(2).toDouble))
    assert(codegen.contains((0L, 0.0)), r.lines.mkString("\n"))
  }

  test("a plan whose generated code changes on every run shows up as run-2 compiles") {
    val s = spark
    import s.implicits._
    // a literal that moves from run to run is inlined into the generated code
    val runs = new java.util.concurrent.atomic.AtomicLong()
    val r = Probe.probeRuns(spark, "moving_literal", None) {
      spark.range(1000).filter($"id" % 7L === runs.incrementAndGet()).select(($"id" * 3L).as("x"))
    }
    assert(runs.get == 2)
    assert(r.compiles > 0 && r.compileMs > 0, r.lines.mkString("\n"))
    assert(r.lines.exists(_.contains(s"run2 codegen: compiles=${r.compiles} ")), r.lines.mkString("\n"))
  }
}
