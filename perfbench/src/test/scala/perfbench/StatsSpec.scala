package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the tail rule, interval unions and
  * self time, and the call-site attribution rule. */
class StatsSpec extends AnyFunSuite {

  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles and the median") {
    assert(Stats.percentile(hundred, 50) == 50.0)
    assert(Stats.percentile(hundred, 90) == 90.0)
    assert(Stats.percentile(hundred, 100) == 100.0)
    assert(Stats.percentile(hundred, 0) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(hundred) == Stats.Tail(90, 90.0, 100, 10))
    assert(Stats.tail(hundred.reverse) == Stats.Tail(90, 90.0, 100, 10))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == Stats.Tail(50, 10.0, 20, 10))
    // 11 samples: only the smallest has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(9, 1.0, 11, 10))
    // 1000 samples: p99 leaves exactly ten beyond
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Stats.Tail(99, 990.0, 1000, 10))
    // too few samples for any such percentile: the maximum, nothing beyond
    assert(Stats.tail(Seq(2.0, 5.0, 3.0)) == Stats.Tail(100, 5.0, 3, 0))
    // the reported rank always leaves at least ten samples beyond
    for (n <- 11 to 400) {
      val t = Stats.tail((1 to n).map(_.toDouble))
      assert(t.beyond >= 10, s"n=$n: $t")
      assert(n - t.value.toInt == t.beyond, s"n=$n: $t")
      val next = Stats.percentile((1 to n).map(_.toDouble), t.percentile + 1)
      assert(n - next.toInt < 10, s"n=$n: p${t.percentile + 1} still has ten beyond")
    }
  }

  test("interval union merges overlaps, nesting and touching ends") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 12L))) == 22L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("self time is the window minus the union of its clipped children") {
    // call [100, 200): jobs cover 110-150 and 140-160 (overlapping) and
    // 190-230 (clipped to 190-200): 60 ms busy, 40 ms self
    val jobs = Seq((110L, 150L), (140L, 160L), (190L, 230L))
    assert(Stats.selfTime(100L, 200L, jobs) == 40L)
    assert(Stats.selfTime(100L, 200L, Nil) == 100L)
    assert(Stats.selfTime(100L, 200L, Seq((0L, 1000L))) == 0L)
    // per-module busy plus self adds up to the wall when modules do not overlap
    val pkg = Seq((110L, 150L))
    val run = Seq((160L, 180L))
    val busy = Stats.unionLength(pkg) + Stats.unionLength(run)
    assert(busy + Stats.selfTime(100L, 200L, pkg ++ run) == 100L)
  }

  test("add-up error: unattributed jobs and overlapping modules both move it off 0") {
    def trace(self: Double, modules: (String, Double)*) = CallTrace(2.0, self, 0, 0L, 0.0, 0L, 0L, 0L,
      modules.map { case (m, busy) => m -> ModuleTotals(busy, 1, 0.0, 0L) }.toMap, Map.empty)
    // 1.2 s of pkg jobs, 0.5 s of run jobs, 0.3 s on the driver: adds up to the 2 s wall
    assert(trace(0.3, "pkg" -> 1.2, "run" -> 0.5).addupError == 0.0)
    // 0.4 s of the 1.7 s of jobs had no graft frame: a fifth of the wall is missing
    assert(math.abs(trace(0.3, "pkg" -> 1.3, JobTracer.Unattributed -> 0.4).addupError - 0.2) < 1e-9)
    // two modules counted over the same 0.5 s: a quarter too much
    assert(math.abs(trace(0.3, "pkg" -> 1.7, "run" -> 0.5).addupError - 0.25) < 1e-9)
  }

  test("attribution: the innermost graft frame of a long call site names the module") {
    val site = Seq(
      "org.apache.spark.sql.classic.Dataset.head(Dataset.scala:2234)",
      "app//graft.pkg.PackageWriter$.write(PackageWriter.scala:77)",
      "app//graft.run.Runner$.run(Runner.scala:190)",
      "app//perfbench.BulkLoad$$anon$1.run(Workloads.scala:140)").mkString("\n")
    assert(Stats.attribute(site).contains(Stats.Site("pkg", "PackageWriter.write")))
    // without a loader prefix, and a frame of the run spine itself
    assert(Stats.attribute("graft.run.Runner$.run(Runner.scala:300)\nperfbench.Main$.main(Main.scala:1)")
      .contains(Stats.Site("run", "Runner.run")))
  }

  test("attribution: lambdas and local defs map to their enclosing method") {
    assert(Stats.attribute(
      "org.apache.spark.sql.execution.streaming.MicroBatchExecution.runBatch(MicroBatchExecution.scala:1)\n" +
        "graft.streaming.StreamRunner$.$anonfun$drainAvailableNow$1(StreamRunner.scala:53)")
      .contains(Stats.Site("streaming", "StreamRunner.drainAvailableNow")))
    assert(Stats.attribute("graft.run.Runner$.bucketedApply$1(Runner.scala:250)")
      .contains(Stats.Site("run", "Runner.bucketedApply")))
  }

  test("attribution: no graft frame, or only a main in the graft package, is unattributed") {
    assert(Stats.attribute(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\nperfbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Stats.attribute("graft.Bench$.main(Bench.scala:10)").isEmpty)
    assert(Stats.attribute("").isEmpty)
  }
}
