package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession

import graft.contract.{Transform, ValidationProgram}
import graft.core.{Ledger, Sessions}

/** The load-spine benchmark: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <bulk_load|drain_stream> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --result <file>
  * }}}
  *
  * Set-up (timed as `setup_s`, never as a call): session start, seeded
  * staging of the inputs (repeated, median reported) and the workload's
  * warm-up calls. Then a closed
  * loop, one caller, calls the product until `--seconds` have passed,
  * checking every call's outputs. Untraced, it reports the end-to-end
  * metrics. Traced, the first half of the time runs untraced and the
  * second half under the job tracer, the layer probes follow, and it
  * reports the per-layer metrics. The result object goes to `--result`;
  * a detail object goes to stdout. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, result: String)

  /** One call as the loop saw it; `heapPeak` is the largest heap
    * occupancy a collection during the call left behind, in bytes (the
    * call starts from a fully collected heap). */
  final case class Rec(wallS: Double, outcome: Option[Outcome], epochs: Seq[Epoch],
      trace: Option[CallTrace], heapPeak: Option[Long], problems: Seq[String])

  private val StageReps = 3
  private val ProbeReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("result"))
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "bulk_load" => new BulkLoad(spark, a.seed, a.work, rows = 1000000L, files = 4)
    case "drain_stream" => new DrainStream(spark, a.seed, a.work, rows = 100000L, files = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val started = System.nanoTime()
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace)
    var result: Map[String, Any] = Map.empty
    var ok = false
    var spark: SparkSession = null
    try {
      val (s, sessionS) = timed {
        val cores = Runtime.getRuntime.availableProcessors().toString
        Sessions.local(cores, cores)
      }
      spark = s
      val epochs = new EpochListener
      spark.streams.addListener(epochs)
      val wl = workload(a, spark)
      if (a.trace) spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

      // ---- set-up: staging repeated, warm-up calls ----
      val stageS = (1 to StageReps).map { _ =>
        FsUtil.delete(s"${a.work}/stage")
        timed(wl.stage(s"${a.work}/stage"))._2
      }
      val fingerprint = Inputs.fingerprint(wl.stagedDirs)

      val heap = new HeapPeak
      heap.start()
      def call(tracer: Option[JobTracer]): Rec = {
        val p = wl.prepare()
        // every call starts from the same fully collected heap, so neither
        // its timing nor its heap peak inherits the previous call's garbage
        heap.collectAndReset()
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err = try { p.run(); None } catch { case NonFatal(e) => Some(e) }
        val wall = secs(t0)
        val endMs = System.currentTimeMillis()
        val heapPeak = heap.take()
        ListenerBusAccess.drain(spark.sparkContext)
        val tr = tracer.map(_.callTrace(startMs, endMs, wall))
        val eps = epochs.take()
        err match {
          case Some(e) => Rec(wall, None, eps, tr, heapPeak, Seq(s"call threw: $e"))
          case None =>
            try { val o = p.check(); Rec(wall, Some(o), eps, tr, heapPeak, o.problems) }
            catch { case NonFatal(e) => Rec(wall, None, eps, tr, heapPeak, Seq(s"check threw: $e")) }
        }
      }
      def loop(seconds: Double, tracer: Option[JobTracer]): Seq[Rec] = {
        val out = Vector.newBuilder[Rec]
        val t0 = System.nanoTime()
        var failed = false
        do {
          val r = call(tracer)
          failed = r.problems.nonEmpty
          out += r
        } while (!failed && secs(t0) < seconds)
        out.result()
      }

      val (warm, warmS) = timed((1 to wl.warmUpCalls).map(_ => call(None)))
      val setupS = sessionS + Stats.median(stageS) + warmS
      detail ++= Seq("input_fingerprint" -> fingerprint, "sizes" -> wl.sizes)
      detail ++= Seq("setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS,
        "warm_up_s" -> warmS, "warm_up_call_s" -> warm.map(_.wallS)))

      val (untraced, traced, tracer) =
        if (!a.trace) (loop(a.seconds, None), Nil, None)
        else {
          val u = loop(a.seconds / 2, None)
          val tracer = new JobTracer(wl.sourceMarkers)
          spark.sparkContext.addSparkListener(tracer)
          val t = try loop(a.seconds / 2, Some(tracer))
            finally {
              ListenerBusAccess.drain(spark.sparkContext)
              spark.sparkContext.removeSparkListener(tracer)
            }
          (u, t, Some(tracer))
        }
      detail ++= Seq("collections" -> heap.stop(), "vm_hwm_mb" -> vmHwmMb())
      val measured = untraced ++ traced
      val all = warm ++ measured
      val problems = all.flatMap(_.problems)
      val failedCalls = all.count(_.problems.nonEmpty)
      detail ++= Seq("call_s" -> measured.map(_.wallS), "calls" -> all.size,
        "failed_calls" -> failedCalls, "failed_share" -> failedCalls.toDouble / all.size,
        "problems" -> problems.take(10))

      val metrics =
        if (!a.trace) endToEnd(wl, setupS, untraced, detail)
        else perLayer(wl, untraced, traced, tracer.get, a.work, detail)
      result = Map("correct" -> problems.isEmpty, "attempted" -> all.size,
        "failed" -> failedCalls, "metrics" -> metrics)
      ok = problems.isEmpty
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: ${a.workload} failed: $e")
        e.printStackTrace()
        detail += "error" -> e.toString
    } finally {
      detail += "main_s" -> secs(started)
      // the result line must survive a shutdown that throws
      try { if (spark != null) spark.stop() }
      catch { case NonFatal(e) => detail += "stop_error" -> e.toString }
      detail += "stop_s" -> secs(started)
    }
    println(Json.render(Map("detail" -> detail)))
    if (result.nonEmpty)
      Files.write(Paths.get(a.result), Json.render(result).getBytes(StandardCharsets.UTF_8))
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** The process's peak RSS. With a fixed-size heap it mostly shows how
    * much of that heap the collector touched, so it is a diagnostic only. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Call walls; for a stream workload, epoch durations as its listener saw them. */
  private def epochTimes(wl: Workload, recs: Seq[Rec]): Seq[Double] =
    if (wl.isInstanceOf[DrainStream]) recs.flatMap(_.epochs.map(_.triggerS)) else recs.map(_.wallS)

  def endToEnd(wl: Workload, setupS: Double, recs: Seq[Rec],
      detail: scala.collection.mutable.Map[String, Any]): Map[String, Any] = {
    val walls = recs.map(_.wallS)
    val outs = recs.flatMap(_.outcome)
    val eps = epochTimes(wl, recs)
    // The tails go to the detail line, not the result: a window of a few
    // multi-second calls has too few samples for a steady tail.
    def tail(xs: Seq[Double]) = {
      val t = Stats.tail(xs)
      Map("value" -> t.value, "unit" -> "s", "percentile" -> t.percentile,
        "samples" -> t.samples, "beyond" -> t.beyond)
    }
    // a call no collection ran in has no reading
    val heapMb = recs.flatMap(_.heapPeak).map(_ / 1048576.0)
    detail ++= Seq("run_s_tail" -> tail(walls), "epoch_s_tail" -> tail(eps),
      "heap_peak_after_gc_mb_per_call" -> heapMb, "calls_without_collection" -> (recs.size - heapMb.size))
    Map(
      "setup_s" -> metric(setupS, "s"),
      "run_s_p50" -> metric(Stats.median(walls), "s"),
      "epoch_s_p50" -> metric(Stats.median(eps), "s"),
      "rows_per_s" -> metric(outs.map(_.inputRows).sum / walls.sum, "rows/s"),
      "stored_bytes_per_input_byte" ->
        metric(outs.map(_.writtenBytes).sum.toDouble / outs.map(_.inputBytes).sum, "ratio"),
      "peak_heap_after_gc_mb" -> metric(heapMb.max, "MiB"))
  }

  /** Median wall of `reps` runs of `body`. */
  private def probe(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => timed(body)._2))

  def perLayer(wl: Workload, untraced: Seq[Rec], traced: Seq[Rec], tracer: JobTracer,
      work: String, detail: scala.collection.mutable.Map[String, Any]): Map[String, Any] = {
    val traces = traced.flatMap(_.trace)
    val outs = (untraced ++ traced).flatMap(_.outcome)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mod(m: String)(f: ModuleTotals => Double): Double =
      med(traces.map(t => t.modules.get(m).map(f).getOrElse(0.0)))

    // layer probes, outside every call
    val program = ValidationProgram.compile(wl.contract)
    val validateS = probe(ProbeReps)(
      program.accepted(wl.source()).write.format("noop").mode("overwrite").save())
    val plainDir = s"$work/probe/plain"
    val plainS = probe(ProbeReps) {
      FsUtil.delete(plainDir)
      Transform(program.accepted(wl.source()), wl.transforms).write.parquet(plainDir)
    }
    val ledger = new Ledger(wl.ledgerFile)
    val ledgerEntries = ledger.entries().size
    val ledgerReadS = probe(ProbeReps)(ledger.entries())
    val copyDir = s"$work/probe/ledger"
    FsUtil.delete(copyDir)
    Files.createDirectories(Paths.get(copyDir))
    Files.copy(wl.ledgerFile, Paths.get(copyDir, "ledger.jsonl"))
    val copy = Ledger.at(copyDir)
    var n = 0
    val ledgerAppendS = probe(ProbeReps) {
      n += 1
      val h = s"probe-$n"
      copy.propose("probe", "root", h, None)
      copy.commit("probe", "root", h, """{"rows":0}""")
    }

    val isStream = wl.isInstanceOf[DrainStream]
    val tracedEpochs = traced.flatMap(_.epochs)
    def epochMed(k: String): Double = med(tracedEpochs.map(_.durationsMs.getOrElse(k, 0L) / 1000.0))
    val overhead =
      if (isStream) med(epochTimes(wl, traced)) / med(epochTimes(wl, untraced))
      else med(traced.map(_.wallS)) / med(untraced.map(_.wallS))
    val addupErrors = traces.map(_.addupError)
    val inputRows = outs.headOption.map(_.inputRows).getOrElse(1L).toDouble

    detail ++= Seq(
      "traced_calls" -> traces.size, "untraced_calls" -> untraced.size,
      "addup_error_per_call" -> addupErrors,
      "modules" -> traces.flatMap(_.modules.keys).distinct.sorted.map { m =>
        m -> Map("busy_s" -> mod(m)(_.busyS), "jobs" -> mod(m)(_.jobs.toDouble),
          "task_cpu_s" -> mod(m)(_.taskCpuS))
      }.toMap,
      "steps" -> traces.flatMap(_.steps.keys).distinct.sorted.map { s =>
        s -> Map("busy_s" -> med(traces.map(_.steps.get(s).map(_.busyS).getOrElse(0.0))),
          "jobs" -> med(traces.map(_.steps.get(s).map(_.jobs.toDouble).getOrElse(0.0))))
      }.toMap,
      "call_wall_s" -> med(traced.map(_.wallS)),
      "plain_pipeline_s" -> plainS)

    def moduleMetrics(m: String): Seq[(String, Map[String, Any])] = Seq(
      s"$m.busy_s" -> metric(mod(m)(_.busyS), "s"),
      s"$m.jobs" -> metric(mod(m)(_.jobs.toDouble), "count"),
      s"$m.task_cpu_s" -> metric(mod(m)(_.taskCpuS), "s"),
      s"$m.output_bytes" -> metric(mod(m)(_.outputBytes.toDouble), "bytes"))

    (moduleMetrics("pkg") ++ moduleMetrics("run") ++ Seq(
      "pkg.source_read_amplification" -> metric(med(traces.map(_.sourceRecordsRead / inputRows)), "ratio"),
      "contract.validate_s" -> metric(validateS, "s"),
      "contract.quarantine_share" ->
        metric(outs.map(_.quarantined).sum.toDouble / outs.map(_.inputRows).sum, "ratio"),
      "run.evidence_overhead" -> metric(med(untraced.map(_.wallS)) / plainS, "ratio"),
      "run.dest_write_amplification" -> metric(med(outs.filter(_.pkgDataBytes > 0)
        .map(o => o.destWrittenBytes.toDouble / o.pkgDataBytes)), "ratio"),
      "run.dest_files" -> metric(outs.lastOption.map(_.destFiles.toDouble).getOrElse(0.0), "count"),
      "core.ledger_entries" -> metric(ledgerEntries.toDouble, "count"),
      "core.ledger_read_s" -> metric(ledgerReadS, "s"),
      "core.ledger_append_s" -> metric(ledgerAppendS, "s"),
      "streaming.busy_s" -> metric(mod("streaming")(_.busyS), "s"),
      "streaming.jobs" -> metric(mod("streaming")(_.jobs.toDouble), "count"),
      "streaming.add_batch_s" -> metric(epochMed("addBatch"), "s"),
      "streaming.query_planning_s" -> metric(epochMed("queryPlanning"), "s"),
      "streaming.wal_commit_s" -> metric(epochMed("walCommit"), "s"),
      "streaming.commit_offsets_s" -> metric(epochMed("commitOffsets"), "s"),
      "streaming.latest_offset_s" -> metric(epochMed("latestOffset"), "s"),
      "streaming.jobs_per_epoch" ->
        metric(med(tracedEpochs.map(e => tracer.jobsBetween(e.startMs, e.endMs).toDouble)), "count"),
      "spark.jobs" -> metric(med(traces.map(_.jobs.toDouble)), "count"),
      "spark.tasks" -> metric(med(traces.map(_.tasks.toDouble)), "count"),
      "spark.gc_s" -> metric(med(traces.map(_.gcS)), "s"),
      "spark.shuffle_write_bytes" -> metric(med(traces.map(_.shuffleWriteBytes.toDouble)), "bytes"),
      "spark.spill_bytes" -> metric(med(traces.map(_.spillBytes.toDouble)), "bytes"),
      "driver.self_s" -> metric(med(traces.map(_.driverSelfS)), "s"),
      "trace.overhead" -> metric(overhead, "ratio"),
      "trace.addup_error" -> metric(if (addupErrors.isEmpty) 1.0 else addupErrors.max, "ratio"),
      "trace.unattributed_jobs" -> metric(mod(JobTracer.Unattributed)(_.jobs.toDouble), "count"))).toMap
  }
}

/** Minimal JSON rendering for the result and detail objects. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
