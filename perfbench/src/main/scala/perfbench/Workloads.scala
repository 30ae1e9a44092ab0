package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.contract.{ContractPolicy, RowRule, Transform}
import graft.core.{Descriptor, Ledger}
import graft.pkg.PackageWriter
import graft.run.Runner
import graft.streaming.StreamRunner

/** What the checks after one call found, and what the call wrote. */
final case class Outcome(
    problems: Seq[String],
    inputRows: Long,
    inputBytes: Long,
    writtenBytes: Long,
    quarantined: Long,
    pkgDataBytes: Long,
    destWrittenBytes: Long,
    destFiles: Int)

/** One call, prepared outside the timed region: `run` is the product
  * call the loop times, `check` verifies its outputs afterwards. */
trait Prepared {
  def run(): Unit
  def check(): Outcome
}

/** A workload: seeded staging, a closed-loop call, checks, and the
  * inputs its layer probes use. */
trait Workload {
  def name: String
  /** Stage every seeded input under `dir` (the program reads only these). */
  def stage(dir: String): Unit
  /** Directories whose content `stage` produced. */
  def stagedDirs: Seq[String]
  /** Plan fragments of a scan of the inputs the calls read (for read
    * amplification). */
  def sourceMarkers: Seq[String]
  /** Warm-up calls before the timed loop. */
  def warmUpCalls: Int = 2
  /** Input shape, printed beside the result. */
  def sizes: Map[String, Long]
  def prepare(): Prepared

  // probe inputs
  def contract: ContractPolicy
  def transforms: Seq[Transform] = Nil
  /** One call's source, as the call reads it. */
  def source(): DataFrame
  /** The ledger the calls used (for the ledger probes). */
  def ledgerFile: Path
}

object Contracts {
  private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  /** The five rule kinds of the catalog's lineitem contract, with bounds
    * the clean generated rows pass. */
  val lineitem: ContractPolicy = ContractPolicy(Seq(
    RowRule.Nullability("nn_orderkey", "l_orderkey"),
    RowRule.Range("range_qty", "l_quantity", 1, 50),
    RowRule.Domain("domain_flag", "l_returnflag", Seq("A", "N", "R")),
    RowRule.Regex("regex_status", "l_linestatus", "^[OF]$"),
    RowRule.Freshness("fresh_ship", "l_shipdate",
      ms("2001-12-31T00:00:00Z") - ms("1995-01-01T00:00:00Z"), ms("2001-12-31T00:00:00Z"))))

  val events: ContractPolicy = ContractPolicy(Seq(
    RowRule.Nullability("nn_event", "event_id"),
    RowRule.Range("range_value", "value", 0, 1e6),
    RowRule.Domain("domain_kind", "kind", Seq("view", "click", "cart", "buy"))))
}

/** Shared plumbing of the workloads. */
abstract class BaseWorkload(val spark: SparkSession, val seed: Long, val work: String) extends Workload {
  protected var calls = 0
  protected def callDir(): String = { calls += 1; s"$work/calls/$name-$calls" }
  protected def read(schema: StructType, dir: String): DataFrame =
    spark.read.schema(schema).parquet(dir)
}

/** `Runner.run` with Append into a fresh package, destination and ledger
  * per call, over a multi-file lineitem table. Data-bound. */
final class BulkLoad(spark: SparkSession, seed: Long, work: String, rows: Long, files: Int)
    extends BaseWorkload(spark, seed, work) {
  val name = "bulk_load"
  private var inputDir = ""
  private var schema: StructType = _
  private var expectedQuarantine = 0L
  private var firstHash: Option[String] = None
  private var lastLedger: Path = _

  def stage(dir: String): Unit = {
    inputDir = s"$dir/lineitem"
    Inputs.lineitem(spark, seed, rows, files).write.parquet(inputDir)
    schema = spark.read.parquet(inputDir).schema
    expectedQuarantine = Inputs.lineitemViolations(spark, seed, rows)
  }
  def stagedDirs: Seq[String] = Seq(inputDir)
  def sourceMarkers: Seq[String] = Seq(inputDir)
  def sizes: Map[String, Long] = Map("rows" -> rows, "files" -> files.toLong,
    "columns" -> schema.size.toLong, "violating_rows" -> expectedQuarantine)

  val contract: ContractPolicy = Contracts.lineitem
  override val transforms: Seq[Transform] =
    Seq(Transform.Derive("charge", "l_extendedprice * (1 - l_discount) * (1 + l_tax)"))
  private val cfg = Runner.RunConfig(
    Descriptor.ResourceDescriptor("lineitem", Descriptor.SchemaSource.Discover,
      Seq("l_orderkey", "l_linenumber"), None, Descriptor.Disposition.Append),
    contract, transforms)

  def source(): DataFrame = read(schema, inputDir)
  def ledgerFile: Path = lastLedger

  def prepare(): Prepared = new Prepared {
    private val dir = callDir()
    private val ledger = Ledger.at(s"$dir/ledger")
    private var r: Runner.RunResult = _
    lastLedger = Paths.get(s"$dir/ledger/ledger.jsonl")
    def run(): Unit =
      r = Runner.run(spark, cfg, source(), s"$dir/pkg", s"$dir/dest", ledger)
    def check(): Outcome = {
      val problems = Seq.newBuilder[String]
      if (!r.committed || r.duplicate) problems += s"not committed fresh: $r"
      if (r.accepted + r.quarantined != rows)
        problems += s"accepted ${r.accepted} + quarantined ${r.quarantined} != input $rows"
      if (r.quarantined != expectedQuarantine)
        problems += s"quarantined ${r.quarantined}, seeded violations $expectedQuarantine"
      if (firstHash.exists(_ != r.packageHash))
        problems += s"package hash ${r.packageHash} differs from ${firstHash.get}"
      firstHash = firstHash.orElse(Some(r.packageHash))
      val (destRows, destHash) = PackageWriter.countAndHash(Runner.readDest(spark, s"$dir/dest"))
      if (destRows != r.receipt.rows || destHash != r.receipt.contentHash || destRows != r.accepted)
        problems += s"destination ($destRows, $destHash) != receipt ${r.receipt}"
      val out = Outcome(problems.result(), rows, FsUtil.bytes(inputDir), FsUtil.bytes(dir),
        r.quarantined, FsUtil.bytes(s"$dir/pkg/data"), FsUtil.bytes(s"$dir/dest"),
        FsUtil.parquetFiles(s"$dir/dest"))
      // keep the ledger for the probes, drop the bulky rest
      Seq("pkg", "dest").foreach(d => FsUtil.delete(s"$dir/$d"))
      out
    }
  }
}

/** `StreamRunner.drainAvailableNow` over event files delivered one per
  * trigger, into a fresh output directory and ledger per call. Many
  * small epochs: per-epoch fixed cost dominates. */
final class DrainStream(spark: SparkSession, seed: Long, work: String, rows: Long, files: Int)
    extends BaseWorkload(spark, seed, work) {
  val name = "drain_stream"
  private var inputDir = ""
  private var schema: StructType = _
  private var lastLedger: Path = _
  private val slackMs = Inputs.EventSliceMs / 2
  private val graceMs = Inputs.EventSliceMs

  def stage(dir: String): Unit = {
    inputDir = s"$dir/events"
    Inputs.writeFiles(Inputs.events(spark, seed, rows, files), inputDir, s"$dir/events_tmp")
    schema = spark.read.parquet(inputDir).schema
  }
  def stagedDirs: Seq[String] = Seq(inputDir)
  // foreachBatch hands each epoch over as a scan of an existing RDD
  def sourceMarkers: Seq[String] = Seq(inputDir, "ExistingRDD")
  // the third drain of a run still took ≈5% longer than the sixth
  override def warmUpCalls: Int = 3
  def sizes: Map[String, Long] = Map("rows" -> rows, "files" -> files.toLong)

  val contract: ContractPolicy = Contracts.events
  def source(): DataFrame = read(schema, inputDir)
  def ledgerFile: Path = lastLedger

  private def watermark(b: DataFrame): Option[Timestamp] = {
    val r = b.agg(max(col("ts"))).head()
    if (r.isNullAt(0)) None else Some(new Timestamp(r.getTimestamp(0).getTime - slackMs))
  }

  def prepare(): Prepared = new Prepared {
    private val dir = callDir()
    private val ledger = Ledger.at(dir)
    private var res: StreamRunner.StreamResult = _
    lastLedger = Paths.get(s"$dir/ledger.jsonl")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inputDir)
      res = StreamRunner.drainAvailableNow(stream, "ts", graceMs, lagMs = 1000,
        watermarkFor = watermark, outDir = dir, ledger = ledger, resource = "events")
    }
    def check(): Outcome = {
      val problems = Seq.newBuilder[String]
      val routed = res.epochs.map(e => e.admitted + e.quarantined).sum
      if (routed != rows) problems += s"admitted + quarantined $routed != input $rows"
      if (res.epochs.size < files)
        problems += s"${res.epochs.size} epochs for $files files"
      if (res.epochs.map(_.recaptured).sum == 0 || res.epochs.map(_.quarantined).sum == 0)
        problems += "no recaptured or no quarantined rows: the seeded late share did not land"
      val frontiers = res.epochs.flatMap(_.frontierUs)
      if (frontiers != frontiers.sorted) problems += s"frontier not monotone: $frontiers"
      res.epochs.foreach { e =>
        if (ledger.committedHead("events", s"stream:events/epoch:${e.epoch}").isEmpty)
          problems += s"epoch ${e.epoch} has no committed head"
      }
      val data = FsUtil.files(dir).filter(_.toString.contains("/data/"))
      val out = Outcome(problems.result(), rows, FsUtil.bytes(inputDir), FsUtil.bytes(dir),
        res.epochs.map(_.quarantined).sum, data.map(Files.size).sum, 0L,
        data.count(_.getFileName.toString.endsWith(".parquet")))
      // keep the ledger for the probes, drop the bulky rest
      val ls = Files.list(Paths.get(dir))
      try ls.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString != "ledger.jsonl")
        .foreach(p => FsUtil.delete(p.toString))
      finally ls.close()
      out
    }
  }
}
