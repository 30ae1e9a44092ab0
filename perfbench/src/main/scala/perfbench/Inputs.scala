package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a hash of (seed, row id,
  * field salt), so the same seed stages byte-identical files whatever
  * the partitioning, and the program only ever sees the staged files. */
object Inputs {

  /** Deterministic non-negative draw in [0, m) for row `id`. */
  def draw(seed: Long, id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(m))

  // ---- lineitem (16 columns, TPC-H shape) -------------------------------

  /** Share of lineitem rows, in thousandths, perturbed to violate one rule. */
  val ViolationPerMille = 30

  /** A lineitem table of `rows` rows; a seeded ≈3% of them break exactly
    * one rule of [[Contracts.lineitem]] (which rule is seeded too). */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, files: Int): DataFrame = {
    val id = col("id")
    val bad = draw(seed, id, 1, 1000) < ViolationPerMille
    val rule = draw(seed, id, 2, 5)
    def broken(r: Int) = bad && rule === r
    val ship = to_date(lit("1996-01-01")) + draw(seed, id, 3, 1500).cast("int")
    spark.range(0, rows, 1, files).select(
      when(broken(0), lit(null).cast("long")).otherwise(id / 4 + 1).cast("long").as("l_orderkey"),
      (draw(seed, id, 4, 20000) + 1).as("l_partkey"),
      (draw(seed, id, 5, 1000) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      when(broken(1), lit(99.0)).otherwise(draw(seed, id, 6, 50) + 1).cast("double").as("l_quantity"),
      (draw(seed, id, 7, 10000000) / 100.0 + 900.0).as("l_extendedprice"),
      (draw(seed, id, 8, 11) / 100.0).as("l_discount"),
      (draw(seed, id, 9, 9) / 100.0).as("l_tax"),
      when(broken(2), lit("X")).otherwise(element_at(array(lit("A"), lit("N"), lit("R")),
        (draw(seed, id, 10, 3) + 1).cast("int"))).as("l_returnflag"),
      when(broken(3), lit("Z")).otherwise(when(draw(seed, id, 11, 2) === 0, "O").otherwise("F"))
        .as("l_linestatus"),
      when(broken(4), to_date(lit("1980-01-01"))).otherwise(ship).as("l_shipdate"),
      (ship + draw(seed, id, 12, 60).cast("int")).as("l_commitdate"),
      (ship + draw(seed, id, 13, 30).cast("int")).as("l_receiptdate"),
      element_at(array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN").map(lit): _*),
        (draw(seed, id, 14, 4) + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(Seq("AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR").map(lit): _*),
        (draw(seed, id, 15, 7) + 1).cast("int")).as("l_shipmode"),
      concat(lit("c"), hex(xxhash64(lit(seed), id, lit(16)))).as("l_comment"))
  }

  /** Rows of [[lineitem]] that break a rule. */
  def lineitemViolations(spark: SparkSession, seed: Long, rows: Long): Long =
    spark.range(0, rows).filter(draw(seed, col("id"), 1, 1000) < ViolationPerMille).count()

  // ---- events, delivered as files ----------------------------------------

  /** Event time covered by one delivered file. */
  val EventSliceMs: Long = 3600L * 1000L
  private val EventEpochUs: Long = 1735689600L * 1000000L // 2025-01-01T00:00Z

  /** `rows` events over `files` hourly slices; a seeded ≈6% of rows are
    * delivered 1–3 files after their slice. Adds the `file` column. */
  def events(spark: SparkSession, seed: Long, rows: Long, files: Int): DataFrame = {
    val id = col("id")
    val home = (id * files / rows).cast("long")
    val late = draw(seed, id, 40, 100) < 6
    spark.range(0, rows, 1, 1).select(
      id.as("event_id"),
      timestamp_micros(lit(EventEpochUs) + home * (EventSliceMs * 1000) +
        draw(seed, id, 41, EventSliceMs * 1000)).as("ts"),
      (draw(seed, id, 42, 5000) + 1).as("user_id"),
      element_at(array(Seq("view", "click", "cart", "buy").map(lit): _*),
        (draw(seed, id, 43, 4) + 1).cast("int")).as("kind"),
      (draw(seed, id, 44, 100000) / 100.0).as("value"),
      least(lit(files - 1L), when(late, home + 1 + draw(seed, id, 45, 3)).otherwise(home)).as("file"))
  }

  /** Write each `file` group of `df` as one parquet file `fNN.parquet`
    * in `dir`, with modification times in file order (a file stream
    * source delivers files oldest first). */
  def writeFiles(df: DataFrame, dir: String, scratch: String): Unit = {
    df.repartition(col("file")).sortWithinPartitions("event_id")
      .write.partitionBy("file").parquet(scratch)
    Files.createDirectories(Paths.get(dir))
    val groups = Files.list(Paths.get(scratch)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("file=")).toSeq
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    groups.foreach { g =>
      val k = g.getFileName.toString.stripPrefix("file=").toInt
      val part = Files.list(g).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"expected one file for group $k, found ${part.size}")
      val target = Paths.get(dir, f"f$k%02d.parquet")
      Files.move(part.head, target)
      Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000L))
    }
    FsUtil.delete(scratch)
  }

  /** Content fingerprint of staged files: sha256 over the sorted
    * per-file sha256 of every data file under `dirs` (bytes only — not
    * names, which carry write UUIDs, and not modification times). */
  def fingerprint(dirs: Seq[String]): String = {
    val perFile = dirs.flatMap(d => FsUtil.files(d)).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }.map(p => hexBytes(MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))).sorted
    hexBytes(MessageDigest.getInstance("SHA-256")
      .digest(perFile.mkString("\n").getBytes(StandardCharsets.UTF_8))).take(16)
  }

  private def hexBytes(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}

/** Small filesystem helpers for sizing and cleanup. */
object FsUtil {
  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).map(Files.size).sum

  def parquetFiles(dir: String): Int = files(dir).count(_.getFileName.toString.endsWith(".parquet"))

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
