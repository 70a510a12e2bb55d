package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.formats.delta.{DeltaConversionSource, DeltaDeletes, DeltaRead, DeltaWrite}
import graft.formats.hudi.HudiConversionTarget
import graft.formats.iceberg.IcebergConversionTarget
import graft.sync.ConversionController

/** `read_delete_mix`: reads of converted copies, beside row-level deletes.
  *
  * Set-up writes an sf0.1-sized `lineitem` (600k rows) as a Delta table
  * partitioned by ship year, sorted by order key (112 files), syncs it to
  * Iceberg and Hudi, and copies it once more as the table that receives
  * deletes. Each step is one round: three queries (full aggregate,
  * one-year aggregate, order-key range) against each of the four copies,
  * the first three through `format("graft")`, the delete copy through
  * `DeltaConversionSource` (its deletion vectors are masked on read; the
  * `graft` format refuses them). Then one `deleteWhere` of a narrow key
  * range on the delete copy.
  *
  * The oracle is the plain parquet reader over the same data files, minus
  * the rows the benchmark's own deletes removed.
  */
final class ReadDeleteMix(spark: SparkSession, work: Path, seed: Long)
  extends Workload {

  import ReadDeleteMix._

  private val rng = new scala.util.Random(seed)
  private val mainPath = work.resolve("delta").toString
  private val icePath = work.resolve("iceberg").toString
  private val hudiPath = work.resolve("hudi").toString
  private val delPath = work.resolve("delta_deletes").toString
  private val Rows = 600000L
  private val Files112 = 112L
  private val maxKey = Rows / 4

  /** Query parameters the rounds cycle through: (year, key-range start). */
  private var params: IndexedSeq[(Int, Long)] = _
  /** Delete ranges, drawn inside one block of the key space so every
    * delete lands on the same few files and read cost stays level.
    */
  private var deleteStarts: IndexedSeq[Long] = _
  private var oracle: Map[(String, Int), Answer] = _
  private var round = 0
  private val deleted = mutable.ArrayBuffer.empty[(Long, Long)]
  private val deleteCounts = mutable.ArrayBuffer.empty[Long]
  /** Delete-copy answers with how many deletes preceded them. */
  private val deleteCopyAnswers = mutable.ArrayBuffer.empty[(String, Int, Int, Answer)]
  private val wrong = mutable.ArrayBuffer.empty[String]

  def primary: String = "query"
  def measuredSteps: Int = 2

  /** Geometric mean over the 12 (query, copy) classes of each class's
    * median: the classes differ up to 10x in cost, and a median of the
    * mixture would jump between them.
    */
  override def opMedianMs: Double = {
    val medians = for (q <- Queries; c <- Copies)
      yield Ops.pct(Ops.of(s"query:$q:$c"), 50)
    math.exp(medians.map(math.log).sum / medians.length)
  }

  def setup(): Unit = {
    Main.phase("generate") {
      // 16 slices of consecutive rows: each file holds one slice's key range
      val df = Gen.lineitem(spark, seed, Rows, slices = 16)
      val w = DeltaWrite.write(spark, mainPath, df, overwrite = false,
        partitionCols = Seq("ship_year"))
      require(w.added == Files112, s"expected $Files112 files, wrote ${w.added}")
      copyTree(Path.of(mainPath), Path.of(delPath))
    }
    Main.phase("initial_sync") {
      val out = new ConversionController().sync(
        new DeltaConversionSource(spark, mainPath, "lineitem"),
        Seq(new IcebergConversionTarget(spark, icePath),
          new HudiConversionTarget(spark, hudiPath)))
      require(out.forall(_.status == "SUCCESS"), out.mkString("; "))
    }
    // as many parameter sets as warm-up rounds: every timed round repeats
    // a set the warm-up already ran
    params = IndexedSeq.fill(WarmUpRounds)(
      (Gen.Years(rng.nextInt(Gen.Years.length)),
        1 + (rng.nextDouble() * (maxKey - RangeWidth)).toLong))
    val block = maxKey / 16
    val blockStart = 1 + rng.nextInt(16) * block
    deleteStarts = rng.shuffle((0L until block / DeleteWidth).toIndexedSeq)
      .map(blockStart + _ * DeleteWidth)
    oracle = Main.phase("oracle")(answers(spark.read.parquet(mainPath)))
    // warm-up: every query on every copy, and deletes, untimed
    Main.phase("warm_up")(for (_ <- 1 to WarmUpRounds) step())
  }

  def step(): Unit = {
    val i = round % params.length
    for (q <- Queries; copy <- Copies) {
      val got = Ops.time(s"query:$q:$copy")(Trace.op("op.query")(
        query(q, copy, params(i))))(_ => true)
      got.foreach { a =>
        if (copy == "delta_deletes") deleteCopyAnswers += ((q, i, deleted.length, a))
        else if (a != oracle((q, i)))
          wrong += s"$q on $copy (params ${params(i)}): got $a, want ${oracle((q, i))}"
      }
    }
    val from = deleteStarts(deleted.length % deleteStarts.length)
    val range = (from, from + DeleteWidth - 1)
    Ops.time("delete")(Trace.op("op.delete")(delete(range)))(_ => true)
      .foreach { n => deleted += range; deleteCounts += n }
    round += 1
  }

  private def query(q: String, copy: String, p: (Int, Long)): Answer = {
    val listed = Files112
    Reads.collect(listed) {
      val df = copy match {
        case "delta" => spark.read.format("graft").load(mainPath)
        case "iceberg" => spark.read.format("graft").load(icePath)
        case "hudi" => spark.read.format("graft").load(hudiPath)
        case "delta_deletes" =>
          val src = Traced.source(new DeltaConversionSource(spark, delPath, "lineitem"))
          DeltaRead.toDataFrame(spark, src.currentSnapshot())
      }
      shape(q, df, p)
    }.toSeq.map(rowValues)
  }

  private def delete(range: (Long, Long)): Long =
    Trace.span("formats.delta.deletes.delete") {
      val before = if (Trace.enabled) dvFiles() else Map.empty[Path, Long]
      val n = DeltaDeletes.deleteWhere(spark, delPath,
        col("l_orderkey").between(range._1, range._2))
      if (Trace.enabled) {
        Trace.count("rows", n)
        Trace.count("dv_bytes", (dvFiles() -- before.keySet).values.sum)
      }
      n
    }

  private def dvFiles(): Map[Path, Long] = {
    val walk = Files.walk(Path.of(delPath))
    try walk.iterator.asScala
      .filter(_.getFileName.toString.startsWith("deletion_vector_"))
      .map(f => f -> Files.size(f)).toMap
    finally walk.close()
  }

  /** Every (query, parameter set) answer over `base`, in three scans. */
  private def answers(base: DataFrame): Map[(String, Int), Answer] = {
    val full = base.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
      .collect().toSeq.map(rowValues)
    val years = base.groupBy("ship_year", "l_returnflag")
      .agg(count(lit(1)), sum("l_quantity")).collect()
    val ranges = base.select(params.indices.flatMap { i =>
      val in = col("l_orderkey").between(params(i)._2, params(i)._2 + RangeWidth - 1)
      Seq(count(when(in, 1)), sum(when(in, col("l_extendedprice"))))
    }: _*).head()
    params.indices.flatMap { i =>
      val year = years.filter(_.getInt(0) == params(i)._1).sortBy(_.getString(1))
        .toSeq.map(r => rowValues(r).tail)
      Seq(("full_agg", i) -> full, ("year_agg", i) -> year,
        ("key_range", i) -> Seq(rowValues(ranges).slice(2 * i, 2 * i + 2)))
    }.toMap
  }

  def verify(): Seq[String] = {
    // rows the benchmark deleted, read by the plain parquet reader
    val inRanges = deleted.map { case (a, b) =>
      col("l_orderkey").between(a, b) }.foldLeft(lit(false))(_ || _)
    val gone = spark.read.parquet(mainPath).filter(inRanges)
      .select("l_orderkey", "ship_year", "l_returnflag", "l_quantity",
        "l_extendedprice").collect()
    def deletedBy(k: Int) = gone.filter { r =>
      val key = r.getLong(0)
      deleted.take(k).exists { case (a, b) => key >= a && key <= b }
    }
    val counts = deleted.indices.flatMap { k =>
      val (a, b) = deleted(k)
      val want = gone.count(r => r.getLong(0) >= a && r.getLong(0) <= b)
      if (deleteCounts(k) == want) None
      else Some(s"delete $k of [$a, $b] removed ${deleteCounts(k)} rows, want $want")
    }
    val copyAnswers = deleteCopyAnswers.flatMap { case (q, i, k, got) =>
      val want = minus(q, oracle((q, i)), deletedBy(k), params(i))
      if (got == want) None
      else Some(s"$q on delta_deletes after $k deletes (params ${params(i)}): " +
        s"got $got, want $want")
    }
    wrong.toSeq ++ counts ++ copyAnswers
  }

  def metrics(): Seq[Metric] = Seq(
    Ops.p50("query", "query_p50_ms"),
    Ops.p90("query", "query_p90_ms"),
    Ops.rate(Seq("query"), "queries_per_s"),
    Ops.p50("delete", "delete_p50_ms"))
}

object ReadDeleteMix {
  type Answer = Seq[Seq[Any]]

  val Queries = Seq("full_agg", "year_agg", "key_range")
  val Copies = Seq("delta", "iceberg", "hudi", "delta_deletes")
  val RangeWidth = 2000L
  val DeleteWidth = 16L
  val WarmUpRounds = 3

  def shape(q: String, df: DataFrame, p: (Int, Long)): DataFrame = q match {
    case "full_agg" =>
      df.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
    case "year_agg" =>
      df.filter(col("ship_year") === p._1).groupBy("l_returnflag")
        .agg(count(lit(1)), sum("l_quantity")).orderBy("l_returnflag")
    case "key_range" =>
      df.filter(col("l_orderkey").between(p._2, p._2 + RangeWidth - 1))
        .agg(count(lit(1)), sum("l_extendedprice"))
  }

  def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => BigDecimal(d)
    case v => v
  }

  /** `base` answer of query `q` minus the contribution of `gone` rows
    * (l_orderkey, ship_year, l_returnflag, l_quantity, l_extendedprice).
    */
  def minus(q: String, base: Answer, gone: Seq[Row], p: (Int, Long)): Answer = {
    def price(r: Row) = BigDecimal(r.getDecimal(4))
    def sub(v: Any, d: Any): Any = (v, d) match {
      case (a: Long, b: Long) => a - b
      case (a: BigDecimal, b: BigDecimal) => a - b
      case (a, _) => a
    }
    def row(vals: Seq[Any], n: Long, rest: Seq[Any]) =
      vals.zip(n +: rest).map { case (v, d) => sub(v, d) }
    q match {
      case "full_agg" =>
        Seq(row(base.head, gone.length,
          Seq(gone.map(_.getLong(3)).sum, gone.map(price).sum)))
      case "year_agg" =>
        val g = gone.filter(_.getInt(1) == p._1).groupBy(_.getString(2))
        base.map { vals =>
          val rs = g.getOrElse(vals.head.asInstanceOf[String], Nil)
          vals.head +: row(vals.tail, rs.length, Seq(rs.map(_.getLong(3)).sum))
        }.filter(_(1) != 0L)
      case "key_range" =>
        val rs = gone.filter(r => r.getLong(0) >= p._2 &&
          r.getLong(0) <= p._2 + RangeWidth - 1)
        val counted = row(base.head, rs.length, Seq(rs.map(price).sum))
        // an aggregate over no rows sums to null
        if (counted.head == 0L) Seq(Seq(0L, null)) else Seq(counted)
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { f =>
      val dest = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dest)
      else Files.copy(f, dest)
    } finally walk.close()
  }
}
