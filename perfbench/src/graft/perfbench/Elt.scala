package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{BitcoinWarehouse, EtlJob, TableSpec}
import graft.operators.{Ops, Transaction}
import graft.runner.{AtomicPipeline, JobResult, RunOptions}
import graft.sources.DuneV2Source

/** The source side of the ELT workloads, in plain Scala: every field of
  * every row is a pure function of (seed, row index), so the model needs
  * no storage and is the oracle for the warehouse the pipeline builds.
  *
  * Transactions arrive at [[TxPerDay]] a day from 1990-01-01; each day has
  * one price and one block, and each transaction one input and one output
  * row keyed by its id. Numeric fields are integer-valued, so sums are
  * exact in binary floating point in any order, and timestamps are
  * fixed-width ISO-8601, so string order is time order.
  */
final class SourceModel(seed: Long, baseRows: Int, deltaRows: Int) {
  import SourceModel._

  require(baseRows % TxPerDay == 0 && deltaRows % TxPerDay == 0,
    "sizes must be whole days")
  val daysPerRound: Int = deltaRows / TxPerDay
  /** Days (hence prices and blocks) the source holds; grows each round. */
  var days: Int = baseRows / TxPerDay
  def txRows: Long = days.toLong * TxPerDay

  private def h(salt: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def date(d: Int): String = Epoch.plusDays(d.toLong).toString
  def txId(i: Long): String = f"t$i%010d"
  def fee(i: Long): Long = 1 + h(1, i) % 500
  def inputValue(i: Long): Long = 1000 + h(2, i) % 100000
  def outputValue(i: Long): Long = inputValue(i) - fee(i)
  def blockTime(i: Long): String = {
    val s = (i % TxPerDay) * (86400 / TxPerDay)
    f"${date((i / TxPerDay).toInt)}T${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  }
  def price(d: Int): Long = 10000 + h(3, d) % 90000
  def inAddress(i: Long): String = f"a${h(4, i) % Addresses}%05d"
  def inValue(i: Long): Long = 1 + h(5, i) % 10000
  def outAddress(i: Long): String = f"a${h(6, i) % Addresses}%05d"
  def outValue(i: Long): Long = 1 + h(7, i) % 10000
  def blockHash(d: Int): String = f"h$d%09d"
  def blockFees(d: Int): Long =
    (d.toLong * TxPerDay until (d + 1L) * TxPerDay).map(fee).sum
  def blockSize(d: Int): Long = 1000 + h(8, d) % 100000

  private def txJson(i: Long, feeV: Long, inV: Long): String =
    s"""{"block_time":"${blockTime(i)}","fee":$feeV,"id":"${txId(i)}",""" +
      s""""input_value":$inV,"output_value":${inV - feeV}}"""
  def txLine(i: Long): String = txJson(i, fee(i), inputValue(i))
  /** A re-send of an already loaded transaction with different values:
    * its block_time is at or below the watermark, so it must be ignored.
    */
  def staleTxLine(i: Long): String = txJson(i, 0, 999999999)
  def priceLine(d: Int, p: Long): String =
    s"""{"date":"${date(d)}","price":$p}"""
  def inputLine(i: Long): String =
    s"""{"address":"${inAddress(i)}","tx_id":"${txId(i)}","value":${inValue(i)}}"""
  def outputLine(i: Long): String =
    s"""{"address":"${outAddress(i)}","tx_id":"${txId(i)}","value":${outValue(i)}}"""
  def blockLine(d: Int): String = {
    val fees = blockFees(d); val size = blockSize(d)
    s"""{"coinbase":"cb$d","difficulty":${1 + h(9, d) % 1000},""" +
      s""""hash":"${blockHash(d)}","height":$d,"mint_reward":625,""" +
      s""""nonce":${h(10, d) % 1000000000L},""" +
      s""""previous_block_hash":"${if (d == 0) "" else blockHash(d - 1)}",""" +
      s""""size":$size,"total_fees":$fees,"total_reward":${625 + fees},""" +
      s""""transaction_count":$TxPerDay,"weight":${size * 4}}"""
  }

  /** Old ids whose re-sends a round carries: the newest loaded row (its
    * key sits exactly at the watermark) and one drawn from the history.
    */
  def staleTx(round: Int): Seq[Long] =
    Seq(txRows - 1, h(11, round) % (txRows - 1))
  def stalePriceDays(round: Int): Seq[Int] =
    Seq(days - 1, (h(12, round) % (days - 1)).toInt)

  /** Ids the point-lookup read fetches: fixed for the run. */
  val lookupIds: Seq[Long] =
    (0 until 20).map(k => h(13, k) % (baseRows.toLong))

  // ---- expected answers ----

  def totalsByDay: Map[String, Long] =
    (0 until days).map { d =>
      val p = price(d)
      date(d) -> (d.toLong * TxPerDay until (d + 1L) * TxPerDay)
        .map(i => outputValue(i) * p).sum
    }.toMap

  def topInputAddresses: Seq[(String, Long)] = {
    val sums = new Array[Long](Addresses)
    var i = 0L
    while (i < txRows) { sums((h(4, i) % Addresses).toInt) += inValue(i); i += 1 }
    sums.indices.map(a => (f"a$a%05d", sums(a)))
      .sortBy { case (a, s) => (-s, a) }.take(10)
  }

  def bucketFees: Map[Long, (Long, Long)] =
    (0 until days).groupBy(_ / 1000).map { case (b, ds) =>
      b.toLong -> (ds.map(blockFees).sum, ds.size.toLong)
    }

  def rowCounts: Map[String, Long] = Map(
    BitcoinWarehouse.inputs.targetTable -> txRows,
    BitcoinWarehouse.outputs.targetTable -> txRows,
    BitcoinWarehouse.transactions.targetTable -> txRows,
    BitcoinWarehouse.pricesUsd.targetTable -> days.toLong,
    BitcoinWarehouse.block.targetTable -> days.toLong)

  def sumOver(n: Long)(f: Long => Long): Long = {
    var s = 0L; var i = 0L
    while (i < n) { s += f(i); i += 1 }
    s
  }
}

object SourceModel {
  val TxPerDay = 100
  val Addresses = 5000
  val Epoch: LocalDate = LocalDate.of(1990, 1, 1)
}

/** `elt_trickle`: incremental five-job sync rounds through
  * [[AtomicPipeline]] and the `format("dune")` connector, each round
  * followed by a fixed analyst read set over the snapshot it committed.
  */
final class Elt(spark: SparkSession, o: Options) {
  import Elt._
  import spark.implicits._

  private val specs = BitcoinWarehouse.all
  private val model = new SourceModel(o.seed, BaseRows, DeltaRows)
  private val fixtures = o.work.resolve("fixtures")
  private val source = new DuneV2Source(fixtures.toString)
  private val report = new Report
  /** Benchmark-side time (input generation, checks) kept out of setup_s. */
  private var ownSeconds = 0.0
  private val tracer = if (o.trace) Some(new Tracer(spark).install()) else None

  private def own[A](f: => A): A = {
    val (a, s) = Harness.time(f); ownSeconds += s; a
  }

  private def fixture(spec: TableSpec) =
    fixtures.resolve(s"${spec.queryId}.json")

  private def writeLines(p: Path, append: Boolean)(lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(p.toFile, append), StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def writeBase(): Unit = {
    Files.createDirectories(fixtures)
    val n = model.txRows
    writeLines(fixture(BitcoinWarehouse.transactions), append = false)(
      Iterator.range(0L, n).map(model.txLine))
    writeLines(fixture(BitcoinWarehouse.inputs), append = false)(
      Iterator.range(0L, n).map(model.inputLine))
    writeLines(fixture(BitcoinWarehouse.outputs), append = false)(
      Iterator.range(0L, n).map(model.outputLine))
    writeLines(fixture(BitcoinWarehouse.pricesUsd), append = false)(
      Iterator.range(0, model.days).map(d => model.priceLine(d, model.price(d))))
    writeLines(fixture(BitcoinWarehouse.block), append = false)(
      Iterator.range(0, model.days).map(model.blockLine))
  }

  /** The source's answer for round `r`: watermarked tables get only the
    * new days plus stale re-sends; the others, which the pipeline reloads
    * whole, get the new rows appended.
    */
  private def writeDelta(r: Int): Unit = {
    val (d0, n0) = (model.days, model.txRows)
    val d1 = d0 + model.daysPerRound
    val n1 = d1.toLong * SourceModel.TxPerDay
    writeLines(fixture(BitcoinWarehouse.transactions), append = false)(
      Iterator.range(n0, n1).map(model.txLine) ++
        model.staleTx(r).map(model.staleTxLine))
    writeLines(fixture(BitcoinWarehouse.pricesUsd), append = false)(
      Iterator.range(d0, d1).map(d => model.priceLine(d, model.price(d))) ++
        model.stalePriceDays(r).map(d => model.priceLine(d, 1)))
    writeLines(fixture(BitcoinWarehouse.inputs), append = true)(
      Iterator.range(n0, n1).map(model.inputLine))
    writeLines(fixture(BitcoinWarehouse.outputs), append = true)(
      Iterator.range(n0, n1).map(model.outputLine))
    writeLines(fixture(BitcoinWarehouse.block), append = true)(
      Iterator.range(d0, d1).map(model.blockLine))
    model.days = d1
  }

  private def newPipeline(root: Path): AtomicPipeline = {
    val pipe = new AtomicPipeline(spark, source, root.toString)
    pipe.seed(specs.map(s => EtlJob(s.jobName, s.queryId, s.targetTable,
      s.pKeys.mkString(","), None, 1, None, None, None, None)))
    pipe
  }

  private def checkResults(results: Seq[JobResult], full: Boolean,
      ran: Seq[TableSpec] = specs): Unit = {
    val counts = model.rowCounts
    report.attempted += results.size
    report.check(results.map(_.jobName) == ran.map(_.jobName),
      s"jobs run ${results.map(_.jobName)}")
    results.zip(ran).foreach { case (r, s) =>
      if (r.error.nonEmpty) report.failed += 1
      report.check(r.error.isEmpty, s"${r.jobName} failed: ${r.error}")
      report.check(r.rows == counts(s.targetTable),
        s"${r.jobName} rows ${r.rows} != model ${counts(s.targetTable)}")
      val expectFull = full || s.watermarkCol.isEmpty
      report.check(r.fullRefresh == expectFull,
        s"${r.jobName} fullRefresh=${r.fullRefresh}, expected $expectFull")
    }
  }

  // ---- the analyst read set ----

  private def table(root: Path, spec: TableSpec): DataFrame =
    Transaction.read(spark, root.toString, spec.targetTable)

  private val reads: Seq[(String, Path => Array[Row])] = Seq(
    "daily_usd_volume" -> { root =>
      table(root, BitcoinWarehouse.transactions)
        .join(table(root, BitcoinWarehouse.pricesUsd)
          .select(to_date($"date").as("block_date"), $"price_in_dollar"),
          "block_date")
        .groupBy("block_date")
        .agg(sum($"output_value" * $"price_in_dollar").as("usd_volume"))
        .orderBy("block_date").collect()
    },
    "top_input_addresses" -> { root =>
      table(root, BitcoinWarehouse.inputs)
        .groupBy("address").agg(sum("bitcoin_amount").as("total"))
        .orderBy(desc("total"), asc("address")).limit(10).collect()
    },
    "block_bucket_fees" -> { root =>
      table(root, BitcoinWarehouse.block)
        .groupBy("height_bucket")
        .agg(sum("total_fees").as("fees"), count(lit(1)).as("blocks"))
        .orderBy("height_bucket").collect()
    },
    "tx_point_lookup" -> { root =>
      table(root, BitcoinWarehouse.transactions)
        .filter($"transaction_id".isin(model.lookupIds.map(model.txId): _*))
        .select("transaction_id", "block_time",
          "dimension_attribute_record_id", "input_value", "output_value")
        .orderBy("transaction_id").collect()
    })

  private def checkRead(name: String, rows: Array[Row]): Unit = name match {
    case "daily_usd_volume" =>
      val want = model.totalsByDay
      val got = rows.map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
      report.check(got.size == want.size &&
        want.forall { case (d, v) => got.get(d).contains(v.toDouble) },
        s"daily_usd_volume: ${got.size} days, model ${want.size}, " +
          s"first mismatch ${want.find { case (d, v) => !got.get(d).contains(v.toDouble) }}")
    case "top_input_addresses" =>
      val got = rows.map(r => (r.getString(0), r.getDouble(1))).toSeq
      val want = model.topInputAddresses.map { case (a, s) => (a, s.toDouble) }
      report.check(got == want, s"top_input_addresses $got != $want")
    case "block_bucket_fees" =>
      val got = rows.map(r => r.getAs[Long](0) -> (r.getDouble(1), r.getLong(2))).toMap
      val want = model.bucketFees.map { case (b, (f, n)) => b -> (f.toDouble, n) }
      report.check(got == want, s"block_bucket_fees ${got.size} buckets != model")
    case "tx_point_lookup" =>
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
      val want = model.lookupIds.distinct.sorted.map(i => (model.txId(i),
        model.blockTime(i), model.fee(i).toDouble,
        model.inputValue(i).toDouble, model.outputValue(i).toDouble))
      report.check(got == want, s"tx_point_lookup ${got.take(2)} != ${want.take(2)}")
  }

  private def runReads(root: Path, times: mutable.Map[String, mutable.Buffer[Double]]): Unit =
    reads.foreach { case (name, f) =>
      tracer.foreach(_.tag(s"read/$name"))
      report.attempted += 1
      val (rows, s) = Harness.time(
        try Some(f(root)) catch { case e: Exception =>
          report.failed += 1; report.check(false, s"$name: $e"); None })
      times.getOrElseUpdate(name, mutable.Buffer.empty) += s
      rows.foreach(r => own(checkRead(name, r)))
    }

  // ---- end-of-run checks against the model ----

  private def finalChecks(root: Path, pipe: AtomicPipeline): Unit = {
    val n = model.txRows
    val days = (0 until model.days).map(_.toLong)
    /** One scan per table: row count, distinct keys, keys of the model's
      * form and range, and exact column sums.
      */
    def tableCheck(spec: TableSpec, key: String, prefix: String, digits: Int,
        expected: Long, sums: (String, Long)*): Unit = {
      val inModel = sum(when(col(key).rlike(s"^$prefix[0-9]{$digits}$$") &&
        substring(col(key), 2, digits).cast("long") < expected, 1L).otherwise(0L))
      val r = table(root, spec).agg(count(lit(1)),
        countDistinct(col(key)) +: inModel +: sums.map(c => sum(col(c._1))): _*).head
      val got = (0 until 3).map(r.getLong) ++
        sums.indices.map(k => r.getAs[Number](k + 3).doubleValue)
      val want = Seq.fill(3)(expected) ++ sums.map(_._2.toDouble)
      report.check(got == want, s"${spec.targetTable}: rows, distinct keys, keys " +
        s"in model, sums of ${sums.map(_._1).mkString(", ")} = $got, model $want")
    }
    tableCheck(BitcoinWarehouse.transactions, "transaction_id", "t", 10, n,
      "dimension_attribute_record_id" -> model.sumOver(n)(model.fee),
      "input_value" -> model.sumOver(n)(model.inputValue),
      "output_value" -> model.sumOver(n)(model.outputValue))
    tableCheck(BitcoinWarehouse.inputs, "transaction_id", "t", 10, n,
      "bitcoin_amount" -> model.sumOver(n)(model.inValue))
    tableCheck(BitcoinWarehouse.outputs, "transaction_id", "t", 10, n,
      "bitcoin_amount" -> model.sumOver(n)(model.outValue))
    tableCheck(BitcoinWarehouse.block, "hash", "h", 9, model.days,
      "total_fees" -> days.map(d => model.blockFees(d.toInt)).sum,
      "height" -> days.sum)
    val price = table(root, BitcoinWarehouse.pricesUsd)
      .agg(count(lit(1)), countDistinct($"date"), sum($"price_in_dollar"),
        min($"date"), max($"date")).head
    report.check(price.getLong(0) == model.days && price.getLong(1) == model.days &&
      price.getDouble(2) == (0 until model.days).map(model.price).sum.toDouble &&
      price.getString(3) == model.date(0) &&
      price.getString(4) == model.date(model.days - 1),
      s"price_usd $price vs model ${model.days} days")

    val state = pipe.state.collect()
    report.check(state.length == specs.size, s"etl_job has ${state.length} rows")
    state.foreach { r =>
      val job = r.getAs[String]("job_name")
      val st = r.getAs[Any]("status")
      val (s0, s1) = (r.getAs[java.sql.Timestamp]("start_ts"),
        r.getAs[java.sql.Timestamp]("end_ts"))
      report.check(st == 1 && s0 != null && s1 != null && !s1.before(s0),
        s"etl_job $job status=$st start=$s0 end=$s1")
    }
  }

  // ---- the run ----

  def run(): Report = {
    own(writeBase())
    println(f"perfbench: inputs written, JVM at ${Harness.sinceJvmStart()}%.1f s")
    // Set-up: the job-table seed and the initial full refresh, then the
    // warm-up rounds; set-up time runs from JVM start and leaves out the
    // benchmark's own input generation and checks.
    val root = o.work.resolve("warehouse")
    val pipe = newPipeline(root)
    tracer.foreach(_.tag("setup"))
    val initial = pipe.run(specs)
    own(checkResults(initial, full = true))
    // Warm-up: the first round after the full refresh runs about 20% slow
    // (README, Steadiness), and a job's cost is mostly fixed (manifest
    // commits, state writes, checksums), so the warm-up repeats the two
    // smallest jobs, one incremental (price_usd, no new rows) and one full
    // reload (block), plus one read set; the tables and the model stay as
    // the full refresh left them.
    val warmJobs = Set(BitcoinWarehouse.pricesUsd.jobName, BitcoinWarehouse.block.jobName)
    runReads(root, mutable.Map.empty)
    (1 to WarmRounds).foreach { _ =>
      val res = pipe.run(specs, RunOptions(select = Some(warmJobs)))
      own(checkResults(res, full = false, specs.filter(s => warmJobs(s.jobName))))
    }
    own(Harness.fullGc())
    val setupS = Harness.sinceJvmStart() - ownSeconds
    println(f"perfbench: setup $setupS%.3f s")
    val readTimes = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    val written = mutable.Buffer.empty[(Long, Long)]
    val syncTimes = mutable.Buffer.empty[Double]
    val traced = mutable.Buffer.empty[TracedRound]
    (1 to Rounds).foreach { round =>
      writeDelta(round)
      val before = Harness.tree(root)
      Harness.fullGc()
      tracer.foreach { t => t.drain(); t.reset() }
      val (res, s) = tracer match {
        case None => Harness.time(pipe.run(specs))
        case Some(t) => tracedRound(t, pipe, root, round) match {
          case (r, tr) => traced += tr; (r.map(_._1), r.map(_._2).sum)
        }
      }
      syncTimes += s
      println(f"perfbench: round $round sync $s%.3f s, " +
        f"JVM at ${Harness.sinceJvmStart()}%.1f s")
      val after = Harness.tree(root)
      written += ((after._1 - before._1, after._2 - before._2))
      checkResults(res, full = false)
      runReads(root, readTimes)
      tracer.foreach(_.drain())
      traced.lastOption.foreach(_.reads(tracer.get))
    }
    val heapMb = Harness.fullGc()
    finalChecks(root, pipe)
    println(f"perfbench: checked, JVM at ${Harness.sinceJvmStart()}%.1f s")

    val readMedians = readTimes.values.map(b => Harness.median(b.toSeq)).toSeq
    val snapshotBytes = snapshotMb(root)
    if (!o.trace) {
      report.put("setup_s", setupS, "s")
      report.put("round_s", Harness.median(syncTimes.toSeq), "s")
      report.put("query_total_s", readMedians.sum, "s")
      report.put("query_geomean_s", Harness.geomean(readMedians), "s")
      report.put("warehouse_mb", snapshotBytes, "MB")
      report.put("retained_heap_mb", heapMb, "MB")
    } else {
      val per = traced.toSeq
      def med(f: TracedRound => Double) = Harness.median(per.map(f))
      specs.foreach(s => report.put(s"runner.job_s.${s.jobName}",
        med(_.jobSeconds(s.jobName)), "s"))
      report.put("runner.spark_jobs_per_round", med(_.sparkJobs), "count")
      report.put("meta.state_commit_s", med(_.stateCommit), "s")
      report.put("operators.commits_per_round", med(_.commits), "count")
      report.put("operators.publish_s", med(_.publish), "s")
      report.put("operators.checksum_s", med(_.checksum), "s")
      report.put("operators.schema_jobs_per_round", med(_.schemaJobs), "count")
      report.put("operators.files_written_per_round",
        Harness.median(written.map(_._1.toDouble).toSeq), "count")
      report.put("operators.written_mb_per_round",
        Harness.median(written.map(_._2 / 1048576.0).toSeq), "MB")
      report.put("operators.watermark_probe_s", med(_.watermarkProbe), "s")
      report.put("operators.verify_count_s", med(_.verifyCount), "s")
      report.put("operators.merge_rows_in", med(_.mergeRowsIn), "count")
      report.put("operators.merge_s", med(_.mergeAlone), "s")
      report.put("sources.fetch_s", med(_.fetchAlone), "s")
      report.put("sources.rows_fetched_per_round", med(_.rowsFetched), "count")
      readTimes.foreach { case (name, ts) =>
        report.put(s"operators.read_s.$name", Harness.median(ts.toSeq), "s") }
      report.put("operators.files_scanned_per_read_round", med(_.filesScanned), "count")
      report.put("spark.exec_cpu_s_per_round", med(_.cpuS), "s")
      report.put("spark.gc_s_per_round", med(_.gcS), "s")
      report.put("spark.shuffle_mb_per_round", med(_.shuffleMb), "MB")
      report.put("spark.tasks_per_round", med(_.tasks), "count")
    }
    report
  }

  /** MB of the latest committed snapshot's member dirs. */
  private def snapshotMb(root: Path): Double = {
    val txs = Transaction.committedTxs(spark, root.toString)
    Transaction.manifest(spark, root.toString, txs.last).map { case (t, v) =>
      Harness.tree(root.resolve(t).resolve(s"t$v"))._2
    }.sum / 1048576.0
  }

  // ---- the traced round ----

  /** Per-layer figures of one traced round. */
  final class TracedRound {
    val jobSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var sparkJobs, stateCommit, commits, publish, checksum, watermarkProbe,
      verifyCount, mergeRowsIn, mergeAlone, fetchAlone, rowsFetched,
      filesScanned, cpuS, gcS, shuffleMb, tasks, schemaJobs = 0.0

    def reads(t: Tracer): Unit = filesScanned = t.actions
      .filter(_.tag.startsWith("read/")).map(_.scannedFiles.toDouble).sum
  }

  /** One round job by job through the runner's public `runJob`, each job
    * under its own tag; then, untimed for the round, the source fetch and
    * the merge alone on the same inputs.
    */
  private def tracedRound(t: Tracer, pipe: AtomicPipeline, root: Path,
      round: Int): (Seq[(JobResult, Double)], TracedRound) = {
    val tr = new TracedRound
    // what the runner will see: the watermark and the table before the round
    val watermarks = specs.map { s =>
      s.jobName -> s.watermarkCol.flatMap(c =>
        Option(table(root, s).agg(max(col(c))).head.get(0)))
    }.toMap
    val commitsBefore = Transaction.committedTxs(spark, root.toString).size
    t.drain(); t.reset()
    val results = specs.map { s =>
      t.tag(s"job/${s.jobName}")
      val (r, secs) = Harness.time(pipe.runJob(s))
      tr.jobSeconds(s.jobName) = secs
      (r, secs)
    }
    t.tag("after")
    t.drain()
    tr.commits = Transaction.committedTxs(spark, root.toString).size - commitsBefore
    val jobTags = t.totals.filter(_._1.startsWith("job/")).values
    tr.sparkJobs = jobTags.map(_.jobs).sum.toDouble
    tr.checksum = jobTags.map(_.checksumSeconds).sum
    tr.schemaJobs = jobTags.map(t => t.rddJobs - t.checksumJobs).sum.toDouble
    tr.cpuS = jobTags.map(_.cpuNs).sum / 1e9
    tr.gcS = jobTags.map(_.gcMs).sum / 1e3
    tr.shuffleMb = jobTags.map(_.shuffleBytes).sum / 1048576.0
    tr.tasks = jobTags.map(_.tasks).sum.toDouble
    val acts = t.actions.filter(_.tag.startsWith("job/")).toSeq
    specs.foreach { s =>
      val tag = s"job/${s.jobName}"
      val tot = t.totals.getOrElse(tag, new SparkTotals)
      val funcs = acts.filter(_.tag == tag).groupBy(_.func).toSeq.sortBy(_._1)
        .map { case (f, as) => f"$f x${as.size} ${as.map(_.seconds).sum}%.3f s" }
      println(f"perfbench: round $round ${s.jobName}%-21s ${tr.jobSeconds(s.jobName)}%.3f s, " +
        f"${tot.jobs} Spark jobs (${tot.checksumJobs} checksum ${tot.checksumSeconds}%.3f s, " +
        f"${tot.rddJobs - tot.checksumJobs} schema ${tot.rddJobSeconds - tot.checksumSeconds}%.3f s), " +
        f"${tot.tasks} tasks, cpu ${tot.cpuNs / 1e9}%.3f s; actions: ${funcs.mkString(", ")}")
    }
    tr.stateCommit = acts.filter(a => a.writes && a.writesState).map(_.seconds).sum
    tr.publish = acts.filter(a => a.writes && !a.writesState).map(_.seconds).sum
    tr.watermarkProbe = acts.filter(a => a.func == "isEmpty" || a.func == "head")
      .map(_.seconds).sum
    tr.verifyCount = acts.filter(_.func == "count").map(_.seconds).sum
    tr.mergeRowsIn = acts.filter(a => a.writes && !a.writesState)
      .map(_.rowsScannedUnder(root.toString).toDouble).sum
    // the source and the merge alone, on this round's inputs
    t.tag("alone")
    specs.foreach { s =>
      val fetched = source.fetch(spark, s, watermarks(s.jobName))
      val (_, fs) = Harness.time(
        fetched.write.format("noop").mode("overwrite").save())
      tr.fetchAlone += fs
      tr.rowsFetched += fetched.count()
      if (s.watermarkCol.nonEmpty) {
        val shaped = Ops.auditStamp(Ops.applyDerived(
          Ops.renameProject(fetched, s.renames), s.derived))
        // the table as it stood before this round: the previous manifest
        val prevTx = Transaction.committedTxs(spark, root.toString)
          .dropRight(tr.commits.toInt).last
        val existing = Transaction.read(spark, root.toString, s.targetTable,
          Some(prevTx))
        val (_, ms) = Harness.time(Ops.mergeUpsertDf(Some(existing), shaped,
          s.pKeys).write.format("noop").mode("overwrite").save())
        tr.mergeAlone += ms
      }
    }
    t.tag("reads")
    (results, tr)
  }
}

object Elt {
  /** Transactions (and input and output rows) the initial full refresh loads. */
  val BaseRows = 20000
  /** Transactions each round adds. */
  val DeltaRows = 2000
  /** Untimed warm-up rounds of the two smallest jobs, in set-up. */
  val WarmRounds = 1
  /** Measured rounds: a fixed count, so the medians always rest on the
    * same number of samples and the warehouse ends the same size. Three
    * is the most a run can afford (README, "Run length"); the median of
    * three drops any one slow or fast round.
    */
  val Rounds = 3
}
