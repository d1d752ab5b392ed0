package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query_mix`: declared queries over the generated star schema, each
  * timed to its whole answer (`write.format("noop")`, so Catalyst cannot
  * prune output columns as it does under `count()`).
  */
final class Mix(spark: SparkSession, o: Options) {
  private val report = new Report
  private val tracer = if (o.trace) Some(new Tracer(spark).install()) else None

  private def answer(name: String, dir: Path): DataFrame =
    SparkEntry.queries(name)(spark, dir.toString)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One whole-answer execution into `sink`; None when it failed. */
  private def execute(name: String, dir: Path, tag: String,
      sink: DataFrame => Unit = noop): Option[Double] = {
    tracer.foreach(_.tag(tag))
    report.attempted += 1
    try Some(Harness.time(sink(answer(name, dir)))._2)
    catch { case e: Exception =>
      report.failed += 1
      report.check(false, s"$name: ${e.toString.take(300)}")
      None
    }
  }

  def run(): Report = {
    // Set-up: the first execution of every query. It builds the seeds and
    // indexes the queries memoize, and writes each answer for the DuckDB
    // check. It is also the warm-up: with the JVM's compile thresholds
    // lowered, the passes after it do not drift (README, Steadiness).
    val dir = o.data.get
    val answers = o.work.resolve("answers")
    val (_, coldS) = Harness.time(Mix.Queries.foreach { q =>
      val s = execute(q, dir, s"setup/$q",
        _.coalesce(1).write.mode("overwrite").parquet(answers.resolve(q).toString))
      println(f"perfbench: first execution $q%-20s ${s.getOrElse(Double.NaN)}%.3f s")
    })
    println(f"perfbench: session up at ${Harness.sinceJvmStart() - coldS}%.3f s, cold pass $coldS%.3f s")
    (1 to Mix.WarmPasses).foreach { w =>
      val (_, s) = Harness.time(Mix.Queries.foreach(q => execute(q, dir, s"warm/$q/$w")))
      println(f"perfbench: warm-up pass $w $s%.3f s")
    }
    val setupS = Harness.sinceJvmStart()
    val times = mutable.LinkedHashMap(Mix.Queries.map(_ -> mutable.Buffer.empty[Double]): _*)
    val passTimes = mutable.Buffer.empty[Double]
    (1 to Mix.Passes).foreach { pass =>
      Harness.fullGc()
      tracer.foreach { t => t.drain(); t.reset() }
      val (_, s) = Harness.time(Mix.Queries.foreach { q =>
        execute(q, dir, s"q/$q/$pass").foreach(times(q) += _)
      })
      passTimes += s
      println(f"perfbench: pass $pass $s%.3f s: " +
        times.map { case (q, ts) => s"${q.take(8)} ${ts.lastOption.fold("failed")(t => f"$t%.2f")}" }
          .mkString(" "))
    }
    tracer.foreach { t => t.tag("after"); t.drain() }
    val heapMb = Harness.fullGc()
    println(f"perfbench: passes done, JVM at ${Harness.sinceJvmStart()}%.1f s")
    if (o.countToo) Mix.Queries.foreach { q =>
      // what `count()` reports for the same query, for comparison only
      val c = (1 to 3).map(_ => Harness.time(answer(q, dir).count())._2)
      println(f"perfbench: count-vs-answer $q%-20s count ${Harness.median(c)}%.3f s " +
        f"answer ${Harness.median(times(q).toSeq)}%.3f s")
    }
    Harness.write(o.work.resolve("oracle_sql.json"), Mix.Queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(sql => s"${Harness.quote(q)}: ${Harness.quote(sql)}"))
      .mkString("{", ",\n", "}"))
    val medians = times.collect { case (q, ts) if ts.nonEmpty => q -> Harness.median(ts.toSeq) }
    report.check(medians.size == Mix.Queries.size, "a query never completed")
    medians.foreach { case (q, m) => println(f"perfbench: $q%-20s $m%.3f s") }
    println(f"perfbench: setup $setupS%.3f s, passes ${Mix.Passes}")
    if (!o.trace) {
      report.put("setup_s", setupS, "s")
      report.put("round_s", Harness.median(passTimes.toSeq), "s")
      report.put("query_total_s", medians.values.sum, "s")
      report.put("query_geomean_s", Harness.geomean(medians.values.toSeq), "s")
      report.put("warehouse_mb", Harness.tree(dir)._2 / 1048576.0, "MB")
      report.put("retained_heap_mb", heapMb, "MB")
    } else tracer.foreach { t =>
      // the last pass's figures per query (its totals were reset before it)
      Mix.Queries.foreach { q =>
        val tag = s"q/$q/${Mix.Passes}"
        val acts = t.actions.filter(_.tag == tag)
        val tot = t.totals.getOrElse(tag, new SparkTotals)
        report.put(s"queries.$q.s", medians.getOrElse(q, 0.0), "s")
        report.put(s"queries.$q.plan_s", acts.map(_.planSeconds).sum, "s")
        report.put(s"queries.$q.exec_cpu_s", tot.cpuNs / 1e9, "s")
        report.put(s"queries.$q.shuffle_mb", tot.shuffleBytes / 1048576.0, "MB")
      }
      val all = t.totals.filter(_._1.startsWith("q/")).values
      report.put("spark.gc_s", all.map(_.gcMs).sum / 1e3, "s")
      report.put("spark.spill_mb", all.map(_.spillBytes).sum / 1048576.0, "MB")
      report.put("spark.stages", all.map(_.stages).sum.toDouble, "count")
      report.put("spark.tasks", all.map(_.tasks).sum.toDouble, "count")
    }
    report
  }
}

object Mix {
  /** Untimed warm-up passes after the first execution, in set-up: the
    * first pass after it still ran 10-25% slow (README, Steadiness).
    */
  val WarmPasses = 1
  /** Measured passes over the mix: a fixed count, as for ELT rounds. */
  val Passes = 3
  /** One or two queries per family of the declared set. */
  val Queries: Seq[String] = Seq(
    // TPC-H joins and aggregates (q1 and q5 round sums that can land on
    // a half-cent, where engines' summation orders round apart)
    "q4_order_priority",
    // text, crypto and JSON kernels
    "d_text_stats", "d_pii_scrub", "q_column_crypto", "ev_json_props",
    // dedup and vector similarity
    "d_dedup_exact", "e_ann_topk",
    // graftsink and merge-on-read reads
    "q_sink_skip", "q_mor_fsck",
    // a plan rule: aggregate navigation to a summary table
    "q_summary_rewrite")
}
