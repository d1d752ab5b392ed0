package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The options `run.py` passes to the JVM. */
case class Options(workload: String, seed: Long, trace: Boolean,
    work: Path, cores: Int, data: Option[Path], countToo: Boolean)

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Options(m("workload"), m("seed").toLong, m("trace") == "1",
      Paths.get(m("work")), m("cores").toInt, m.get("data").map(Paths.get(_)),
      m.get("count-too").contains("1"))
  }
}

/** What one run reports: the operations it attempted and failed, the
  * correctness verdict, and named metrics with units.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.size < 50) problems += what

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Harness.quote(k)}: {\"value\": ${Harness.num(v)}, \"unit\": ${Harness.quote(u)}}"
    }.mkString("{", ", ", "}")
    val ps = problems.map(Harness.quote).mkString("[", ", ", "]")
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "problems": $ps, "metrics": $ms}"""
  }
}

object Harness {
  def quote(s: String): String = graft.Json.quote(s)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Wall-clock seconds since the JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** A full collection, so a measured round never pays for garbage left
    * by the one before it; returns the heap still in use, in MB.
    */
  def fullGc(): Double = {
    // Spark drops weakly held state (broadcasts, shuffles, cached plans)
    // from a cleaner thread after a collection finds it, so collect until
    // the heap stops shrinking
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var last = Long.MaxValue
    var now = { System.gc(); used }
    var n = 1
    while (now < last - (1L << 20) && n < 6) {
      Thread.sleep(50)
      last = now
      System.gc()
      now = used
      n += 1
    }
    now / 1048576.0
  }

  def session(o: Options): SparkSession = {
    // the session config every graft entry point uses, plus local sizing
    val spark = graft.queries.Tables.configure(SparkSession.builder())
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Files and bytes under a directory tree. */
  def tree(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var files = 0L; var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { p =>
          files += 1; bytes += Files.size(p)
        }
        (files, bytes)
      } finally s.close()
    }

  def write(p: Path, text: String): Unit =
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
}
