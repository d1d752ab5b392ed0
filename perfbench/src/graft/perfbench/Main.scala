package graft.perfbench

/** Entry point of one benchmark run, in its own JVM. `run.py` starts it
  * with `--workload --seed --trace --work --cores` (and `--data` for
  * query_mix), and reads the report it writes to `<work>/report.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Options.parse(args)
    val spark = Harness.session(o)
    val report = try o.workload match {
      case "elt_trickle" => new Elt(spark, o).run()
      case "query_mix" => new Mix(spark, o).run()
      case w => sys.error(s"unknown workload $w")
    } finally spark.stop()
    Harness.write(o.work.resolve("report.json"), report.json)
    println(f"perfbench: done, JVM at ${Harness.sinceJvmStart()}%.1f s")
  }
}
