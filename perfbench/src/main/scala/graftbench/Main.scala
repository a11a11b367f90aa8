package graftbench

import java.nio.file.Files

/** Entry point of the harness JVM (started by perfbench/run.py).
  *
  * An untraced run measures its one workload and reports the end-to-end
  * metrics. A traced run measures all three workloads with tracing on, its
  * own first and in full, then one round of each other workload, so that
  * every per-layer metric is reported by every traced run; it writes each
  * workload's spans and per-layer summary to the trace directory. */
object Main {
  val Workloads: Seq[String] = Seq("kg-build", "query-suite", "serve")

  def runOne(o: Opts): WorkloadResult = o.workload match {
    case "kg-build"    => KgBuild.run(o)
    case "query-suite" => QuerySuite.run(o)
    case "serve"       => Serve.run(o)
    case w             => sys.error(s"unknown workload $w")
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val json =
      if (!o.trace) { val r = runOne(o); Results.json(Seq(r), r.e2e) }
      else {
        // the other workloads run one round each, in the same session
        val rs = runOne(o) +: Workloads.filterNot(_ == o.workload).map(w =>
          runOne(o.copy(workload = w, secondary = true, seconds = if (w == "serve") 3.0 else 0.0)))
        rs.foreach(r => Results.writeTrace(o.traceDir, o.seed, r))
        Results.json(rs, rs.flatMap(_.layer))
      }
    Files.writeString(o.out, json + "\n")
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    // ServeCli's worker pool is not stopped with its server
    sys.exit(0)
  }
}
