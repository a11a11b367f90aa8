package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line options passed by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      root: Path, sfDir: String, work: Path, out: Path, traceDir: Path,
                      secondary: Boolean = false) {
  /** Set-up repetitions: several for a measured setup_s, one when the
    * workload only runs to give a traced run its per-layer metrics. */
  def setupReps: Int = if (secondary) 1 else 3
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("root")), m("sf"), Paths.get(m("work")), Paths.get(m("out")),
      Paths.get(m("trace-dir")))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  private val Ladder = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)

  /** The highest percentile of `Ladder` with at least ten samples beyond it;
    * below 40 samples there is no tail and the median stands in for it.
    * Returns (value, percentile used). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.length < 40) (median(xs), 50.0)
    else {
      val p = Ladder.find(p => xs.length * (100.0 - p) / 100.0 >= 10.0).get
      (percentile(xs, p), p)
    }
}

/** Wall-clock helpers (monotonic clock). */
object Clock {
  def now(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, secsSince(t0)) }
}

/** `KgPipeline.trainModel` on its 400 generated examples (seed 42, as
  * `SparkEntry` and `graft.Bench` train it), timed on its own. */
object Train {
  def timed(): (graft.crf.CrfModel, Double) =
    Clock.timed(graft.kg.KgPipeline.trainModel(42L))
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
}

/** The benchmark's Spark session: local[N] with N = min(4, cores). */
object Session {
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Starts (or, within one traced run, reuses) the session. */
  def start(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What one workload run measured: end-to-end metrics, and in a traced run
  * the per-layer metrics and spans. */
final case class WorkloadResult(name: String, attempted: Long, failed: Long,
                                e2e: Seq[(String, Double, String)],
                                layer: Seq[(String, Double, String)],
                                checks: Seq[(String, String)], tracer: Tracer,
                                info: Seq[(String, String)], verified: Option[Int] = None) {
  def correct: Boolean = checks.forall(_._2.startsWith("ok"))
}

object Json {
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spans kept in memory during a traced run and written out at its end. */
final class Tracer(enabled: Boolean) {
  final case class SpanRec(id: Int, name: String, start: Long, end: Long, parent: Int,
                           group: String, attrs: String)
  private val spans = ArrayBuffer.empty[SpanRec]
  private val origin = System.nanoTime()

  /** Records a span [start, end] (System.nanoTime values); returns its id. */
  def add(name: String, start: Long, end: Long, parent: Int = -1, group: String = "",
          attrs: String = ""): Int = synchronized {
    if (!enabled) -1
    else { val id = spans.length; spans += SpanRec(id, name, start, end, parent, group, attrs); id }
  }

  def write(path: Path): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      val a = if (s.attrs.isEmpty) "" else s""", "attrs": {${s.attrs}}"""
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "start_us": ${(s.start - origin) / 1000}, """ +
        s""""end_us": ${(s.end - origin) / 1000}, "parent": ${s.parent}, "group": ${Json.str(s.group)}$a}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Results {
  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")

  /** The result file run.py reads: the run's last-line JSON plus the checks
    * and, when a verify pass ran, how many query outputs it wrote. */
  def json(rs: Seq[WorkloadResult], metrics: Seq[(String, Double, String)]): String = {
    val checks = rs.flatMap(r => r.checks.map { case (k, v) => s"${Json.str(r.name + "." + k)}: ${Json.str(v)}" })
    val verified = rs.flatMap(_.verified).map(v => s""", "verified": $v""").mkString
    s"""{"correct": ${rs.forall(_.correct)}, "attempted": ${rs.map(_.attempted).sum}, """ +
      s""""failed": ${rs.map(_.failed).sum}, "metrics": ${metricsJson(metrics)}, """ +
      s""""checks": ${checks.mkString("{", ", ", "}")}$verified}"""
  }

  /** Trace output of one workload: its spans (JSON lines) and a summary with
    * its per-layer metrics and the end-to-end figures measured while traced. */
  def writeTrace(dir: Path, seed: Long, r: WorkloadResult): Unit = {
    Files.createDirectories(dir)
    r.tracer.write(dir.resolve(s"${r.name}-seed$seed.spans.jsonl"))
    val info = r.info.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    Files.writeString(dir.resolve(s"${r.name}-seed$seed.json"),
      s"""{"workload": ${Json.str(r.name)}, "seed": $seed, "per_layer": ${metricsJson(r.layer)}, """ +
        s""""end_to_end_traced": ${metricsJson(r.e2e)}, "info": $info}\n""")
  }
}
