package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.io.ModelIO
import graft.kg.{PagesGen, Synth}
import graft.run.PipelineCli

/** `kg-build`: repeated full KG builds (`PipelineCli.run` on the ingest path,
  * html-derived text) over one generated pages table, each into a fresh
  * output root with the trained model pre-placed there. One warm pass runs
  * in set-up, over a small table of its own; the timed passes follow until
  * the run's seconds are used. `attempted` counts a pass's ten stages. */
object KgBuild {
  val Pages = 1000L
  /** Sentences per page: density × (2..9), at most 80; 8 gives web-page-sized
    * documents of about 38 sentences, as `graft.Bench` generates them. */
  val Density = 8
  /** The warm pass builds a small table of its own: it runs every stage's
    * code once, as a full-size pass would, at a fraction of the time. */
  val WarmPages = 100L
  val Stages: Seq[String] = Seq("pages", "sentences", "mentions", "links", "canonical",
    "triples", "domain_stats", "nodes", "edges", "pagerank")
  private val StageLine = """\[checkpoint\] stage '([a-z_]+)' wrote""".r.unanchored

  /** One pass: wall, per-stage boundaries (nanoTime and epoch ms of each
    * stage's checkpoint line) and the run's start/end marks. */
  final case class Pass(wallS: Double, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                        stageEnds: Seq[(String, Long, Long)], outRoot: Path)

  def run(o: Opts): WorkloadResult = {
    val tr = new Tracer(o.trace)
    val (spark, sessionS) = Clock.timed(Session.start(o.work))
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)

    // set-up: generate the pages table (repeated), train the model
    val gens = (0 until o.setupReps).map { k =>
      val dir = o.work.resolve(s"pages-$k")
      Clock.timed(PagesGen.pages(spark, Pages, o.seed, density = Density).write.parquet(dir.toString))._2 -> dir
    }
    val pagesDir = gens.last._2
    gens.init.foreach(g => Files2.deleteTree(g._2))
    val warmDir = o.work.resolve("pages-warm")
    PagesGen.pages(spark, WarmPages, o.seed, density = Density).write.parquet(warmDir.toString)
    val (model, trainS) = Train.timed()
    val modelFile = o.work.resolve("model.json")
    ModelIO.save(model, modelFile.toString)

    var passNo = 0
    def pass(input: Path, nPages: Long): Pass = {
      val outRoot = o.work.resolve(f"build-$passNo%03d")
      passNo += 1
      Files.createDirectories(outRoot)
      Files.copy(modelFile, outRoot.resolve("model.json"))
      val ends = ArrayBuffer.empty[(String, Long, Long)]
      val log: String => Unit = {
        case StageLine(s) => ends += ((s, System.nanoTime(), System.currentTimeMillis()))
        case _ =>
      }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      PipelineCli.run(spark, outRoot.toString, nPages, o.seed, log = log,
        inputDir = Some(input.toString), fromHtml = true)
      val t1 = System.nanoTime()
      Pass((t1 - t0) / 1e9, t0, t1, startMs, System.currentTimeMillis(), ends.toSeq, outRoot)
    }

    val (warm, warmS) = Clock.timed(pass(warmDir, WarmPages))
    Files2.deleteTree(warm.outRoot)
    val setupS = sessionS + Stats.median(gens.map(_._1)) + trainS + warmS
    System.err.println(f"[kg-build] set-up: session $sessionS%.1f s, pages ${gens.map(_._1).map(x => f"$x%.1f").mkString("/")} s, " +
      f"training $trainS%.1f s, warm pass $warmS%.1f s")
    listener.clear()

    // timed passes
    val passes = ArrayBuffer.empty[Pass]
    var attempted = 0L
    var failed = 0L
    val t0 = Clock.now()
    do {
      attempted += Stages.length
      try {
        val p = pass(pagesDir, Pages)
        if (passes.nonEmpty) Files2.deleteTree(passes.last.outRoot)
        passes += p
      } catch {
        case e: Exception =>
          System.err.println(s"[kg-build] pass failed: $e")
          failed += Stages.length - Stages.count(s =>
            Files.exists(o.work.resolve(f"build-${passNo - 1}%03d").resolve(s).resolve("_MANIFEST.json")))
      }
    } while (Clock.secsSince(t0) < o.seconds)

    val checks = if (passes.isEmpty) Seq("passes" -> "FAILED: no pass completed")
                 else check(spark, o.seed, passes.last.outRoot)

    val passMs = passes.map(_.wallS * 1000.0).toSeq
    System.err.println(s"[kg-build] pass walls (ms): ${passMs.map(x => f"$x%.0f").mkString(" ")}")
    val (tailMs, tailP) = Stats.tail(passMs)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", Pages / Stats.median(passes.map(_.wallS).toSeq), "1/s"),
      ("typical_ms", Stats.median(passMs), "ms"),
      ("tail_ms", tailMs, "ms"))
    val layer = if (!o.trace) Nil else
      perLayer(spark, listener, passes.toSeq, tr) :+ (("crf.train_s", trainMedianS(o.secondary), "s"))
    WorkloadResult("kg-build", attempted, failed, e2e, layer, checks, tr, Seq(
      "passes" -> passes.length.toString, "pages_per_pass" -> Pages.toString,
      "tail_percentile" -> tailP.toString))
  }

  /** Per-layer metrics of the traced run: medians over the timed passes. */
  private def perLayer(spark: SparkSession, l: JobListener, passes: Seq[Pass],
                       tr: Tracer): Seq[(String, Double, String)] = {
    val perPass = passes.zipWithIndex.map { case (p, i) =>
      val group = s"pass-$i"
      val passSpan = tr.add("kg.pass", p.startNs, p.endNs, group = group)
      val bounds = p.startMs +: p.stageEnds.map(_._3)
      val stageStarts = p.startNs +: p.stageEnds.map(_._2)
      val stageStats = p.stageEnds.indices.map { k =>
        val (name, endNs, endMs) = p.stageEnds(k)
        val js = l.jobsEndingIn(spark.sparkContext, bounds(k), endMs)
        val sid = tr.add(s"kg.$name", stageStarts(k), endNs, passSpan, group)
        js.foreach(j => tr.add(s"spark.job.${j.id}", msToNs(p, j.start), msToNs(p, j.end), sid, group,
          s""""tasks": ${j.tasks}, "cpu_ms": ${j.cpuNs / 1000000}, "shuffle_bytes": ${j.shuffleBytes}"""))
        name -> ((endNs - stageStarts(k)) / 1e9, JobSummary.of(js))
      }.toMap
      val lastMs = p.stageEnds.last._3
      val reportJobs = l.jobsEndingIn(spark.sparkContext, lastMs, p.endMs)
      tr.add("kg.report", p.stageEnds.last._2, p.endNs, passSpan, group)
      val all = JobSummary.of(l.jobsEndingIn(spark.sparkContext, p.startMs, p.endMs))
      (stageStats, (p.endNs - p.stageEnds.last._2) / 1e9, all.driverS(p.wallS), all,
        JobSummary.of(reportJobs))
    }
    def med(f: ((Map[String, (Double, JobSummary)], Double, Double, JobSummary, JobSummary)) => Double) =
      Stats.median(perPass.map(f))
    Stages.flatMap { s =>
      Seq((s"kg.$s.wall_s", med(_._1(s)._1), "s"),
        (s"kg.$s.cpu_s", med(_._1(s)._2.cpuS), "s"),
        (s"kg.$s.shuffle_bytes", med(_._1(s)._2.shuffleBytes.toDouble), "bytes"),
        (s"kg.$s.jobs", med(_._1(s)._2.jobs.toDouble), "count"))
    } ++ Seq(
      ("kg.report_s", med(_._2), "s"),
      ("kg.report_jobs", med(_._5.jobs.toDouble), "count"),
      ("kg.driver_s", med(_._3), "s"),
      ("kg.gc_s", med(_._4.gcS), "s"),
      ("kg.spill_bytes", med(_._4.spillBytes.toDouble), "bytes"),
      ("kg.pass_s", Stats.median(passes.map(_.wallS)), "s"))
  }

  /** crf.train_s: median of three warm trainings (one in a secondary run). */
  private def trainMedianS(secondary: Boolean): Double =
    Stats.median((0 until (if (secondary) 1 else 3)).map(_ => Train.timed()._2))

  private def msToNs(p: Pass, ms: Long): Long = p.startNs + (ms - p.startMs) * 1000000L

  /** Independent checks of the last pass against the generator's gold. */
  def check(spark: SparkSession, seed: Long, outRoot: Path): Seq[(String, String)] = {
    import spark.implicits._
    val gen = (0L until Pages).map(i => PagesGen.pageOf(seed, i, Density)).filter(_._1.lang == "en")
    val goldMentions = gen.flatMap(_._2.map(g => (g.url, g.sent_id, g.start, g.end, g.entity))).toSet
    val nSentences = gen.map(_._1.text.split('\n').length).sum
    val goldRels = gen.flatMap { case (page, _) =>
      val i = page.url.substring(page.url.lastIndexOf('/') + 1).toLong
      page.text.split('\n').indices.flatMap(k => Synth.sentence(seed, i * 80 + k).rels)
    }.toSet
    def read(stage: String) = spark.read.parquet(outRoot.resolve(stage).toString)

    val mentions = read("mentions").select($"url", $"sent_id", $"start", $"end", $"entity")
      .as[(String, Int, Int, Int, String)].collect().toSet
    val hit = (mentions & goldMentions).size.toDouble
    val (mp, mr) = (hit / mentions.size, hit / goldMentions.size)
    val triples = read("triples").select($"subj", $"pred", $"obj")
      .as[(String, String, String)].collect().toSet
    val relRecall = (triples & goldRels).size.toDouble / goldRels.size
    val sentences = read("sentences").count()
    val manifestBad = Stages.filter { s =>
      val m = Files.readString(outRoot.resolve(s).resolve("_MANIFEST.json"))
      val rows = """"rows":(\d+),"format"""".r.findFirstMatchIn(m).map(_.group(1).toLong)
      !rows.contains(read(s).count())
    }
    def verdict(ok: Boolean, msg: String) = (if (ok) "ok: " else "FAILED: ") + msg
    Seq(
      "mentions" -> verdict(mp >= 0.95 && mr >= 0.95, f"precision $mp%.4f recall $mr%.4f"),
      "relations" -> verdict(relRecall >= 0.95, f"gold relation recall $relRecall%.4f of ${goldRels.size}"),
      "sentences" -> verdict(sentences == nSentences, s"$sentences rows, generator $nSentences"),
      "manifests" -> verdict(manifestBad.isEmpty,
        if (manifestBad.isEmpty) s"${Stages.length} stages match" else s"mismatch: ${manifestBad.mkString(",")}"))
  }
}
