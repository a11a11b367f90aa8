package graftbench

import java.nio.file.Files
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query-suite` over the sf0.01 tables. Set-up runs one verify pass that
  * writes the output of all 90 oracle-checked `SparkEntry.queries` (checked
  * against the DuckDB oracles by run.py); the timed passes then run a fixed
  * subset of them to a noop sink, each pass in its own seeded shuffled order.
  * In the secondary round of a traced run the verify pass covers the subset
  * only.
  *
  * The subset, not all 90 queries, in the timed passes: one warm pass of all
  * 90 takes about 41 s on a 4-core host, so a run would time a single pass.
  * The subset keeps two to four queries of every group, among them the heavy
  * leaves of the pair-miner (q23) and fixpoint (q28) families. */
object QuerySuite {
  /** query → group, the package its public function lives in. */
  val Queries: Seq[(String, String)] = Seq(
    "q01_agg" -> "relational",
    "q04_window_topn" -> "relational",
    "q09_events_hourly" -> "relational",
    "q12_topk_custom" -> "relational",
    "q20_textstats" -> "text_ops",
    "q25_langid" -> "text_ops",
    "q26_langid_trigram" -> "text_ops",
    "q34_pii_scrub" -> "text_ops",
    "q21_dedup_exact" -> "dedup",
    "q23_minhash_pairs" -> "dedup",
    "q28_dedup_clusters" -> "dedup",
    "q30_ann_topk" -> "vector",
    "q33_ann_ivf" -> "vector",
    "q51_kg_links" -> "kg_pipeline",
    "q56_html_text" -> "kg_pipeline",
    "q71_hits" -> "graph",
    "q79_bfs_hops" -> "graph",
    "q83_ppr" -> "graph")
  val Groups: Seq[String] = Seq("relational", "text_ops", "dedup", "vector", "kg_pipeline", "graph")
  val HeavyLeaves: Seq[String] = Seq("q23", "q28")

  def run(o: Opts): WorkloadResult = {
    val tr = new Tracer(o.trace)
    val (spark, sessionS) = Clock.timed(Session.start(o.work))
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val names = Queries.map(_._1)
    val verifyNames = if (o.secondary) names else SparkEntry.queries.keys.toSeq.sorted

    // verify pass: every query's output to parquet, for the oracle check
    val verifyDir = o.work.resolve("verify")
    val verifyFailed = mutable.Set.empty[String]
    val (_, verifyS) = Clock.timed {
      for (n <- verifyNames) {
        try SparkEntry.queries(n)(spark, o.sfDir).coalesce(1).write.parquet(verifyDir.resolve(n).toString)
        catch { case e: Exception =>
          verifyFailed += n
          System.err.println(s"[query-suite] verify $n failed: $e")
        }
        spark.sharedState.cacheManager.clearCache()
      }
    }
    Files.writeString(verifyDir.resolve("oracle_sql.json"), oracleJson(o, verifyNames))
    // one untimed pass to the noop sink: right after the verify pass the JIT
    // is still warming, and a first timed pass ran ~40 % slower than the next
    val warmS = if (o.secondary) 0.0 else Clock.timed(names.foreach { n =>
      SparkEntry.queries(n)(spark, o.sfDir).write.mode("overwrite").format("noop").save()
      spark.sharedState.cacheManager.clearCache()
    })._2
    // measured once: the verify and warm passes are too long to repeat
    val setupS = sessionS + verifyS + warmS
    System.err.println(f"[query-suite] set-up: session $sessionS%.1f s, verify pass $verifyS%.1f s, warm pass $warmS%.1f s")
    listener.clear()

    // timed passes
    val times = mutable.Map.empty[String, ArrayBuffer[Double]]
    val passes = ArrayBuffer.empty[(Long, Long, Long, Long, Seq[(String, Long, Long)])]
    var attempted = 0L
    var failed = 0L
    val t0 = Clock.now()
    var pass = 0
    do {
      val order = new scala.util.Random(o.seed * 1000 + pass).shuffle(names)
      val (ps, pms) = (System.nanoTime(), System.currentTimeMillis())
      val spans = order.map { n =>
        val q0 = System.nanoTime()
        attempted += 1
        try SparkEntry.queries(n)(spark, o.sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Exception =>
          failed += 1
          System.err.println(s"[query-suite] $n failed: $e")
        }
        val q1 = System.nanoTime()
        times.getOrElseUpdate(n, ArrayBuffer.empty) += (q1 - q0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        (n, q0, q1)
      }
      passes += ((ps, System.nanoTime(), pms, System.currentTimeMillis(), spans))
      pass += 1
    } while (Clock.secsSince(t0) < o.seconds)

    System.err.println(s"[query-suite] pass walls (s): ${passes.map(p => f"${(p._2 - p._1) / 1e9}%.1f").mkString(" ")}")
    val medians = names.map(n => n -> Stats.median(times(n).toSeq)).toMap
    val totalS = medians.values.sum
    val samplesMs = times.values.flatten.map(_ * 1000.0).toSeq
    val (tailMs, tailP) = Stats.tail(samplesMs)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", names.length / totalS, "1/s"),
      ("typical_ms", Stats.median(samplesMs), "ms"),
      ("tail_ms", tailMs, "ms"))
    val layer = if (o.trace) perLayer(spark, listener, medians, passes.toSeq, tr) else Nil
    val checks = Seq("verify" ->
      (if (verifyFailed.isEmpty) s"ok: ${verifyNames.length} outputs written"
       else s"FAILED: ${verifyFailed.mkString(",")}"))
    WorkloadResult("query-suite", attempted, failed, e2e, layer, checks, tr,
      Seq("passes" -> pass.toString, "query_total_s" -> Json.num(totalS),
        "samples" -> samplesMs.length.toString, "tail_percentile" -> tailP.toString),
      verified = Some(verifyNames.length))
  }

  /** The oracle SQL of the verified queries, as `graft.Verify` writes it. The golden
    * pins it reads are addressed through the checkout the benchmark runs in. */
  private def oracleJson(o: Opts, names: Seq[String]): String = {
    val pinDir = graft.run.GoldenDump.GoldenKgDir
    val pinRoot = pinDir.stripSuffix("src/test/resources/golden/kg")
    val here = o.root.toString.stripSuffix("/") + "/"
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => n -> sql.replace(pinRoot, here)))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
  }

  private def perLayer(spark: SparkSession, l: JobListener, medians: Map[String, Double],
                       passes: Seq[(Long, Long, Long, Long, Seq[(String, Long, Long)])],
                       tr: Tracer): Seq[(String, Double, String)] = {
    val perPass = passes.zipWithIndex.map { case ((s, e, sms, ems, qs), i) =>
      val group = s"pass-$i"
      val pid = tr.add("query.pass", s, e, group = group)
      qs.foreach { case (n, q0, q1) => tr.add(s"query.$n", q0, q1, pid, group) }
      (JobSummary.of(l.jobsEndingIn(spark.sparkContext, sms, ems)), (e - s) / 1e9)
    }
    def med(f: ((JobSummary, Double)) => Double) = Stats.median(perPass.map(f))
    val groupWalls = Groups.map { g =>
      (s"query.${g}_s", Queries.filter(_._2 == g).map(q => medians(q._1)).sum, "s")
    }
    val leaves = HeavyLeaves.map { q =>
      (s"query.${q}_s", medians(Queries.find(_._1.startsWith(q + "_")).get._1), "s")
    }
    groupWalls ++ Seq(
      ("query.jobs", med(_._1.jobs.toDouble), "count"),
      ("query.tasks", med(_._1.tasks.toDouble), "count"),
      ("query.driver_s", med(p => p._1.driverS(p._2)), "s"),
      ("query.cpu_s", med(_._1.cpuS), "s"),
      ("query.shuffle_bytes", med(_._1.shuffleBytes.toDouble), "bytes"),
      ("query.gc_s", med(_._1.gcS), "s")) ++ leaves
  }
}
