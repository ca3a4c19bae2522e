package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload and prints its metrics; the last stdout line is the
  * result object (prefixed `RESULT `, stripped by run.py).
  *
  * Protocol, in one JVM:
  *  1. set-up three times (session start at nproc cores, seeded input
  *     generation, index build, one warm pass); `setup_s` is the median;
  *  2. three untimed settle passes;
  *  3. timed passes for `--seconds` (at least five);
  *  4. brute-force correctness checks and the live-heap probe, untimed;
  *  5. traced run only: per-layer probes, counters and kernel loops.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--save FILE]
  */
object Main {

  /** The per-layer metrics of a traced run's result line. A workload that
    * never reaches a layer reports 0 for it. The curation workload adds its
    * own (minhash, dedupGroups) to the report and the saved record. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.persistent_rdds" -> "count",
    "spark.cache_entries" -> "count", "spark.cached_bytes" -> "bytes",
    "operators.join_s" -> "s", "operators.join_probe_rows" -> "count",
    "operators.join_candidates_full" -> "count", "operators.join_candidates_partial" -> "count",
    "operators.join_matches" -> "count", "operators.join_match_ratio" -> "ratio",
    "operators.q15_probe_rows" -> "count", "operators.q15_candidates_full" -> "count",
    "operators.q15_candidates_partial" -> "count", "operators.q15_matches" -> "count",
    "operators.tiles_s" -> "s", "operators.knn_batch_s" -> "s",
    "operators.knn_jobs_per_batch" -> "count", "operators.knn_cell_corpus_s" -> "s",
    "functions.geom_frontend_s" -> "s",
    "sources.synth_s" -> "s", "sources.snapshot_write_s" -> "s", "sources.snapshot_rows" -> "count",
    "core.wkt_parse_ns" -> "ns", "core.wkt_write_ns" -> "ns", "core.geojson_ns" -> "ns",
    "core.wkb_ns" -> "ns", "core.ancestors_ns" -> "ns", "core.raycast_ns" -> "ns",
    "core.cover_us" -> "us", "core.cover_cells_per_poly" -> "count", "core.dims_ns" -> "ns",
    "core.decode_ns" -> "ns", "core.tile_blocks_ns" -> "ns",
    "core.disk_ns" -> "ns", "trace.pass_s_p50" -> "s")

  def workload(name: String, seed: Long, work: String): Workload = name match {
    case "flagship" => new Flagship(seed, work, nImages = 4000L)
    case "curation" => new Curation(seed, work, nDocs = 6000L)
    case "knn-serve" => new KnnServe(seed, work, nPoints = 100000L, batch = 50)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val wl = workload(need("workload"), seed, work)
    val nproc = Runtime.getRuntime.availableProcessors
    val tr = new Tracer(traced)
    val per = new Metrics
    val leaks = mutable.ArrayBuffer[(String, Int, Harness.Leak)]()
    var attempted = 0
    var failed = 0
    var passIdx = 0

    def runPass(s: SparkSession, phase: String): Double = {
      val before = tr.size
      val (ok, sec) = Harness.time {
        try tr.span("pass")(wl.pass(s, passIdx, tr))
        catch { case e: Exception => System.err.println(s"pass $passIdx failed: $e"); false }
      }
      if (traced) {
        if (phase == "timed") tr.timed += tr.at(before)
        leaks += ((phase, passIdx, Harness.leakProbe(s)))
      }
      attempted += 1
      if (!ok) failed += 1
      wl.afterPass(s)
      passIdx += 1
      sec
    }

    // 1. set-up, three times; the last session stays up
    var spark: SparkSession = null
    val setups = (0 until 3).map { _ =>
      if (spark != null) spark.stop()
      Harness.time(tr.span("setup") {
        spark = Harness.session(nproc, work)
        tr.attach(spark)
        wl.generate(spark, tr)
        wl.open(spark)
        runPass(spark, "warm")
      })._2
    }

    // 2. three more untimed passes: after three set-ups the pass time is
    //    still falling (JIT, codegen cache), and a fixed count keeps every
    //    run's timed window at the same place on that curve
    for (_ <- 0 until 3) runPass(spark, "settle")

    // 3. timed passes: `seconds` of them, at least five
    val tN = {
      val ts = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while ((elapsed < seconds || ts.size < 5) && elapsed < 3 * seconds + 40)
        ts += runPass(spark, "timed")
      ts.toSeq
    }

    // 4. correctness and heap, untimed
    val (checks, bad) = wl.check(spark)
    attempted += checks
    failed += bad
    val heapMb = Harness.heapLiveMb()

    // 5. per-layer figures
    var layersOk = true
    if (traced) {
      val works = tr.timed.map(sp => (sp, tr.work(sp))).toSeq
      def med(f: ((Span, SparkWork)) => Double): Double = Harness.median(works.map(f))
      per.put("spark.jobs", med(_._2.jobs), "count")
      per.put("spark.stages", med(_._2.stages), "count")
      per.put("spark.driver_gap_s", med { case (sp, w) => math.max(0.0, sp.seconds - w.stageUnionS) }, "s")
      per.put("spark.task_cpu_s", med(_._2.taskCpuS), "s")
      per.put("spark.gc_s", med(_._2.gcS), "s")
      per.put("spark.shuffle_bytes", med(_._2.shuffleBytes.toDouble), "bytes")
      per.put("spark.spill_bytes", med(_._2.spillBytes.toDouble), "bytes")
      val lastLeak = leaks.filter(_._1 == "timed").last._3
      per.put("spark.persistent_rdds", lastLeak.persistentRdds, "count")
      per.put("spark.cache_entries", lastLeak.cacheEntries, "count")
      per.put("spark.cached_bytes", lastLeak.cachedBytes.toDouble, "bytes")
      per.put("sources.synth_s", Harness.median(tr.named("sources.synth").map(_.seconds)), "s")
      per.put("trace.pass_s_p50", Harness.median(tN), "s")
      layersOk = wl.layers(spark, tr, per)
    }
    spark.stop()
    val rps = wl.rowsPerPass * tN.size / tN.sum
    val (ptail, pct) = Harness.tail(tN)
    val e2e = new Metrics
    e2e.put("rows_per_s", rps, "1/s")
    e2e.put("pass_s_p50", Harness.median(tN), "s")
    e2e.put("pass_s_ptail", ptail, "s")
    e2e.put("setup_s", Harness.median(setups), "s")
    e2e.put("heap_live_mb", heapMb, "MiB")
    PerLayer.foreach { case (n, u) => if (!per.values.contains(n)) per.put(n, 0.0, u) }

    val correct = failed == 0 && layersOk
    println(s"workload ${wl.name} seed $seed nproc $nproc trace ${if (traced) 1 else 0}")
    e2e.values.foreach { case (n, (v, u)) => println(f"  $n%-14s $v%14.4f $u") }
    println(s"  pass_s_ptail is p$pct of ${tN.size} timed passes")
    println(f"  failed_ops_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted)")
    println(s"  correctness: ${if (correct) "PASS" else "FAIL"}")
    if (traced) per.values.foreach { case (n, (v, u)) => println(f"  $n%-34s $v%16.4f $u") }

    opt.get("save").foreach { path =>
      val leakJson = leaks.map { case (ph, i, l) =>
        s"""{"phase":"$ph","pass":$i,"persistent_rdds":${l.persistentRdds},"cache_entries":${l.cacheEntries},"cached_bytes":${l.cachedBytes}}"""
      }.mkString("[", ",\n", "]")
      Files.writeString(Paths.get(path),
        s"""{"workload":"${wl.name}","seed":$seed,"seconds":$seconds,"nproc":$nproc,"trace":$traced,""" +
          s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
          s""""timed_passes":${tN.size},"tail_percentile":$pct,""" +
          s""""pass_s":${tN.mkString("[", ",", "]")},"setup_s":${setups.mkString("[", ",", "]")},""" +
          s""""end_to_end":${Harness.metricsJson(e2e.values)},""" +
          s""""per_layer":${Harness.metricsJson(per.values)},""" +
          s""""leak_probe":$leakJson,"spans":${tr.toJson}}""" + "\n")
    }

    val shown = if (traced) PerLayer.map { case (n, _) => n -> per.values(n) } else e2e.values.toSeq
    println(s"""RESULT {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${Harness.metricsJson(shown)}}""")
  }
}
