package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Verify.session(s"local[$cpus]", cpus)
    // optional args: restrict to the named queries (dev/stress use)
    val wanted = (if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
                  else SparkEntry.queries).toSeq.sortBy(_._1)
    // A query that throws (in the warm pass or on any timed rep) is FAILED:
    // it contributes no time to `value` and is named in the `failed` list,
    // and the run exits non-zero.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def firstLine(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("")
    // One warm pass outside timing: JIT + codegen cache + file-footer reads.
    // Runs every wanted query once at the smallest SF so each code path is
    // compiled before it is measured (skipped when the warmup fixtures are
    // absent).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    SparkEntry.entry(spark).count()
    if (new java.io.File(warmDir).isDirectory)
      wanted.foreach { case (name, fn) =>
        try fn(spark, warmDir).count() catch {
          case e: Throwable =>
            System.err.println(s"[bench] warm $name failed: ${firstLine(e)}")
            failed.getOrElseUpdate(name, firstLine(e))
        }
      }
    // `reps` timed repetitions per query, report the per-query MEDIAN so
    // round-over-round comparisons measure the code, not machine noise
    // (VERDICT r1 item 10). Reps run back-to-back per query so page cache
    // and codegen state are comparable across reps.
    def timeOnce(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      System.gc() // keep one query's garbage from billing the next
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failed.getOrElseUpdate(name, firstLine(e))
          return None
      }
      Some((System.nanoTime() - t0) / 1e9)
    }
    // Storage-pressure context PER QUERY (VERDICT r10 item 2): the r10
    // triangles anomaly (31 s full-bench vs 3.7 s standalone) was only
    // diagnosable by re-running standalone — the artifact recorded machine
    // probes but nothing about cache state, so an eviction-driven
    // regression was indistinguishable from co-tenant noise. Record (a)
    // cached storage bytes at each query's timed window and (b) blocks
    // DROPPED during it (eviction or unpersist — the listener cannot tell
    // them apart; a nonzero count next to a slow median is the attribution
    // signal either way).
    // Only RDD blocks count (ADVICE r11): broadcast pieces are invalidated
    // by routine ContextCleaner sweeps under perfectly healthy runs, so
    // counting them dilutes the eviction signal this field exists for.
    val dropped = new java.util.concurrent.atomic.AtomicLong
    val dropListener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && !e.blockUpdatedInfo.storageLevel.isValid)
          dropped.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(dropListener)
    def storageMb(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024L * 1024L)
    // Machine-load context recorded INTO the artifact: r5's totals were
    // contention-contaminated (uniform 1.11× inflation with spike outliers)
    // and only detectable by hand. loadavg + a fixed single-thread probe
    // (~1 s quiet-window xorshift loop, timed before and after the run)
    // make a dirty run machine-detectable from the artifact alone.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "" }
    def calib(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 600000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) print("") // keep the loop observable
      (System.nanoTime() - t0) / 1e9
    }
    // Multi-core probe: the same xorshift loop on CalibMtThreads concurrent
    // threads. The single-thread probe under-detects co-tenant MULTI-CORE
    // pressure (r10 measured: probe ratio 1.11 while the median per-query
    // inflation across 231 unchanged queries was 1.17) — a parallel probe
    // shares the core budget with the noise the way Spark's 32 tasks do.
    // Context-only: calibrated_value stays on the single-thread factor for
    // round-over-round comparability; calib_mt_* makes a contaminated
    // artifact machine-detectable even when the 1-thread probe stays clean.
    // The thread count is EMITTED with the factor (ADVICE r10): the 0.60 s
    // nominal is specific to 8 threads on THIS ≥8-core machine — a host
    // with fewer cores reads a permanently inflated factor unless it
    // overrides SPARK_GRAFT_CALIB_MT_NOMINAL (and the artifact now carries
    // the thread count needed to recalibrate).
    val CalibMtThreads = 8
    def calibMt(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to CalibMtThreads).map { _ =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L
          var i = 0
          while (i < 300000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          if (x == 42) print("")
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val loadBefore = loadavg()
    val calibBefore = calib()
    val calibMtBefore = calibMt()
    // Per-query PRE-REP at the TARGET SF, untimed (VERDICT r10 item 2 /
    // ROUNDLOG r10 watch item): the one sf0.001 warm pass compiles every
    // code path but no longer keeps the sub-second tier warm across a
    // 243-query back-to-back session (q_histogram_depth read ~1.45 s in
    // full benches vs ~0.8 s standalone — a JIT/page-cache artifact, not a
    // plan change). The standalone Prof workflow always warmed at the
    // measured SF; the full bench now measures under the same discipline,
    // at the cost of one extra pass per query.
    val memCtx = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val results = wanted.flatMap { case (name, fn) =>
      if (failed.contains(name) || timeOnce(name, fn).isEmpty) None
      else {
        val mb = storageMb()
        val d0 = dropped.get
        val ts = (1 to reps).flatMap(_ => timeOnce(name, fn)).sorted
        memCtx(name) = (mb, dropped.get - d0)
        if (ts.length < reps) None else Some(name -> ts(ts.length / 2))
      }
    }
    // listener removed once the timed loop ends (ADVICE r11): harmless for
    // the one-shot CLI, a leak if Bench is ever driven repeatedly in-session
    spark.sparkContext.removeSparkListener(dropListener)
    val calibAfter = calib()
    val calibMtAfter = calibMt()
    val loadAfter = loadavg()
    // per-query values rounded to ms so the stdout line stays small enough
    // for log-tail capture (VERDICT r2 item 2)
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val failedJson = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    spark.stop()
    // Calibration-NORMALIZED total (VERDICT r7 item 7): the co-tenant noise
    // phases on this machine inflate every query uniformly (r5-r7 measured
    // 1.04-1.25× episodes), and the single-thread probe inflates with them.
    // calib_factor = measured probe time / the quiet-window nominal;
    // calibrated_value = total / factor is the machine-normalized total,
    // so round-over-round regressions are checkable from the artifacts
    // alone instead of via prose about which hour was noisy. The nominal is
    // the repeatedly-measured quiet-window probe time on this machine.
    // The nominal is machine-specific (the repeatedly-measured quiet-window
    // probe time on THIS machine, 1.13 s); another machine overrides it via
    // SPARK_GRAFT_CALIB_NOMINAL. calib_factor_raw is the UNCLAMPED ratio —
    // emitted so an artifact where normalization was inert (raw < 1, floored)
    // records that fact instead of silently equating calibrated and raw
    // totals (ADVICE r8).
    val CalibNominal = sys.env.get("SPARK_GRAFT_CALIB_NOMINAL")
      .map(_.toDouble).getOrElse(1.13)
    // quiet-window wall time of the 8-thread probe on THIS machine
    val CalibMtNominal = sys.env.get("SPARK_GRAFT_CALIB_MT_NOMINAL")
      .map(_.toDouble).getOrElse(0.60)
    val calibRaw = (calibBefore + calibAfter) / 2.0 / CalibNominal
    val calibFactor = math.max(1.0, calibRaw)
    val calibTotal = total / calibFactor
    // Multi-core-normalized total (VERDICT r11 item 4): the 1-thread probe
    // UNDER-corrects multi-core co-tenant pressure (r10 measured probe 1.11
    // vs 1.17 true median inflation), so round-over-round totals also carry
    // an mt-calibrated reading. calibrated_value stays the headline for
    // continuity with r1-r11 artifacts; ROUNDLOG comparisons quote the mt
    // one when the probes disagree.
    val calibMtRaw = (calibMtBefore + calibMtAfter) / 2.0 / CalibMtNominal
    val calibTotalMt = total / math.max(1.0, calibMtRaw)
    val ctx =
      s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""calib_before_sec":${r3(calibBefore)},"calib_after_sec":${r3(calibAfter)},""" +
        s""""calib_nominal_sec":${r3(CalibNominal)},"calib_factor":${r3(calibFactor)},""" +
        s""""calib_factor_raw":${r3(calibRaw)},"calibrated_value":${r3(calibTotal)},""" +
        s""""calib_mt_before_sec":${r3(calibMtBefore)},"calib_mt_after_sec":${r3(calibMtAfter)},""" +
        s""""calib_mt_factor_raw":${r3(calibMtRaw)},""" +
        s""""calibrated_value_mt":${r3(calibTotalMt)},""" +
        s""""calib_mt_threads":$CalibMtThreads"""
    // Per-family subtotals (VERDICT r8 item 6): a regression in the next
    // artifact is attributable in one read — audits (recall/sweep/drift/
    // bound twins) and index builds are separated from standing serves, and
    // everything else groups by its q_<family>_ prefix.
    def familyOf(name: String): String =
      if (Seq("_recall", "_sweep", "_bound", "_drift").exists(name.contains)) "audit"
      else if (Set("q_sim_nndescent", "q_sim_knn_graph", "q_cluster_kmeans",
        "q_text_bpe_train")(name)) "ann_build"
      else name.stripPrefix("q_").takeWhile(_ != '_')
    val families = results.groupBy { case (n, _) => familyOf(n) }
      .view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val famJson = qsJson(families)
    // per-query storage context: [cached storage MB at the timed window's
    // start, blocks dropped during it] — the artifact-only attribution
    // fields (stdout stays within its tail-capture budget)
    val memJson = memCtx.map { case (k, (mb, dr)) => s""""$k":[$mb,$dr]""" }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failedJson,"queries":${qsJson(results)},"families":$famJson,"mem":$memJson,$ctx,"sf":"$sfDir"}"""
    // The complete artifact always goes to a PER-SF file, so a dev sf0.001 or
    // subset run can never clobber the canonical sf0.1 artifact the round is
    // judged on (ADVICE r4: a committed bench_out.json was from a dev run).
    // bench_out.json stays the canonical pointer and is written ONLY by a
    // full-surface run — its "sf" field identifies the run that produced it.
    val sfName = new java.io.File(sfDir).getName
    // subset (dev/stress) runs get their own artifact: a partial total must
    // never overwrite a full-surface per-SF artifact. Paths are relative to
    // the working directory (sbt's forked `run` starts in the project dir).
    val artifact =
      if (args.isEmpty) s"bench_out_$sfName.json"
      else s"bench_out_${sfName}_subset.json"
    def write(path: String): Unit = {
      val out = new java.io.PrintWriter(path)
      try out.println(fullLine) finally out.close()
    }
    write(artifact)
    if (args.isEmpty && sfName == "sf0.1") write("bench_out.json")
    // ... but the driver parses the stdout TAIL, whose capture window is
    // ~2 KB: with 100+ queries the full line's HEAD gets cut and the round's
    // headline number becomes unverifiable (BENCH_r03 `parsed: null`). So the
    // stdout line self-limits: slowest queries inline until the line would
    // exceed the budget, the remainder summed into `others_sec` (total is
    // always over ALL queries; the full per-query map is in the artifact).
    val budget = 1200
    val byCost = results.sortBy(-_._2)
    def lineFor(k: Int): String = {
      val kept = byCost.take(k).sortBy(_._1)
      val rest = byCost.drop(k)
      val others =
        if (rest.isEmpty) ""
        else s""","others_n":${rest.length},"others_sec":${r3(rest.map(_._2).sum)}"""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","calibrated_value":${r3(calibTotal)},"calib_factor":${r3(calibFactor)},"failed":$failedJson,"queries":${qsJson(kept)}$others,"full":"$artifact","sf":"$sfDir"}"""
    }
    var k = results.length
    while (k > 0 && lineFor(k).length > budget) k -= 1
    println(lineFor(k))
    // One minimal headline as the very last stdout line — the totals live in
    // the per-SF artifact file (the "full" field), so no stdout-geometry
    // guessing: earlier rounds' padded/duplicated output never parsed anyway
    // (ADVICE r5) and only cluttered the log.
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","calibrated_value":${r3(calibTotal)},"calib_factor":${r3(calibFactor)},"failed":$failedJson,"queries":${qsJson(byCost.take(3).sortBy(_._1))},"n_queries":${results.length},"full":"$artifact","sf":"$sfDir"}""")
    if (failed.nonEmpty) {
      failed.foreach { case (name, err) => System.err.println(s"[bench] $name failed: $err") }
      sys.exit(1)
    }
  }
}
