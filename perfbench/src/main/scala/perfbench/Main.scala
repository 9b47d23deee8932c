package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run of one workload in this JVM.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <fixture dir> --run-dir <scratch dir> --out <result.json>
  *   --cores <n> [--trace-out <spans.json>]
  *   --dump-oracle <file>   write the workload queries' oracle SQL, exit
  *   --profile <file>       telemetry_mix only: write every tagged
  *                          query's traced profile, exit
  *
  * Sequence: three timed set-ups (session + program set-up; all but the
  * last are stopped again), seeded input generation, the workload's
  * untimed warm-up passes, the first of which also runs the output
  * checks, then whole passes until
  * `seconds` have elapsed. A pass's time is taken as the sum of each
  * op's median latency over the window, which needs far fewer passes to
  * settle than the median of whole passes. With tracing on, an untraced
  * window runs
  * first, so the traced window's overhead is measured in the same JVM,
  * then the traced window and the layer-only measurements.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(o("workload"))
    o.get("dump-oracle").foreach { path =>
      val sql = wl.queryNames.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
      Files.writeString(Paths.get(path), Json.obj(sql))
      return
    }
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val probe = new Probe(cores)
    val ctx = new Ctx(o("data"), o("run-dir"), seed, cores, probe)

    val setups = (1 to 3).map { i =>
      val (_, ns) = Workloads.timeNs {
        ctx.spark = graft.Bench.benchSession(cores.toString)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        wl.setup(ctx)
      }
      if (i < 3) ctx.spark.stop()
      ns / 1e9
    }
    probe.attach(ctx.spark)
    o.get("profile").foreach { path =>
      probe.enableTracing()
      val rows = wl.asInstanceOf[TelemetryMix].profile(ctx).map { case (q, m) =>
        q -> Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }) }
      Files.writeString(Paths.get(path), Json.obj(rows))
      ctx.spark.stop()
      return
    }
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val (r, ns) = Workloads.timeNs(body)
      phases(name) = phases.getOrElse(name, 0.0) + ns / 1e9
      r
    }
    phase("prepare")(wl.prepare(ctx))
    phase("warmup")((0 until wl.warmupPasses).foreach(wl.pass(ctx, _)))
    val heapMb = liveHeapMb()
    var passNo = wl.warmupPasses - 1

    /** Whole passes until `seconds` have elapsed; returns the window. */
    def window(): Double = {
      probe.startWindow()
      val t0 = System.nanoTime()
      val start = passNo
      probe.span(o("workload"), "workload") {
        while (passNo == start || (System.nanoTime() - t0) / 1e9 < seconds) {
          passNo += 1
          val no = passNo
          val (_, ns) = Workloads.timeNs(
            probe.span(s"pass-$no", "pass")(wl.pass(ctx, no)))
          probe.passWallS += ns / 1e9
        }
      }
      val w = (System.nanoTime() - t0) / 1e9
      probe.endWindow()
      w
    }

    val untracedWall = if (trace) {
      phase("untraced_window")(window())
      val w = probe.passFromOpMediansS
      probe.resetWindow()
      probe.enableTracing()
      w
    } else Double.NaN
    val windowS = phase("window")(window())
    val passes = probe.passWallS.size
    val wallS = probe.passFromOpMediansS

    val e2e = Seq(
      "setup_s" -> Workloads.median(setups),
      "wall_s" -> wallS,
      "op_geomean_ms" -> probe.opGeomeanMs,
      "heap_live_mb" -> heapMb)
    val layers: Seq[(String, Double)] =
      if (!trace) Nil
      else {
        val buildJobs = probe.jobs.values.count { case (sp, _, _) =>
          sp >= 0 && probe.spans(sp).name.endsWith(".build") }
        probe.layer.toSeq.map { case (k, v) => k -> v / passes } ++
          probe.untimed.toSeq ++
          probe.sparkLayers(passes, windowS).toSeq ++
          probe.selfTimeByLayer(passes).toSeq.map { case (l, s) =>
            s"$l.self_s" -> s } ++
          Seq("queries.build_jobs" -> buildJobs.toDouble / passes,
            "trace.untraced_wall_s" -> untracedWall,
            "trace.traced_wall_s" -> wallS,
            "trace.overhead_s" -> (wallS - untracedWall)) ++
          phase("layers")(wl.extraLayers(ctx)).toSeq
      }
    o.get("trace-out").filter(_ => trace).foreach { p =>
      Files.writeString(Paths.get(p), probe.spansJson)
    }

    val digests = wl.digests.toSeq.map { case (q, ds) =>
      q -> ds.map(Json.str).mkString("[", ",", "]") }
    val out = Json.obj(Seq(
      "workload" -> Json.str(o("workload")),
      "seed" -> seed.toString,
      "passes" -> passes.toString,
      "window_s" -> Json.num(windowS),
      "samples" -> probe.opMs.values.map(_.size).sum.toString,
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "pass_wall_s" -> probe.passWallS.map(Json.num).mkString("[", ",", "]"),
      "phases_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "metrics" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> probe.attempted.toString,
      "failed" -> probe.failed.toString,
      "errors" -> probe.errors.map(Json.str).mkString("[", ",", "]"),
      "op_ms" -> Json.obj(probe.opMs.toSeq.map { case (k, v) =>
        k -> Json.num(Workloads.median(v.toSeq)) }),
      "digests" -> Json.obj(digests)))
    Files.writeString(Paths.get(o("out")), out)
    ctx.spark.stop()
  }

  /** Heap still reachable after set-up and the warm-up passes, a fixed
    * amount of work: the session's retained state (caches, broadcasts,
    * listeners, status stores). */
  private def liveHeapMb(): Double = {
    // asynchronous cleanup (Spark's ContextCleaner) can hold garbage
    // across one collection; the smallest of a few settled readings
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}
