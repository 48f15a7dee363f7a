package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The repository benchmark. One JVM runs one workload closed-loop with
  * one client: set-up (repeated [[SetupReps]] times, median reported),
  * warm-up with correctness checks, then passes until `--seconds` have
  * passed and the workload's minimum count is reached, each followed by
  * its checks. Prints one JSON result as the last
  * line of standard output: the end-to-end metrics, or with `--trace 1`
  * the per-layer metrics.
  *
  * Usage (from the repository root, normally through `perfbench/run.py`):
  * `perfbench.Main --workload sync_delta|lanes_heavy --seed N
  *  --seconds S --trace 0|1 --work DIR` or `perfbench.Main --pin DIR`.
  */
object Main {
  val Workloads = Seq("sync_delta", "lanes_heavy")
  /** Items in the sync corpus. */
  val SyncItems = 2000
  /** The first set-up is cold (class loading, Derby boot); the median of
    * five is that of the warm ones. */
  val SetupReps = 5

  private final case class PassRecord(index: Int, traced: Boolean, seconds: Double,
      engine: Engine, idleS: Double, compS: Double, gcS: Double, heapMb: Double,
      layer: Map[String, Double])

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(work: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    // before any com.sun.net.httpserver class loads (see Stubs)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    opts.get("--pin") match {
      case Some(out) =>
        val dir = Path.of(out).toAbsolutePath
        val spark = session(dir.resolve("work"))
        try println(LanesWorkload.pinRun(spark, dir)) finally spark.stop()
      case None =>
        val workload = opts.getOrElse("--workload", "")
        require(Workloads.contains(workload),
          s"--workload must be one of ${Workloads.mkString(", ")}")
        val code = run(workload, opts("--seed").toLong, opts("--seconds").toDouble,
          opts.getOrElse("--trace", "0") == "1", Path.of(opts("--work")).toAbsolutePath)
        sys.exit(code)
    }
  }

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path): Int = {
    Files.createDirectories(work)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val spark = session(work)
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val w: Workload = workload match {
      case "sync_delta" => new SyncWorkload(spark, seed, SyncItems)
      case "lanes_heavy" => new LanesWorkload(spark, work, engine)
    }
    try {
      val setups = (0 until SetupReps).map { rep =>
        val t0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t0) / 1e9
      }
      log(f"$workload seed $seed: set-up ${setups.mkString(", ")} s")
      val errors = ArrayBuffer.empty[String]
      val tw = System.nanoTime()
      Tracer.enabled = trace
      errors ++= w.warmup()
      Tracer.enabled = false
      log(f"warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s, ${errors.size} failures")

      // a traced run alternates untraced and traced passes, starting and
      // ending untraced: the traced ones give the layer numbers, and their
      // difference from the untraced ones around them the tracing overhead
      // (the bracketing cancels the drift of a still-warming JIT)
      val minPasses = if (trace) 3 else w.minPasses
      val passes = ArrayBuffer.empty[PassRecord]
      var attempted, failed = 0L
      val start = System.nanoTime()
      while (errors.isEmpty && (passes.size < minPasses ||
          (System.nanoTime() - start) / 1e9 < seconds || (trace && passes.size % 2 == 0))) {
        val i = passes.size
        w.prepare()
        Tracer.enabled = trace && i % 2 == 1
        Tracer.pass = i
        val e0 = engine.snapshot(spark.sparkContext)
        val c0 = Jvm.compMs
        val g0 = Jvm.gcMs
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val excluded = w.pass()
        val wall = (System.nanoTime() - t0) / 1e9 - excluded
        val m1 = System.currentTimeMillis()
        val c1 = Jvm.compMs
        val g1 = Jvm.gcMs
        val e = engine.snapshot(spark.sparkContext) - e0
        errors ++= w.check().map(m => s"pass $i: $m")
        val (a, f) = w.ops
        attempted += a
        failed += f
        passes += PassRecord(i, Tracer.enabled, wall, e,
          engine.idleMs(m0, m1) / 1e3 - excluded, (c1 - c0) / 1e3, (g1 - g0) / 1e3,
          Jvm.liveHeapMb(), w.layer())
        Tracer.enabled = false
        log(f"pass $i: $wall%.3f s${if (passes.last.traced) " (traced)" else ""}")
      }
      if (errors.nonEmpty) {
        errors.take(20).foreach(m => log(s"WRONG: $m"))
        println(s"""{"correct": false, "attempted": ${math.max(1L, attempted)}, """ +
          s""""failed": $failed, "metrics": {}}""")
        return 1
      }
      val metrics =
        if (!trace) endToEnd(w, passes.toSeq, setups)
        else {
          Tracer.write(Path.of(".bench_build", "traces",
            s"$workload-seed$seed-${System.currentTimeMillis()}.jsonl"))
          perLayer(passes.toSeq, attempted, failed)
        }
      println(Result.json(correct = true, attempted, failed, metrics))
      0
    } finally {
      w.close()
      spark.stop()
    }
  }

  private def endToEnd(w: Workload, passes: Seq[PassRecord],
      setups: Seq[Double]): Seq[(String, Double, String)] = {
    val passS = median(passes.map(_.seconds))
    Seq(
      ("pass_s", passS, "s"),
      ("items_per_s", w.items / passS, "1/s"),
      ("heap_peak_mb", passes.map(_.heapMb).max, "MB"),
      ("setup_s", median(setups), "s"))
  }

  private def perLayer(passes: Seq[PassRecord], attempted: Long,
      failed: Long): Seq[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    def med(f: PassRecord => Double): Double = median(traced.map(f))
    def spanS(name: String): Double = med(p => Tracer.seconds(p.index, name))
    def layerV(name: String): Double = med(_.layer.getOrElse(name, 0.0))
    val mb = 1024.0 * 1024.0
    Metrics.PerLayer.map { case (name, unit) =>
      val v: Double = name match {
        case "source.scan_s" => spanS("source.scan")
        case "transforms.s" => spanS("transforms")
        case "jdbc.write_s" => spanS("jdbc.write")
        case "jdbc.sync_s" => spanS("jdbc.sync")
        case "notion.readback_s" => spanS("notion.readback")
        case "notion.upsert_s" => spanS("notion.upsert")
        case "spark.jobs" => med(_.engine.jobs.toDouble)
        case "spark.stages" => med(_.engine.stages.toDouble)
        case "spark.tasks" => med(_.engine.tasks.toDouble)
        case "spark.task_cpu_s" => med(_.engine.cpuNs / 1e9)
        case "spark.task_run_s" => med(_.engine.runMs / 1e3)
        case "spark.gc_s" => med(_.engine.gcMs / 1e3)
        case "spark.shuffle_read_mb" => med(_.engine.shuffleRead / mb)
        case "spark.shuffle_write_mb" => med(_.engine.shuffleWrite / mb)
        case "spark.spill_mb" => med(_.engine.spill / mb)
        case "spark.driver_residue_s" => med(_.idleS)
        case "jvm.comp_s" => med(_.compS)
        case "jvm.gc_s" => med(_.gcS)
        case "trace.pass_s" => med(_.seconds)
        case "trace.untraced_pass_s" => median(untraced.map(_.seconds))
        case "trace.overhead_s" => med(_.seconds) - median(untraced.map(_.seconds))
        case "ops.failed_ratio" => failed.toDouble / math.max(1L, attempted)
        case Metrics.Family(family) =>
          LanesWorkload.Lanes.filter(_._2 == family).map { case (lane, _) =>
            Seq("construct_s", "plan_s", "exec_s").map(ph => layerV(s"lane.$lane.$ph")).sum
          }.sum
        case other => layerV(other)
      }
      (name, v, unit)
    }
  }
}
