package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The benchmark driver. One JVM runs one workload: set-up (seeded
  * inputs, session, reference answers, warm-up), then back-to-back runs
  * for the requested seconds, each checked outside its timed region.
  * Prints one JSON line last on stdout.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> }}}
  */
object Main {

  val Workloads: Seq[String] = Seq("events_bin4d", "events_workflow", "text_curate")

  /** End-to-end metrics, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "run_s" -> "s", "items_per_s" -> "1/s", "cpu_s" -> "s", "shuffle_mb" -> "MB",
    "peak_heap_mb" -> "MB", "setup_s" -> "s")

  /** Per-layer metrics of the traced run, with units. A layer a workload
    * does not use reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "plans.count_exchange_s" -> "s", "plans.shuffle_write_mb" -> "MB",
    "plans.shuffle_records" -> "count", "plans.fetch_wait_s" -> "s",
    "plans.spill_mb" -> "MB", "plans.combine_ratio" -> "ratio",
    "binning.index_s" -> "s", "binning.count_s" -> "s", "binning.densify_s" -> "s",
    "binning.cells_filled" -> "count", "binning.in_range_frac" -> "ratio",
    "calibrate.s" -> "s", "calibrate.cpu_s" -> "s",
    "loader.s" -> "s", "loader.cpu_s" -> "s", "loader.input_mb" -> "MB",
    "loader.rows" -> "count", "loader.scan_passes" -> "ratio",
    "fit.invert_s" -> "s", "export.write_s" -> "s", "export.mb" -> "MB",
    "pipeline.langid_s" -> "s", "pipeline.gopher_s" -> "s",
    "pipeline.exact_dedup_s" -> "s", "pipeline.near_dedup_s" -> "s",
    "pipeline.kept_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.gc_s" -> "s", "spark.core_util" -> "ratio",
    "trace.overhead_s" -> "s", "trace.self_sum_gap_s" -> "s")

  /** Workload sizes: chosen so one run takes about 1–8 s on a 4-core host,
    * one JVM run ends within a minute, and the inputs stay far below
    * memory.
    */
  def workload(name: String, spark: SparkSession, dir: Path, seed: Long): Workload =
    name match {
      case "events_bin4d"    => new EventsBin4d(spark, dir, seed, events = 4000000L)
      case "events_workflow" => new EventsWorkflow(spark, dir, seed, files = 4,
        eventsPerFile = 250000)
      case "text_curate"     => new TextCurate(spark, dir, seed, docs = 5000)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Workloads.mkString(", ")})")
    }

  /** Least time the warm-up runs last. */
  val WarmupS = 6.0
  /** Least number of measured runs, however long each takes. */
  val MinRuns = 3

  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(args)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val work = a.work.resolve(s"${a.workload}-${a.seed}")
    Files.createDirectories(work)
    Process.installGcWatch()
    var code = 0
    val t0 = System.nanoTime()
    val spark = session(work)
    try {
      val sessionS = secs(t0)
      val probe = new Probe(spark.sparkContext)
      spark.sparkContext.addSparkListener(probe)
      val w = workload(a.workload, spark, work.resolve("data"), a.seed)
      val out =
        if (a.trace) traced(w, probe, a)
        else measured(w, probe, a, jvmS + sessionS)
      println(out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      spark.stop()
      // inputs and spill are per run; only the trace artifacts are kept
      Gen.deleteTree(work)
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Set-up, then runs back to back until `seconds` have passed. */
  def measured(w: Workload, probe: Probe, a: Args, startS: Double): String = {
    val genS = (1 to 3).map { _ =>
      val t = System.nanoTime(); w.generate(); secs(t)
    }
    val t1 = System.nanoTime()
    w.prepare()
    val prepS = secs(t1)
    // warm-up: runs until the JIT has seen a few seconds of the workload
    val t2 = System.nanoTime()
    val warmChecks = scala.collection.mutable.ArrayBuffer[Option[String]]()
    while (warmChecks.isEmpty || secs(t2) < WarmupS) warmChecks += w.run(probe)()
    val warmS = secs(t2)
    val warmFailed = warmChecks.flatten
    warmFailed.foreach(why => System.err.println(s"[perfbench] warm-up run failed its check: $why"))
    val setupS = startS + median(genS) + prepS + warmS
    System.err.println(f"[perfbench] ${w.name}: set-up ${setupS}%.2f s (generate " +
      genS.map(s => f"$s%.2f").mkString("/") + f", prepare $prepS%.2f, warm-up $warmS%.2f)")

    val wall, cpu, shuffle, heap = Seq.newBuilder[Double]
    var attempted, failed = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (attempted < MinRuns || System.nanoTime() < deadline) {
      attempted += 1
      // start every run from a collected heap, so one run's garbage does
      // not land in the next run's time or heap peak
      Process.collectAndResetPeak()
      probe.drain()
      val s0 = probe.total.shuffleWriteBytes.get
      val c0 = probe.total.cpuNs.get + Process.threadCpuNs
      val t = System.nanoTime()
      val verdict = try {
        val check = w.run(probe)
        val runS = secs(t)
        val driverCpu = Process.threadCpuNs
        probe.drain()
        wall += runS
        cpu += (probe.total.cpuNs.get + driverCpu - c0) / 1e9
        shuffle += (probe.total.shuffleWriteBytes.get - s0) / 1e6
        heap += Process.peakHeapBytes / 1e6
        check()
      } catch { case e: Exception => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      verdict.foreach { why =>
        failed += 1
        System.err.println(s"[perfbench] run $attempted failed: $why")
      }
    }
    attempted += warmFailed.size; failed += warmFailed.size
    val runS = median(wall.result())
    val metrics = Seq(
      "run_s" -> runS, "items_per_s" -> w.items / runS, "cpu_s" -> median(cpu.result()),
      "shuffle_mb" -> median(shuffle.result()), "peak_heap_mb" -> median(heap.result()),
      "setup_s" -> setupS)
    System.err.println(f"[perfbench] ${w.name}: $attempted runs, $failed failed, " +
      f"error_rate ${failed.toDouble / attempted}%.3f")
    Seq("run s" -> wall, "cpu s" -> cpu, "heap MB" -> heap).foreach { case (n, b) =>
      System.err.println(s"[perfbench]   per run, $n: " + b.result().map(v => f"$v%.2f").mkString(" "))
    }
    result(failed == 0, attempted, failed, metrics, EndToEnd.toMap)
  }

  /** The traced run: untraced and traced (spans on) runs alternated, then
    * the timed prefixes of every layer. Writes the artifact and returns the
    * per-layer result line.
    */
  def traced(w: Workload, probe: Probe, a: Args): String = {
    w.generate()
    w.prepare()
    val verdicts = Seq.newBuilder[Option[String]]
    verdicts += w.run(probe)()
    // untraced and traced runs alternate (U T, T U, ...), each from a
    // collected heap, so warm-up drift hits both alike
    val untraced, tracedRuns = Seq.newBuilder[Double]
    var sparkMetrics = Map.empty[String, Double]
    var fullSpan = -1
    def plain(): Unit = {
      probe.tracing = false
      Process.collectAndResetPeak()
      val t0 = System.nanoTime()
      val check = w.run(probe)
      untraced += secs(t0)
      verdicts += check()
    }
    def withSpans(i: Int): Unit = {
      probe.tracing = true
      probe.runId = s"${w.name}-${a.seed}-full$i"
      Process.collectAndResetPeak()
      probe.drain()
      val j0 = probe.jobs.get; val st0 = probe.stages.get; val tk0 = probe.total.tasks.get
      val run0 = probe.total.runNs.get; val gc0 = gcMs
      val t = System.nanoTime()
      val (check, id) = probe.spanWithId("run")(w.run(probe))
      val tracedS = secs(t)
      probe.drain()
      tracedRuns += tracedS
      fullSpan = id
      sparkMetrics = Map(
        "spark.jobs" -> (probe.jobs.get - j0).toDouble,
        "spark.stages" -> (probe.stages.get - st0).toDouble,
        "spark.tasks" -> (probe.total.tasks.get - tk0).toDouble,
        "spark.gc_s" -> (gcMs - gc0) / 1e3,
        "spark.core_util" -> (probe.total.runNs.get - run0) / 1e9 / (tracedS * Cores))
      verdicts += check()
    }
    (1 to w.traceReps).foreach { i =>
      if (i % 2 == 1) { plain(); withSpans(i) } else { withSpans(i); plain() }
    }
    val runS = median(untraced.result())
    val tracedS = median(tracedRuns.result())

    probe.tracing = true
    probe.runId = s"${w.name}-${a.seed}-prefixes"
    val layers = w.layers(probe, new Tracer(probe, w.traceReps))
    val selfSum = layers.selfTimes.values.sum
    val metrics = PerLayer.map(_._1).map(k => k -> 0.0).toMap ++ layers.metrics ++
      sparkMetrics ++ Map(
        "trace.overhead_s" -> (tracedS - runS),
        "trace.self_sum_gap_s" -> (selfSum - runS))

    val art = artifact(w, probe, a, runS, tracedS, fullSpan, layers, metrics)
    val dir = a.work.resolve("traces")
    Files.createDirectories(dir)
    val path = dir.resolve(s"${w.name}-seed${a.seed}.json")
    Files.write(path, new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(art))
    System.err.println(s"[perfbench] trace artifact: $path")
    val checks = verdicts.result()
    val failed = checks.count(_.isDefined)
    checks.flatten.foreach(why => System.err.println(s"[perfbench] check failed: $why"))
    result(failed == 0, checks.size, failed, PerLayer.map { case (k, _) => k -> metrics(k) },
      PerLayer.toMap)
  }

  private def artifact(w: Workload, probe: Probe, a: Args, runS: Double, tracedS: Double,
      fullSpan: Int, layers: Layers, metrics: Map[String, Double]): ObjectNode = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", w.name).put("seed", a.seed).put("items", w.items)
    root.set[ObjectNode]("host", host(om, w.spark))
    root.put("run_s", runS).put("traced_run_s", tracedS)
      .put("overhead_s", tracedS - runS)
      .put("self_time_sum_s", layers.selfTimes.values.sum)
      .put("self_sum_gap_s", layers.selfTimes.values.sum - runS)
    val self = root.putObject("self_times_s")
    layers.selfTimes.toSeq.sortBy(_._1).foreach { case (k, v) => self.put(k, v) }
    val pre = root.putObject("prefixes_s")
    layers.prefixes.toSeq.sortBy(_._1).foreach { case (k, v) => pre.put(k, v) }
    val lm = root.putObject("layers")
    PerLayer.foreach { case (k, u) =>
      lm.putObject(k).put("value", metrics(k)).put("unit", u)
    }
    val all = probe.allSpans
    val origin = all.headOption.map(_.startNs).getOrElse(0L)
    val childNs = all.filter(_.parent >= 0).groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    val spans = root.putArray("spans")
    all.foreach { s =>
      spans.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("run_id", s.runId).put("start_s", (s.startNs - origin) / 1e9)
        .put("end_s", (s.endNs - origin) / 1e9)
        .put("self_s", (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)
    }
    val stages = root.putArray("stages")
    probe.stageSums.asScala.toSeq.sortBy(_._1.intValue).foreach { case (id, sums) =>
      val o = stages.addObject().put("stage", id.intValue)
        .put("span", probe.stageSpan.getOrDefault(id, -1))
        .put("name", Option(probe.stageName.get(id)).getOrElse(""))
      sums.snapshot.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    root.put("full_run_span", fullSpan)
    root
  }

  private def host(om: ObjectMapper, spark: SparkSession): ObjectNode = {
    val h = om.createObjectNode()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    h.put("nproc", Runtime.getRuntime.availableProcessors())
      .put("memory_mb", os.getTotalMemorySize / 1e6)
      .put("cpu_model", cpuModel)
      .put("os", s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
      .put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
      .put("jvm_max_heap_mb", Runtime.getRuntime.maxMemory / 1e6)
      .put("spark_version", spark.version)
    val conf = h.putObject("spark_conf")
    spark.sparkContext.getConf.getAll.sortBy(_._1).foreach { case (k, v) => conf.put(k, v) }
    h
  }

  private def cpuModel: String = try {
    val src = scala.io.Source.fromFile("/proc/cpuinfo")
    try src.getLines().find(_.startsWith("model name")).map(_.split(":", 2)(1).trim)
      .getOrElse("unknown")
    finally src.close()
  } catch { case _: Exception => "unknown" }

  /** The result line: `correct`, `attempted`, `failed` and the metrics. */
  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double)],
      units: Map[String, String]): String = {
    val om = new ObjectMapper()
    val o = om.createObjectNode()
    o.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val m = o.putObject("metrics")
    metrics.foreach { case (k, v) =>
      System.err.println(f"[perfbench]   $k%-26s $v%14.6f ${units(k)}")
      m.putObject(k).put("value", v).put("unit", units(k))
    }
    om.writeValueAsString(o)
  }
}
