package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning.{Binning, HistogramKernel, UniformAxis}

/** A timed prefix of a workload: the plan cut after one layer's public
  * call, written to the noop sink. `cpu` is task plus driver-thread CPU.
  */
final case class Reading(wall: Double, cpu: Double, mbRead: Double,
    sums: Map[String, Double])

/** What a traced run learns about a workload's layers. */
final case class Layers(metrics: Map[String, Double], prefixes: Map[String, Double],
    selfTimes: Map[String, Double])

/** One benchmark workload: seeded inputs, one measured run, its output
  * check, and the layer split of the traced run.
  */
abstract class Workload(val spark: SparkSession, val dir: Path, val seed: Long) {
  def name: String
  /** Input items (events or documents) one run processes. */
  def items: Long
  /** Write the inputs for `seed` (called several times; same content). */
  def generate(): Unit
  /** Content hash of the generated inputs. */
  def contentHash(): String
  /** Compute the expected answer for the checks, once, after generation. */
  def prepare(): Unit
  /** One run. Returns the output check, to be called outside the timed
    * region: `None` when the output is right.
    */
  def run(p: Probe): () => Option[String]
  /** Layer metrics from timed prefixes (tracing on). */
  def layers(p: Probe, t: Tracer): Layers
  /** Repetitions of each timed prefix in the traced run. */
  def traceReps: Int = 3

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row-major strides of the flat bin key. */
  protected def strides(axes: Seq[UniformAxis]): Seq[Long] =
    axes.indices.map(i => axes.drop(i + 1).map(_.nBins.toLong).product)

  /** The bin-index prefix: the fused flat key and its in-range filter. */
  protected def indexed(df: DataFrame, axes: Seq[UniformAxis]): DataFrame =
    df.select(Binning.flatBinIndex(axes, strides(axes)).as("_flat"))
      .filter(col("_flat") >= 0)
}

/** Runs and times prefixes during a traced run. */
final class Tracer(p: Probe, reps: Int) {
  /** Median-wall reading of `reps` executions of `body` in a span.
    * `mbRead` counts bytes read other than shuffle blocks.
    */
  def prefix(name: String)(body: => Unit): Reading = {
    val rs = (1 to reps).map { _ =>
      Process.collectAndResetPeak()
      val b0 = Process.bytesRead
      val c0 = Process.threadCpuNs
      val t0 = System.nanoTime()
      val (_, id) = p.spanWithId(s"prefix.$name")(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val driverCpu = (Process.threadCpuNs - c0) / 1e9
      val sums = p.sumsUnder(id)
      Reading(wall, sums("cpu_s") + driverCpu,
        (Process.bytesRead - b0) / 1e6 - sums("shuffle_read_mb"), sums)
    }
    rs.sortBy(_.wall).apply((rs.length - 1) / 2)
  }

  /** Median wall time of `reps` executions of a driver-side call, and its
    * value.
    */
  def call[T](name: String)(body: => T): (Double, T) = {
    val rs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val v = p.span(s"call.$name")(body)
      ((System.nanoTime() - t0) / 1e9, v)
    }
    rs.sortBy(_._1).apply((rs.length - 1) / 2)
  }
}

// --------------------------------------------------------------------------

/** Raw 4-D 100⁴ histogram of a parquet event lake to the noop sink. 1e8
  * cells is above `kernelCellsFloor`, so the count runs through
  * `plans.CountByKey` and its exchange.
  */
final class EventsBin4d(spark: SparkSession, dir: Path, seed: Long, events: Long)
    extends Workload(spark, dir, seed) {
  val name = "events_bin4d"
  def items: Long = events
  private val lake = dir.resolve("lake")
  val axes: Seq[UniformAxis] = Seq(
    UniformAxis("X", 100, 0.0, 2048.0),
    UniformAxis("Y", 100, 0.0, 2048.0),
    UniformAxis("t", 100, 60000.0, 120000.0),
    UniformAxis("ADC", 100, 2000.0, 20000.0))
  private var reference: Checks.CubeTotals = _

  def generate(): Unit = Gen.eventLake(spark, lake, events, seed, files = 8)
  def contentHash(): String = Gen.contentHash(input)
  def prepare(): Unit = reference = Checks.referenceTotals(input, axes)
  private def input: DataFrame = spark.read.parquet(lake.toString)

  private def histogram(p: Probe): Observation = {
    val obs = new Observation("cube")
    val h = p.span("binning.histogram")(Binning.histogram(input, axes))
    val checked = Checks.cubeTotalsExprs(axes)
    p.span("sink.noop")(noop(h.observe(obs, checked.head, checked.tail: _*)))
    obs
  }

  private def totals(obs: Observation): Checks.CubeTotals = {
    val m = obs.get
    def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Checks.CubeTotals(l("cells"), l("events"), l("checksum"))
  }

  def run(p: Probe): () => Option[String] = {
    val obs = histogram(p)
    () => Checks.checkCube(totals(obs), reference)
  }

  def layers(p: Probe, t: Tracer): Layers = {
    val scan = t.prefix("loader")(noop(input))
    val index = t.prefix("binning.index")(noop(indexed(input, axes)))
    val cells = axes.map(_.nBins.toLong).product
    val parts = HistogramKernel.mergePartitions(spark, cells, events)
    val counted = t.prefix("plans.count")(noop(
      graft.plans.CountByKey(indexed(input, axes), parts, twoPhase = true, "cnt")))
    var got: Checks.CubeTotals = null
    val full = t.prefix("binning.histogram") { got = totals(histogram(p)) }
    val diskMb = Gen.bytesOnDisk(lake) / 1e6
    val shuffleRecords = counted.sums("shuffle_records")
    val self = Map(
      "loader.s" -> scan.wall,
      "binning.index_s" -> (index.wall - scan.wall),
      "binning.count_s" -> (full.wall - index.wall))
    Layers(self ++ Map(
      "loader.cpu_s" -> scan.cpu,
      "loader.input_mb" -> scan.mbRead,
      "loader.rows" -> scan.sums("input_records"),
      "loader.scan_passes" -> full.mbRead / diskMb,
      "binning.densify_s" -> 0.0,
      "binning.cells_filled" -> got.cells.toDouble,
      "binning.in_range_frac" -> got.events.toDouble / events,
      "plans.count_exchange_s" -> (counted.wall - index.wall),
      "plans.shuffle_write_mb" -> counted.sums("shuffle_write_mb"),
      "plans.shuffle_records" -> shuffleRecords,
      "plans.fetch_wait_s" -> counted.sums("fetch_wait_s"),
      "plans.spill_mb" -> counted.sums("spill_mb"),
      "plans.combine_ratio" -> shuffleRecords / math.max(1L, got.events)),
      Map("loader" -> scan.wall, "binning.index" -> index.wall,
        "plans.count" -> counted.wall, "binning.histogram" -> full.wall),
      self)
  }
}

// --------------------------------------------------------------------------

/** The reference workflow on mpes-shaped HDF5 stream files: load, invert
  * the momentum distortion field, calibrate through `Processor`, compute a
  * dense (kx, ky, energy) cube and save it as NeXus.
  */
final class EventsWorkflow(spark: SparkSession, dir: Path, seed: Long, files: Int,
    eventsPerFile: Int) extends Workload(spark, dir, seed) {
  val name = "events_workflow"
  def items: Long = files.toLong * eventsPerFile
  private val streams = dir.resolve("streams")
  val nxs: String = dir.resolve("cube.nxs").toString
  private val grid = 2048
  private val detector = ((0.0, grid.toDouble), (0.0, grid.toDouble))
  private var paths: Seq[String] = Nil
  private var forward: (Array[Array[Double]], Array[Array[Double]]) = _
  private var axes: Seq[UniformAxis] = Nil

  def generate(): Unit = {
    paths = Gen.streamFiles(streams, files, eventsPerFile, seed)
    forward = Gen.forwardField(grid, seed)
  }

  def contentHash(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    paths.foreach(f => md.update(Files.readAllBytes(java.nio.file.Paths.get(f))))
    val b = java.nio.ByteBuffer.allocate(8)
    forward._1.foreach(_.foreach(v => { b.clear(); b.putDouble(v); md.update(b.array) }))
    forward._2.foreach(_.foreach(v => { b.clear(); b.putDouble(v); md.update(b.array) }))
    md.digest().map("%02x".format(_)).mkString
  }

  private def load(): DataFrame =
    graft.loader.StreamFixture.MpesH5Loader.readDataframe(spark, paths)._1
      .withColumnRenamed("Stream_0", "X").withColumnRenamed("Stream_1", "Y")
      .withColumnRenamed("Stream_2", "t").withColumnRenamed("Stream_4", "ADC")

  private def invert(): Array[Array[Array[Double]]] = {
    val (r, c) = graft.fit.Fields.invertField(forward._1, forward._2, grid, grid, detector)
    Array(r, c)
  }

  /** jitter → momentum correction → k calibration → energy correction →
    * energy axis → delay axis.
    */
  private def calibrated(events: DataFrame, inv: Array[Array[Array[Double]]]): graft.Processor =
    new graft.Processor(spark, events)
      .addJitter(Seq("X", "Y"), Seq(0.5, 0.5), seed)
      .applyMomentumCorrection(inv, detector, "X", "Y", "Xm", "Ym")
      .applyMomentumCalibration("Xm", "Ym", rStart = 0.0, cStart = 0.0,
        rCenter = 1024.0, cCenter = 1024.0, rConversion = 0.002,
        cConversion = 0.002, rStep = 1.0, cStep = 1.0)
      .applyEnergyCorrection(
        graft.calibrate.Energy.Correction.spherical(_, _, 1024.0, 1024.0, 0.05, 4096.0),
        "t", "Xm", "Ym", "tm")
      .appendEnergyAxis("tm", Left((2.4e11, 100.0, 0.5)), binwidth = 2.0, binning = 0)
      .calibrateDelayAxis("ADC", (2000.0, 20000.0), Some((-500.0, 1500.0)))

  /** The cube's axis ranges, probed once from the calibrated events so the
    * 128³ cube bins in-range data.
    */
  def prepare(): Unit = {
    val df = calibrated(load(), invert()).dataframe
    val r = df.agg(min("kx"), max("kx"), min("ky"), max("ky"),
      min("energy"), max("energy")).head()
    def ax(c: String, i: Int) = UniformAxis(c, 128, r.getDouble(i), r.getDouble(i + 1))
    axes = Seq(ax("kx", 0), ax("ky", 2), ax("energy", 4))
  }

  private def workflow(p: Probe): graft.binning.BinnedCube = {
    val events = p.span("loader.readDataframe")(load())
    val inv = p.span("fit.invertField")(invert())
    val proc = p.span("calibrate.chain")(calibrated(events, inv))
    val cube = p.span("Processor.compute")(proc.compute(axes))
    p.span("export.writeNexus")(save(proc, cube))
    cube
  }

  /** Axis units the cube is exported with. */
  private val units = Seq("units.kx" -> "1/A", "units.ky" -> "1/A", "units.energy" -> "eV")

  /** What `Processor.save` does for `.nxs`, with axis units added: the
    * Processor records none, and graft's validator requires them.
    */
  private def save(proc: graft.Processor, cube: graft.binning.BinnedCube): Unit =
    graft.export.CubeIO.writeNexus(cube.withAttrs(units: _*), nxs,
      Map("process" -> proc.metadata.get))

  def run(p: Probe): () => Option[String] = {
    val cube = workflow(p)
    () => Checks.checkNexus(cube, nxs, items)
  }

  def layers(p: Probe, t: Tracer): Layers = {
    val scan = t.prefix("loader")(noop(load()))
    val (invertS, inv) = t.call("fit.invertField")(invert())
    // the calibrated columns the cube is binned over: what compute reads
    val binned = axes.map(a => col(a.column))
    val chain = t.prefix("calibrate")(noop(calibrated(load(), inv).dataframe.select(binned: _*)))
    val index = t.prefix("binning.index")(noop(indexed(calibrated(load(), inv).dataframe, axes)))
    var proc: graft.Processor = null
    var cube: graft.binning.BinnedCube = null
    var densify = 0.0
    val compute = t.prefix("binning.compute") {
      proc = calibrated(load(), inv)
      cube = proc.compute(axes)
      p.drain()
      densify = math.max(0.0, (System.nanoTime() - p.jobEndNs.get) / 1e9)
    }
    val (saveS, _) = t.call("export.writeNexus")(save(proc, cube))
    val full = t.prefix("workflow")(workflow(p))
    val diskMb = paths.map(f => Files.size(java.nio.file.Paths.get(f))).sum / 1e6
    val self = Map(
      "loader.s" -> scan.wall,
      "fit.invert_s" -> invertS,
      "calibrate.s" -> (chain.wall - scan.wall),
      "binning.index_s" -> (index.wall - chain.wall),
      "binning.count_s" -> (compute.wall - index.wall - densify),
      "binning.densify_s" -> densify,
      "export.write_s" -> saveS)
    Layers(self ++ Map(
      "loader.cpu_s" -> scan.cpu,
      "loader.input_mb" -> scan.mbRead,
      "loader.rows" -> items.toDouble,
      "loader.scan_passes" -> full.mbRead / diskMb,
      "calibrate.cpu_s" -> (chain.cpu - scan.cpu),
      "binning.cells_filled" -> cube.data.count(_ != 0L).toDouble,
      "binning.in_range_frac" -> cube.total.toDouble / items,
      "export.mb" -> Files.size(java.nio.file.Paths.get(nxs)) / 1e6),
      Map("loader" -> scan.wall, "fit.invertField" -> invertS, "calibrate" -> chain.wall,
        "binning.index" -> index.wall, "binning.compute" -> compute.wall,
        "export.writeNexus" -> saveS, "workflow" -> full.wall),
      self)
  }
}

// --------------------------------------------------------------------------

/** Language id, then curation (language filter, Gopher, exact dedup, near
  * dedup at 0.8) of a seeded four-language corpus, to the noop sink.
  */
final class TextCurate(spark: SparkSession, dir: Path, seed: Long, docs: Int)
    extends Workload(spark, dir, seed) {
  import graft.pipeline.{Curation, TextOps}
  val name = "text_curate"
  def items: Long = docs
  override def traceReps: Int = 2
  private val corpusDir = dir.resolve("corpus")
  private var truth: Seq[Gen.Doc] = Nil
  private var expected: Set[Long] = Set.empty
  private val cfg = Curation.CurationConfig(keepLanguages = Gen.TargetLanguages,
    gopher = true, dropExact = true, nearDupThreshold = Some(0.8))

  def generate(): Unit = {
    truth = Gen.corpus(docs, seed)
    Gen.writeCorpus(spark, corpusDir, truth, files = 4)
  }
  def contentHash(): String = Gen.contentHash(input)
  def prepare(): Unit = expected = Gen.expectedSurvivors(truth)
  def groundTruth: Seq[Gen.Doc] = truth
  def expectedIds: Set[Long] = expected

  private def input: DataFrame = spark.read.parquet(corpusDir.toString)
  private def withLang(df: DataFrame): DataFrame =
    df.withColumn("lang", TextOps.langId(col("text")))
  private def curate(df: DataFrame, c: Curation.CurationConfig): DataFrame =
    Curation.curate(df, "id", "text", "lang", "domain", c)._1

  def run(p: Probe): () => Option[String] = {
    val corpus = p.span("loader.parquet")(input)
    val tagged = p.span("pipeline.langId")(withLang(corpus))
    val out = p.span("pipeline.curate")(curate(tagged, cfg))
    val obs = new Observation("ids")
    val sums = Checks.idSetSumExprs(col("id"))
    p.span("sink.noop")(noop(out.observe(obs, sums.head, sums.tail: _*)))
    () => {
      val m = obs.get
      def l(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      Checks.checkSurvivors(Checks.IdSetSum(l("n"), l("s1"), l("s2")), expected).map { why =>
        val ids = out.select("id").collect().map(_.getLong(0)).toSet
        why + Checks.explainSurvivors(ids, truth).map("; " + _).getOrElse("")
      }
    }
  }

  def layers(p: Probe, t: Tracer): Layers = {
    val scan = t.prefix("loader")(noop(input))
    val lang = t.prefix("pipeline.langId")(noop(withLang(input)))
    val stage0 = cfg.copy(gopher = false, dropExact = false, nearDupThreshold = None)
    val filtered = t.prefix("pipeline.language")(noop(curate(withLang(input), stage0)))
    val gopher = t.prefix("pipeline.gopher")(noop(curate(withLang(input),
      stage0.copy(gopher = true))))
    val exact = t.prefix("pipeline.exact_dedup")(noop(curate(withLang(input),
      stage0.copy(gopher = true, dropExact = true))))
    var kept = 0L
    val full = t.prefix("pipeline.near_dedup") {
      val out = curate(withLang(input), cfg)
      val obs = new Observation("n")
      noop(out.observe(obs, count(lit(1)).as("n")))
      kept = obs.get("n").asInstanceOf[Number].longValue
    }
    val diskMb = Gen.bytesOnDisk(corpusDir) / 1e6
    val self = Map(
      "loader.s" -> scan.wall,
      "pipeline.langid_s" -> (lang.wall - scan.wall),
      "pipeline.language_filter_s" -> (filtered.wall - lang.wall),
      "pipeline.gopher_s" -> (gopher.wall - filtered.wall),
      "pipeline.exact_dedup_s" -> (exact.wall - gopher.wall),
      "pipeline.near_dedup_s" -> (full.wall - exact.wall))
    Layers(self ++ Map(
      "loader.cpu_s" -> scan.cpu,
      "loader.input_mb" -> scan.mbRead,
      "loader.rows" -> scan.sums("input_records"),
      "loader.scan_passes" -> full.mbRead / diskMb,
      "pipeline.kept_frac" -> kept.toDouble / docs),
      Map("loader" -> scan.wall, "pipeline.langId" -> lang.wall,
        "pipeline.language" -> filtered.wall, "pipeline.gopher" -> gopher.wall,
        "pipeline.exact_dedup" -> exact.wall, "pipeline.near_dedup" -> full.wall),
      self)
  }
}
