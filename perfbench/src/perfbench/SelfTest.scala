package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.binning.Binning

/** The benchmark's own tests, on small inputs:
  *  - each generator gives the same content hash for the same seed and a
  *    different one for another seed;
  *  - each output check passes on the program's real output and rejects a
  *    deliberately corrupted one.
  *
  * {{{ python3 perfbench/run.py --selftest }}}
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def rejects(what: String)(verdict: => Option[String]): Unit = {
    val v = try verdict catch { case e: Exception => Some(e.toString) }
    assert(v.isDefined, s"check accepted $what")
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(".bench_build/selftest")).toAbsolutePath
    Gen.deleteTree(work)
    Files.createDirectories(work)
    val spark = Main.session(work)
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    try {
      determinism(spark, work)
      bin4dCheck(spark, work, probe)
      workflowCheck(spark, work, probe)
      curateCheck(spark, work, probe)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def small(name: String, spark: SparkSession, dir: Path, seed: Long): Workload =
    name match {
      case "events_bin4d" => new EventsBin4d(spark, dir, seed, events = 20000L)
      case "events_workflow" => new EventsWorkflow(spark, dir, seed, files = 2,
        eventsPerFile = 5000)
      case "text_curate" => new TextCurate(spark, dir, seed, docs = 600)
    }

  def determinism(spark: SparkSession, work: Path): Unit =
    Main.Workloads.foreach { name =>
      test(s"$name: same seed, same content hash; other seed, other hash") {
        def hash(seed: Long, sub: String): String = {
          val w = small(name, spark, work.resolve(s"det-$name-$sub"), seed)
          w.generate()
          w.contentHash()
        }
        val a = hash(7, "a")
        val b = hash(7, "b")
        val c = hash(8, "c")
        assert(a == b, s"seed 7 gave $a then $b")
        assert(a != c, s"seeds 7 and 8 both gave $a")
      }
    }

  def bin4dCheck(spark: SparkSession, work: Path, probe: Probe): Unit = {
    val w = small("events_bin4d", spark, work.resolve("bin4d"), 3).asInstanceOf[EventsBin4d]
    w.generate()
    w.prepare()
    test("events_bin4d: check passes on the real histogram") {
      assert(w.run(probe)().isEmpty)
    }
    test("events_bin4d: check rejects a corrupted histogram") {
      val events = spark.read.parquet(work.resolve("bin4d").resolve("lake").toString)
      val want = Checks.referenceTotals(events, w.axes)
      def totals(df: org.apache.spark.sql.DataFrame): Checks.CubeTotals = {
        val e = Checks.cubeTotalsExprs(w.axes)
        val r = df.agg(e.head, e.tail: _*).head()
        Checks.CubeTotals(r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val h = Binning.histogram(events, w.axes)
      assert(Checks.checkCube(totals(h), want).isEmpty, "uncorrupted cube rejected")
      // one cell moved along X, one count inflated, one cell dropped
      val moved = h.withColumn("bin_X", when(col("bin_X") === 0, 1).otherwise(col("bin_X")))
      rejects("a cube with cells moved")(Checks.checkCube(totals(moved), want))
      val inflated = h.withColumn("cnt", when(col("bin_Y") === 7, col("cnt") + 1)
        .otherwise(col("cnt")))
      rejects("a cube with counts inflated")(Checks.checkCube(totals(inflated), want))
      val dropped = h.filter(col("bin_t") =!= 5)
      rejects("a cube with cells dropped")(Checks.checkCube(totals(dropped), want))
    }
  }

  def workflowCheck(spark: SparkSession, work: Path, probe: Probe): Unit = {
    val w = small("events_workflow", spark, work.resolve("workflow"), 3)
      .asInstanceOf[EventsWorkflow]
    w.generate()
    w.prepare()
    test("events_workflow: check passes on the real export") {
      assert(w.run(probe)().isEmpty)
    }
    test("events_workflow: check rejects a changed count in the export") {
      val check = w.run(probe)
      val cube = graft.export.CubeIO.readNexus(w.nxs)
      val data = cube.data.clone()
      val i = data.indexWhere(_ > 0)
      data(i) += 1
      graft.export.CubeIO.writeNexus(cube.copy(data = data), w.nxs)
      rejects("an export with a changed count")(check())
    }
    test("events_workflow: check rejects an export that fails validation") {
      val check = w.run(probe)
      val cube = graft.export.CubeIO.readNexus(w.nxs)
      graft.export.CubeIO.writeNexus(cube.copy(attrs = Map.empty), w.nxs)
      rejects("an export without axis units")(check())
    }
    test("events_workflow: check rejects a truncated export") {
      val check = w.run(probe)
      val bytes = Files.readAllBytes(Paths.get(w.nxs))
      Files.write(Paths.get(w.nxs), bytes.take(bytes.length / 2))
      rejects("a truncated export")(check())
    }
  }

  def curateCheck(spark: SparkSession, work: Path, probe: Probe): Unit = {
    val w = small("text_curate", spark, work.resolve("curate"), 3).asInstanceOf[TextCurate]
    w.generate()
    w.prepare()
    val truth = w.groundTruth
    val want = w.expectedIds
    test("text_curate: check passes on the real curation") {
      assert(w.run(probe)().isEmpty)
      assert(Checks.explainSurvivors(want, truth).isEmpty)
    }
    test("text_curate: check rejects corrupted survivor sets") {
      val group = truth.filter(d => d.exactGroup >= 0 && want.contains(d.id)).head
      val twin = truth.find(d => d.exactGroup == group.exactGroup && d.id != group.id).get
      val foreign = truth.find(d => !Gen.TargetLanguages.contains(d.lang)).get
      val dirty = truth.find(d => !d.clean && Gen.TargetLanguages.contains(d.lang)).get
      val corrupted = Seq(
        "a second copy of an exact duplicate" -> (want + twin.id),
        "an exact-duplicate group with no survivor" -> (want - group.id),
        "a document outside the target languages" -> (want + foreign.id),
        "a low-quality document" -> (want + dirty.id))
      corrupted.foreach { case (what, ids) =>
        rejects(what)(Checks.checkSurvivors(Checks.idSetSum(ids), want))
        rejects(what)(Checks.explainSurvivors(ids, truth))
      }
    }
  }
}
