package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.binning.{BinnedCube, UniformAxis}

/** Output checks. None of them reuses the code under test to compute the
  * expected answer: each returns `None` when the output is right and a
  * one-line reason when it is not.
  */
object Checks {

  // ---------------------------------------------------------- histogram

  /** Totals of a sparse 4-D cube: filled cells, events counted, and a
    * cell-weighted checksum Σ cnt · w(cell).
    */
  final case class CubeTotals(cells: Long, events: Long, checksum: Long)

  /** The checksum weight of a cell, from its per-axis indices (row-major
    * flat index through a multiplicative hash; [[referenceTotals]] spells
    * the same weight out on its own flat index).
    */
  def cellWeight(idx: Seq[Column], nBins: Seq[Int]): Column = {
    val flat = idx.zip(nBins).foldLeft(lit(0L)) { case (acc, (c, n)) =>
      acc * lit(n.toLong) + c.cast("long")
    }
    pmod(flat * lit(2654435761L), lit(1000003L))
  }

  /** Aggregates over a histogram output `(bin_<ax>…, cnt)` that
    * [[CubeTotals]] is read from.
    */
  def cubeTotalsExprs(axes: Seq[UniformAxis], cnt: Column = col("cnt")): Seq[Column] = Seq(
    count(lit(1)).as("cells"),
    sum(cnt).as("events"),
    sum(cnt * cellWeight(axes.map(a => col(s"bin_${a.column}")), axes.map(_.nBins)))
      .as("checksum"))

  /** The reference histogram, computed independently of `graft.binning`:
    * a floor index per axis on the kernel's edges (half a bin below each
    * center limit), the last edge inclusive, everything else outside
    * dropped; then a plain `groupBy().count()`.
    */
  def referenceTotals(events: DataFrame, axes: Seq[UniformAxis]): CubeTotals = {
    val idx = axes.map { a =>
      val width = (a.centerHi - a.centerLo) / a.nBins
      val lo = a.centerLo - width / 2
      val hi = a.centerHi - width / 2
      val x = col(a.column)
      when(x >= lo && x <= hi, least(floor((x - lo) / width), lit(a.nBins - 1L)))
    }
    val flat = idx.zip(axes).foldLeft(lit(0L)) { case (acc, (i, a)) =>
      acc * lit(a.nBins.toLong) + i
    }
    val cube = events.select(flat.as("cell")).filter(col("cell").isNotNull)
      .groupBy("cell").count()
    val r = cube.agg(count(lit(1)), sum(col("count")),
      sum(col("count") * pmod(col("cell") * lit(2654435761L), lit(1000003L)))).head()
    CubeTotals(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def checkCube(got: CubeTotals, want: CubeTotals): Option[String] =
    if (got == want) None
    else Some(s"histogram totals $got differ from the reference $want")

  // ------------------------------------------------------------ workflow

  /** The exported `.nxs` must read back equal to the computed cube and
    * validate without errors.
    */
  def checkNexus(computed: BinnedCube, path: String, events: Long): Option[String] = {
    val errs = graft.export.CubeIO.validateNexus(path)
    if (errs.nonEmpty) return Some(s"validateNexus: ${errs.mkString("; ")}")
    val back = graft.export.CubeIO.readNexus(path)
    if (back.shape != computed.shape) Some(s"shape ${back.shape} != ${computed.shape}")
    else if (back.axisNames != computed.axisNames)
      Some(s"axes ${back.axisNames} != ${computed.axisNames}")
    else if (!back.axes.zip(computed.axes).forall { case (a, b) => a.sameElements(b) })
      Some("axis coordinates differ after read-back")
    else if (!back.data.sameElements(computed.data)) Some("cube data differ after read-back")
    else if (!computed.attrs.forall { case (k, v) => back.attrs.get(k).contains(v) })
      Some(s"attributes ${computed.attrs} not all read back (${back.attrs})")
    else if (computed.total <= 0 || computed.total > events)
      Some(s"cube holds ${computed.total} counts for $events events")
    else None
  }

  // -------------------------------------------------------------- corpus

  /** Order-independent fingerprint of an id set: size, Σ id, Σ id². */
  final case class IdSetSum(n: Long, s1: Long, s2: Long)

  def idSetSum(ids: Iterable[Long]): IdSetSum =
    IdSetSum(ids.size.toLong, ids.sum, ids.map(i => i * i).sum)

  def idSetSumExprs(id: Column): Seq[Column] =
    Seq(count(lit(1)).as("n"), sum(id).as("s1"), sum(id * id).as("s2"))

  /** Fast check on the curated output's id fingerprint. */
  def checkSurvivors(got: IdSetSum, expected: Set[Long]): Option[String] = {
    val want = idSetSum(expected)
    if (got == want) None
    else Some(s"curated ids $got differ from the expected set $want")
  }

  /** Detailed check on the curated id set, against ground truth: every
    * exact-duplicate group keeps exactly one document, only target
    * languages and clean documents survive, and the set equals the
    * expected survivors.
    */
  def explainSurvivors(ids: Set[Long], docs: Seq[Gen.Doc]): Option[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    val kept = ids.toSeq.flatMap(byId.get)
    if (kept.size != ids.size) return Some(s"${ids.size - kept.size} unknown ids in the output")
    val badLang = kept.filterNot(d => Gen.TargetLanguages.contains(d.lang))
    if (badLang.nonEmpty) return Some(s"${badLang.size} documents outside the " +
      s"target languages survived (e.g. id ${badLang.head.id}, ${badLang.head.lang})")
    val dirty = kept.filterNot(_.clean)
    if (dirty.nonEmpty) return Some(s"${dirty.size} low-quality documents survived")
    val groups = docs.filter(d => d.exactGroup >= 0 && d.clean &&
      Gen.TargetLanguages.contains(d.lang)).groupBy(_.exactGroup)
    val wrong = groups.filter { case (_, g) => g.count(d => ids.contains(d.id)) != 1 }
    if (wrong.nonEmpty) return Some(s"${wrong.size} exact-duplicate groups do not " +
      s"keep exactly one document (e.g. group ${wrong.head._1})")
    val expected = Gen.expectedSurvivors(docs)
    if (ids != expected) Some(s"${(expected -- ids).size} expected documents " +
      s"missing, ${(ids -- expected).size} unexpected")
    else None
  }
}
