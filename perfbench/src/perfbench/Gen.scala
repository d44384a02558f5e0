package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.loader.StreamFixture

/** Seeded input generators. The same seed always yields the same content
  * (see [[contentHash]]); everything the program later reads is written
  * here, during set-up, as ordinary files.
  */
object Gen {

  /** Order-independent content hash of a frame: the row count plus the
    * sum and xor of a 64-bit hash per row.
    */
  def contentHash(df: org.apache.spark.sql.DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")),
      bit_xor(h)).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}:${r.getLong(2)}"
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Sum of the sizes of the regular files under `p`, checksum files
    * excluded.
    */
  def bytesOnDisk(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  // ---------------------------------------------------------------- lake

  /** The reference benchmark table: `X, Y, t, ADC` uniform over
    * `[0,2048]² × [60000,120000] × [2000,20000]`, as parquet, in a fixed
    * number of files so Spark's per-partition seeded `rand` is
    * reproducible.
    */
  def eventLake(spark: SparkSession, dir: Path, events: Long, seed: Long,
      files: Int): Unit = {
    deleteTree(dir)
    spark.range(0L, events, 1L, files).select(
      (rand(seed) * 2048.0).as("X"),
      (rand(seed + 1) * 2048.0).as("Y"),
      (rand(seed + 2) * 60000.0 + 60000.0).as("t"),
      (rand(seed + 3) * 18000.0 + 2000.0).as("ADC"))
      .write.parquet(dir.toString)
  }

  // ------------------------------------------------------- mpes streams

  /** mpes-shaped HDF5 stream files written with the program's own
    * `StreamFixture.writeH5`: detector pixels `X`/`Y` (integer-quantized,
    * as a delay-line detector reports them), time of flight `t`, delay
    * stage `ADC`, and cumulative ms markers at ~1 event per µs.
    * Returns the file paths in natural order.
    */
  def streamFiles(dir: Path, files: Int, eventsPerFile: Int,
      seed: Long): Seq[String] = {
    deleteTree(dir)
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed)
    (0 until files).map { f =>
      val r = rng.split()
      val x = Array.fill(eventsPerFile)(math.floor(r.nextDouble() * 2048.0))
      val y = Array.fill(eventsPerFile)(math.floor(r.nextDouble() * 2048.0))
      // time of flight: two photoemission peaks on a flat background
      val t = Array.fill(eventsPerFile) {
        val u = r.nextDouble()
        if (u < 0.3) 75000.0 + 3000.0 * gaussian(r)
        else if (u < 0.5) 95000.0 + 5000.0 * gaussian(r)
        else 60000.0 + 60000.0 * r.nextDouble()
      }
      val adc = Array.fill(eventsPerFile)(2000.0 + 18000.0 * r.nextDouble())
      val nMs = math.max(1, eventsPerFile / 1000)
      val markers = Array.tabulate(nMs)(i =>
        ((i + 1).toLong * eventsPerFile) / nMs)
      val path = dir.resolve(f"Scan${f}%04d.h5").toString
      StreamFixture.writeH5(path, StreamFixture.StreamData(
        startTs = 1.6e9 + 60.0 * f,
        channels = Seq("Stream_0" -> x, "Stream_1" -> y, "Stream_2" -> t,
          "Stream_4" -> adc),
        msMarkers = markers))
      path
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw is enough here
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Smooth seeded forward distortion of the 2048² detector (row and
    * column displacement fields), the input `fit.Fields.invertField`
    * inverts.
    */
  def forwardField(n: Int, seed: Long): (Array[Array[Double]], Array[Array[Double]]) = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val (a1, a2, p1, p2) = (1.0 + 2.0 * r.nextDouble(), 1.0 + 2.0 * r.nextDouble(),
      r.nextDouble() * 2 * math.Pi, r.nextDouble() * 2 * math.Pi)
    val rows = Array.tabulate(n, n)((i, j) => i + a1 * math.sin(j / 300.0 + p1))
    val cols = Array.tabulate(n, n)((i, j) => j + a2 * math.cos(i / 400.0 + p2))
    (rows, cols)
  }

  // ------------------------------------------------------------- corpus

  /** One generated document and its ground truth. */
  final case class Doc(id: Long, text: String, domain: String, lang: String,
      clean: Boolean, exactGroup: Int, nearGroup: Int)

  /** Language markers: each language's langId-profile words that no other
    * profile shares, so the planted language is unambiguous.
    */
  val LangWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ich", "nicht", "mit", "ein", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "pour"),
    "es" -> Seq("el", "los", "por", "con", "una", "se"))
  val Languages: Seq[String] = Seq("en", "de", "fr", "es")
  /** Languages the curation keeps. */
  val TargetLanguages: Set[String] = Set("en", "de")

  private val Reserved: Set[String] = LangWords.values.flatten.toSet ++
    Set("be", "to", "of", "and", "that", "have", "with", "de", "que", "un", "en")

  private def vocabulary(r: SplittableRandom, size: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < size) {
      val syl = 2 + r.nextInt(2)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += cons(r.nextInt(cons.length)); sb += vows(r.nextInt(vows.length))
      }
      if (r.nextInt(3) == 0) sb += cons(r.nextInt(cons.length))
      val w = sb.toString
      if (!Reserved.contains(w)) out += w
    }
    out.toArray
  }

  /** A four-language corpus with planted structure:
    *  - every document carries its language's marker words and passes the
    *    Gopher rules, except the planted low-quality (too short) ones;
    *  - `exactGroups` groups of 2–4 byte-identical copies;
    *  - `nearGroups` groups of a document plus 1–2 single-word edits
    *    (character 5-shingle Jaccard ≈ 0.97 to the original).
    * Ids are a seeded permutation, so which copy has the lowest id is
    * random.
    */
  def corpus(docs: Int, seed: Long): Seq[Doc] = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(r.split(), 6000)
    def body(lang: String, nTokens: Int): Array[String] = {
      val marks = LangWords(lang)
      val toks = Array.fill(nTokens)(vocab(r.nextInt(vocab.length)))
      // marker words at random positions; "with"/"have" satisfy Gopher's
      // required-word rule in every language without scoring for langId
      val nMarks = 8 + r.nextInt(4)
      (0 until nMarks).foreach(_ => toks(r.nextInt(nTokens)) = marks(r.nextInt(marks.length)))
      val w = r.nextInt(nTokens)
      toks(w) = "with"
      toks((w + 1 + r.nextInt(nTokens - 1)) % nTokens) = "have"
      toks
    }
    def domain(): String = s"site${r.nextInt(50)}.example"
    val out = scala.collection.mutable.ArrayBuffer[(String, String, String, Boolean, Int, Int)]()
    def add(text: String, lang: String, clean: Boolean, eg: Int, ng: Int): Unit =
      out += ((text, domain(), lang, clean, eg, ng))
    def lang(): String = Languages(r.nextInt(Languages.length))
    val exactGroups = docs / 40
    val nearGroups = docs / 40
    (0 until exactGroups).foreach { g =>
      val l = lang()
      val text = body(l, 60 + r.nextInt(30)).mkString(" ")
      (0 until 2 + r.nextInt(3)).foreach(_ => add(text, l, clean = true, g, -1))
    }
    (0 until nearGroups).foreach { g =>
      val l = lang()
      val toks = body(l, 70 + r.nextInt(30))
      add(toks.mkString(" "), l, clean = true, -1, g)
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val edited = toks.clone()
        var i = r.nextInt(edited.length)
        while (LangWords(l).contains(edited(i)) || edited(i) == "with" ||
          edited(i) == "have") i = r.nextInt(edited.length)
        edited(i) = vocab(r.nextInt(vocab.length))
        add(edited.mkString(" "), l, clean = true, -1, g)
      }
    }
    val lowQuality = docs / 20
    (0 until lowQuality).foreach { _ =>
      val l = lang()
      add(body(l, 20 + r.nextInt(20)).mkString(" "), l, clean = false, -1, -1)
    }
    while (out.size < docs) {
      val l = lang()
      add(body(l, 60 + r.nextInt(60)).mkString(" "), l, clean = true, -1, -1)
    }
    // seeded Fisher-Yates permutation of ids
    val ids = Array.tabulate(out.size)(_.toLong)
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val tmp = ids(i); ids(i) = ids(j); ids(j) = tmp
      i -= 1
    }
    out.zipWithIndex.map { case ((text, dom, l, clean, eg, ng), k) =>
      Doc(ids(k), text, dom, l, clean, eg, ng)
    }.toSeq.sortBy(_.id)
  }

  val CorpusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("domain", StringType, nullable = false)))

  /** Write the corpus (only `id, text, domain` — the ground truth stays
    * with the benchmark) as parquet in `files` files.
    */
  def writeCorpus(spark: SparkSession, dir: Path, docs: Seq[Doc], files: Int): Unit = {
    deleteTree(dir)
    val rows = docs.map(d => Row(d.id, d.text, d.domain))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), CorpusSchema)
      .write.parquet(dir.toString)
  }

  /** Ids the curation must keep, from ground truth alone: clean documents
    * in a target language, one per exact-duplicate group and one per
    * near-duplicate group (the lowest id in each).
    */
  def expectedSurvivors(docs: Seq[Doc]): Set[Long] = {
    val kept = docs.filter(d => d.clean && TargetLanguages.contains(d.lang))
    val (grouped, single) = kept.partition(d => d.exactGroup >= 0 || d.nearGroup >= 0)
    val reps = grouped.groupBy(d => (d.exactGroup, d.nearGroup)).values.map(_.map(_.id).min)
    single.map(_.id).toSet ++ reps
  }
}
