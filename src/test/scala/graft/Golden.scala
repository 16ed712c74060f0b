package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The reference fixture of FIXTURES.md §1 and its recorded expected
  * outputs, committed under `src/test/resources/crystalball/`:
  *
  *   - `input`: the two basket lines;
  *   - `pairs.tsv`: the 34-pair relation, each probability written as a
  *     hand-checkable fraction (window co-occurrences / the product's
  *     window total) beside the double the pair sink prints;
  *   - `CrystalBallStripe/part-r-0000{0,1,2}` and
  *     `CrystalBallHybrid/part-r-0000{0,1}`: the stripe lines in the
  *     reference's 3-way (<30/<60/≥60) and 2-way (<50) file layouts.
  *
  * These are recorded expectations, not the reference's original output
  * bytes.
  */
object Golden {

  private def path(name: String): Path =
    Paths.get(getClass.getResource(s"/crystalball/$name").toURI)

  private def read(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq

  val input: Seq[String] = read(path("input"))

  /** One expected pair: P = num / den, printed by the sink as `printed`. */
  final case class Prob(num: Int, den: Int, printed: String)

  /** (product, neighbor) → expected probability, from `pairs.tsv`. */
  lazy val pairs: Map[(String, String), Prob] =
    read(path("pairs.tsv")).filterNot(_.startsWith("#")).map { line =>
      val Array(a, b, frac, printed) = line.split("\t")
      val Array(num, den) = frac.split("/").map(_.toInt)
      (a, b) -> Prob(num, den, printed)
    }.toMap

  /** The expected `[a, b]\t<prob>` pair lines. */
  def pairLines: Set[String] =
    pairs.map { case ((a, b), p) => s"[$a, $b]\t${p.printed}" }.toSet

  /** A stripe variant's part files, in partition order, as lines. */
  def stripeParts(variant: String): Seq[Seq[String]] =
    Files.list(path(variant)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString).map(read)

  private val entry = """\((\S+), ([0-9.Ee+-]+)\)""".r

  /** `a\t{(b, p), …, }` → (a, b → p). */
  def parseStripe(line: String): (String, Map[String, Double]) = {
    val Array(k, rest) = line.split("\t", 2)
    k -> entry.findAllMatchIn(rest)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** A stripe variant's expected product → stripe map. */
  def stripes(variant: String): Map[String, Map[String, Double]] =
    stripeParts(variant).flatten.map(parseStripe).toMap
}
