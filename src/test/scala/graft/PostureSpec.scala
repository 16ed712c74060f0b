package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Width

/** The one session posture ([[Bench.sessionBuilder]]) and the harness
  * rules around it: the test session carries the posture, engine code
  * reads no environment, one helper ([[Width.spread]]) reads the session's
  * shuffle width, and failures report their cause.
  */
class PostureSpec extends AnyFunSuite with CacheScoped {

  private val root = Paths.get("src/main/scala/graft")

  /** The `SparkEntry*` query registry sources. */
  private def registry: Seq[Path] = {
    val files = Files.list(root).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("SparkEntry"))
    assert(files.nonEmpty, s"no SparkEntry*.scala under $root")
    files
  }

  /** Every line matching `pattern` in the engine sources — the six engine
    * packages and the `SparkEntry*` query registry — outside the files
    * named in `allowed`, as `path:line: text`.
    */
  private def engineLines(pattern: Regex, allowed: Set[String]): Seq[String] = {
    val packages = Seq("operators", "functions", "optimizer", "plans",
        "sources", "streaming").flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"$dir missing")
      Files.walk(dir).iterator().asScala.toSeq
    }
    linesIn(packages ++ registry, pattern, allowed)
  }

  /** Every line matching `pattern` in the Scala `files` outside those
    * named in `allowed`, as `path:line: text`. */
  private def linesIn(files: Seq[Path], pattern: Regex,
      allowed: Set[String] = Set.empty): Seq[String] =
    files
      .filter(_.toString.endsWith(".scala"))
      .filterNot(f => allowed(f.getFileName.toString))
      .sortBy(_.toString)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).nonEmpty =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }

  test("the test session carries the posture's recursion row limit") {
    // 350k anchor rows x 3 levels = 1.05M rows, past Spark's 1M default
    val n = Specs.spark.sql(
      """WITH RECURSIVE r(lvl) AS (
        |  SELECT 0 FROM range(350000)
        |  UNION ALL
        |  SELECT lvl + 1 FROM r WHERE lvl < 2)
        |SELECT count(*) FROM r""".stripMargin).head.getLong(0)
    assert(n == 1050000L)
  }

  test("engine packages read no environment variables") {
    val offenders = engineLines("""sys\.env|System\.getenv""".r, Set.empty)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("only Width and StreamingOps read the session's shuffle width") {
    // StreamingOps.withStatePartitions sets the state width and restores it
    val offenders = engineLines(
      Regex.quote("\"spark.sql.shuffle.partitions\"").r,
      Set("Width.scala", "StreamingOps.scala"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("no query listener in the engine: persists live in a CacheScope") {
    val offenders = engineLines(
      """QueryExecutionListener|listenerManager""".r, Set.empty)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("registry queries persist only through CacheScope.persist") {
    // a raw persist whose unpersist is not in a finally leaks when a
    // write between them throws
    val offenders = linesIn(registry,
      """(?<!CacheScope)\.persist\(|\.unpersist\(""".r)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("converged loops cut, cap and hand off only through Fixpoint") {
    val mechanics = (Seq("longAccumulator", "localCheckpoint", ".rdd.persist",
        "queryExecution.toRdd.count()").map(Regex.quote) :+
      """createDataFrame\(\s*\w+\s*,""").mkString("|").r
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    val dir = Paths.get("src/main/scala/graft/operators")
    val sites = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "Fixpoint.scala")
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        val obj = f.getFileName.toString.stripSuffix(".scala")
        lines.indices.filter(i => mechanics.findFirstIn(lines(i)).nonEmpty)
          .map { i =>
            val owner = (i to 0 by -1).map(lines).collectFirst {
              case member(name) => name
            }.getOrElse("?")
            s"$obj.$owner" -> s"$f:${i + 1}: ${lines(i).trim}"
          }
      }
    if (sites.nonEmpty) fail("loop mechanics outside Fixpoint in " +
      sites.map(_._1).distinct.mkString(", ") +
      sites.map(_._2).mkString(":\n", "\n", ""))
  }

  /** Partitions the final adaptive plan of an executed frame reads from
    * its first shuffle. */
  private def shuffleReadWidth(plan: SparkPlan): Int =
    Specs.firstShuffleRead(plan).map(_._2)
      .getOrElse(fail(s"no shuffle read in\n$plan"))

  test("Width.spread holds the session width under AQE") {
    val spark = Specs.spark
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val tenRows = spark.range(10).toDF("k")
    val spread = Width.spread(tenRows, "k")
    assert(spread.collect().length == 10)
    assert(shuffleReadWidth(spread.queryExecution.executedPlan) == 4)
    // without the explicit count AQE coalesces the byte-light exchange
    val sized = tenRows.repartition(col("k"))
    assert(sized.collect().length == 10)
    assert(shuffleReadWidth(sized.queryExecution.executedPlan) < 4)
  }

  test("partition rule: one per 45 MB, floored, capped at 1024") {
    assert(Bench.partitionsForMB(0L, 4) == 4)
    assert(Bench.partitionsForMB(45L * 100 + 44, 4) == 100)
    assert(Bench.partitionsForMB(45L * 100, 8) == 100)
    assert(Bench.partitionsForMB(45L * 5000, 4) == 1024)
    assert(Bench.partitionsForMB(45L * 5000, 2048) == 2048)
  }

  test("describeFailure names the exception, its root cause and top frames") {
    def fail(): Nothing = throw new IllegalStateException("inner detail")
    val e = try fail() catch {
      case inner: Throwable => new RuntimeException("outer wrapper", inner)
    }
    val report = Bench.describeFailure(e)
    assert(report.contains("java.lang.RuntimeException: outer wrapper"))
    assert(report.contains(
      "root cause java.lang.IllegalStateException: inner detail"))
    val frames = report.linesIterator.filter(_.startsWith("  at ")).toSeq
    assert(frames.nonEmpty && frames.size <= 5, report)
    assert(frames.head.contains("PostureSpec"), report)
  }
}
