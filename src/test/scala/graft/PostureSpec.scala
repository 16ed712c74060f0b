package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The one session posture ([[Bench.sessionBuilder]]) and the harness
  * rules around it: the test session carries the posture, engine code
  * reads no environment, and failures report their cause.
  */
class PostureSpec extends AnyFunSuite {

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
    val read = """sys\.env|System\.getenv""".r
    val offenders = Seq("operators", "functions", "optimizer", "plans",
        "sources", "streaming").flatMap { pkg =>
      val dir = Paths.get("src/main/scala/graft", pkg)
      assert(Files.isDirectory(dir), s"$dir missing")
      Files.walk(dir).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if read.findFirstIn(line).nonEmpty =>
              s"$f:${i + 1}: ${line.trim}"
          }
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
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
