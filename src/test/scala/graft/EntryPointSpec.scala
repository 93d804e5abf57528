package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds the library and the mains a driver runs, nothing
  * else: one-off timing or probe harnesses belong in tests, in
  * perfbench, or in the library's own listener and progress API.
  */
class EntryPointSpec extends AnyFunSuite {

  private val ObjectDecl = """(?m)^\s*(?:private\s+)?object\s+(\w+)""".r
  private val MainDecl = """(?m)^\s*def main\(args: Array\[String\]\)""".r

  /** Objects under `root` declaring `def main(args: Array[String])`,
    * each attributed to the nearest object declared above it.
    */
  private def mains(root: Path): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = Files.readString(f)
        val objects = ObjectDecl.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
        MainDecl.findAllMatchIn(src).map { m =>
          objects.filter(_._1 < m.start).lastOption.map(_._2)
            .getOrElse(fail(s"main outside an object in $f"))
        }
      }.toSet

  test("the only entry points in src/main are Bench, Verify, StreamBench and PlanDump") {
    assert(mains(Paths.get("src/main/scala")) ==
      Set("Bench", "Verify", "StreamBench", "PlanDump"))
  }
}
