package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards the engine's operator-facing surface against creep: every
  * `SPARK_GRAFT_*` env var read in `src/main` and every `main` entry
  * point is listed here. A measurement main or env knob whose
  * experiment has concluded is deleted, its result kept in `dev/` and
  * the round docs; a new one must be justified where it is added.
  */
class SurfaceSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private val keptEnv = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",            // driver contract
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_LEGS",  // bench controls
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_VERIFY_ONLY",  // verify control
    "SPARK_GRAFT_SHUFFLE_PARTS",                         // cluster width override
    "SPARK_GRAFT_STATE_PARTS")                           // stream state partitions

  private val keptMains = Set(
    "Bench", "Verify", "DevScaleUp", "DevProfile", "DevStreamProf",
    "DevExplain", "PlanDump")

  private val advice =
    "delete the knob or main whose experiment has concluded (its result " +
      "belongs in dev/ and the round docs), or add it to this list and " +
      "justify it in the change description"

  test("src/main reads exactly the kept SPARK_GRAFT_* env vars") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val read = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"(SPARK_GRAFT_\w+)"""".r
    val found = sources.flatMap { case (_, src) =>
      read.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(found == keptEnv,
      s"added: ${(found -- keptEnv).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(keptEnv -- found).toSeq.sorted.mkString(", ")} — $advice")
  }

  test("src/main defines exactly the kept main entry points") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(""".r
    val found = sources.flatMap { case (_, src) =>
      val objects = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      main.findAllMatchIn(src).flatMap { m =>
        objects.takeWhile(_._1 < m.start).lastOption.map(_._2)
      }
    }.toSet
    assert(found == keptMains,
      s"added: ${(found -- keptMains).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(keptMains -- found).toSeq.sorted.mkString(", ")} — $advice")
  }
}
