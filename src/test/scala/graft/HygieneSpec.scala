package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Spec hygiene, checked mechanically like [[RegistrySpec]]'s doc
  * counts. A scratch dir made with the JDK's temp-file calls outlives the
  * run: one full test run once left 58 `graft*` dirs in java.io.tmpdir, and
  * repeated runs piled them up. The specs make their scratch dirs with
  * `graft.util.TempDirs.scratch`, which deletes them at JVM exit, and
  * this spec fails the build when a JDK temp call comes back. Likewise a
  * post-scan fan-out is decided in `graft.util.Scans` alone: an
  * exchange sized by the core count anywhere else is a hand-placed one.
  */
class HygieneSpec extends AnyFunSuite {

  test("no spec makes a temp dir or file that outlives the run") {
    val jdkTemp = """(Files\s*\.\s*createTempDirectory|createTempFile)\s*\(""".r
    val offenders = Files.walk(Paths.get("src/test")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if jdkTemp.findFirstIn(line).isDefined => s"$f:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"make scratch dirs with graft.util.TempDirs.scratch: ${offenders.mkString(", ")}")
  }

  test("only graft.util.Scans sizes a fan-out by the core count") {
    val rule = Paths.get("src/main/scala/graft/util/Scans.scala")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala") && f != rule)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sparkContext.defaultParallelism") => s"$f:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"fan out a scan with graft.util.Scans.fanOut: ${offenders.mkString(", ")}")
  }
}
