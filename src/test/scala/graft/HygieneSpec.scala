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
  * And a parquet file is written on the driver in
  * `graft.catalog.VectorIndex` alone: any other write goes through
  * Spark's distributed writer.
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

  /** `src/main` lines outside `rule` that contain any of `words`. */
  private def mainLinesWith(rule: String, words: String*): Seq[String] = {
    val owner = Paths.get(rule)
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".scala") && f != owner)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if words.exists(line.contains) => s"$f:${i + 1}"
        }
      }.toSeq
  }

  test("only graft.util.Scans sizes a fan-out by the core count") {
    val offenders = mainLinesWith("src/main/scala/graft/util/Scans.scala",
      "sparkContext.defaultParallelism")
    assert(offenders.isEmpty,
      s"fan out a scan with graft.util.Scans.fanOut: ${offenders.mkString(", ")}")
  }

  test("only graft.catalog.VectorIndex writes parquet on the driver") {
    val offenders = mainLinesWith("src/main/scala/graft/catalog/VectorIndex.scala",
      "ParquetFileFormat", "prepareWrite")
    assert(offenders.isEmpty,
      s"write a driver-side batch with VectorIndex.upsert: ${offenders.mkString(", ")}")
  }
}
