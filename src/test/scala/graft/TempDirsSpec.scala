package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Test suites make their temp dirs through [[TempDirs]] and nowhere
  * else, so a tier-1 run leaves none behind. */
class TempDirsSpec extends AnyFunSuite {

  private class Probe extends AnyFunSuite with TempDirs {
    def make(prefix: String): Path = tempDir(prefix)
  }

  test("a TempDirs suite deletes its dirs and their contents in afterAll") {
    val probe = new Probe
    val dirs = Seq(probe.make("tempdirs-a"), probe.make("tempdirs-b"))
    Files.createDirectories(dirs.head.resolve("nested"))
    Files.write(dirs.head.resolve("nested/f"), Array[Byte](1, 2))
    assert(dirs.forall(Files.isDirectory(_)))
    probe.afterAll()
    assert(dirs.forall(!Files.exists(_)))
  }

  test("TempDirs.scala is the only src/test file that makes a temp dir") {
    val root = Paths.get("src/test")
    val call = ("createTemp" + "Directory").r
    val makers = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => call.findFirstIn(
        new String(Files.readAllBytes(p), ISO_8859_1)).isDefined)
      .map((p: Path) => root.relativize(p).toString).toSeq
    assert(makers == Seq("scala/graft/TempDirs.scala"))
  }
}
