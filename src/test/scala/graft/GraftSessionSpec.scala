package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The engine's entry points cannot drift apart: a session from
  * [[GraftSession.build]] carries every engine config, and no other
  * `src/main` file builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite with SparkFixture {

  test("a built session and the suite sessions cut from it carry " +
      "every engine config") {
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    for (s <- Seq(SparkFixture.root, spark)) {
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
      assert(s.conf.get("spark.sql.optimizer.excludedRules") ==
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // the extensions are installed, not just named
      assert(s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("graft_long_dot")))
    }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
  }

  test("GraftSession.scala is the only src/main file that builds a " +
      "SparkSession") {
    val root = Paths.get("src/main")
    val builders = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => "SparkSession\\s*\\.\\s*builder\\b".r
        .findFirstIn(new String(Files.readAllBytes(p), ISO_8859_1)).isDefined)
      .map((p: Path) => root.relativize(p).toString).toSeq
    assert(builders == Seq("scala/graft/GraftSession.scala"))
  }
}
