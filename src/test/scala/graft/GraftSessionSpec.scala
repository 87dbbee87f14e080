package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Session-config drift guard: the suite's session carries every key the
  * factory sets, and no main source builds a session of its own.
  */
class GraftSessionSpec extends SparkSuite {

  test("the test session resolves every factory key as a default session does") {
    GraftSession.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"($k)")
    }
    assert(spark.catalog.functionExists("multi_match")) // GraftExtensions
    // the two deliberate differences: a fixed 4-core width
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("SparkSession.builder() appears under src/main only in GraftSession") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val builders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).filter { p =>
        Files.readString(p).linesIterator.exists { l =>
          val code = l.trim
          // comments (the GraftExtensions scaladoc) do not build sessions
          code.contains("SparkSession.builder()") &&
            !code.startsWith("*") && !code.startsWith("//")
        }
      }.map(_.getFileName.toString).toList
      finally walk.close()
    assert(builders === List("GraftSession.scala"))
  }
}
