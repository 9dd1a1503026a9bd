package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Guards the one-session-factory rule: the suites run on
  * [[Session.local]]'s contract (Bench's session at width 4), and no
  * main builds a session of its own.
  */
class SessionSpec extends AnyFunSuite {
  test("LocalSpark is built by Session.local and carries its contract") {
    val spark = LocalSpark.spark
    val conf = spark.conf
    assert(spark.catalog.functionExists("cosine_similarity"),
      "GraftExtensions must be installed")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("SparkSession.builder( appears in src/main/scala only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
    assert(builders == Set("graft/Session.scala"),
      s"build sessions through graft.Session.local, not here: $builders")
  }
}
