package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every session comes from [[Session]]. A suite that builds its own
  * session first would make every later suite in the forked test JVM
  * inherit its master and warehouse dir, and a main that does would drift
  * from the shared confs. */
class SessionSpec extends SparkSpec {

  test("no file under src/ except graft.Session calls the session builder") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"expected the repo root as cwd, got ${Paths.get("").toAbsolutePath}")
    // split so this file does not match itself
    val builderCall = ("SparkSession" + """\s*\.\s*builder""").r
    val walk = Files.walk(src)
    val hits = try walk.iterator.asScala
      .filter(Files.isRegularFile(_))
      .filter(p => builderCall.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).nonEmpty)
      .map(src.relativize(_).toString).toSet
    finally walk.close()
    assert(hits == Set("main/scala/graft/Session.scala"))
  }

  test("the shared session carries the shared confs and the graft functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sql("SELECT graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }
}
