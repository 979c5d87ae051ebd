package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** `GraftSession.builder` is the engine's only session configuration. */
class GraftSessionSpec extends AnyFunSuite {

  /** The options a builder has collected so far, read without creating a
    * session (the spec JVM already holds one, and `getOrCreate` would
    * return it). */
  private def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("builder(cpus) sets master and shuffle partitions from its argument") {
    // differs from the environment's SPARK_GRAFT_CPUS, so a value taken
    // from the environment cannot pass
    val cpus = if (GraftSession.cpus == "3") "5" else "3"
    val opts = options(GraftSession.builder(cpus))
    assert(opts.get("spark.master").contains(s"local[$cpus]"))
    assert(opts.get("spark.sql.shuffle.partitions").contains(cpus))
  }

  test("no session is configured outside GraftSession") {
    val call = Seq("SparkSession", "builder()").mkString(".")
    val root = Paths.get("src")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("core", "GraftSession.scala")))
      .filter(p => Files.readString(p).contains(call))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, s"sessions built outside GraftSession: $offenders")
    assert(Files.readString(root.resolve("main/scala/graft/core/GraftSession.scala"))
      .contains(call))
  }
}
