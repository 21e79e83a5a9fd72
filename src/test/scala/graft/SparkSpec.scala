package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** A private copy of a committed index directory, for a spec that
    * warms, tombstones or compacts it without touching a shared index. */
  def copyIndex(i: graft.index.InvertedIndex, prefix: String): graft.index.InvertedIndex = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(i.dir)
    val dst = Files.createTempDirectory(prefix)
    Files.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
    graft.index.InvertedIndex.open(spark, dst.toString)
  }
}
