package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate — one session
  * per forked test JVM; never stopped so suites can run in any order). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("graft-test")

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** sf0.001 corpus dir (smallest driver-generated test data). */
  val sfTiny = "/root/testdata/sf0.001"
}

/** The `src/main/scala` tree, for the source-scan guard tests (suites
  * fork from the repository root). */
object MainSources {
  def files(root: java.io.File = new java.io.File("src/main/scala"))
      : Seq[java.io.File] = {
    require(root.isDirectory,
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    sources(root)
  }

  def lines(f: java.io.File): IndexedSeq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
  }
}
