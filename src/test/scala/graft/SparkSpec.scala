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

  /** A temp copy of the tree with one more file, `graft/<name>`. */
  def copyWith(name: String, source: String): java.io.File = {
    val main = new java.io.File("src/main/scala").toPath
    val copy = java.nio.file.Files.createTempDirectory("mainsrc")
    for (f <- files()) {
      val to = copy.resolve(main.relativize(f.toPath))
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(f.toPath, to)
    }
    java.nio.file.Files.writeString(copy.resolve(s"graft/$name"), source)
    copy.toFile
  }

  def lines(f: java.io.File): IndexedSeq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
  }
}
