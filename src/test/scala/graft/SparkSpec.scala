package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (getOrCreate — one session
  * per forked test JVM; never stopped so suites can run in any order). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("graft-test")

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** sf0.001 corpus dir (smallest driver-generated test data). */
  val sfTiny = "/root/testdata/sf0.001"

  /** Every job start seen while `body` runs, plus a settle period after
    * it; jobs submitted inside `body` carry the local property
    * `graft.test.probe`. The bus delivers events in order, so once a
    * sentinel job submitted afterwards is seen, every earlier one is. */
  protected def recordJobs[T](settle: FiniteDuration = Duration.Zero)(body: => T)
      : (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.add(e); () }
    }
    def probe(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("graft.test.probe")).orNull
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", "body")
      val out = try body finally sc.setLocalProperty("graft.test.probe", null)
      Thread.sleep(settle.toMillis)
      sc.setLocalProperty("graft.test.probe", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.probe", null)
      val until = System.nanoTime() + 30.seconds.toNanos
      while (!seen.asScala.exists(probe(_) == "sentinel") && System.nanoTime() < until)
        Thread.sleep(20)
      (out, seen.asScala.toSeq.filter(probe(_) != "sentinel"))
    } finally sc.removeSparkListener(listener)
  }

  protected def inBody(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("graft.test.probe") == "body")
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
