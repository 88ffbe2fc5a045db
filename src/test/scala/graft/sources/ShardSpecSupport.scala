package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge

import graft.SparkSpec

/** One temp root per suite under `java.io.tmpdir`: every table,
  * warehouse and checkpoint dir the suite makes through [[tmp]] lives
  * under it, and `afterAll` deletes it. A suite calls
  * [[leavesNoTempDirs]] last, so its final test proves the suite left
  * no `gshard_*` entry in the temp dir. */
trait ShardTempRoot extends SparkSpec {

  private val tmpBase = Paths.get(System.getProperty("java.io.tmpdir"))

  private def gshardEntries(): Set[String] =
    Files.list(tmpBase).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gshard_")).toSet

  private lazy val preexisting = gshardEntries()

  private lazy val root: Path = {
    preexisting
    Files.createTempDirectory(s"gshard_${getClass.getSimpleName}_")
  }

  protected def tmp(tag: String): String =
    Files.createTempDirectory(root, tag).toString

  private def deleteRoot(): Unit = {
    preexisting
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    preexisting
  }

  override def afterAll(): Unit =
    try deleteRoot() finally super.afterAll()

  protected def leavesNoTempDirs(): Unit =
    test("the suite leaves no gshard_* entry in java.io.tmpdir") {
      deleteRoot()
      val left = gshardEntries() -- preexisting
      assert(left.isEmpty, s"left behind: $left")
    }
}

/** Counts the Spark jobs a block starts. */
object JobCount {
  /** The listener bus is drained before the listener attaches and
    * before it detaches, so exactly the jobs `body` started count. */
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      PlanBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

/** Counts the classes Spark's code generator compiles while a block
  * runs: the change in Janino's compile counter, which is JVM-wide, so
  * it holds for suites that run one at a time. A plan whose generated
  * source is already in the codegen cache compiles none. */
object CompileCount {
  def apply(body: => Unit): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }
}
