package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Shared local session for all suites (one JVM-wide session — Spark
  * reuses the active session across `getOrCreate` calls). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val fixturesDir: String = SparkSpec.fixturesDir
  def sf(dir: String): String = s"/root/testdata/$dir"

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** Deletes `p`, with its contents, after the suite; returns `p`. */
  def removeAfterAll(p: Path): Path = { temps.add(p); p }

  /** A new temporary directory, deleted with its contents after the
    * suite. */
  def tempDir(prefix: String): Path =
    removeAfterAll(Files.createTempDirectory(prefix))

  /** A new temporary file, deleted after the suite. */
  def tempFile(prefix: String, suffix: String): Path =
    removeAfterAll(Files.createTempFile(prefix, suffix))

  override def afterAll(): Unit =
    try temps.forEach(SparkSpec.deleteRecursively(_))
    finally super.afterAll()

  /** Runs `body` and returns its result with the number of Spark jobs
    * it submitted. Only jobs carrying a local property set on this
    * thread count, so jobs of other threads do not; a marker job run
    * afterwards shows that every earlier job event has been delivered. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.probe"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag/marker" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val r = try body finally sc.setLocalProperty(key, s"$tag/marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start event never arrived")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  val fixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES", "src/test/resources/fixtures")

  /** Deletes `root` and everything under it, children first. Best
    * effort: a path left behind is not a test failure. */
  private def deleteRecursively(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.deleteIfExists(_))
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // managed-table layouts (the bucketed-join suite) belong under
      // the JVM tmpdir, not an untracked ./spark-warehouse in the
      // repo root
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_test_warehouse")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
