package graft.cardano

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The daemon as deployed: its own JVM, stopped by SIGTERM. */
class DaemonSpec extends AnyFunSuite with SparkTest {

  /** A daemon JVM over `args`: the test classpath, this JVM's
    * `--add-opens`, a small heap, two cores, no `PANTASIA_*` env but
    * `env` and an empty working directory (so no `.env` file); stderr goes
    * to `err`.
    */
  private def daemon(args: Seq[String], err: Path,
      env: Map[String, String] = Map.empty): Process = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val opens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", v) => Seq("--add-opens", v)
      case _ => Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx768m") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.cardano.Daemon") ++ args
    val pb = new ProcessBuilder(cmd.asJava)
      .directory(Files.createTempDirectory("daemon-cwd").toFile)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(err.toFile)
    pb.environment().keySet().removeIf(_.startsWith(Settings.Prefix))
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().putAll(env.asJava)
    pb.start()
  }

  test("SIGTERM lets the period in flight commit, then the loop returns") {
    val src = Files.createTempDirectory("daemon-src").toString
    Fixture.write(spark, src)
    val root = Files.createTempDirectory("daemon-store").toString
    val store = new TableStore(spark, root)
    def version = store.currentVersion("asset_tx")
    val err = Files.createTempFile("daemon", ".err")
    val p = daemon(Seq(root, src), err)
    try {
      // the first period has committed, so the second is in flight; the
      // fixture has ten periods at the default 120-minute interval
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(3)
      while (version == 0 && p.isAlive && System.nanoTime() < deadline) Thread.sleep(50)
      assert(p.isAlive, s"daemon exited early:\n${new String(Files.readAllBytes(err), UTF_8)}")
      Thread.sleep(300)
      val committed = version
      p.destroy() // SIGTERM
      assert(p.waitFor(2, TimeUnit.MINUTES), "daemon did not exit after SIGTERM")
      val log = new String(Files.readAllBytes(err), UTF_8)
      // the period in flight commits; a signal that lands between two
      // periods stops the loop with none in flight
      val stopped = version
      assert(stopped == committed + 1 || stopped == committed,
        s"$committed periods had committed at SIGTERM, $stopped at exit:\n$log")
      assert(log.contains(s"stopped after $stopped periods"), log)
      assert(!log.contains("Exception"), log)
    } finally p.destroyForcibly()
  }

  test("a failing JDBC source is retried, and its password never reaches the log") {
    val root = Files.createTempDirectory("daemon-store").toString
    val err = Files.createTempFile("daemon", ".err")
    val password = "pw-" + java.util.UUID.randomUUID()
    // no source argument: the PANTASIA_CDB_* database, for which the test
    // classpath has no driver
    val p = daemon(Seq(root), err, Map(
      "PANTASIA_CDB_USER" -> "graft", "PANTASIA_CDB_PASS" -> password,
      "PANTASIA_MAX_RETRIES" -> "2", "PANTASIA_BACKOFF_MILLIS" -> "100"))
    try {
      assert(p.waitFor(2, TimeUnit.MINUTES), "daemon did not give up on the source")
      val log = new String(Files.readAllBytes(err), UTF_8)
      assert(p.exitValue() != 0, log)
      assert(log.contains("No suitable driver found for jdbc:postgresql://localhost:5433/cexplorer"), log)
      for (n <- 1 to 2) assert(log.contains(s"source tip probe failed, retry $n of 2"), log)
      assert(!log.contains(password), log)
    } finally p.destroyForcibly()
  }
}
