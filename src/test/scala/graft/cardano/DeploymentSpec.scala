package graft.cardano

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The container recipe runs the daemon: `docker/Dockerfile`'s CMD names a
  * main that accepts its arguments and a source the image can read, and
  * `docker/docker-compose.yml` mounts the store and the source the CMD
  * names. Docker itself is not needed.
  */
class DeploymentSpec extends AnyFunSuite {

  private def read(path: String) = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** The exec-form CMD of the Dockerfile, its `\` continuations joined. */
  private lazy val cmd: Seq[String] = {
    val text = read("docker/Dockerfile").replace("\\\n", " ")
    val line = text.linesIterator.map(_.trim).filter(_.startsWith("CMD ")).toSeq
    assert(line.size == 1, s"one CMD expected: $line")
    val json = line.head.stripPrefix("CMD ").trim
    assert(json.startsWith("[") && json.endsWith("]"), s"CMD must be in exec form: $json")
    "\"([^\"]*)\"".r.findAllMatchIn(json).map(_.group(1)).toSeq
  }

  private lazy val mainClass: String = cmd(cmd.indexOf("--class") + 1)

  /** The application arguments: what follows the jar. */
  private lazy val appArgs: Seq[String] = cmd.drop(cmd.indexWhere(_.endsWith(".jar")) + 1)

  private lazy val compose: Seq[String] = read("docker/docker-compose.yml").linesIterator.toSeq

  /** The volume compose mounts at `target`: a named volume declared at the
    * top level, or a bind-mounted path. */
  private def volumeAt(target: String): Option[String] = {
    val mounts = compose.map(_.trim).filter(_.startsWith("- ")).map(_.drop(2).trim)
      .flatMap(m => m.split(":") match {
        case Array(volume, target, _*) => Some(volume -> target)
        case _ => None
      })
    mounts.collectFirst { case (v, `target`) => v }.filter(v =>
      v.startsWith("/") || v.startsWith(".") || compose.contains(s"  $v:"))
  }

  test("the Dockerfile's CMD runs an object with a main, and sets no master or Spark conf") {
    assert(cmd.head.endsWith("spark-submit"), cmd)
    assert(cmd.contains("--class"), cmd)
    assert(!cmd.exists(a => a == "--master" || a == "--conf" || a.startsWith("spark.")), cmd)
    val main = Class.forName(mainClass).getMethod("main", classOf[Array[String]])
    assert(java.lang.reflect.Modifier.isStatic(main.getModifiers), s"$mainClass.main")
  }

  test("the daemon accepts the CMD's arguments, and the image can read its source") {
    assert(mainClass == "graft.cardano.Daemon")
    val (root, source) = Daemon.parseArgs(appArgs)
    assert(root.startsWith("/"), s"the store root must be an absolute path: $root")
    for (bad <- Seq(Nil, Seq("a", "b", "c")))
      intercept[IllegalArgumentException](Daemon.parseArgs(bad))
    source match {
      case Some(dir) if !JdbcSource.isJdbc(dir) =>
        assert(volumeAt(dir).nonEmpty, s"compose mounts no volume at the source $dir")
      case _ => // the PANTASIA_CDB_* database, or a JDBC URL
        val driver = read("docker/Dockerfile").linesIterator.exists(l =>
          (l.startsWith("COPY ") || l.startsWith("ADD ")) &&
            l.contains("postgresql") && l.contains("/opt/spark/jars"))
        assert(driver, "the CMD's source is a JDBC database, and the image has no JDBC driver")
    }
  }

  test("compose keeps the store root on a volume and outwaits the stop hook") {
    val (root, _) = Daemon.parseArgs(appArgs)
    assert(volumeAt(root).nonEmpty, s"compose mounts no declared volume at the store root $root")
    // docker stop's SIGKILL must not cut the wait of SyncDriver's stop hook,
    // nor the wait Hadoop then gives Spark's own hook
    val grace = compose.map(_.trim).collectFirst {
      case l if l.startsWith("stop_grace_period:") =>
        l.stripPrefix("stop_grace_period:").trim.stripSuffix("s").toInt
    }
    val hooks = SyncDriver.StopTimeoutSeconds +
      org.apache.hadoop.fs.CommonConfigurationKeysPublic.SERVICE_SHUTDOWN_TIMEOUT_DEFAULT
    assert(grace.exists(_ > hooks), s"stop_grace_period must exceed $hooks s: $grace")
  }
}
