package graft

/** Dev tool: where a query's time goes. The bench's per-query seconds are
  * dominated by fixed per-job costs (action count, localCheckpoint
  * materializations, driver round-trips), so this answers "how many Spark
  * jobs does it run, where does the task time go, and how much of the wall
  * has no stage running" without the UI. Usage:
  *   sbt "runMain graft.Profile <sfDir> q1,q2,..."
  * Runs each query twice after Bench's warm-up and reports the second run:
  * one line with wall, DataFrame build and execution time, jobs, stages,
  * tasks, task time, shuffle bytes, summed stage wall, the gap (wall
  * minus summed stage wall: driver time with no stage running, understated
  * when stages overlap) and the Catalyst phase times of the counting plan,
  * then one line per stage. Dev-only: never part of the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Graft.session("profile")
    val sc = spark.sparkContext
    Bench.warmUp(spark, sfDir)
    val stats = JobStats.install(sc)
    val mb = 1048576.0
    // a name listed twice would share its phases with the first listing
    names.split(",").distinct.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] unknown query: $name")
        case Some(fn) =>
          // each run is its own phase, so the first run's late events
          // cannot land in the second run's counts
          val runs = (1 to 2).map { run =>
            val (wallMs, buildMs, execMs, counted) = JobStats.phase(sc, s"$name#$run") {
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              val t1 = System.nanoTime()
              // df.count() as a Dataset of its own, whose planning tracker
              // records the Catalyst phase times of the counting plan
              val counted = df.groupBy().count()
              counted.collect()
              val t2 = System.nanoTime()
              ((t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, counted)
            }
            Bench.cleanUp(spark)
            (wallMs, buildMs, execMs, counted, stats(s"$name#$run"))
          }
          val (wallMs, buildMs, execMs, counted, t) = runs.last
          val phases = counted.queryExecution.tracker.phases
            .map { case (k, v) => s"$k=${v.durationMs}ms" }.mkString(" ")
          println(f"[profile] $name%-28s wall=${wallMs / 1000}%7.3f s build=$buildMs%6.0f ms " +
            f"exec=$execMs%7.0f ms jobs=${t.jobs}%4d stages=${t.stages}%4d tasks=${t.tasks}%5d " +
            f"taskTime=${t.runMs / 1000.0}%8.2f s shufR=${t.shuffleReadBytes / mb}%7.1f MB " +
            f"shufW=${t.shuffleWriteBytes / mb}%7.1f MB stageWall=${t.stageWallMs}%6d ms " +
            f"gap=${wallMs - t.stageWallMs}%7.0f ms $phases")
          t.stageRows.foreach { s =>
            println(f"[stage] id=${s.id}%4d wallMs=${s.wallMs}%6d tasks=${s.tasks}%4d " +
              f"runMs=${s.runMs}%7d cpuMs=${s.cpuMs}%7d fetchWaitMs=${s.fetchWaitMs}%6d " +
              f"writeMs=${s.shuffleWriteMs}%6d gcMs=${s.gcMs}%6d desMs=${s.deserializeMs}%6d " +
              f"resMs=${s.resultSerializeMs}%5d name=${s.name.take(60)}")
          }
      }
    }
    spark.stop()
  }
}
