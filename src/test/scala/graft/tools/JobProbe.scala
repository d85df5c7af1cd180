package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: run SparkEntry queries and print every Spark JOB each
  * schedules — start offset, duration, and the call site — so the
  * sequential-materialization floor of a query (eager localCheckpoints,
  * broadcast builds, fixpoint probes) is visible without the UI, plus
  * how many of them ran before the query returned its DataFrame
  * (the construction jobs).
  * Usage: sbt "Test/runMain graft.tools.JobProbe <query[,query...]> [sfDir] [passes]"
  * (SPARK_GRAFT_CPUS sets the task slots, default 4)
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    // task slots as in Bench and Verify: local[N] and N shuffle partitions
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // same extra-conf seam as ConfBench: A/B a conf at job granularity
    sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "").split(";")
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"[jobprobe] conf $k=$v")
        builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs =
      List.empty[(Int, Long, Long, String)] // id, start, end, site
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the result stage's name carries the action call site
        // ("localCheckpoint at Curation.scala:41"); tasks counted across
        // all stages of the job
        val site = j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        val tasks = j.stageInfos.map(_.numTasks).sum
        starts.put(j.jobId, (j.time, s"tasks=$tasks  $site"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, site) = starts.getOrDefault(j.jobId, (j.time, "?"))
        jobs synchronized { jobs = (j.jobId, t0, j.time, site) :: jobs }
      }
    })
    def once(name: String, label: String): Unit = {
      jobs = Nil
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // listener bus is async; give it a beat to drain
      Thread.sleep(300)
      val construct = jobs.size
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val js = jobs.sortBy(_._2)
      val base = js.headOption.map(_._2).getOrElse(0L)
      println(f"[jobprobe] $label $name wall=$wall%.2f s, ${js.size} jobs, $construct construct")
      js.foreach { case (id, t0j, t1j, site) =>
        println(f"[jobprobe]   job $id%3d +${(t0j - base) / 1e3}%7.2f s  dur ${(t1j - t0j) / 1e3}%6.2f s  $site")
      }
    }
    for (name <- names; p <- 1 to passes) once(name, s"pass$p")
    spark.stop()
  }
}
