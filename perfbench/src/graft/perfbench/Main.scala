package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession

/** The workload benchmark's driver. One process, one driver thread:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Set-up (session start plus the median of three input generations)
  * is timed as `setup_s`. Passes are timed in wall time and in process
  * CPU time; the CPU figures are the bounded end-to-end metrics.
  * The first pass is the cold pass; warm passes follow for `--seconds`
  * (at least [[MinWarm]]). A pass issues every call of the workload;
  * each call is timed as construct (until it returns a DataFrame), plan
  * (forcing the executed plan) and exec (a noop write that also observes
  * the result summary the output checks read). With `--trace 1` a
  * [[JobListener]] counts Spark work per span; warm passes alternate
  * traced and untraced so the tracing overhead is measured in the same
  * run.
  *
  * The last stdout line is one JSON object; the exit code is 0 only when
  * every call ran and every output check held. The working directory
  * (inputs, state, warehouse, Spark scratch) is `-Dperfbench.work`. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  final case class PassRec(no: Int, cold: Boolean, traced: Boolean,
      ms: Double, wallMs: Double, cpuMs: Double, builds: Long, filesWritten: Int,
      bytesWritten: Long)

  /** Warm passes a run makes even past `--seconds`: the first warm pass
    * still carries JIT settling, so the median needs three. */
  val MinWarm = 3

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(args.length == 2 * kv.size, s"bad arguments: ${args.mkString(" ")}")
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
    require(o.seconds >= 1, s"--seconds must be >= 1, got ${o.seconds}")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val wl = Workloads.byName(o.workload).getOrElse {
      System.err.println(s"unknown workload ${o.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val work = sys.props.get("perfbench.work").map(new File(_).getAbsoluteFile).getOrElse {
      System.err.println("set -Dperfbench.work to the run's working directory"); sys.exit(2)
    }
    work.mkdirs()
    sys.exit(new Run(o, wl, work).run())
  }

  def session(work: File): SparkSession = {
    // one core stays free for the driver thread, JIT and GC: the passes
    // are bound by driver-side job overhead, and runs spread less with it
    val n = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def say(s: String): Unit = println(s"[perfbench] $s")

  /** CPU time of every thread of this process (driver, executors, JIT,
    * GC). Time the host takes from the machine (steal) is not in it. */
  def processCpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
}

/** Every SessionCache in the library, found by reflection, so cache
  * builds can be counted without touching the library. */
object Caches {
  private lazy val fields: Seq[(java.lang.reflect.Field, AnyRef)] = {
    val loc = classOf[graft.SessionCache[_, _]].getProtectionDomain.getCodeSource.getLocation
    val root = new File(loc.toURI)
    val names =
      if (!root.isDirectory) Nil
      else Files.walk(new File(root, "graft"))
        .map(f => root.toPath.relativize(f.toPath).toString)
        .filter(p => p.endsWith("$.class") && !p.startsWith("graft/perfbench"))
        .map(_.stripSuffix(".class").replace(File.separatorChar, '.'))
    val loader = getClass.getClassLoader
    names.flatMap { n =>
      val cls = Class.forName(n, false, loader)
      val fs = cls.getDeclaredFields.filter(_.getType == classOf[graft.SessionCache[_, _]])
      if (fs.isEmpty) Nil
      else {
        val module = cls.getField("MODULE$").get(null)
        fs.map { f => f.setAccessible(true); (f, module) }.toSeq
      }
    }
  }

  def builds: Long = fields.map { case (f, m) =>
    f.get(m) match {
      case c: graft.SessionCache[_, _] => c.builds.get()
      case _ => 0L // a lazy cache not built yet
    }
  }.sum
}

final class Run(o: Main.Opts, wl: Workload, work: File) {
  import Main._

  private val tracer = new Tracer
  private val listener = new JobListener
  private var listening = false
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val passes = mutable.ArrayBuffer.empty[PassRec]
  private var reference = Map.empty[String, String]
  private var spark: SparkSession = _

  def run(): Int = {
    val t0 = tracer.nowMs
    spark = session(work)
    try measure(tracer.nowMs - t0) finally spark.stop()
  }

  private def setListening(on: Boolean): Unit = if (on != listening) {
    ListenerDrain.drain(spark.sparkContext)
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    listening = on
  }

  private def measure(sessionMs: Double): Int = {
    // set-up: the session start plus input generation; the inputs are
    // generated three times into fresh directories and the median taken
    val gens = (0 until 3).map { i =>
      val t = tracer.nowMs
      val in = wl.generate(spark, o.seed, new File(work, s"inputs/seed-${o.seed}-$i"))
      (tracer.nowMs - t, in)
    }
    val in = gens.head._2
    val setupS = (sessionMs + Stats.median(gens.map(_._1))) / 1000
    say(s"inputs ${wl.name} seed=${o.seed}: ${in.info}")
    say(f"setup_s=$setupS%.3f (session ${sessionMs / 1000}%.3f s + median input generation)")
    Caches.builds // find the caches before any pass is timed

    // the first pass of the process is the cold pass: JIT, codegen and
    // every artifact build, as a nightly job started afresh pays them
    val sess = spark.newSession()
    val state = new File(work, "state")
    pass(sess, in, state, 0, cold = true, traced = o.trace)
    val deadline = tracer.nowMs + o.seconds * 1000.0
    var warmNo = 0
    def more = warmNo < MinWarm || tracer.nowMs + passes.last.wallMs <= deadline
    while (more) {
      warmNo += 1
      pass(sess, in, state, warmNo, cold = false, traced = o.trace && warmNo % 2 == 1)
    }
    val warm = passes.filterNot(_.cold).toSeq
    val coldS = passes.head.ms / 1000
    val warmS = Stats.median(warm.map(_.ms)) / 1000
    // process CPU time per pass is what the bounds apply to: on a shared
    // 4-core VM, steal time moved wall time by up to 30% between runs
    val coldCpuS = passes.head.cpuMs / 1000
    val warmCpuS = Stats.median(warm.map(_.cpuMs)) / 1000
    val failedRatio = failures.length.toDouble / math.max(1, attempted)
    def tail(xs: Seq[Double]) =
      Stats.tail(xs, 90).fold("no p90: fewer than 10 samples beyond it")(v => f"p90=$v%.4f")
    say(f"cold_s=$coldS%.4f cold_cpu_s=$coldCpuS%.4f (the first pass)")
    say(f"warm_s=$warmS%.4f (median of ${warm.length} warm passes; ${tail(warm.map(_.ms / 1000))})")
    say(f"warm_cpu_s=$warmCpuS%.4f (median of ${warm.length} warm passes; ${tail(warm.map(_.cpuMs / 1000))})")
    say(f"rows_per_s=${in.rows / warmS}%.1f rows_per_cpu_s=${in.rows / warmCpuS}%.1f (${in.rows} input rows)")
    say(f"failed_ratio=$failedRatio%.4f (${failures.length} failed of $attempted calls)")
    say(f"written_mb=${Stats.median(warm.map(_.bytesWritten / 1e6))}%.4f per warm pass")
    failures.foreach(f => say(s"FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"), ("cold_cpu_s", coldCpuS, "s"), ("warm_cpu_s", warmCpuS, "s"),
        ("rows_per_cpu_s", in.rows / warmCpuS, "1/s"))
      else new Layers(in, failedRatio).metrics
    val js = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.length}, "metrics": {$js}}""")
    if (failures.isEmpty) 0 else 1
  }

  private def pass(sess: SparkSession, in: Inputs, state: File, no: Int,
      cold: Boolean, traced: Boolean): Unit = {
    setListening(traced)
    val ctx = Ctx(sess, in, state)
    state.mkdirs()
    val before = Files.snapshot(state)
    val builds0 = Caches.builds
    val start = tracer.nowMs
    val cpu0 = processCpuMs
    var ms = 0.0
    val sums = mutable.LinkedHashMap.empty[String, Stats.Summary]
    tracer.span(s"pass-$no", "driver", "pass", no) {
      if (traced) {
        tracer.span("scan", "sources", "scan", no) {
          wl.scan(ctx).write.format("noop").mode("overwrite").save()
        }
      }
      for (c <- wl.calls) {
        attempted += 1
        try {
          val t = tracer.nowMs
          val summary = tracer.span(c.name, c.module, "call", no) {
            val (df, summary) =
              Stats.observed(tracer.span(c.name, c.module, "construct", no)(c.run(ctx)))
            tracer.span(c.name, c.module, "plan", no)(df.queryExecution.executedPlan)
            tracer.span(c.name, c.module, "exec", no)(df.write.format("noop").mode("overwrite").save())
            summary
          }
          ms += tracer.nowMs - t
          sums(c.name) = summary()
        } catch {
          case NonFatal(e) => failures += s"pass $no ${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    }
    val wall = tracer.nowMs - start
    val cpu = processCpuMs - cpu0
    val (files, bytes) = Files.written(before, Files.snapshot(state))
    if (sums.size == wl.calls.size) {
      failures ++= wl.check(in, sums.toMap).map(m => s"pass $no: $m")
      val keys = sums.map { case (k, v) => k -> v.key }.toMap
      if (reference.isEmpty) reference = keys
      failures ++= keys.collect { case (k, v) if reference(k) != v =>
        s"pass $no $k: result digest $v differs from the cold pass's ${reference(k)}" }
    }
    passes += PassRec(no, cold, traced, ms, wall, cpu, Caches.builds - builds0, files, bytes)
    say(f"pass $no ${if (cold) "cold" else "warm"}${if (traced) " traced" else ""}: " +
      f"calls ${ms / 1000}%.3f s, wall ${wall / 1000}%.3f s, cpu ${cpu / 1000}%.3f s, " +
      f"cache builds ${Caches.builds - builds0}")
  }

  /** Per-layer metrics from the traced passes. */
  private final class Layers(in: Inputs, failedRatio: Double) {
    ListenerDrain.drain(spark.sparkContext)
    private val spans = tracer.spans.toIndexedSeq
    private val kids = spans.groupBy(_.parent)
    private val jobsOf = Trace.jobsBySpan(spans, listener.snapshot)
    private val byPass = spans.groupBy(_.pass)
    private val tracedWarm = passes.filter(p => !p.cold && p.traced).toSeq
    private val untracedWarm = passes.filter(p => !p.cold && !p.traced).toSeq
    private val cold = passes.filter(_.cold).toSeq
    private val warm = passes.filterNot(_.cold).toSeq
    private val callLayers = Set("construct", "plan", "exec")

    private def sel(p: PassRec, module: String, layers: Set[String]) =
      byPass.getOrElse(p.no, Nil).filter(s => (module == "*" || s.module == module) && layers(s.layer))
    private def self(ss: Seq[Span]) = ss.map(s => Trace.selfMs(s, kids.getOrElse(s.id, Nil))).sum
    private def jobs(ss: Seq[Span]) = ss.flatMap(s => jobsOf.getOrElse(s.id, Nil))
    private def med(ps: Seq[PassRec])(f: PassRec => Double) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))

    private def secs(module: String, layer: String) =
      med(tracedWarm)(p => self(sel(p, module, Set(layer)))) / 1000
    private def jobCount(module: String, layer: String) =
      med(tracedWarm)(p => jobs(sel(p, module, Set(layer))).size.toDouble)
    private def shuffleMb(module: String) =
      med(tracedWarm)(p => jobs(sel(p, module, callLayers)).map(_.shuffleWrite).sum / 1e6)

    private val scanS = secs("sources", "scan")
    private val coldConstruct = med(cold)(p => self(sel(p, "*", Set("construct"))))
    private val warmConstruct = med(tracedWarm)(p => self(sel(p, "*", Set("construct"))))
    private def passJobs(p: PassRec) = jobs(sel(p, "*", callLayers))

    private def storageMb: Double = {
      System.gc()
      Thread.sleep(300)
      ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    }

    def metrics: Seq[(String, Double, String)] = {
      val path = new File(work.getParentFile, "traces")
      path.mkdirs()
      java.nio.file.Files.writeString(new File(path, s"${wl.name}-seed${o.seed}.json").toPath,
        Trace.toJson(spans, listener.snapshot))
      Seq(
        ("driver.cold_s", passes.head.ms / 1000, "s"),
        ("driver.warm_s", med(warm)(_.ms) / 1000, "s"),
        ("graph.construct_s", secs("graph", "construct"), "s"),
        ("graph.construct_jobs", jobCount("graph", "construct"), "count"),
        ("graph.checkpoints", med(tracedWarm)(p =>
          jobs(sel(p, "graph", Set("construct"))).map(_.checkpoints).sum.toDouble), "count"),
        ("graph.plan_s", secs("graph", "plan"), "s"),
        ("graph.exec_s", secs("graph", "exec"), "s"),
        ("graph.exec_tasks", med(tracedWarm)(p =>
          jobs(sel(p, "graph", Set("exec"))).map(_.tasks).sum.toDouble), "count"),
        ("graph.shuffle_write_mb", shuffleMb("graph"), "MB"),
        ("graph.spill_mb", med(tracedWarm)(p =>
          jobs(sel(p, "graph", callLayers)).map(_.spill).sum / 1e6), "MB"),
        ("sources.scan_s", scanS, "s"),
        ("sources.scan_mb_per_s", if (scanS > 0) in.bytes / 1e6 / scanS else 0.0, "MB/s"),
        ("text.construct_s", secs("text", "construct"), "s"),
        ("text.construct_jobs", jobCount("text", "construct"), "count"),
        ("text.plan_s", secs("text", "plan"), "s"),
        ("text.exec_s", secs("text", "exec"), "s"),
        ("text.shuffle_write_mb", shuffleMb("text"), "MB"),
        ("ml.construct_s", secs("ml", "construct"), "s"),
        ("ml.plan_s", secs("ml", "plan"), "s"),
        ("ml.exec_s", secs("ml", "exec"), "s"),
        ("multimodal.construct_s", secs("multimodal", "construct"), "s"),
        ("multimodal.construct_jobs", jobCount("multimodal", "construct"), "count"),
        ("multimodal.plan_s", secs("multimodal", "plan"), "s"),
        ("multimodal.synth_s", med(tracedWarm)(p =>
          self(sel(p, "multimodal", Set("construct")).filter(_.name == NightlyIngest.SynthCall))) / 1000, "s"),
        ("cache.rebuild_s", (coldConstruct - warmConstruct) / 1000, "s"),
        ("cache.warm_to_cold_jobs",
          med(tracedWarm)(passJobs(_).size.toDouble) / math.max(1.0, med(cold)(passJobs(_).size.toDouble)),
          "ratio"),
        ("cache.warm_new_checkpoints", med(warm)(_.builds.toDouble), "count"),
        ("cache.storage_mb", storageMb, "MB"),
        ("sinks.written_mb", med(warm)(_.bytesWritten / 1e6), "MB"),
        ("sinks.files_written", med(warm)(_.filesWritten.toDouble), "count"),
        ("driver.jobs_per_pass", med(tracedWarm)(passJobs(_).size.toDouble), "count"),
        ("driver.ms_per_job", med(tracedWarm) { p =>
          val js = passJobs(p); if (js.isEmpty) 0.0 else js.map(_.ms).sum.toDouble / js.size }, "ms"),
        ("driver.job_overlap", med(tracedWarm)(p => passJobs(p).map(_.ms).sum / p.ms), "ratio"),
        ("driver.failed_ratio", failedRatio, "ratio"),
        ("trace.warm_s", med(tracedWarm)(_.ms) / 1000, "s"),
        ("trace.overhead_ratio", med(tracedWarm)(_.ms) / med(untracedWarm)(_.ms), "ratio"))
    }
  }
}
