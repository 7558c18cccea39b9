package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan

/** Runs one workload in one process and writes its raw measurements as
  * JSON; `perfbench/run.py` turns them into metrics.
  *
  * Flow: set-up (JVM start to a ready session), one cold run,
  * [[WarmupRuns]] untimed warm-up runs, then warm runs until `--seconds`
  * have passed (at least [[MinWarmRuns]]). With `--trace 1` traced and
  * untraced warm runs alternate. [[Speed]] probes are taken before the
  * cold run and around every timed warm run. After timing,
  * [[ExtraSetups]] more set-ups (stop the session, start a new one) give
  * the set-up median.
  *
  * Spark gets one core less than the machine, `local[<cores - 1>]`: the
  * driver thread, the JIT compilers and the collector then have a core,
  * which made the cold run steadier from run to run on a 4-core box.
  *
  * Usage: Harness --workload W --data DIR --ref REF.json --work DIR
  *                --out OUT.json --seconds S --trace 0|1
  */
object Harness {
  /** Warm runs per process at least, so that `run_s` is a median of five
    * even when `--seconds` is short; with `--trace 1`, three of each kind. */
  val MinWarmRuns = 5
  /** Warm runs before timing: the JIT is still compiling the pipeline's
    * driver-side paths (analysis, planning) over the first runs after the
    * cold one; on 4 cores the warm time falls by a quarter over the first
    * two and levels off after about eight. More would not fit the time a
    * run may take. */
  val WarmupRuns = 2
  val ExtraSetups = 5
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val epochNs = System.nanoTime()
  val rec = new Recorder(epochNs)

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def listFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.isFile)

  /** Jobs started so far in the context's run (traced runs only). */
  def jobCount(c: Ctx): Double =
    if (!c.traced) 0.0
    else { drainBus(c.spark); rec.countersOf(c.run).getOrElse("jobs", 0.0) }

  def lastWritePlan: Option[SparkPlan] = rec.lastPlan

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // a run compiles about 100 generated classes; at the default cache
      // size (100) the LRU cycles and every warm run recompiles
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark
  }

  private def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad flag $k"); k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val known = Set("workload", "data", "ref", "work", "out", "seconds", "trace")
    require(a.keySet.subsetOf(known), s"unknown flags: ${(a.keySet -- known).mkString(", ")}")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val cores = math.max(1, cpus - 1)
    val ref: Map[String, String] = mapper.readValue(new File(a("ref")), classOf[Map[String, String]])
    val wl = Workloads(a("workload"), a("data"), ref)

    // set-up 0 is counted from JVM start: it pays class loading too
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, work)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)

    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed, refused = 0
    val extras = mutable.Map.empty[Int, mutable.Map[String, Double]]
    val probes = mutable.ArrayBuffer.empty[Map[String, Double]]
    def probe(): Unit = probes += Map("at" -> rec.now(), "s" -> Speed.probe(cpus))
    val sink = s"$work/sink"

    def reset(): Unit = {
      graft.SparkUtil.unpersistTrackedCaches()
      spark.catalog.clearCache()
      System.gc()
    }

    def oneRun(id: Int, kind: String, trace: Boolean): Unit = {
      reset()
      attempted += 1
      val ex = mutable.Map.empty[String, Double]
      val ctx = new Ctx(spark, id, trace, rec, sink, ex)
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      spark.sparkContext.setJobGroup(s"run-$id", kind, interruptOnCancel = false)
      val t0 = rec.now()
      val outcome = try Right(rec.span("run", "", id)(wl.run(ctx))) catch {
        case NonFatal(e) => Left(e)
      } finally spark.sparkContext.clearJobGroup()
      val t1 = rec.now()
      drainBus(spark)
      rec.takeQueryExecutions(id)
      rec.add(id, "codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1)
      rec.add(id, "codegen_compile_s", (CodeGenerator.compileTime - cg0._2) / 1e9)
      val verdict = outcome match {
        case Left(e: graft.GuardRefusal) => refused += 1; Some(s"refused: ${e.getMessage}")
        case Left(e) => failed += 1; Some(s"${e.getClass.getName}: ${e.getMessage}")
        case Right(o) =>
          val bad = try o.check() catch { case NonFatal(e) => Some(s"check threw $e") }
          if (bad.isDefined) failed += 1
          if (trace) ex ++= (try o.extras() catch { case NonFatal(_) => Map.empty[String, Double] })
          bad
      }
      verdict.foreach(v => errors += s"run $id: $v")
      extras(id) = ex
      runs += Map("id" -> id, "kind" -> kind, "start" -> t0, "end" -> t1,
        "wall" -> (t1 - t0), "ok" -> verdict.isEmpty, "counters" -> rec.countersOf(id))
    }

    Speed.probe(cpus) // JIT-compiles the probe itself
    for (_ <- 1 to 2) probe()
    var id = 0
    oneRun(id, "cold", trace = false)
    for (_ <- 1 to WarmupRuns) { id += 1; oneRun(id, "warmup", trace = false) }
    val warm0 = rec.now()
    var warm = 0
    while (warm < MinWarmRuns || rec.now() - warm0 < seconds) {
      id += 1; warm += 1
      val t = traced && warm % 2 == 0
      probe()
      oneRun(id, if (t) "traced" else "warm", t)
    }
    if (traced && warm % 2 == 1) { id += 1; probe(); oneRun(id, "traced", trace = true) }
    probe()

    val sinkFiles = listFiles(sink).filter(_.getName.endsWith(".parquet"))
    val peakRss = vmHwmMb()

    // set-ups 1 to ExtraSetups: a fresh session in this JVM
    for (_ <- 1 to ExtraSetups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      setups += (System.nanoTime() - t0) / 1e9
    }
    spark.stop()

    val out = Map(
      "workload" -> a("workload"),
      "cores" -> cores,
      "setup_s" -> setups.toSeq,
      "runs" -> runs.toSeq,
      "probes" -> probes.toSeq,
      "extras" -> extras.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "spans" -> rec.spanList.map(s => Map("name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "run" -> s.run)),
      "jobs" -> rec.jobList.map { case (r, s, e) => Map("run" -> r, "start" -> s, "end" -> e) },
      "attempted" -> attempted, "failed" -> failed, "refused" -> refused,
      "errors" -> errors.toSeq,
      "peak_rss_mb" -> peakRss,
      "sink_mb" -> sinkFiles.map(_.length).sum / 1e6,
      "sink_files" -> sinkFiles.size)
    Files.write(Paths.get(a("out")), mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
  }
}
