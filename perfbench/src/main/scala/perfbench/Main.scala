package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.{GraftSession, SparkEntry, Timing}
import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload, one client, closed loop. Each
  * operation starts after the previous one finished; a pass runs
  * every operation of the workload once, in a seeded order. Writes the
  * raw samples (and, with `--trace 1`, the per-layer split) as JSON to
  * `--out`; `run.py` turns them into metrics.
  *
  *   --workload contract|afg   --seed N   --seconds S   --trace 0|1
  *   --tables DIR   (contract tables of the workload's scale)
  *   --probe-tables DIR   (sf0.1 tables the kernel probes read)
  *   --queries q1,q2,...   --work DIR   --out FILE   --cores N
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def now: Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  final case class Sample(op: String, pass: Int, traced: Boolean, wallS: Double, cpuS: Double,
                          err: Option[String], rows: Long, checksum: Option[Long])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cores = args.getOrElse("cores", "4")
    val minPasses = args.getOrElse("min-passes", "2").toInt

    val tStart = now
    val spark = GraftSession.localFs(GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp"))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = secs(tStart, now)

    // seeded raw inputs are data generation, not set-up: timed apart
    val tGen = now
    val afgInputs =
      if (kind == "afg" || trace) Some(AfgInputs(spark,
        s"$work/afg_inputs/seed_${seed}_rm${args("rm-comunas")}_er${args("er-rows")}", seed,
        args("rm-comunas").toInt, args("er-rows").toLong))
      else None
    val genS = secs(tGen, now)
    val afgOut = s"$work/afg_out"
    val afg = afgInputs.map(new Afg(spark, _, afgOut))

    val ops: Seq[Op] = kind match {
      case "contract" =>
        val queries = SparkEntry.queries
        val dir = args("tables")
        args("queries").split(",").toSeq.map { q =>
          val fn = queries.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))
          Op(q, () => fn(spark, dir), Ops.noopChecked)
        }
      case "afg" => afg.get.ops
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val records = mutable.ArrayBuffer.empty[String]
    var tracer: Option[Tracer] = None
    var opIndex = 0

    def runOp(op: Op, pass: Int): Sample = {
      op.prepare()
      opIndex += 1
      val sc = spark.sparkContext
      val tag = s"op$opIndex"
      var loaded: Option[Loaded] = None
      var err: Option[String] = None
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = now
      var buildEnd = t0
      var execStart = t0
      var builtAnalysisMs = 0L
      try {
        tracer.foreach { t => t.phase = s"$tag|build"; sc.setJobGroup(t.phase, op.name) }
        val df = op.build()
        buildEnd = now
        tracer.foreach { t =>
          // construction already analyzed the final plan: keep that phase
          builtAnalysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs)
            .getOrElse(0L)
          t.drain(); t.takeCatalyst(); t.phase = s"$tag|exec"; sc.setJobGroup(t.phase, op.name)
        }
        execStart = now
        loaded = Some(op.load(df))
      } catch {
        case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t1 = now
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val wall = secs(t0, buildEnd) + secs(execStart, t1)
      tracer.foreach { t =>
        sc.clearJobGroup()
        t.drain()
        val b = t.take(s"$tag|build")
        val x = t.take(s"$tag|exec")
        val c = t.takeCatalyst()
        val buildS = secs(t0, buildEnd)
        // the construction's own analysis already lies inside buildS
        val analysisMs = builtAnalysisMs + c.analysisMs
        val catS = (c.analysisMs + c.optimizationMs + c.planningMs) / 1e3
        val execS = x.execMs / 1e3
        val parts = buildS + catS + execS
        records += Json.obj(
          "op" -> op.name, "pass" -> pass, "wall_s" -> wall, "build_s" -> buildS,
          "build_jobs" -> b.jobs, "analysis_s" -> analysisMs / 1e3,
          "optimization_s" -> c.optimizationMs / 1e3, "planning_s" -> c.planningMs / 1e3,
          "exec_s" -> execS, "parts_s" -> parts, "parts_gap" -> math.abs(parts - wall) / wall,
          "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
          "task_failures" -> (x.taskFailures + b.taskFailures), "task_s" -> x.taskMs / 1e3,
          "cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3, "task_wait_s" -> x.taskWaitMs / 1e3,
          "shuffle_write_mb" -> x.shuffleWrite / 1e6, "shuffle_read_mb" -> x.shuffleRead / 1e6,
          "spill_mb" -> x.spill / 1e6, "peak_exec_mem_mb" -> x.peakExecMem / 1e6,
          "scan_read_mb" -> x.inputBytes / 1e6, "file_mb" -> c.fileBytes / 1e6)
        t.phase = "check"
        sc.setJobGroup("check", "output check")
      }
      if (err.isEmpty) err = try op.check(loaded.get) catch {
        case e: Throwable => Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      tracer.foreach { t => spark.sparkContext.clearJobGroup(); t.drain(); t.take("check"); t.takeCatalyst() }
      System.err.println(f"[perfbench] pass $pass ${op.name} $wall%.3f s" + err.fold("")(e => s" FAILED: $e"))
      Timing.releaseResidue(spark)
      Sample(op.name, pass, tracer.isDefined, wall, cpuS, err,
        loaded.map(_.rows).getOrElse(-1L), loaded.flatMap(_.checksum))
    }

    var passNo = 0
    def runPass(): Seq[Sample] = {
      val order = Ops.order(ops, new Random(seed * 1000003L + passNo))
      val out = order.map(runOp(_, passNo))
      passNo += 1
      afg.foreach(_.clearOutput())
      System.gc()  // every pass starts from a collected heap
      samples ++= out
      out
    }

    // warm-up: session-level one-offs (codegen, layout copies written on
    // first use) land here, never in a timed operation
    val tWarm = now
    spark.range(1000000).selectExpr("sum(id)").collect()
    runPass()
    val warmupS = secs(tWarm, now)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    var warmupPasses = 1
    val tMeasure = now
    var timedPasses = 0
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      while (timedPasses < minPasses || secs(tMeasure, now) < seconds) {
        runPass(); timedPasses += 1
      }
    } else {
      // untraced and traced passes alternate, after one more untimed
      // pass, so the difference of their medians is the tracing overhead
      // rather than the JIT still settling
      runPass(); warmupPasses += 1
      val t = new Tracer(spark)
      do {
        runPass()
        t.install(); tracer = Some(t)
        runPass()
        t.uninstall(); tracer = None
        timedPasses += 2
      } while (secs(tMeasure, now) < seconds)
      t.install()
      val probes = new Probes(spark, t)
      probes.session(startS, warmupS)
      probes.tables(args.getOrElse("tables", args("probe-tables")))
      probes.kernels(args("probe-tables"))
      probes.sources(afg.get)
      probes.pipelines(afg.get, work)
      t.uninstall()
      layers ++= probes.metrics
    }
    afgInputs.foreach(_.stub.stop())
    spark.stop()

    val json = Json.obj(
      "workload" -> kind, "seed" -> seed, "setup_s" -> setupS, "start_s" -> startS,
      "warmup_s" -> warmupS, "gen_s" -> genS, "warmup_passes" -> warmupPasses, "timed_passes" -> timedPasses,
      "peak_rss_mb" -> peakRssMb(),
      "samples" -> Json.raw(samples.map(s => Json.obj(
        "op" -> s.op, "pass" -> s.pass, "traced" -> s.traced, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
        "err" -> s.err.orNull, "rows" -> s.rows, "checksum" -> s.checksum.map(Long.box).orNull))
        .mkString("[", ",", "]")),
      "records" -> Json.raw(records.mkString("[", ",", "]")),
      "layers" -> Json.raw(layers.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
        .mkString("{", ",", "}")))
    Files.write(Paths.get(args("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  /** The JVM's resident-set high-water mark (VmHWM), MB. */
  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    }
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case l: java.lang.Long => l.toString
    case d: Double => num(d)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
