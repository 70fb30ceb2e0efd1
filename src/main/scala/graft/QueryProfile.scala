package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-query execution profile: where does the wall time of one bench
  * rep actually go? For each query, runs the same noop-sink rep the
  * bench times and reports, from a [[SparkListener]]:
  *
  *  - `jobs` / `stages` / `tasks`: scheduling units launched — the
  *    latency-bound tail of a 32-wide local bench is often here, not
  *    in compute (guide §2: every job is a scheduled round trip);
  *  - `task_sec`: summed executor run time (the real compute);
  *  - `shuffle_read_mb` / `shuffle_write_mb`: bytes crossing stage
  *    boundaries (guide §2.3 — shuffle fewer bytes);
  *  - `plan_sec`: driver-side analysis/optimization/physical planning
  *    measured by forcing `executedPlan` on a FRESH DataFrame (at
  *    11 MB inputs Catalyst time is a real fraction of a rep);
  *  - `codegen_compiles` / `codegen_sec`: Janino compiles and their
  *    summed time during the rep (JVM-wide `CodegenMetrics` /
  *    `CodeGenerator.compileTime` deltas, driver and tasks). A
  *    replayed rep should compile ~0 classes; a non-zero median means
  *    the codegen class cache is thrashing ([[GraftSession]] doc);
  *  - `wall_sec`: the rep's end-to-end time (what Bench reports).
  *
  * Diagnostic only — never a round artifact; exists so optimization
  * targets come from attribution, not guesswork (guide §1).
  * Usage: SPARK_GRAFT_PROFILE_ONLY=q_a,q_b runMain graft.QueryProfile
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", "/tmp/graft_profile.json")
    val spark = GraftSession.localFs(GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(n => Tables(spark, sfDir, n).count())

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val only = sys.env.get("SPARK_GRAFT_PROFILE_ONLY")
      .map(_.split(",").toSet).getOrElse(SparkEntry.queries.keySet)
    val rows = SparkEntry.queries.toSeq.filter(q => only(q._1)).sortBy(_._1)
      .map { case (name, fn) =>
        // planning leg: fresh DataFrame, force the physical plan only
        val tp0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.executedPlan
        val planSec = (System.nanoTime() - tp0) / 1e9
        // measured reps: median wall over `reps`, listener deltas from
        // the MEDIAN rep's neighborhood (report per-rep, keep median)
        val perRep = (1 to reps).map { _ =>
          jobs.set(0); stages.set(0); tasks.set(0)
          taskNanos.set(0); shufRead.set(0); shufWrite.set(0)
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val cn0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener events drain asynchronously; give them a beat
          Thread.sleep(120)
          (wall, jobs.get, stages.get, tasks.get,
            taskNanos.get / 1e9, shufRead.get, shufWrite.get,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
            (CodeGenerator.compileTime - cn0) / 1e9)
        }
        val med = perRep.sortBy(_._1).apply(perRep.length / 2)
        f"""{"q":"$name","wall_sec":${med._1}%.3f,"plan_sec":$planSec%.3f,""" +
          f""""jobs":${med._2},"stages":${med._3},"tasks":${med._4},""" +
          f""""task_sec":${med._5}%.3f,"shuffle_read_mb":${med._6 / 1e6}%.2f,""" +
          f""""shuffle_write_mb":${med._7 / 1e6}%.2f,""" +
          f""""codegen_compiles":${med._8},"codegen_sec":${med._9}%.3f}"""
      }
    val json = rows.mkString("[\n", ",\n", "\n]")
    Files.write(Paths.get(out), json.getBytes("UTF-8"))
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
