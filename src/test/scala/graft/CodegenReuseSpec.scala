package graft

import graft.pipelines.MatrizMovilidad
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Generated-code reuse ([[GraftSession]] doc): a replayed plan must
  * take its whole-stage classes from Spark's codegen class cache
  * instead of compiling them again. Compiles are counted JVM-wide
  * (driver and local tasks) from `CodegenMetrics`, one count per
  * Janino compile. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the classes compiled while it ran. */
  private def compiling[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The cap `CodeGenerator` built its class cache with, read from the
    * (shaded Guava) cache object itself rather than from any conf. */
  private def cacheCap: Long = {
    def field(c: Class[_], name: String): java.lang.reflect.Field =
      Iterator.iterate[Class[_]](c)(_.getSuperclass).takeWhile(_ != null)
        .flatMap(_.getDeclaredFields).find(_.getName == name)
        .map { f => f.setAccessible(true); f }
        .getOrElse(fail(s"no field $name on ${c.getName}"))
    val gen = CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val nonFateSharing = m.invoke(gen)
    val guava = field(nonFateSharing.getClass, "cache").get(nonFateSharing)
    val local = field(guava.getClass, "localCache").get(guava)
    field(local.getClass, "maxWeight").getLong(local)
  }

  test("codegen cache cap is a static conf, taken once by CodeGenerator from the session") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.conf.get(key) === GraftSession.CodegenCacheEntries.toString)
    // static: a running session refuses to change it ...
    intercept[AnalysisException](spark.conf.set(key, "100"))
    // ... and the cache CodeGenerator built at initialisation holds the
    // configured cap, not Spark's default of 100
    assert(cacheCap === GraftSession.CodegenCacheEntries.toLong)
  }

  test("more distinct plans than Spark's default cap replay with zero compiles") {
    // each literal is inlined into the generated code, so every plan
    // is a distinct class; 150 > the default LRU cap of 100, which a
    // replay in the same order would miss on every plan
    val plans = (1 to 150).map(i => () =>
      spark.range(0, 8, 1, 1).selectExpr(s"id * $i + $i AS v").as[Long].collect())
    val (_, first) = compiling(plans.foreach(_()))
    assert(first >= 150, s"round 1 compiled only $first classes")
    val (_, second) = compiling(plans.foreach(_()))
    assert(second === 0, s"round 2 recompiled $second classes")
  }

  test("a replayed AQE plan with a broadcast join and a shuffle compiles nothing") {
    val attrs = (for {
      anio <- 2020 to 2024
      (c, k) <- Seq("santiago", "alhué", "maipú", "puente alto").zipWithIndex
    } yield (anio, c, 1000.0 * (k + 1) + anio, 100.0 * (k + 2)))
      .toDF("año", "comuna", "poblacion", "trabajadores_estudiantes")
    val centros = Seq(("santiago", -33.45, -70.66), ("alhué", -34.03, -71.10),
      ("maipú", -33.51, -70.76), ("puente alto", -33.61, -70.58))
      .toDF("comuna", "lat", "lon")
    def allOps(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allOps(a.executedPlan)
      case s: QueryStageExec        => s +: allOps(s.plan)
      case other                    => other +: other.children.flatMap(allOps)
    }
    // a fresh DataFrame per run, as a replayed extract builds it
    def run(): (Set[String], Seq[SparkPlan]) = {
      val df = MatrizMovilidad.flujos(attrs, centros)
      val rows = df.collect().map(_.mkString("|")).toSet
      (rows, allOps(df.queryExecution.executedPlan))
    }
    val (rows1, ops) = run()
    assert(rows1.size === 5 * 4 * 3)  // años × origins × other destinations
    assert(ops.exists(_.isInstanceOf[QueryStageExec]))  // AQE ran the plan
    assert(ops.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(ops.exists(_.isInstanceOf[ShuffleExchangeLike]))
    assert(ops.exists(_.isInstanceOf[WholeStageCodegenExec]))
    val ((rows2, _), second) = compiling(run())
    assert(rows2 === rows1)
    assert(second === 0, s"replay recompiled $second classes")
  }
}
