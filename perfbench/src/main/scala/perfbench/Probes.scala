package perfbench

import java.io.File

import scala.collection.mutable

import graft.Tables
import graft.functions.{CosineSim, KllSketchAgg, MinHashSigs, QualityStatsExpr, SimHash64, Text}
import graft.operators.Exact
import graft.pipelines.{AtencionesUrgencia, IngestionJob, MatrizMovilidad, TemperaturasRM}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer probes of the traced run. Each one times calls into one
  * layer's public functions from benchmark code, on inputs that are
  * already materialized, so the time is the layer's own. The same
  * probes run on every workload. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `reps` noop executions of `df()`. */
  private def timed(reps: Int)(df: () => DataFrame): Double =
    median((1 to reps).map(_ => secs(noop(df()))))

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  private def release(): Unit = graft.Timing.releaseResidue(spark)

  /** Session start and warm-up, measured by the caller. */
  def session(startS: Double, warmupS: Double): Unit = {
    metrics("GraftSession.start_s") = startS
    metrics("GraftSession.warmup_s") = warmupS
  }

  /** One `Tables.apply` per table name: handle construction time and
    * the jobs it launches. */
  def tables(dir: String): Unit = {
    spark.sparkContext.setJobGroup("probe|tables", "Tables.apply")
    val s = secs(Tables.all.foreach(n => Tables(spark, dir, n)))
    spark.sparkContext.clearJobGroup()
    tracer.drain()
    metrics("Tables.apply_s") = s
    metrics("Tables.apply_jobs") = tracer.take("probe|tables").jobs
  }

  /** Rows per second of each kernel over a cached sf0.1 input. */
  def kernels(dir: String): Unit = {
    val li = cached(Tables(spark, dir, "lineitem").select("l_returnflag", "l_extendedprice"))
    val docs = cached(Tables(spark, dir, "documents").select(
      col("text"), array_distinct(Text.shingles(col("text"), 5)).as("sh"),
      Text.tokens(col("text")).as("tok")))
    val emb = cached(Tables(spark, dir, "embeddings").select("embedding"))
    val queries = cached(Tables(spark, dir, "embeddings").filter(col("vec_id") < 16)
      .select(col("embedding").as("q")))
    val liRows = li.count().toDouble
    val docRows = docs.count().toDouble
    val pairs = emb.count().toDouble * queries.count()
    def rate(name: String, rows: Double)(df: () => DataFrame): Unit =
      metrics(s"kernel.$name.rows_per_s") = rows / timed(3)(df)
    rate("Exact.dsum", liRows)(() => li.groupBy("l_returnflag").agg(Exact.dsum(col("l_extendedprice"))))
    rate("KllSketch", liRows)(() => li.groupBy("l_returnflag").agg(KllSketchAgg(col("l_extendedprice"), 200)))
    rate("MinHashSigs", docRows)(() => docs.select(MinHashSigs(col("sh"), 128)))
    rate("SimHash64", docRows)(() => docs.select(SimHash64(col("tok"))))
    rate("QualityStatsExpr", docRows)(() => docs.select(QualityStatsExpr(col("text"), Seq("the", "a"))))
    rate("CosineSim", pairs)(() => emb.crossJoin(queries).select(CosineSim(col("embedding"), col("q"))))
    release()
  }

  /** Full reads of each raw input through its source. */
  def sources(afg: Afg): Unit = {
    val in = afg.inputs
    def read(fmt: String, path: String, opts: (String, String)*) = () =>
      spark.read.format(fmt).options(opts.toMap).load(path)
    metrics("sources.parquet.s") = timed(3)(() => afg.atencionesRaw())
    metrics("sources.XlsDataSource.s") = timed(3)(read("graft.sources.XlsDataSource", in.xlsPath))
    metrics("sources.XlsxDataSource.s") = timed(3)(
      read("graft.sources.XlsxDataSource", in.xlsxPath, "sheet" -> "poblacion_total"))
    metrics("sources.ShpDataSource.s") = timed(3)(read("graft.sources.ShpDataSource", in.shpPath))
    metrics("sources.DbfDataSource.s") = timed(3)(read("graft.sources.DbfDataSource", in.dbfPath))
    in.stub.newRound()
    val req0 = in.stub.requests.get
    val err0 = in.stub.unavailable.get
    metrics("sources.RestJsonSource.s") = secs(noop(afg.stationRaw()))
    metrics("sources.RestJsonSource.requests") = (in.stub.requests.get - req0).toDouble
    metrics("sources.RestJsonSource.retries") = (in.stub.unavailable.get - err0).toDouble
    metrics("sources.RestJsonSource.failed") = in.stub.unserved.toDouble
  }

  /** Self time of each pipeline stage: its inputs are cached first, so
    * the timed execution covers the stage alone. Then the stage
    * outputs are loaded through IngestionJob in one call. */
  def pipelines(afg: Afg, workDir: String): Unit = {
    def stage(name: String, out: => DataFrame): DataFrame = {
      metrics(s"pipelines.$name.s") = timed(1)(() => out)
      out
    }
    val er = cached(afg.atencionesRaw())
    val atenciones = stage("AtencionesUrgencia", AtencionesUrgencia(er))
    val raw = cached(afg.stationRaw())
    val paso1 = cached(stage("TemperaturasRM.paso1", TemperaturasRM.paso1Flatten(raw)))
    val comunas = cached(afg.comunas())
    val paso2 = cached(stage("TemperaturasRM.paso2", TemperaturasRM.paso2Asignar(comunas, paso1)))
    val grid = cached(afg.grid(paso2))
    val filled = Seq("lineal", "estacional", "knn").map { m =>
      m -> stage(s"TemperaturasRM.paso3_$m", TemperaturasRM.paso3Reconstruir(grid, m))
    }
    val pob = cached(afg.poblacion())
    val lab = cached(afg.laborales())
    val edu = cached(afg.educacion())
    val attrs = cached(stage("MatrizMovilidad.atributos", MatrizMovilidad.atributos(pob, lab, edu)))
    val cent = cached(afg.centroides(comunas))
    val flujos = stage("MatrizMovilidad.flujos", MatrizMovilidad.flujos(attrs, cent))

    val tables = (Seq("atenciones" -> atenciones, "asignaciones" -> afg.asignaciones(paso2),
      "atributos" -> attrs, "flujos" -> flujos) ++ filled.map { case (m, df) => s"temperaturas_$m" -> df })
      .map { case (n, df) => n -> cached(df) }
    val dir = s"$workDir/ingestion_probe"
    AfgInputs.rmTree(new File(dir))
    var result: Map[String, Either[String, Long]] = Map.empty
    metrics("IngestionJob.write_s") = secs {
      result = IngestionJob.saveTables(tables, IngestionJob.parquetWriter(dir))
    }
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
      .filter(f => f.getName.startsWith("part-"))
    metrics("IngestionJob.rows_written") = result.values.collect { case Right(n) => n }.sum.toDouble
    metrics("IngestionJob.bytes_written_mb") = files.map(_.length).sum / 1e6
    metrics("IngestionJob.files_written") = files.size.toDouble
    metrics("IngestionJob.tables_failed") = result.values.count(_.isLeft).toDouble
    AfgInputs.rmTree(new File(dir))
    release()
  }
}
