package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.operators.Temporal
import graft.pipelines.{AtencionesUrgencia, IngestionJob, MatrizMovilidad, TemperaturasRM}
import graft.sources.RestJsonSource
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The paper's three lifecycles on seeded raw inputs:
  *  1. weekly ER visits (parquet) → [[AtencionesUrgencia]];
  *  2. comuna shapefile + station REST API → [[TemperaturasRM]] paso 1-3;
  *  3. enrollment CSVs + labour `.xls` + population `.xlsx` →
  *     [[MatrizMovilidad]] gravity flows.
  * Every output table is loaded through [[IngestionJob]]. */
final class Afg(spark: SparkSession, val inputs: AfgInputs, outDir: String) {
  import spark.implicits._

  private val fetcher = {
    val base = inputs.stub.baseUrl
    RestJsonSource.httpFetcher[(String, Int)](
      { case (codigo, anio) => s"$base/historico/$codigo/$anio" }, retries = 2, backoffMs = 20L)
  }

  private val listFetcher = {
    val base = inputs.stub.baseUrl
    RestJsonSource.httpFetcher[String](_ => s"$base/estaciones", retries = 2, backoffMs = 20L)
  }

  // ------------------------------------------------------------ extracts

  def atencionesRaw(): DataFrame = spark.read.parquet(inputs.erPath)

  def comunas(): DataFrame = TemperaturasRM.comunasFromShapefile(spark, inputs.shpPath, inputs.dbfPath)

  /** Station list (one request), then every station × year history,
    * fetched once and held for the transforms that read it. */
  def stationRaw(): DataFrame = {
    val codes = RestJsonSource.fetch(spark, Seq("estaciones"), listFetcher, AfgInputs.listSchema)
      .select(explode(col("data.datosEstacion.codigoNacional")).as("c"))
      .as[String].collect().toSeq.sorted
    val requests = for (c <- codes; y <- AfgInputs.years) yield (c, y)
    RestJsonSource.fetch(spark, requests, fetcher, AfgInputs.historySchema)
      .select(col("request._1").as("Codigo_Estacion"),
        col("data.nombreEstacion").as("Nombre_Estacion"),
        col("data.latitud").as("Latitud"), col("data.longitud").as("Longitud"),
        col("data.region").as("Region"), col("request._2").as("Año"),
        col("data.datos").as("datos"))
      .localCheckpoint(eager = true)
  }

  def educacion(): DataFrame = {
    def csv(n: String) = spark.read.option("header", "true").schema(AfgInputs.csvSchema)
      .csv(s"${inputs.dir}/$n.csv").drop("tipo")
    MatrizMovilidad.educacion(csv("parvulario"), csv("escolar"), csv("superior"))
  }

  def laborales(): DataFrame =
    MatrizMovilidad.conPrediccion2024(MatrizMovilidad.laboralesFromXls(spark, inputs.xlsPath))

  def poblacion(): DataFrame = MatrizMovilidad.poblacionFromXlsx(spark, inputs.xlsxPath)

  def centroides(c: DataFrame): DataFrame = c.filter(col("codregion") === 13)
    .select(lower(trim(col("Comuna"))).as("comuna"), col("lat_centroid"), col("lon_centroid"))

  // ---------------------------------------------------------- transforms

  /** Each comuna's daily series on a gap-free calendar: days the
    * assigned station did not report become null rows to fill. */
  def grid(paso2: DataFrame): DataFrame = {
    val perComuna = paso2.select("Comuna", "Codigo_Estacion", "Latitud", "Longitud",
        "Distancia_Estacion_km")
      .dropDuplicates("Comuna")
    Temporal.densify(
      paso2.select(col("Comuna"), datediff(col("Fecha"), lit("1970-01-01")).cast("long").as("day"),
        col("Temperatura_Media")), Seq("Comuna"), "day")
      .join(perComuna, "Comuna")
      .withColumn("Fecha", date_add(lit("1970-01-01").cast("date"), col("day").cast("int")))
      .drop("day")
  }

  def paso2(): DataFrame = TemperaturasRM.paso2Asignar(comunas(), TemperaturasRM.paso1Flatten(stationRaw()))

  def asignaciones(p2: DataFrame): DataFrame =
    p2.select("Comuna", "Codigo_Estacion", "Distancia_Estacion_km").distinct()

  def atributos(): DataFrame = MatrizMovilidad.atributos(poblacion(), laborales(), educacion())

  def flujos(): DataFrame = MatrizMovilidad.flujos(atributos(), centroides(comunas()))

  // ------------------------------------------------------------ the ops

  private def path(table: String) = s"$outDir/$table"

  private def save(table: String)(df: DataFrame): Loaded =
    IngestionJob.saveTables(Seq(table -> df), IngestionJob.parquetWriter(outDir))(table) match {
      case Right(n) => Loaded(n, None)
      case Left(err) => throw new RuntimeException(s"load of $table failed: $err")
    }

  /** Row count of a loaded table, summed from its parquet footers. */
  private def footerRows(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.map { f =>
      if (f.isDirectory) footerRows(f)
      else if (f.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } else 0L
    }.sum

  private def loadedRows(table: String)(l: Loaded): Option[String] = {
    val n = footerRows(new File(path(table)))
    if (l.rows <= 0) Some(s"$table: computed no rows")
    else if (n != l.rows) Some(s"$table: loaded $n rows, computed ${l.rows}")
    else None
  }

  private def and(a: Loaded => Option[String], b: Loaded => Option[String]): Loaded => Option[String] =
    l => a(l).orElse(b(l))

  private def op(table: String, build: () => DataFrame,
                 extra: Loaded => Option[String] = _ => None, fetches: Boolean = false,
                 after: Seq[String] = Nil): Op =
    Op(table, build, save(table), and(loadedRows(table), extra),
      if (fetches) () => inputs.stub.newRound() else () => (), after)

  /** Every RM comuna's series spans the whole calendar (the generator
    * reports the first and the last day), and the fill leaves no null. */
  private def filledSeries(table: String, c: String)(l: Loaded): Option[String] = {
    val want = inputs.rmComunas.size * AfgInputs.days
    val n = staged(table).filter(col(c).isNull).count()
    if (l.rows != want) Some(s"$table: ${l.rows} rows, expected $want (comunas x days)")
    else if (n > 0) Some(s"$table: $n nulls left in $c")
    else None
  }

  private def staged(table: String): DataFrame = spark.read.parquet(path(table))

  /** Lifecycle 2 stages the comunas' daily series once per pass; the
    * assignment and the three gap fills read that staged table, as a
    * warehouse load would. `after` orders each op behind its input. */
  def ops: Seq[Op] = Seq(
    op("atenciones", () => AtencionesUrgencia(atencionesRaw())),
    Op("atenciones_por_anio", () => AtencionesUrgencia(atencionesRaw()), { df =>
      val obs = Observation()
      IngestionJob.overwritePartitions(df.observe(obs, count(lit(1)).as("n")),
        path("atenciones_por_anio"), Seq("Anio"))
      Loaded(obs.get("n").asInstanceOf[Long], None)
    }, loadedRows("atenciones_por_anio")),
    op("temperaturas_comunas", () => grid(paso2()), fetches = true),
    op("asignaciones", () => asignaciones(staged("temperaturas_comunas")), { l =>
      val per = staged("asignaciones").groupBy("Comuna").count()
      val comunasSeen = per.count()
      val multi = per.filter(col("count") =!= 1).count()
      if (comunasSeen != inputs.rmComunas.size || multi != 0)
        Some(s"asignaciones: $comunasSeen comunas assigned (expected ${inputs.rmComunas.size}), " +
          s"$multi with more than one station")
      else None
    }, after = Seq("temperaturas_comunas")),
    op("temperaturas_lineal",
      () => TemperaturasRM.paso3Reconstruir(staged("temperaturas_comunas"), "lineal"),
      filledSeries("temperaturas_lineal", "Temperatura_Media_filled"), after = Seq("temperaturas_comunas")),
    op("temperaturas_estacional",
      () => TemperaturasRM.paso3Reconstruir(staged("temperaturas_comunas"), "estacional"),
      after = Seq("temperaturas_comunas")),
    op("temperaturas_knn",
      () => TemperaturasRM.paso3Reconstruir(staged("temperaturas_comunas"), "knn"),
      after = Seq("temperaturas_comunas")),
    op("atributos", () => atributos()),
    op("flujos", () => flujos(), { l =>
      // every origin has flows in exactly the years with labour and
      // enrollment data, and they sum to 1 per origin and year
      val per = staged("flujos").filter(col("flujo_norm").isNotNull)
        .groupBy("año", "origen").agg(sum("flujo_norm").as("s"))
      val want = inputs.rmComunas.size * AfgInputs.flowYears.size
      val groups = per.count()
      val inYears = per.filter(col("año").isin(AfgInputs.flowYears: _*)).count()
      val bad = per.filter(abs(col("s") - 1.0) > 1e-9).count()
      if (groups != want || inYears != want)
        Some(s"flujos: $groups (año, origen) with flows, $inYears in ${AfgInputs.flowYears}, expected $want")
      else if (bad > 0) Some(s"flujos: $bad (año, origen) whose flujo_norm does not sum to 1")
      else None
    }),
    op("flujos_matriz", () => MatrizMovilidad.pivotYear(staged("flujos"), AfgInputs.matrixYear,
      inputs.rmComunas.map(_.toLowerCase).sorted), after = Seq("flujos")))

  /** Removes everything the ops loaded (between passes, untimed). */
  def clearOutput(): Unit = AfgInputs.rmTree(new File(outDir))
}

/** Seeded raw inputs of the three lifecycles, written once per seed
  * under `dir`, plus the station API stub that serves them. */
final class AfgInputs(val dir: String, val stub: StationStub, val rmComunas: Seq[String]) {
  def erPath: String = s"$dir/at_urg_respiratorio_semanal.parquet"
  def shpPath: String = s"$dir/comunas.shp"
  def dbfPath: String = s"$dir/comunas.dbf"
  def xlsPath: String = s"$dir/datos_laborales.xls"
  def xlsxPath: String = s"$dir/estimaciones-y-proyecciones-2002-2035-comunas.xlsx"
}

object AfgInputs {
  val years: Seq[Int] = 2019 to 2025
  /** Days from the first day of `years` to the last. */
  val days: Long = java.time.temporal.ChronoUnit.DAYS.between(
    java.time.LocalDate.of(years.head, 1, 1), java.time.LocalDate.of(years.last, 12, 31)) + 1
  /** Years with population, labour (2020-2023 plus the 2024 prediction)
    * and enrollment data, so every flow is defined. */
  val flowYears: Seq[Int] = 2020 to 2024
  val matrixYear = 2023
  val nComunas = 346
  val nStations = 30

  val csvSchema: StructType = StructType(Seq(
    StructField("comuna", StringType), StructField("ano", IntegerType),
    StructField("matriculas", IntegerType), StructField("tipo", StringType)))

  val listSchema: StructType = StructType(Seq(StructField("datosEstacion", ArrayType(StructType(Seq(
    StructField("nombreEstacion", StringType), StructField("latitud", StringType),
    StructField("longitud", StringType), StructField("codigoNacional", StringType),
    StructField("region", IntegerType)))))))

  val historySchema: StructType = StructType(Seq(
    StructField("nombreEstacion", StringType), StructField("latitud", StringType),
    StructField("longitud", StringType), StructField("region", IntegerType),
    StructField("datos", MapType(StringType,
      MapType(StringType, StructType(Seq(StructField("media", DoubleType))))))))

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(); ()
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  /** Writes the seed's inputs under `dir` unless already present and
    * starts the station stub over the seed's API responses. */
  def apply(spark: SparkSession, dir: String, seed: Long, nRm: Int, erRows: Long): AfgInputs = {
    val rnd = new Random(seed)
    val rm = (1 to nRm).map(i => f"Comuna Rm $i%02d")
    val others = (nRm + 1 to nComunas).map(i => f"Comuna $i%03d")
    // centroids: RM inside its bounding box, the rest spread north and south
    val rmPts = rm.map(_ => (-70.4 - 0.9 * rnd.nextDouble(), -33.0 - 1.3 * rnd.nextDouble()))
    val otherPts = others.map(_ => (-69.0 - 3.0 * rnd.nextDouble(), -18.0 - 35.0 * rnd.nextDouble()))
    val otherRegion = others.map(_ => Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 14, 15, 16)(rnd.nextInt(15)))
    val stations = (1 to nStations).map { i =>
      (f"33$i%04d", f"Estacion Rm $i%02d", -33.0 - 1.3 * rnd.nextDouble(), -70.4 - 0.9 * rnd.nextDouble(), 13)
    } ++ (1 to 6).map { i =>
      (f"34$i%04d", f"Estacion Sur $i%02d", -35.0 - 5.0 * rnd.nextDouble(), -71.0 - 1.0 * rnd.nextDouble(), 7)
    }
    val bodies = scala.collection.mutable.Map.empty[String, String]
    bodies("/estaciones") = stations.map { case (code, name, lat, lon, reg) =>
      s"""{"nombreEstacion":"$name","latitud":"$lat","longitud":"$lon","codigoNacional":"$code","region":$reg}"""
    }.mkString("""{"datosEstacion":[""", ",", "]}")
    for ((code, name, lat, lon, reg) <- stations; y <- years) {
      val offset = rnd.nextGaussian() * 2.0
      // one multi-day outage plus scattered nulls and unreported days
      val outageStart = rnd.nextInt(330)
      val outageLen = 3 + rnd.nextInt(8)
      val months = (1 to 12).map { m =>
        val ym = java.time.YearMonth.of(y, m)
        val days = (1 to ym.lengthOfMonth()).flatMap { d =>
          val doy = ym.atDay(d).getDayOfYear
          val r = rnd.nextDouble()
          val v = 14.0 + 7.0 * math.cos(2 * math.Pi * (doy - 15) / 365.0) + offset + rnd.nextGaussian() * 1.5
          val edge = (y == years.head && doy == 1) || (y == years.last && m == 12 && d == 31)
          if (edge) Some(f""""$d":{"media":${math.round(v * 10) / 10.0}}""")
          else if (r < 0.01) None
          else if (r < 0.03 || (doy >= outageStart && doy < outageStart + outageLen))
            Some(s""""$d":{"media":null}""")
          else Some(f""""$d":{"media":${math.round(v * 10) / 10.0}}""")
        }
        s""""$m":${days.mkString("{", ",", "}")}"""
      }
      bodies(s"/historico/$code/$y") =
        s"""{"nombreEstacion":"$name","latitud":"$lat","longitud":"$lon","region":$reg,""" +
          s""""datos":${months.mkString("{", ",", "}")}}"""
    }
    val historyPaths = bodies.keys.filter(_.startsWith("/historico/")).toSeq.sorted
    val flaky = rnd.shuffle(historyPaths).take(4).toSet
    val stub = new StationStub(bodies.toMap, flaky)

    val done = new File(s"$dir/_DONE")
    if (!done.exists()) {
      rmTree(new File(dir))
      new File(dir).mkdirs()
      writeEr(spark, s"$dir/at_urg_respiratorio_semanal.parquet", seed, rm, erRows)
      // polygons: clockwise hexagons around each centroid
      val polys = (rmPts ++ otherPts).map { case (lon, lat) =>
        val r = 0.02 + 0.03 * rnd.nextDouble()
        val ring = (0 until 6).map { k =>
          val th = -2 * math.Pi * k / 6
          (lon + r * math.cos(th), lat + r * math.sin(th))
        }
        ring :+ ring.head
      }
      Writers.writeShp(s"$dir/comunas.shp", polys)
      val regions = rm.map(_ => 13) ++ otherRegion
      Writers.writeDbf(s"$dir/comunas.dbf",
        Seq(("objectid", 'N', 6, 0), ("Comuna", 'C', 30, 0), ("codregion", 'N', 4, 0),
          ("Provincia", 'C', 20, 0)),
        (rm ++ others).zip(regions).zipWithIndex.map { case ((n, reg), i) =>
          Seq((i + 1).toString, n, reg.toString, s"Provincia ${reg % 7}")
        })
      // enrollment: every RM comuna for parvulario/escolar, a subset for superior
      for ((tipo, names) <- Seq("parvulario" -> rm, "escolar" -> rm, "superior" -> rm.take(rm.size / 2))) {
        val lines = for (n <- names; y <- 2019 to 2024)
          yield s"${n.toUpperCase},$y,${200 + rnd.nextInt(20000)},$tipo"
        write(s"$dir/$tipo.csv", ("comuna,ano,matriculas,tipo" +: lines).mkString("\n") + "\n")
      }
      val laborYears = Seq(2020, 2021, 2022, 2023)
      val header = Seq("Unidad territorial", "Variable") ++ laborYears.map(y => s" $y")
      val headerRow = Seq[Any]("Unidad territorial", " Variable")
      val laborRows = rm.map { n =>
        val base = 5000.0 + rnd.nextInt(200000)
        Seq[Any](n, "Total de trabajadores en empresas") ++
          laborYears.map(y => math.round(base * (1 + 0.03 * (y - 2020) + 0.02 * rnd.nextGaussian())).toDouble)
      }
      val cells = (header +: headerRow +: laborRows).zipWithIndex.flatMap { case (row, r) =>
        row.zipWithIndex.map { case (v, c) => (r, c, v) }
      }
      Writers.writeXls(s"$dir/datos_laborales.xls", Seq("Hoja1" -> cells))
      val popYears = 2002 to 2035
      val popRows = (rm ++ others.take(40)).map { n =>
        val base = 20000.0 + rnd.nextInt(500000)
        Seq[Any](n) ++ popYears.map(y => math.round(base * (1 + 0.01 * (y - 2002))).toDouble)
      }
      Writers.writeXlsx(s"$dir/estimaciones-y-proyecciones-2002-2035-comunas.xlsx",
        Seq("poblacion_total" -> ((Seq[Any]("Comuna") ++ popYears.map(_.toString)) +: popRows)))
      write(done.getPath, "ok")
    }
    new AfgInputs(dir, stub, rm)
  }

  private val causas = AtencionesUrgencia.diagnosticos ++ Seq(
    "Otras causas externas", "Resfrio comun", "Sinusitis aguda")

  /** Weekly ER-visit rows (FIXTURES §1 schema); 40% in RM. */
  private def writeEr(spark: SparkSession, path: String, seed: Long, rm: Seq[String],
                      erRows: Long): Unit = {
    def h(k: Int) = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(1000000007L))
    val region = when(h(1) % 100 < 40, lit("13"))
      .otherwise(element_at(array((1 to 16).filter(_ != 13).map(i => lit(f"$i%02d")): _*),
        (h(2) % 15 + 1).cast("int")))
    val rmArr = array(rm.map(lit): _*)
    val causaArr = array(causas.map(lit): _*)
    val total = h(9) % 400
    spark.range(0, erRows, 1, 4).select(
      region.as("RegionCodigo"),
      concat(lit("Region "), region).as("RegionGlosa"),
      when(region === "13", element_at(rmArr, (h(3) % rm.size + 1).cast("int")))
        .otherwise(concat(lit("Comuna "), lpad((h(3) % 294 + 53).cast("string"), 3, "0"))).as("ComunaGlosa"),
      concat(lit("Servicio "), (h(4) % 29).cast("string")).as("ServicioSaludGlosa"),
      element_at(array(lit("Hospital"), lit("SAPU"), lit("SAR")), (h(5) % 3 + 1).cast("int")).as("TipoUrgencia"),
      element_at(array(lit("Alta"), lit("Media"), lit("Baja")), (h(6) % 3 + 1).cast("int")).as("NivelComplejidad"),
      (h(7) % 11 + 2015).cast("int").as("Anio"),
      (h(8) % 52 + 1).cast("int").as("SemanaEstadistica"),
      element_at(causaArr, (h(10) % causas.size + 1).cast("int")).as("Causa"),
      total.as("NumTotal"),
      (total * (h(11) % 10) / 100).cast("long").as("NumMenor1Anio"),
      (total * (h(12) % 15) / 100).cast("long").as("Num1a4Anios"),
      (total * (h(13) % 20) / 100).cast("long").as("Num5a14Anios"),
      (total * (h(14) % 40) / 100).cast("long").as("Num15a64Anios"),
      (total * (h(15) % 15) / 100).cast("long").as("Num65oMas"))
      .write.mode("overwrite").parquet(path)
  }
}
