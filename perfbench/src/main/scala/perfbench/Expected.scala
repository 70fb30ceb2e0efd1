package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Row count and checksum of each query output that `graft.Verify`
  * wrote, computed with the same [[Ops.noopChecked]] the benchmark
  * applies to its live outputs. `record_expected.py` runs it only over
  * outputs that matched DuckDB.
  *
  *   perfbench.Expected <verify-out-dir> <q1,q2,...> <out.json>
  */
object Expected {
  def main(argv: Array[String]): Unit = {
    val Array(dir, queries, out) = argv
    val spark = GraftSession.localFs(GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("perfbench-expected")
        .config("spark.sql.shuffle.partitions", 4))).getOrCreate()
    val json = queries.split(",").toSeq.map { q =>
      val l = Ops.noopChecked(spark.read.parquet(s"$dir/$q"))
      Json.str(q) + ":" + Json.obj("rows" -> l.rows, "checksum" -> l.checksum.get)
    }.mkString("{", ",", "}")
    spark.stop()
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
  }
}
