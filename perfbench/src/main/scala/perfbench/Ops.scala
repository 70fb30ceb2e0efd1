package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one executed operation produced: its row count and, for
  * contract queries, an order-independent checksum of its rows. */
final case class Loaded(rows: Long, checksum: Option[Long])

/** One benchmark operation. `prepare` runs untimed before each
  * execution; `build` constructs the DataFrame (the construction
  * phase); `load` executes it into its sink; `check` validates the
  * loaded result untimed and returns an error message on failure.
  * `after` names the ops whose output this one reads. */
final case class Op(name: String,
                    build: () => DataFrame,
                    load: DataFrame => Loaded,
                    check: Loaded => Option[String] = _ => None,
                    prepare: () => Unit = () => (),
                    after: Seq[String] = Nil)

object Ops {

  /** A seeded run order that puts every op after the ops it reads. */
  def order(ops: Seq[Op], rnd: scala.util.Random): Seq[Op] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Op]
    var left = ops
    while (left.nonEmpty) {
      val ready = left.filter(_.after.forall(d => out.exists(_.name == d)))
      require(ready.nonEmpty, s"ops with unmet inputs: ${left.map(_.name)}")
      val next = ready(rnd.nextInt(ready.size))
      out += next
      left = left.filterNot(_ eq next)
    }
    out.toSeq
  }

  /** Maps become key-sorted entry arrays (Spark does not hash maps);
    * every other value, doubles included, is hashed as it is: the
    * contract queries are deterministic to the last bit. */
  private def normalized(c: Column, dt: DataType): Column = dt match {
    case ArrayType(et, _) if hasMap(et) => transform(c, x => normalized(x, et))
    case StructType(fs) if fs.exists(f => hasMap(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      normalized(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => hasMap(et)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Sum over rows of the low 32 bits of each row's xxhash64. */
  def checksum(df: DataFrame): Column =
    coalesce(sum(xxhash64(df.schema.fields.toIndexedSeq.map(f =>
      normalized(col(f.name), f.dataType)): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))

  /** Executes `df` into the noop sink, observing its row count and
    * checksum on the same pass (columns renamed positionally, so
    * duplicate output names cannot make the checksum ambiguous). */
  def noopChecked(df: DataFrame): Loaded = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val obs = Observation()
    d.observe(obs, count(lit(1)).as("rows"), checksum(d).as("sum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Loaded(m("rows").asInstanceOf[Long], Some(m("sum").asInstanceOf[Long]))
  }
}
