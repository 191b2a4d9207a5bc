package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digests used by the correctness gates. */
object Digest {

  /** (rows, sum of per-row hashes): equal for two frames holding the same
    * multiset of rows. Each row hash is reduced modulo a prime so the sum
    * cannot overflow; a lost, duplicated or altered row changes the sum. */
  final case class Sum(rows: Long, hash: Long) {
    override def toString: String = s"rows=$rows hash=$hash"
  }

  private val Mod = 2147483647L

  def of(df: DataFrame, cols: Seq[Column]): Sum = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(Mod))), lit(0L))).collect()(0)
    Sum(r.getLong(0), r.getLong(1))
  }

  /** The event columns every sink must return unchanged. `ts` is compared
    * at second precision: the RowBinary wire type is int32 epoch seconds.
    * The budgeted sink stores `event_type` as its partition column
    * `group`, so the caller passes the column that holds it. */
  def events(df: DataFrame, eventType: String = "event_type"): Sum =
    of(df, Seq(col("event_id"), col("user_id"), col(eventType).cast("string"),
      col("value"), col("props"), unix_seconds(col("ts").cast("timestamp"))))

  /** Whether a type's values are exact (no floating point anywhere). */
  def exact(t: DataType): Boolean = t match {
    case FloatType | DoubleType => false
    case ArrayType(e, _) => exact(e)
    case MapType(k, v, _) => exact(k) && exact(v)
    case StructType(fs) => fs.forall(f => exact(f.dataType))
    case _ => true
  }

  /** Digest of a collected query result over its exact-valued columns,
    * taken in column-name order so a reordered projection digests the
    * same. Values hash through their string form (the JVM runs in UTC, so
    * timestamps print the same everywhere). */
  def result(schema: StructType, rows: Array[org.apache.spark.sql.Row]): Sum = {
    val idx = schema.fields.zipWithIndex.filter(f => exact(f._1.dataType)).sortBy(_._1.name).map(_._2)
    var h = 0L
    rows.foreach { r =>
      val s = idx.map(i => render(r.get(i))).mkString("\u0001")
      h = (h + (scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)) % Mod
    }
    Sum(rows.length.toLong, h)
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
