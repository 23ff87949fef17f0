package perfbench

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Expected answer of one checked operation. */
final case class Expected(name: String, module: String, rows: Long, checksum: String)

/** A query workload's committed answers: the data scale they hold for, the
  * Monte Carlo size, and one expected answer per operation.
  */
final case class Spec(dataSf: Double, mcIters: Int, ops: Seq[Expected])

/** Order-insensitive content checksums and the committed answer file. */
object Answers {

  /** Doubles are hashed as floats: a sum whose reduction order varies
    * between runs differs only in its last bits, which the float rounding
    * drops; every other value is hashed exactly.
    */
  private def hashType(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(hashType(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = hashType(f.dataType))))
    case MapType(k, v, n) => MapType(hashType(k), hashType(v), n)
    case o => o
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private val Mod64 = BigInteger.ONE.shiftLeft(64)

  /** (row count, sum of per-row xxhash64 over the columns in name order,
    * mod 2^64, as hex). Maps are hashed through their JSON text.
    */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq.map { c =>
      val f = df.schema(c)
      val cast = df.col(c).cast(hashType(f.dataType))
      if (hasMap(f.dataType)) to_json(struct(cast))
      else cast
    }
    val row = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(row.getDecimal(1)).map(_.toBigInteger).getOrElse(BigInteger.ZERO)
    (row.getLong(0), total.mod(Mod64).toString(16))
  }

  /** `answers.json`: workload → {"data_sf", "mc_iterations", "ops": [{name,
    * module, rows, checksum}]}.
    */
  def load(path: String, workload: String): Spec = {
    implicit val formats: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8))
    val w = js \ workload
    if (w == JNothing) sys.error(s"no answers for workload $workload in $path")
    val ops = (w \ "ops").extract[List[JObject]].map { o =>
      Expected((o \ "name").extract[String], (o \ "module").extract[String],
        (o \ "rows").extract[Long], (o \ "checksum").extract[String])
    }
    Spec((w \ "data_sf").extract[Double], (w \ "mc_iterations").extract[Int], ops)
  }
}
