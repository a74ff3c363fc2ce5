package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical text form of a result, shared with `oracle.py`: a header of
  * `name:type` sorted by column name, then one tab-separated line per row
  * in result order. Doubles are compared by bit pattern (0.0 and -0.0
  * equal), which is the exact-value rule of the repository's oracle gate. */
object Check {
  def typeName(dt: DataType): String = dt match {
    case LongType => "int64"
    case IntegerType => "int32"
    case ShortType => "int16"
    case ByteType => "int8"
    case DoubleType => "float64"
    case FloatType => "float32"
    case StringType => "str"
    case BooleanType => "bool"
    case other => other.simpleString
  }

  def value(v: Any, dt: DataType): String =
    if (v == null) "\\N"
    else dt match {
      case DoubleType | FloatType =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN) "nan" else if (d == 0.0) "0"
        else java.lang.Double.doubleToLongBits(d).toString
      case _ => v.toString
    }

  def render(schema: StructType, rows: Array[Row]): Seq[String] = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = cols.map { case (f, _) => s"${f.name}:${typeName(f.dataType)}" }.mkString("\t")
    header +: rows.toSeq.map(r => cols.map { case (f, i) => value(r.get(i), f.dataType) }.mkString("\t"))
  }

  def load(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** None when equal, else a one-line description of the first difference. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] =
    if (got.head != want.head) Some(s"schema ${got.head} != ${want.head}")
    else if (got.length != want.length) Some(s"rows ${got.length - 1} != ${want.length - 1}")
    else got.indices.find(i => got(i) != want(i)).map(i => s"row ${i - 1}: ${got(i)} != ${want(i)}")
}
