package graft.core

import org.apache.spark.sql.types._

/** Core stream/source model, mirroring the reference's connector-definition
  * DSL re-expressed on Spark types.
  *
  * Reference: `schema.go:5-17` (Schema), `schema.go:82-105` (FieldDef),
  * `sourcedef.go:62-118` (SourceDef builder). Where the reference reflects a
  * Go struct into JSON Schema, we declare a Spark `StructType` (or derive one
  * from a case class via `Encoders.product`) — the schema is the contract,
  * never inferred from data.
  */
sealed trait SortOrder { def wire: String }
object SortOrder {
  case object Asc extends SortOrder { val wire = "ASC" }
  case object Desc extends SortOrder { val wire = "DESC" }
}

/** A key field: path into the record (nested via multiple segments) plus
  * sort order. Reference `schema.go:82-105`.
  */
final case class FieldDef(path: Seq[String], order: SortOrder = SortOrder.Asc) {
  def dotted: String = path.mkString(".")
}

/** A named, schema'd, append-ordered record stream (reference `schema.go:5-17`;
  * "a table, collection, topic" per `pkg/airbyte/types.go:31`).
  *
  * @param iterateBy cursor field for incremental reads (reference
  *                  `IterateByKey`); `incremental` is implied by its presence
  *                  OR can be set alone for streams with opaque cursors.
  */
final case class StreamDef(
    name: String,
    schema: StructType,
    namespace: Option[String] = None,
    incremental: Boolean = false,
    primaryKey: Seq[FieldDef] = Nil,
    orderBy: Seq[FieldDef] = Nil,
    iterateBy: Option[FieldDef] = None) {

  def qualifiedName: String = namespace.fold(name)(ns => s"$ns.$name")

  /** JSON Schema document for catalogs/specs — from the declared StructType,
    * mirroring the reference's jsonschema reflection (`schema.go:27-35`).
    * Rendered once per stream definition.
    */
  lazy val jsonSchema: String = JsonSchema.ofStruct(schema)
}

object StreamDef {
  /** Declare a stream from a case class — the engine dual of the reference
    * reflecting a Go struct into JSON Schema (`schema.go:27-35`,
    * `integrations/shopify/types.go`): the type IS the contract.
    */
  def of[T <: Product : org.apache.spark.sql.Encoder](name: String): StreamDef =
    StreamDef(name, implicitly[org.apache.spark.sql.Encoder[T]].schema)
}

/** Secret config value: renders masked anywhere it is serialized
  * (reference `MaskedString`, `utils.go:12-24`).
  */
final case class Masked(value: String) {
  override def toString: String = Masked.MASK
}
object Masked { val MASK = "xxxx" }

/** StructType → JSON Schema (draft-07-ish, the subset the reference's
  * jsonschema lib emits: type/properties/items/required).
  */
object JsonSchema {
  def ofStruct(st: StructType): String = {
    val sb = new StringBuilder
    writeStruct(st, sb)
    sb.toString
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def writeStruct(st: StructType, sb: StringBuilder): Unit = {
    sb.append("{\"type\":\"object\",\"properties\":{")
    st.fields.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(esc(f.name)).append("\":")
      writeType(f.dataType, sb)
    }
    sb.append("},\"required\":[")
    val req = st.fields.filterNot(_.nullable).map(_.name)
    req.zipWithIndex.foreach { case (n, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(esc(n)).append('"')
    }
    sb.append("]}")
  }

  private def writeType(dt: DataType, sb: StringBuilder): Unit = dt match {
    case StringType => sb.append("{\"type\":\"string\"}")
    case IntegerType | LongType | ShortType | ByteType => sb.append("{\"type\":\"integer\"}")
    case FloatType | DoubleType | _: DecimalType => sb.append("{\"type\":\"number\"}")
    case BooleanType => sb.append("{\"type\":\"boolean\"}")
    case DateType | TimestampType | TimestampNTZType =>
      sb.append("{\"type\":\"string\",\"format\":\"date-time\"}")
    case BinaryType => sb.append("{\"type\":\"string\",\"contentEncoding\":\"base64\"}")
    case ArrayType(et, _) =>
      sb.append("{\"type\":\"array\",\"items\":")
      writeType(et, sb)
      sb.append('}')
    case MapType(_, vt, _) =>
      sb.append("{\"type\":\"object\",\"additionalProperties\":")
      writeType(vt, sb)
      sb.append('}')
    case st: StructType => writeStruct(st, sb)
    case other => sb.append("{\"type\":\"string\",\"description\":\"").append(esc(other.catalogString)).append("\"}")
  }
}
