package graft.functions

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** True Avro *wire-format* codec for the trade envelope — the reference's
  * actual Kafka payload encoding (`scripts/FinnhubProducer/utils/
  * common_function.py:22-27` writes with `DatumWriter`;
  * `ProcessStockStream.py:100-102` reads with `from_avro`). The
  * distribution ships no `spark-avro` connector, but Avro core does ship
  * (`/opt/spark/jars/avro-1.12.1.jar`), so the envelope schema from
  * `trades.avsc:1-55` is declared once here and en/decoded by a pair of
  * Catalyst expressions. They are ingest-boundary expressions
  * (CodegenFallback): the per-row cost is the Avro serde itself, not
  * expression dispatch.
  */
object AvroCodec {

  /** Avro equivalent of `trades.avsc:1-55` / [[Schemas.envelope]]:
    * `message{data: array<trade{c: union[array<union[null,string]>, null],
    * p: double, s: string, t: long, v: double, cv: double}>, type: string}`. */
  val envelopeAvroJson: String =
    """{"type":"record","name":"message","fields":[
      |  {"name":"data","type":{"type":"array","items":
      |    {"type":"record","name":"trade","fields":[
      |      {"name":"c","type":[{"type":"array","items":["null","string"]},"null"]},
      |      {"name":"p","type":"double"},
      |      {"name":"s","type":"string"},
      |      {"name":"t","type":"long"},
      |      {"name":"v","type":"double"},
      |      {"name":"cv","type":"double"}]}}},
      |  {"name":"type","type":"string"}]}""".stripMargin

  private def parsedSchema: Schema = new Schema.Parser().parse(envelopeAvroJson)

  /** struct(envelope) → Avro binary. */
  case class EncodeEnvelope(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = BinaryType

    @transient private lazy val schema = parsedSchema
    @transient private lazy val tradeSchema =
      schema.getField("data").schema().getElementType
    @transient private lazy val writer =
      new GenericDatumWriter[GenericRecord](schema)

    override def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[InternalRow]
      val rec = new GenericData.Record(schema)
      val trades = row.getArray(0)
      val out = new java.util.ArrayList[GenericRecord](trades.numElements())
      var i = 0
      while (i < trades.numElements()) {
        val t = trades.getStruct(i, 6)
        val tr = new GenericData.Record(tradeSchema)
        tr.put("c",
          if (t.isNullAt(0)) null
          else {
            val arr = t.getArray(0)
            (0 until arr.numElements()).map { j =>
              if (arr.isNullAt(j)) null else arr.getUTF8String(j).toString
            }.asJava
          })
        tr.put("p", t.getDouble(1))
        tr.put("s", t.getUTF8String(2).toString)
        tr.put("t", t.getLong(3))
        tr.put("v", t.getDouble(4))
        tr.put("cv", t.getDouble(5))
        out.add(tr)
        i += 1
      }
      rec.put("data", out)
      rec.put("type", row.getUTF8String(1).toString)
      val bos = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      writer.write(rec, enc)
      enc.flush()
      bos.toByteArray
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Avro binary → struct(envelope). */
  case class DecodeEnvelope(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = Schemas.envelope

    @transient private lazy val schema = parsedSchema
    @transient private lazy val reader =
      new GenericDatumReader[GenericRecord](schema)

    private def utf8(v: AnyRef): UTF8String = v match {
      case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      case s: CharSequence => UTF8String.fromString(s.toString)
    }

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      val dec = DecoderFactory.get().binaryDecoder(bytes, null)
      val rec = reader.read(null, dec)
      val data = rec.get("data").asInstanceOf[java.util.List[GenericRecord]]
      val trades = new Array[Any](data.size())
      var i = 0
      while (i < data.size()) {
        val t = data.get(i)
        val c = t.get("c") match {
          case null => null
          case l: java.util.List[_] =>
            new GenericArrayData(l.asScala.map {
              case null => null
              case v: AnyRef => utf8(v)
            }.toArray[Any])
        }
        trades(i) = InternalRow(
          c.asInstanceOf[ArrayData],
          t.get("p").asInstanceOf[Double],
          utf8(t.get("s").asInstanceOf[AnyRef]),
          t.get("t").asInstanceOf[Long],
          t.get("v").asInstanceOf[Double],
          t.get("cv").asInstanceOf[Double])
        i += 1
      }
      InternalRow(new GenericArrayData(trades),
        utf8(rec.get("type").asInstanceOf[AnyRef]))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }
}
