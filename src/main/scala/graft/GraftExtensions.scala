package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.AvroCodec

/** Session-extension entry point: makes every graft custom expression a
  * first-class SQL function in any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — no per-query registration
  * calls. This is the standard integration seam for a Spark-native
  * library (SURVEY.md §4: custom surface stays minimal — four codegen'd
  * expressions, no custom planner rules needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two array<double>"),
      (exprs: Seq[Expression]) => functions.DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("lsh_bits"),
      info("lsh_bits", "lsh_bits(v, nBits) - random-hyperplane LSH bucket id"),
      (exprs: Seq[Expression]) => functions.HyperplaneLshBits(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("avro_encode_envelope"),
      info("avro_encode_envelope",
        "avro_encode_envelope(struct) - trade envelope to Avro binary"),
      (exprs: Seq[Expression]) => AvroCodec.EncodeEnvelope(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("avro_decode_envelope"),
      info("avro_decode_envelope",
        "avro_decode_envelope(binary) - Avro binary to trade envelope"),
      (exprs: Seq[Expression]) => AvroCodec.DecodeEnvelope(exprs.head)))
  }
}
