package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.routing.{Draft4Schema, Envelope, Router}

/** The routing registry every routing workload uses: eight draft-04
  * documents compiled with [[Draft4Schema.compile]]. `refund` and `login`
  * use raw-payload keywords (additionalProperties, min/maxProperties,
  * patternProperties), so the hoisted raw-JSON re-parses run.
  */
object Registry {

  private def doc(name: String, body: String): String =
    s"""{"$$schema": "http://json-schema.org/draft-04/schema#",
       | "self": {"vendor": "${Gen.Vendor}", "name": "$name", "version": "1-0-0"},
       | "type": "object", $body}""".stripMargin

  val documents: Seq[String] = Seq(
    doc("click", """"required": ["id", "k"],
      "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 1000},
                     "tag": {"type": "string", "pattern": "^t[0-9]+$"}}"""),
    doc("purchase", """"required": ["id", "v"],
      "properties": {"v": {"type": "number", "minimum": 0, "exclusiveMinimum": true,
                           "maximum": 5000},
                     "name": {"type": "string", "minLength": 2, "maxLength": 24}}"""),
    doc("signup", """"required": ["name"],
      "properties": {"name": {"type": "string", "pattern": "^[a-z]{3,12}$"},
                     "tag": {"enum": ["web", "ios", "android"]}}"""),
    doc("view", """"required": ["k", "items"],
      "properties": {"k": {"type": "integer", "multipleOf": 5},
                     "items": {"type": "array", "minItems": 1, "maxItems": 8,
                               "items": {"type": "integer", "minimum": 0}}}"""),
    doc("cart", """"required": ["items"],
      "properties": {"items": {"type": "array", "uniqueItems": true, "maxItems": 6}}"""),
    doc("search", """"required": ["name"],
      "properties": {"name": {"type": "string", "minLength": 1, "maxLength": 40}},
      "anyOf": [{"required": ["k"]}, {"required": ["tag"]}]"""),
    doc("refund", """"required": ["id", "v"],
      "properties": {"id": {"type": "integer"}, "v": {"type": "number"},
                     "name": {"type": "string"}},
      "additionalProperties": false, "maxProperties": 3"""),
    doc("login", """"required": ["name"],
      "properties": {"name": {"type": "string", "minLength": 3}},
      "patternProperties": {"^x-": {"pattern": "^[0-9]+$"}},
      "additionalProperties": false, "minProperties": 2"""))

  val envelopeDocument: String =
    s"""{"self": {"vendor": "${Gen.Vendor}", "name": "envelope", "version": "1-0-0"},
       | "required": ["schema", "data", "origin"],
       | "properties": {"origin": {"type": "string",
       |                           "pattern": "^[a-z]+:[a-z0-9-]+$$"}}}""".stripMargin

  /** Decoded event struct: the union of every registered type's fields. */
  val payloadType: StructType = Envelope.payloadSchema(Seq(
    StructField("id", LongType), StructField("k", LongType),
    StructField("v", DoubleType), StructField("name", StringType),
    StructField("tag", StringType), StructField("items", ArrayType(LongType)),
    StructField("raw", StringType)))

  /** Compile the documents into a router config (what a porter registers). */
  def config(): Router.Config = {
    val envelope = Draft4Schema.compile(envelopeDocument)
    require(envelope.id == Gen.EnvelopeId)
    val registry = documents.map { d =>
      val c = Draft4Schema.compile(d, rawPath = Some("raw"))
      c.id -> Router.Registration(c.registeredSchema, identity[DataFrame])
    }.toMap
    require(registry.keySet == Gen.Registered.map(Gen.typeId).toSet)
    Router.Config(envelope.id, envelope.registeredSchema, registry)
  }
}
