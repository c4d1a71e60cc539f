package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException, JsonToken}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, ExpectsInputTypes, Expression, GetJsonObject, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_json_long(json, 'field')`: a top-level integer field of a JSON
  * object string, as a long. It equals
  * `CAST(get_json_object(json, '$.field') AS BIGINT)` on every input,
  * errors included, under the `evalMode` captured at analysis.
  *
  * Spark's `get_json_object` builds a char reader (with an 8 KB decoder
  * buffer) and a JSON generator per row, then re-parses the generated
  * text in the cast. The fast path here runs Jackson's byte-array
  * parser over the string's own bytes, with no decoding and no
  * generator. It answers only when the input is plain ASCII, the root
  * is an object that parses cleanly under Jackson's strict default
  * features, and the first field of that name is an integer token that
  * fits in a long, or no field of that name exists (null). Spark's
  * factory is the strict one plus lenient features (single quotes,
  * unescaped control characters), so an input the strict parser accepts
  * tokenizes the same under both. Every other row (floats, strings,
  * nested or `null` values, big integers, malformed or non-ASCII input,
  * a non-object root) evaluates the reference expression itself.
  */
case class JsonLong(json: Expression, field: String, evalMode: EvalMode.Value)
  extends UnaryExpression with ExpectsInputTypes {

  require(field.matches(JsonLong.FieldName),
    s"graft_json_long: field '$field' must match ${JsonLong.FieldName}")

  override def child: Expression = json
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_long"
  override def sql: String = s"$prettyName(${json.sql}, '$field')"

  /** The reference over a one-column row, evaluated interpreted. */
  @transient private lazy val reference: Expression =
    Cast(GetJsonObject(BoundReference(0, StringType, nullable = true),
      Literal("$." + field)), LongType, None, evalMode)

  override def nullSafeEval(input: Any): Any = extract(input.asInstanceOf[UTF8String])

  /** The field's value, or null when it is null (boxed: codegen calls
    * this once per row).
    */
  def extract(s: UTF8String): java.lang.Long = JsonLong.fastPath(s, field) match {
    case JsonLong.Fallback => reference.eval(InternalRow(s)).asInstanceOf[java.lang.Long]
    case v => v.asInstanceOf[java.lang.Long]
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jsonLong", this)
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |java.lang.Long $boxed = $self.extract($s);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonLong =
    copy(json = newChild)
}

object JsonLong {
  /** Plain field names only: `$.field` must be one top-level key. */
  val FieldName = "[A-Za-z0-9_]+"

  /** Jackson's default features: strict JSON. */
  private val Strict = new JsonFactory()

  /** The fast path's answer for "evaluate the reference". */
  private[graft] case object Fallback

  /** SQL builder: `graft_json_long(json, 'field')`, the field a string
    * literal; the cast mode is the session's at analysis.
    */
  private[functions] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, "graft_json_long(json, 'field') takes exactly 2 arguments")
    children(1) match {
      case Literal(f: UTF8String, _: StringType) => JsonLong(children.head, f.toString,
        EvalMode.fromSQLConf(SQLConf.get))
      case other => throw new IllegalArgumentException(
        s"graft_json_long(json, 'field'): field must be a string literal, got $other")
    }
  }

  /** The byte-level parse: the field's value, null, or [[Fallback]]. */
  private[graft] def fastPath(s: UTF8String, field: String): AnyRef = {
    val n = s.numBytes()
    val bytes = s.getBaseObject match {
      case a: Array[Byte] => a
      case _ => s.getBytes
    }
    val off = if (bytes eq s.getBaseObject) (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    // ASCII only (also rules out NUL, so Jackson's encoding detection
    // reads UTF-8), starting at the root object's brace
    if (n < 2 || bytes(off) != '{') return Fallback
    var i = off
    while (i < off + n) { if (bytes(i) <= 0) return Fallback; i += 1 }
    val p = Strict.createParser(bytes, off, n)
    try {
      p.nextToken() // START_OBJECT
      var found: java.lang.Long = null
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val isField = (found eq null) && p.currentName() == field
        t = p.nextToken()
        if (isField) {
          if (t != JsonToken.VALUE_NUMBER_INT ||
            p.getNumberType == JsonParser.NumberType.BIG_INTEGER) return Fallback
          found = java.lang.Long.valueOf(p.getLongValue)
        } else p.skipChildren()
        t = p.nextToken()
      }
      // strict parsing leaves only END_OBJECT here: the root closed
      found
    } catch {
      case _: JsonProcessingException => Fallback
    } finally p.close()
  }
}
