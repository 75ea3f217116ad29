package graft.functions

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonGenerator,
  JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.json.CreateJacksonParser
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The keys of one JSON object a record binds to, the way Jackson binds a
  * data class with FAIL_ON_UNKNOWN_PROPERTIES: `keys` in output order;
  * `objects`, the keys whose value must be a JSON object (forwarded as
  * text); `nested`, the keys whose object is parsed one level down to its
  * own shape instead of being forwarded. */
final case class JsonShape(keys: Seq[String], objects: Set[String] = Set.empty,
                           nested: Map[String, JsonShape] = Map.empty) {
  require((objects ++ nested.keySet).subsetOf(keys.toSet) &&
    objects.intersect(nested.keySet).isEmpty, s"inconsistent shape $this")

  /** Output columns, each named `prefix` + key: a key's text, or a nested
    * key's own columns (prefixed `<key>_`) in its place; then this level's
    * `reject` flag. */
  def schema(prefix: String): StructType = StructType(keys.flatMap { k =>
    nested.get(k).fold(Seq(StructField(prefix + k, StringType)))(_.schema(s"$prefix${k}_").fields)
  } :+ StructField(prefix + "reject", BooleanType))

  private[functions] lazy val width: Int = keys.map(k => nested.get(k).fold(1)(_.width)).sum + 1
  /** Each key's first output slot, relative to this level's first. */
  private[functions] lazy val slots: Map[String, Int] =
    keys.zip(keys.scanLeft(0)((at, k) => at + nested.get(k).fold(1)(_.width))).toMap
}

/** One Jackson pass over a JSON record, as a Generator of one row: the text
  * of every key of `shape` and a reject flag per object level. A Generate
  * node cannot be alias-inlined, so the parse runs once per record however
  * the optimizer rearranges the fields' consumers.
  *
  * The texts are the ones `json_tuple` renders (same parser features, same
  * rules): a string's contents unquoted, any other value re-serialized by
  * Jackson's generator; a `null` value leaves the key absent; a repeated key
  * keeps its last non-null value; a record that is not a JSON object, or
  * fails to parse anywhere, yields all NULLs. Text after the top-level
  * object is not read.
  *
  * A level's flag is true when the object has a key outside its shape or
  * its `objects` / `nested` key last held something other than an object —
  * the two ways Jackson's binding rejects a syntactically valid record
  * that `json_tuple` cannot see. A nested level follows its key's last
  * occurrence: a later object replaces the earlier one whole.
  *
  * Valid UTF-8 is parsed from the record's bytes; anything else goes
  * through the reader `json_tuple` uses, which reads invalid bytes as
  * U+FFFD. */
case class JsonFields(child: Expression, shape: JsonShape)
    extends UnaryExpression with Generator with CodegenFallback {

  override def prettyName: String = "graft_json_fields"
  override def elementSchema: StructType = shape.schema("")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  @transient private lazy val reader = new JsonFields.Reader(shape)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    new GenericInternalRow(if (s == null) new Array[Any](shape.width) else reader.read(s)) :: Nil
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonFields {
  /** The parser features `json_tuple` and `json_object_keys` read with. */
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** `shape`'s columns (names prefixed `prefix`) parsed from `json`. */
  def apply(json: Column, shape: JsonShape, prefix: String): Column =
    Bridge.column(JsonFields(Bridge.expression(json), shape))
      .as(shape.schema(prefix).fieldNames.toSeq)

  /** Per-task parse state: one output buffer and one generator, reused for
    * every non-string value and rebuilt after a failure. */
  private[functions] final class Reader(shape: JsonShape) {
    private val buffer = new java.io.ByteArrayOutputStream
    private var generator: JsonGenerator = _

    def read(s: UTF8String): Array[Any] = {
      val out = new Array[Any](shape.width)
      try {
        val p = parser(s)
        try {
          if (p.nextToken() == JsonToken.START_OBJECT) {
            clear(shape, out, 0)
            level(p, shape, out, 0)
          }
        } finally p.close()
        out
      } catch {
        case _: JsonProcessingException =>
          generator = null
          new Array[Any](shape.width)
      }
    }

    private def parser(s: UTF8String): JsonParser = {
      val n = s.numBytes
      val (bytes, off) = s.getBaseObject match {
        case a: Array[Byte] => (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
        case _ => (s.getBytes, 0)
      }
      // a byte source guesses its encoding from a BOM or a zero byte in
      // the first four; a record opening `{` and then a non-zero byte
      // has neither
      if (n > 0 && bytes(off) == '{' && (n == 1 || bytes(off + 1) != 0) && s.isValid)
        factory.createParser(bytes, off, n)
      else CreateJacksonParser.utf8String(factory, s)
    }

    /** `shape`'s block of `out` from `base` as for an absent object: no
      * text, every flag false. */
    private def clear(shape: JsonShape, out: Array[Any], base: Int): Unit = {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], base, base + shape.width - 1, null)
      out(base + shape.width - 1) = false
      shape.nested.foreach { case (k, sub) => clear(sub, out, base + shape.slots(k)) }
    }

    /** Reads the object whose START_OBJECT `p` is on into `out` from
      * `base`. */
    private def level(p: JsonParser, shape: JsonShape, out: Array[Any], base: Int): Unit = {
      var reject = false
      // per object-typed key: did its last non-null value open an object?
      var lastObject = Map.empty[String, Boolean]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val key = p.currentName
        val t = p.nextToken()
        shape.slots.get(key) match {
          case None =>
            reject = true
            p.skipChildren()
          case Some(_) if t == JsonToken.VALUE_NULL =>
          case Some(slot) => shape.nested.get(key) match {
            case Some(sub) =>
              clear(sub, out, base + slot)
              lastObject += key -> (t == JsonToken.START_OBJECT)
              if (t == JsonToken.START_OBJECT) level(p, sub, out, base + slot)
              else p.skipChildren()
            case None =>
              if (shape.objects(key)) lastObject += key -> (t == JsonToken.START_OBJECT)
              out(base + slot) = text(p, t)
          }
        }
      }
      out(base + shape.width - 1) = reject || lastObject.exists(!_._2)
    }

    /** The value `p` is on, as `json_tuple` renders it. A string without
      * surrogates encodes directly; anything else goes through Jackson's
      * generator, which fails on a lone surrogate as `json_tuple` does. */
    private def text(p: JsonParser, t: JsonToken): UTF8String = {
      if (t == JsonToken.VALUE_STRING) {
        val s = p.getText
        var i = 0
        while (i < s.length && !Character.isSurrogate(s.charAt(i))) i += 1
        if (i == s.length) return UTF8String.fromString(s)
      }
      if (generator == null) {
        generator = factory.createGenerator(buffer, JsonEncoding.UTF8)
        generator.setRootValueSeparator(null)
      }
      buffer.reset()
      if (t == JsonToken.VALUE_STRING) generator.writeRaw(p.getText)
      else generator.copyCurrentStructure(p)
      generator.flush()
      UTF8String.fromBytes(buffer.toByteArray)
    }
  }
}
