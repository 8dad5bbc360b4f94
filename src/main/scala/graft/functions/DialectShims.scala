package graft.functions

import java.util.regex.Pattern

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, ListAgg}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB-dialect function shims (SURVEY §7.3 "Dialect shims" row).
  *
  * The reference passes user SQL to DuckDB verbatim
  * (internal/query/execute.go:45-77), so its users write DuckDB
  * dialect: `strptime` in custom-table transforms
  * (tests/acceptance/test_files/table_block.bats:45-47), `list(...)`
  * aggregates, `len`, `epoch_ms`, `json_structure`
  * (internal/database/convertor_schema.go:63-99), and the `inet`
  * extension's `host`/`family` (auto-loaded at collection,
  * internal/collector/collector.go:97-100). Registering the same names
  * in Spark's FunctionRegistry lets that SQL run unmodified.
  *
  * Nearly every shim is a zero-cost alias: the builder rewrites to the
  * native Catalyst expression at ANALYSIS time, so the plan is exactly
  * what the Spark-native spelling would produce — whole-stage codegen,
  * pushdown, and partial aggregation all intact (nothing here adds a
  * UDF boundary, which is the 100 TB requirement). `json_structure` is
  * the one real expression, with `doGenCode` calling a static helper.
  */
object DialectShims {

  /** Translate a C-style strptime/strftime format (DuckDB's dialect)
    * to a java.time DateTimeFormatter pattern. Literal runs containing
    * letters are single-quoted (java.time treats bare letters as
    * pattern chars; C treats them as literals).
    */
  def cFormatToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = {
      if (lit.nonEmpty) {
        val s = lit.toString
        if (s.exists(c => c.isLetter || c == '\''))
          out.append('\'').append(s.replace("'", "''")).append('\'')
        else out.append(s)
        lit.clear()
      }
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val c = fmt.charAt(i + 1)
        val j = c match {
          case 'Y' => "yyyy"; case 'y' => "yy"
          case 'm' => "MM";   case 'd' => "dd"
          case 'H' => "HH";   case 'I' => "hh"
          case 'M' => "mm";   case 'S' => "ss"
          case 'f' => "SSSSSS" // microseconds
          case 'g' => "SSS"    // DuckDB: milliseconds
          case 'n' => "SSSSSSSSS"
          case 'p' => "a";    case 'j' => "DDD"
          case 'a' => "EEE";  case 'A' => "EEEE"
          case 'b' => "MMM";  case 'B' => "MMMM"
          case 'Z' => "zzz";  case 'z' => "xx"
          case '%' => lit.append('%'); i += 2; ""
          case other => throw new IllegalArgumentException(
            s"unsupported strptime specifier %$other in '$fmt'")
        }
        if (j.nonEmpty) { flush(); out.append(j); i += 2 }
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    out.toString
  }

  private def litString(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal string argument, got $e")
  }

  private def cFmt(e: Expression, fn: String): Expression =
    Literal(UTF8String.fromString(cFormatToJava(litString(e, fn))),
      StringType)

  /** Session-timezone-aware cast to TIMESTAMP (LTZ). A bare
    * `Cast(e, TimestampType)` stays UNRESOLVED when `e` is
    * TIMESTAMP_NTZ (the NTZ→LTZ cast is timezone-dependent and the
    * manually-built node never meets the ResolveTimeZone rule inside a
    * RuntimeReplaceable), which surfaced as an INTERNAL_ERROR on
    * `epoch_ms(min(ts))` over parquet `timestamp[us]` columns — Spark 4
    * reads those as NTZ. DuckDB's timestamps are naive, and the session
    * runs in UTC, so naive-as-UTC is exactly the oracle's reading.
    */
  private[functions] def tzCast(e: Expression): Expression =
    Cast(e, TimestampType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))

  /** Coerce any numeric-element array to array<double> for the vector
    * shims: SQL literals like `list_value(1.5, 2.5)` parse as
    * DECIMAL arrays, which the dot/L2 static loops don't read (they
    * handle float/double/long/int — the stored embedding types).
    * DuckDB applies the same implicit DOUBLE coercion in its list
    * functions, so byte-identical SQL agrees.
    */
  private def dvec(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  /** name → expression builder, the registry-agnostic shim table —
    * consumed by [[register]] (imperative, per-session) and
    * [[graft.GraftExtensions]] (`spark.sql.extensions` injection).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "strptime" -> { es: Seq[Expression] =>
      new ParseToTimestamp(es(0), cFmt(es(1), "strptime")) },
    "strftime" -> { es: Seq[Expression] =>
      DateFormatClass(es(0), cFmt(es(1), "strftime")) },
    "epoch_ms" -> { es: Seq[Expression] => EpochMs(es.head) },
    // DuckDB: DOUBLE seconds incl. fraction
    "epoch" -> { es: Seq[Expression] =>
      Divide(Cast(UnixMicros(tzCast(es.head)), DoubleType),
        Literal(1e6)) },
    // NOTE: DuckDB's date_diff/datediff (boundary-crossing counts)
    // CANNOT be shimmed: both spellings are Spark PARSER syntax
    // (unquoted unit, elapsed-unit semantics) resolved before the
    // function registry — documented divergence in COVERAGE.md.
    // DuckDB list()/array_agg PRESERVES null elements; CollectList
    // drops them. NullPreservingList is CollectList minus the null
    // skip — an AggregateFunction root, so `list(DISTINCT x)` still
    // resolves.
    "list" -> { es: Seq[Expression] => NullPreservingList(es.head) },
    "list_sort" -> { es: Seq[Expression] => new SortArray(es.head) },
    "list_contains" -> { es: Seq[Expression] => ArrayContains(es(0), es(1)) },
    // lambda args arrive as parsed LambdaFunction expressions — the
    // higher-order shims pass them straight through to the native
    // array expressions (same `x -> …` lambda syntax in both dialects)
    "list_transform" -> { es: Seq[Expression] => ArrayTransform(es(0), es(1)) },
    "list_filter" -> { es: Seq[Expression] => ArrayFilter(es(0), es(1)) },
    "list_distinct" -> { es: Seq[Expression] => ArrayDistinct(es.head) },
    // DuckDB array_to_string == Spark array_join (2-arg form)
    "array_to_string" -> { es: Seq[Expression] =>
      ArrayJoin(es(0), es(1), None) },
    "list_unique" -> { es: Seq[Expression] =>
      Cast(Size(ArrayDistinct(es.head)), LongType) },
    "len" -> { es: Seq[Expression] => Len(es.head) },
    "string_split" -> { es: Seq[Expression] =>
      StringSplit(es(0),
        Literal(UTF8String.fromString(
          Pattern.quote(litString(es(1), "string_split"))), StringType),
        Literal(-1)) },
    "regexp_matches" -> { es: Seq[Expression] => RLike(es(0), es(1)) },
    // regex split: DuckDB keeps trailing empties like Spark limit=-1
    "string_split_regex" -> { es: Seq[Expression] =>
      StringSplit(es(0), es(1), Literal(-1)) },
    // DuckDB list_slice(l, a, b): 1-based INCLUSIVE end → Spark
    // slice(l, a, b - a + 1)
    "list_slice" -> { es: Seq[Expression] =>
      Slice(es(0), es(1), Add(Subtract(es(2), es(1)), Literal(1))) },
    "list_append" -> { es: Seq[Expression] => ArrayAppend(es(0), es(1)) },
    // DuckDB arg order: list_prepend(elem, list)
    "list_prepend" -> { es: Seq[Expression] => ArrayPrepend(es(1), es(0)) },
    "list_concat" -> { es: Seq[Expression] => Concat(es) },
    "array_length" -> { es: Seq[Expression] =>
      Cast(Size(es.head), LongType) },
    // DuckDB spellings of the predicate pair (Spark registers
    // startswith/endswith); prefix/suffix are the DuckDB aliases
    "starts_with" -> { es: Seq[Expression] => StartsWith(es(0), es(1)) },
    "ends_with" -> { es: Seq[Expression] => EndsWith(es(0), es(1)) },
    "prefix" -> { es: Seq[Expression] => StartsWith(es(0), es(1)) },
    "suffix" -> { es: Seq[Expression] => EndsWith(es(0), es(1)) },
    // strpos: 1-based position, 0 when absent; BIGINT like DuckDB so
    // byte-identical SQL (q35) type-matches across engines
    "strpos" -> { es: Seq[Expression] =>
      Cast(StringInstr(es(0), es(1)), LongType) },
    // string_agg(s, sep): AggregateFunction root like `list`, so
    // DISTINCT/FILTER still resolve
    "string_agg" -> { es: Seq[Expression] =>
      new ListAgg(es(0), es(1), Nil, 0, 0) },
    "json_structure" -> { es: Seq[Expression] => JsonStructure(es.head) },
    // VSS/vector surface (DuckDB core list fns + vss extension
    // spellings): double-precision, codegen'd via the same static-call
    // expressions the Similarity operators score with — reference
    // users' embedding SQL runs unmodified AND stays in
    // whole-stage codegen
    "list_value" -> { es: Seq[Expression] => CreateArray(es) },
    "list_inner_product" -> { es: Seq[Expression] =>
      DotProduct(dvec(es(0)), dvec(es(1))) },
    "list_dot_product" -> { es: Seq[Expression] =>
      DotProduct(dvec(es(0)), dvec(es(1))) },
    "list_negative_inner_product" -> { es: Seq[Expression] =>
      UnaryMinus(DotProduct(dvec(es(0)), dvec(es(1)))) },
    // sqrt(aa)·sqrt(bb) (not sqrt(aa·bb)) — the exact arithmetic
    // Similarity.cosine uses, so shimmed SQL matches operator output
    // bit for bit
    "list_cosine_similarity" -> { es: Seq[Expression] =>
      val (a, b) = (dvec(es(0)), dvec(es(1)))
      Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b)))) },
    "list_cosine_distance" -> { es: Seq[Expression] =>
      val (a, b) = (dvec(es(0)), dvec(es(1)))
      Subtract(Literal(1.0),
        Divide(DotProduct(a, b),
          Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))) },
    "list_distance" -> { es: Seq[Expression] =>
      L2Distance(dvec(es(0)), dvec(es(1))) },
    // inet-extension surface (reference auto-loads `inet`): address
    // strings, not a dedicated type — host strips the /mask, family
    // sniffs v4 vs v6
    "host" -> { es: Seq[Expression] =>
      SubstringIndex(es.head, Literal(UTF8String.fromString("/"),
        StringType), Literal(1)) },
    "family" -> { es: Seq[Expression] =>
      CaseWhen(Seq((Contains(es.head,
        Literal(UTF8String.fromString(":"), StringType)), Literal(6))),
        Some(Literal(4))) })

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Registered.once(spark, "dialect") {
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, b) =>
        // a shim that overrides a Spark built-in (`len`, `string_agg`)
        // drops it first: replacing a registered name logs a WARN
        // line on stderr in every process
        reg.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        reg.createOrReplaceTempFunction(name, b, "built-in") }
    }

  // ---- json_structure runtime ------------------------------------------

  private val mapper = new ObjectMapper

  /** Static entry point for generated code: DuckDB-style structure of a
    * JSON document (nonnegative ints → UBIGINT, negative → BIGINT,
    * decimals → DOUBLE; array elements MERGE — numeric widening, object
    * key union, irreconcilable shapes → "JSON"; all behaviors pinned
    * against DuckDB in DialectShimsSpec). Null on parse failure (DuckDB
    * raises; NULL keeps the scan total).
    */
  def jsonStructureOf(s: UTF8String): UTF8String =
    try UTF8String.fromString(render(structureOf(mapper.readTree(s.toString))))
    catch { case _: Exception => null }

  // structure model: leaf type name, object, or array-of-one-structure
  private sealed trait S
  private final case class SLeaf(t: String) extends S
  private final case class SObj(
      fields: scala.collection.mutable.LinkedHashMap[String, S]) extends S
  private final case class SArr(elem: S) extends S

  private def structureOf(n: JsonNode): S = {
    if (n == null || n.isNull) SLeaf("NULL")
    else if (n.isObject) {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, S]
      val it = n.fieldNames()
      while (it.hasNext) { val k = it.next(); m(k) = structureOf(n.get(k)) }
      SObj(m)
    } else if (n.isArray) {
      if (n.size == 0) SArr(SLeaf("NULL"))
      else SArr((0 until n.size).map(i => structureOf(n.get(i))).reduce(mergeS))
    }
    else if (n.isBoolean) SLeaf("BOOLEAN")
    else if (n.isTextual) SLeaf("VARCHAR")
    else if (n.isIntegralNumber) {
      // for big integers consult signum only: asLong TRUNCATES, so
      // 18446744073709551615 would read as -1 and misreport BIGINT
      val negative =
        if (n.isBigInteger) n.bigIntegerValue.signum < 0
        else n.asLong(0L) < 0
      if (negative) SLeaf("BIGINT") else SLeaf("UBIGINT")
    }
    else SLeaf("DOUBLE")
  }

  private val numericRank = Map("UBIGINT" -> 0, "BIGINT" -> 1, "DOUBLE" -> 2)

  private def mergeS(a: S, b: S): S = (a, b) match {
    case (SLeaf("NULL"), x) => x
    case (x, SLeaf("NULL")) => x
    case (SLeaf(p), SLeaf(q)) if p == q => a
    case (SLeaf(p), SLeaf(q))
        if numericRank.contains(p) && numericRank.contains(q) =>
      SLeaf(if (numericRank(p) >= numericRank(q)) p else q)
    case (SObj(f1), SObj(f2)) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, S]
      f1.foreach { case (k, v) => m(k) = v }
      f2.foreach { case (k, v) =>
        m(k) = m.get(k).map(mergeS(_, v)).getOrElse(v) }
      SObj(m)
    case (SArr(x), SArr(y)) => SArr(mergeS(x, y))
    case _ => SLeaf("JSON")
  }

  private def render(s: S): String = s match {
    case SLeaf(t) => "\"" + t + "\""
    case SArr(e)  => "[" + render(e) + "]"
    case SObj(fs) => fs.map { case (k, v) =>
      "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" + render(v)
    }.mkString("{", ",", "}")
  }
}

/** `len(x)` — DuckDB's length: BIGINT over strings, binary, and lists
  * (Spark spells these `length`/`size` and returns INT). Pure
  * analysis-time rewrite (RuntimeReplaceable) — no UDF boundary.
  */
case class Len(child: Expression) extends Expression
    with RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType | _: MapType => Cast(Size(child), LongType)
    case BinaryType => Cast(Length(child), LongType)
    case _ => Cast(Length(Cast(child, StringType)), LongType)
  }
  override def prettyName: String = "len"
  override protected def withNewChildInternal(c: Expression): Len = copy(c)
}

/** `list(x)` with DuckDB semantics: NULL elements are collected in
  * place (Spark's CollectList silently drops them — positional
  * alignment of two list() aggregates from one group, and len() of the
  * result, would silently diverge from the oracle). Implementation is
  * CollectList's shape minus the null skip, with a nullable-element
  * buffer serializer.
  */
case class NullPreservingList(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends aggregate.Collect[scala.collection.mutable.ArrayBuffer[Any]]
    with UnaryLike[Expression] {

  import scala.collection.mutable.ArrayBuffer
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def createAggregationBuffer(): ArrayBuffer[Any] = ArrayBuffer.empty

  override protected def convertToBufferElement(value: Any): Any =
    InternalRow.copyValue(value)

  // Collect.update skips null inputs; DuckDB list() keeps them
  override def update(buffer: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] = {
    buffer += convertToBufferElement(child.eval(input))
    buffer
  }

  override protected lazy val bufferElementType: DataType = child.dataType
  override def dataType: DataType = ArrayType(child.dataType, containsNull = true)
  override def nullable: Boolean = false
  override def defaultResult: Option[Literal] =
    Option(Literal.create(Array.empty[Any], dataType))

  override def eval(buffer: ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toSeq)

  // Collect's serializer projects the buffer as containsNull=false —
  // ours must carry nulls
  private lazy val nullableProjection = UnsafeProjection.create(
    Array[DataType](ArrayType(bufferElementType, containsNull = true)))

  override def serialize(obj: ArrayBuffer[Any]): Array[Byte] =
    nullableProjection.apply(
      InternalRow.apply(new GenericArrayData(obj.toSeq))).getBytes

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Any] = {
    val buffer = ArrayBuffer.empty[Any]
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(bufferElementType,
      (_, v) => buffer += InternalRow.copyValue(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): NullPreservingList =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): NullPreservingList =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): NullPreservingList =
    copy(child = c)
  override def prettyName: String = "list"
}

/** `epoch_ms(x)` — DuckDB's two-way converter: timestamp → BIGINT
  * milliseconds; integer → timestamp. Direction picked from the
  * resolved input type at analysis time.
  */
case class EpochMs(child: Expression) extends Expression
    with RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case LongType | IntegerType | ShortType =>
      MillisToTimestamp(Cast(child, LongType))
    case _ => UnixMillis(DialectShims.tzCast(child))
  }
  override def prettyName: String = "epoch_ms"
  override protected def withNewChildInternal(c: Expression): EpochMs =
    copy(c)
}

/** `json_structure(json)` — per-row type skeleton of a JSON document
  * (reference uses it as the schema-inference fallback,
  * internal/database/convertor_schema.go:63-99). Runs inside
  * whole-stage codegen via a static helper; the Jackson parse is the
  * per-row cost, same shape as DuckDB's.
  */
case class JsonStructure(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_structure"

  override def nullSafeEval(input: Any): Any =
    DialectShims.jsonStructureOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.DialectShims.jsonStructureOf($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(c: Expression): JsonStructure =
    copy(c)
}
