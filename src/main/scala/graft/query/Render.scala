package graft.query

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._

/** Output renderers: table / csv / json / line over any DataFrame —
  * the engine's counterpart of the reference CLI's output modes
  * (/root/reference/cmd/query.go:50-57, display via pipe-fittings
  * querydisplay; golden CSV shape in acceptance tests, e.g.
  * tests/acceptance/test_files/all_column_types.bats:17-23).
  *
  * csv/json/line STREAM through `toLocalIterator` — the driver holds
  * one partition at a time; a result already in memory (a local
  * relation, like a metadata-served aggregate) is read in place, with
  * no Spark job and no generated code (`table` too) — and the `*To`
  * variants write each rendered row straight to the output sink, so a
  * huge result never accumulates in driver memory (the String
  * convenience wrappers DO buffer; the CLI uses the streaming forms).
  * `table` must buffer to compute column widths and is capped at
  * `maxRows`.
  */
object Render {

  /** DuckDB-style scalar rendering (what the golden CSVs assert):
    * timestamps `yyyy-MM-dd HH:mm:ss[.ffffff]` with zero fractions
    * trimmed, doubles without trailing `.0`, arrays `[a, b]`, structs
    * `{'k': v}`.
    */
  def cell(v: Any): String = v match {
    case null => ""
    case ts: Timestamp =>
      val base = ts.toString // yyyy-mm-dd hh:mm:ss.f…
      if (base.endsWith(".0")) base.dropRight(2) else base
    case d: Date => d.toString
    case dbl: Double =>
      if (dbl == dbl.floor && !dbl.isInfinite && math.abs(dbl) < 1e15)
        dbl.toLong.toString
      else dbl.toString
    case f: Float => cell(f.toDouble)
    case seq: scala.collection.Seq[_] =>
      seq.map(cell).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${cell(k)}=${cell(x)}" }.mkString("{", ", ", "}")
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (n, x) => s"'$n': ${cell(x)}" }.mkString("{", ", ", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** CSV: RFC-4180-ish — cells containing the separator, quotes, or
    * newlines are double-quoted (the acceptance goldens are unquoted
    * simple cells, which this reproduces byte-for-byte).
    */
  def csv(df: DataFrame, header: Boolean = true, sep: String = ","): String =
    buffered(csvTo(_, df, header, sep))

  /** Streaming CSV: rows written to `out` as they arrive. */
  def csvTo(out: Appendable, df: DataFrame,
      header: Boolean = true, sep: String = ","): Unit = {
    def esc(s: String): String =
      if (s.contains(sep) || s.contains("\"") || s.contains("\n"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    var first = true
    def nl(): Unit = { if (!first) out.append('\n'); first = false }
    if (header) { nl(); out.append(df.columns.map(esc).mkString(sep)) }
    val it = rows(df)
    while (it.hasNext) {
      val r = it.next()
      nl()
      out.append(r.toSeq.map(v => esc(cell(v))).mkString(sep))
    }
  }

  /** JSON: array of objects, keys in column order. */
  def json(df: DataFrame): String = buffered(jsonTo(_, df))

  /** Streaming JSON: rows written to `out` as they arrive. */
  def jsonTo(out: Appendable, df: DataFrame): Unit = {
    def jval(v: Any, dt: DataType): String = (v, dt) match {
      case (null, _) => "null"
      case (b: Boolean, _) => b.toString
      case (n: Byte, _) => n.toString
      case (n: Short, _) => n.toString
      case (n: Int, _) => n.toString
      case (n: Long, _) => n.toString
      case (n: Double, _) if !n.isNaN && !n.isInfinite => n.toString
      case (n: Float, _) if !n.isNaN && !n.isInfinite => n.toString
      case (n: java.math.BigDecimal, _) => n.toPlainString
      case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
        seq.map(jval(_, et)).mkString("[", ",", "]")
      case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
        // a real JSON object (string keys), not the quoted {k=v} cell form
        m.map { case (k, x) => s"${jstr(cell(k))}:${jval(x, vt)}" }
          .mkString("{", ",", "}")
      case (r: Row, st: StructType) =>
        st.fields.zip(r.toSeq).map { case (f, x) =>
          s"${jstr(f.name)}:${jval(x, f.dataType)}"
        }.mkString("{", ",", "}")
      case (other, _) => jstr(cell(other))
    }
    val fields = df.schema.fields
    out.append('[')
    val it = rows(df)
    var first = true
    while (it.hasNext) {
      val r = it.next()
      if (!first) out.append(',')
      first = false
      out.append(fields.zip(r.toSeq).map { case (f, v) =>
        s"${jstr(f.name)}:${jval(v, f.dataType)}"
      }.mkString("{", ",", "}"))
    }
    out.append(']')
  }

  /** JSON string escape (quotes, backslash, all control chars) —
    * shared with the CLI's introspection JSON (`Main.jsonObj`). */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Line mode: one `column = value` per line, blank line between rows
    * (steampipe/tailpipe line output shape).
    */
  def line(df: DataFrame): String = buffered(lineTo(_, df))

  /** Streaming line mode: rows written to `out` as they arrive. */
  def lineTo(out: Appendable, df: DataFrame): Unit = {
    val cols = df.columns
    val w = cols.map(_.length).maxOption.getOrElse(0)
    val it = rows(df)
    var firstRow = true
    while (it.hasNext) {
      val r = it.next()
      if (!firstRow) out.append('\n')
      var firstCol = true
      cols.zip(r.toSeq).foreach { case (c, v) =>
        if (!firstCol || !firstRow) out.append('\n')
        firstCol = false
        out.append(c.reverse.padTo(w, ' ').reverse).append(" = ")
          .append(cell(v))
      }
      firstRow = false
    }
  }

  /** `df`'s rows in order: [[localRows]] when it has them, else
    * streamed.
    */
  private def rows(df: DataFrame): Iterator[Row] =
    localRows(df).getOrElse(df.toLocalIterator().asScala)

  /** `df`'s rows when its executed plan is a local table scan held in
    * memory (a metadata-served aggregate, a literal row), converted in
    * place: no job, and no generated code. `collect()` would compile
    * two projections (the scan's unsafe projection and the row
    * deserializer) to hand back one row; the type converters build the
    * same external values — the ones `collect()` returns — without
    * compiling anything.
    */
  private[query] def localRows(df: DataFrame): Option[Iterator[Row]] =
    df.queryExecution.executedPlan match {
      case scan: LocalTableScanExec =>
        val toRow = CatalystTypeConverters.createToScalaConverter(
          DataTypeUtils.fromAttributes(scan.output))
        Some(scan.rows.iterator.map(r => toRow(r).asInstanceOf[Row]))
      case _ => None
    }

  private def buffered(body: Appendable => Unit): String = {
    val sb = new java.lang.StringBuilder
    body(sb)
    sb.toString
  }

  /** ASCII table with a box border (interactive display; buffered). */
  def table(df: DataFrame, maxRows: Int = 10000): String = {
    val cols = df.columns.toSeq
    val limited = df.limit(maxRows)
    val rows = localRows(limited).getOrElse(limited.collect().iterator)
      .map(_.toSeq.map(cell)).toSeq
    renderTable(cols +: rows, headerRow = true)
  }

  /** Render pre-stringified rows (first row = header when headerRow). */
  def renderTable(rows: Seq[Seq[String]], headerRow: Boolean): String = {
    if (rows.isEmpty) return ""
    val n = rows.map(_.length).max
    val padded = rows.map(r => r.padTo(n, ""))
    val widths = (0 until n).map(i => padded.map(_(i).length).max)
    def sepLine(l: String, m: String, r: String): String =
      widths.map(w => "-" * (w + 2)).mkString(l, m, r)
    def fmt(r: Seq[String]): String =
      r.zip(widths).map { case (c, w) => " " + c.padTo(w, ' ') + " " }
        .mkString("|", "|", "|")
    val sb = new StringBuilder
    sb.append(sepLine("+", "+", "+")).append('\n')
    if (headerRow) {
      sb.append(fmt(padded.head)).append('\n')
      sb.append(sepLine("+", "+", "+")).append('\n')
      padded.tail.foreach(r => sb.append(fmt(r)).append('\n'))
    } else padded.foreach(r => sb.append(fmt(r)).append('\n'))
    sb.append(sepLine("+", "+", "+"))
    sb.result()
  }
}
