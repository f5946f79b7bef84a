package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The snippet-window rule (operators.SnippetGen) and the page split of
  * the ingest path (operators.Ingest) as compiled loops. The declarative
  * forms are nested `transform`s, and `ArrayTransform` is
  * `CodegenFallback` in Spark 4: whole-stage codegen calls back into an
  * interpreted lambda walk once per page and once per window. These
  * expressions build the same arrays in one pass each and join
  * whole-stage codegen through a static-call `doGenCode`, like the
  * [[TextHashes]] kernels.
  *
  * Semantics and Catalyst types, nullability flags included, are those of
  * the declarative forms, asserted in FunctionsSpec (both with and without
  * codegen); the one exception, an empty word array, cannot reach the
  * ingest path (see [[SnippetKernels.pages]]). A null input array gives
  * null, as `size(null)` is null under ANSI mode (the Spark 4 default).
  */
object SnippetKernels {
  private val Space = UTF8String.fromString(" ")
  private val PageAnchor = UTF8String.fromString("#page=")

  /** `array<struct<snippet_id:int, snippet_text:string>>`, every flag
    * nullable: the type of the declarative `when(...).otherwise(transform)`. */
  val WindowsType: ArrayType = ArrayType(StructType(Seq(
    StructField("snippet_id", IntegerType),
    StructField("snippet_text", StringType))))

  /** The nested `pages` column of the ingest path, flag for flag as the
    * declarative form types it: the outer array holds no nulls,
    * page_number is never null, page_text is nullable when the words are
    * and page_link when the source is. */
  def pagesType(wordsNullable: Boolean, sourceNullable: Boolean): ArrayType =
    ArrayType(StructType(Seq(
      StructField("page_number", IntegerType, nullable = false),
      StructField("page_text", StringType, wordsNullable),
      StructField("page_snippets", WindowsType),
      StructField("page_link", StringType, sourceNullable))), containsNull = false)

  /** `units[from, from + len)` joined with " ", skipping null elements as
    * `array_join` does (`concatWs` skips them). */
  def join(units: ArrayData, from: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) { parts(i) = units.getUTF8String(from + i); i += 1 }
    UTF8String.concatWs(Space, parts: _*)
  }

  /** Windows over `units[from, from + len)`: window k covers
    * `[k*stride, k*stride + window)` of the sub-range (cut at its end) for
    * k = 0 .. (len-1)/stride, with dense 1-based ids; none when len = 0. */
  def windows(units: ArrayData, from: Int, len: Int, window: Int, stride: Int): ArrayData = {
    val n = if (len <= 0) 0 else (len - 1) / stride + 1
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      val start = k * stride
      out(k) = InternalRow(k + 1, join(units, from + start, math.min(window, len - start)))
      k += 1
    }
    new GenericArrayData(out)
  }

  def snippetWindows(units: ArrayData, window: Int, stride: Int): ArrayData =
    windows(units, 0, units.numElements(), window, stride)

  /** Pages of `pageTokens` words: page p (1-based) holds its text, its
    * windows and `source + "#page=" + p` (null when `source` is). No pages
    * for an empty array; the ingest path never has one, as `split` always
    * yields at least one element (the declarative form's `sequence(0, -1)`
    * would count down to two empty pages). */
  def pages(words: ArrayData, source: UTF8String, pageTokens: Int, window: Int,
      stride: Int): ArrayData = {
    val m = words.numElements()
    val n = if (m == 0) 0 else (m - 1) / pageTokens + 1
    val out = new Array[Any](n)
    var p = 0
    while (p < n) {
      val from = p * pageTokens
      val len = math.min(pageTokens, m - from)
      val link =
        if (source == null) null
        else UTF8String.concat(source, PageAnchor, UTF8String.fromString(Integer.toString(p + 1)))
      out(p) = InternalRow(p + 1, join(words, from, len),
        windows(words, from, len, window, stride), link)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** `snippet_windows(array<string>) -> array<struct<snippet_id, snippet_text>>`:
  * codegen'd sliding windows (see [[SnippetKernels.windows]]). */
case class SnippetWindows(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  override def dataType: DataType = SnippetKernels.WindowsType
  // nullable whatever the input, as the declarative form is
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    SnippetKernels.snippetWindows(v.asInstanceOf[ArrayData], window, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SnippetKernels.snippetWindows($c, $window, $stride)")
  override protected def withNewChildInternal(newChild: Expression): SnippetWindows =
    copy(child = newChild)
}

/** `ingest_pages(array<string>, string) -> pages`: codegen'd page split with
  * per-page text, windows and link (see [[SnippetKernels.pages]]). Null
  * words give null; a null source only nulls the links. */
case class IngestPages(words: Expression, source: Expression, pageTokens: Int,
    window: Int, stride: Int) extends BinaryExpression {
  override def left: Expression = words
  override def right: Expression = source
  override def dataType: DataType = SnippetKernels.pagesType(words.nullable, source.nullable)
  // nullable whatever the inputs, as the declarative form is; the written
  // snapshot schema keeps that flag
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val w = words.eval(input)
    if (w == null) null
    else SnippetKernels.pages(w.asInstanceOf[ArrayData],
      source.eval(input).asInstanceOf[UTF8String], pageTokens, window, stride)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = words.genCode(ctx)
    val s = source.genCode(ctx)
    ev.copy(code = code"""
      ${w.code}
      boolean ${ev.isNull} = ${w.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${s.code}
        ${ev.value} = graft.functions.SnippetKernels.pages(${w.value},
          ${s.isNull} ? null : ${s.value}, $pageTokens, $window, $stride);
      }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IngestPages =
    copy(words = l, source = r)
}
