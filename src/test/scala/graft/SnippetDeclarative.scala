package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative `transform` forms of the snippet-window rule and the
  * ingest page split, kept as the equality reference for the compiled
  * kernels in graft.functions.SnippetKernels (FunctionsSpec). Spark
  * interprets these lambdas per element: `ArrayTransform` is
  * `CodegenFallback`. */
object SnippetDeclarative {
  def snippetWindows(units: Column, window: Int = 5, stride: Int = 3): Column = {
    val n = size(units)
    val emptyOut = array().cast("array<struct<snippet_id:int,snippet_text:string>>")
    when(n <= 0, emptyOut).otherwise(
      transform(
        // window starts i = 0, stride, 2*stride, ... while i < n
        // => k = 0 .. floor((n-1)/stride)
        sequence(lit(0), floor((n - lit(1)) / lit(stride)).cast("int")),
        k =>
          struct(
            (k + 1).cast("int").as("snippet_id"),
            array_join(slice(units, k * stride + 1, lit(window)), " ").as("snippet_text"))))
  }

  /** Pages of `pageTokens` words; the first transform binds each page's
    * token slice once, the second builds the page struct from it. */
  def pages(words: Column, source: Column, pageTokens: Int = 40): Column =
    transform(
      transform(
        sequence(lit(0), floor((size(words) - 1) / pageTokens).cast("int")),
        p => slice(words, p * pageTokens + 1, lit(pageTokens))),
      (pw, p) => struct(
        (p + 1).cast("int").as("page_number"),
        array_join(pw, " ").as("page_text"),
        snippetWindows(pw).as("page_snippets"),
        concat(source, lit("#page="), (p + 1).cast("string")).as("page_link")))
}
