package graft.operators

import graft.engine.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's document-ingest pipeline and nested data model
  * (SURVEY §1.1, §3.1): raw text -> per-page records -> per-page snippet
  * windows -> ONE nested Document row per input (pages as
  * array<struct<..., page_snippets array<struct>>>), then the
  * create_snippets_list_from_document flatten (data_ingestion.py:203-224)
  * as the canonical Spark double-explode (F1+F2) with parent-attribute
  * denormalization (J2) — parent columns simply survive the explode, no
  * join needed.
  *
  * The reference's PDF parsing (fitz/OCR, DI:110-168) happens upstream in
  * [[graft.sources.BinaryIngest]] (binary scan plus a text extractor);
  * this pipeline takes its `text` column. Pagination here is a
  * deterministic 40-token page size, so the whole pipeline is
  * oracle-checkable. Pages, their text, windows and links are built by
  * one compiled kernel ([[graft.functions.IngestPages]]).
  *
  * Scale: building the nested row is narrow per-document work; the only
  * join is the broadcast category-dim lookup (J1, DI:248). The flatten is
  * narrow too — at 100 TB both directions scale with input splits.
  */
object Ingest {
  val PageTokens = 40

  /** Assemble the nested Document rows (DI:245-255 analog) from the raw
    * documents table, with the category dim resolved via broadcast join. */
  def buildDocuments(docs: DataFrame, categories: DataFrame): DataFrame = {
    val w = Tables.rebalance(docs, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        GraftFunctions.words(col("text")).as("words"))
      .withColumn("category_id", (col("doc_id") % 5).cast("int"))
      .join(broadcast(categories), Seq("category_id"), "left")
    w.select(
      col("doc_id").as("document_id"),
      concat(lit("doc_"), col("doc_id")).as("document_name"),
      col("category_id"),
      col("category_name"),
      col("source").as("document_link"),
      array(col("lang"), col("source")).as("document_tags"),
      lit(null).cast("date").as("document_expiryDate"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("document_metadata"),
      GraftFunctions.ingest_pages(col("words"), col("source"), PageTokens,
        SnippetGen.WindowSize, SnippetGen.Stride).as("pages"),
      lit("Active").as("document_status"),
      lit("2026-01-01").cast("date").as("date_uploaded"))
  }

  /** create_snippets_list_from_document (DI:203-224): nested Document ->
    * flat denormalized snippet rows. The reference loops pages then
    * snippets copying 7 parent attrs by hand; in Spark that is two
    * explodes — parent columns ride along for free.
    *
    * The pages explode is `explode_outer` plus a null filter, which drops
    * the same rows: for a plain `explode` Spark infers `size(pages) > 0
    * AND isnotnull(pages)` and pushes it down through the projection that
    * builds `pages`, evaluating the page kernel three times per document.
    * The outer form leaves `page` nullable, so `page_number` is coalesced
    * with a literal to keep it non-nullable in the written schema. */
  def flattenSnippets(nested: DataFrame): DataFrame =
    nested
      .select(
        col("document_id"), col("document_name"), col("category_id"),
        col("category_name"), col("document_tags"), col("document_status"),
        explode_outer(col("pages")).as("page"))
      .filter(col("page").isNotNull)
      .select(
        col("document_id"), col("document_name"), col("category_id"),
        col("category_name"), col("document_tags"), col("document_status"),
        coalesce(col("page.page_number"), lit(0)).as("page_number"),
        col("page.page_link").as("page_link"),
        explode(col("page.page_snippets")).as("s"))
      .select(
        col("document_id"), col("document_name"), col("category_id"),
        col("category_name"), col("document_tags"),
        col("page_number"), col("page_link"),
        col("s.snippet_id").as("snippet_id"),
        col("s.snippet_text").as("snippet_text"),
        col("document_status"))

  /** Oracle-checked: the full ingest round trip — nested build then double
    * explode back to flat snippets (the §3.1 flagship path end to end). */
  def qIngestFlatten(s: SparkSession, d: String): DataFrame = {
    val cats = Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    flattenSnippets(buildDocuments(Tables.documents(s, d), cats))
      .select("document_id", "category_name", "page_number", "snippet_id",
        "snippet_text", "page_link")
      .orderBy("document_id", "page_number", "snippet_id")
  }

  /** Oracle-checked: projections over the NESTED shape — array size, struct
    * field access, element_at — the P-operators applied to the §1.1 model. */
  def qNestedProject(s: SparkSession, d: String): DataFrame = {
    val cats = Tables.region(s, d).select(
      col("r_regionkey").cast("int").as("category_id"), col("r_name").as("category_name"))
    buildDocuments(Tables.documents(s, d), cats)
      .select(
        col("document_id"),
        size(col("pages")).cast("long").as("n_pages"),
        element_at(col("pages"), 1).getField("page_link").as("first_page_link"),
        element_at(col("document_tags"), 1).as("first_tag"),
        element_at(col("document_metadata"), "lang").as("meta_lang"),
        size(flatten(col("pages").getField("page_snippets"))).cast("long").as("n_snippets"))
      .orderBy("document_id")
  }
}
