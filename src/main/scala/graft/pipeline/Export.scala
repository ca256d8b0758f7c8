package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K3/K4 — the reference's two-sheet spreadsheet export
  * (/root/reference/app.py:499-575: an "Invoice Details" metadata sheet +
  * a "Products" sheet in one workbook), re-expressed as two projections of
  * the extracted table. CSV stands in for xlsx (no spreadsheet jar in this
  * sandbox — SURVEY.md §2.3); the two-table shape, column sets, and
  * one-file-per-sheet layout are the reference's.
  */
object Export {

  /** The metadata sheet: one row per document (app.py:509-517). */
  def metadataSheet(extracted: DataFrame): DataFrame =
    extracted.select(
      col("url"), col("company_name"), col("invoice_number"),
      col("fssai_number"), col("invoice_date"), col("success"),
      col("pattern_used"), col("n_products"), col("text_length"))

  /** The products sheet: one row per product with its invoice header
    * broadcast onto it (app.py:519-525).
    */
  def productsSheet(extracted: DataFrame): DataFrame =
    extracted
      .select(col("url"), col("company_name"), col("invoice_number"),
        col("invoice_date"), explode(col("products")).as("p"))
      .select(col("url"), col("company_name"), col("invoice_number"),
        col("invoice_date"), col("p.goods_description"), col("p.hsn_sac_code"),
        col("p.quantity"), col("p.weight"), col("p.weight_in_kg"),
        col("p.rate"), col("p.amount"))

  /** Write both sheets. coalesce(1) mirrors the reference's single-workbook
    * export artifact — this is the small human-facing sink, not the
    * primary parquet table.
    */
  def writeTwoSheet(extracted: DataFrame, outDir: String): Unit = {
    metadataSheet(extracted).coalesce(1)
      .write.options(LocalFs.writeOptions)
      .option("header", "true").mode("overwrite").csv(s"$outDir/invoice_details")
    productsSheet(extracted).coalesce(1)
      .write.options(LocalFs.writeOptions)
      .option("header", "true").mode("overwrite").csv(s"$outDir/products")
  }
}
