package graftbench

import graft.extract.ContentExtractor
import graft.model.Page
import graft.pipeline.{ExtractedRecord, ExtractionPipeline, ScalarEvaluator}
import graft.rules.RuleSet
import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** The golden contract's canonical record form (the same field list
  * and rendering as GoldenPipelineSpec, which is not on the main
  * classpath), used to compare the Spark pipeline with its scalar twin
  * page by page.
  */
object Canon {
  val FieldSep = "\u001F"

  val cols = Seq("url", "page_type", "target_section", "routed_section",
    "txn_type", "txn_type_detail", "row_text", "portfolio_no", "client_name",
    "trade_date", "settlement_date", "transaction_type_raw", "currency",
    "quantity", "security_name", "securities_id", "account_no",
    "foreign_unit_price", "foreign_gross_consideration",
    "foreign_net_consideration", "net_consideration", "market_price",
    "market_value", "cost_price", "valuation_date", "currency_buy",
    "amount_buy", "currency_sell", "amount_sell", "trade_date_iso",
    "settlement_date_iso", "net_consideration_num", "market_value_num",
    "validation_errors")

  def canon(r: ExtractedRecord): String = Seq(
    r.url, r.page_type, r.target_section, r.routed_section, r.txn_type,
    r.txn_type_detail, r.row_text, r.portfolio_no, r.client_name,
    r.trade_date, r.settlement_date, r.transaction_type_raw, r.currency,
    r.quantity, r.security_name, r.securities_id, r.account_no,
    r.foreign_unit_price, r.foreign_gross_consideration,
    r.foreign_net_consideration, r.net_consideration, r.market_price,
    r.market_value, r.cost_price, r.valuation_date, r.currency_buy,
    r.amount_buy, r.currency_sell, r.amount_sell, r.trade_date_iso,
    r.settlement_date_iso,
    r.net_consideration_num.map(_.setScale(6).bigDecimal.toPlainString)
      .getOrElse("∅"),
    r.market_value_num.map(_.setScale(6).bigDecimal.toPlainString)
      .getOrElse("∅"),
    r.validation_errors.mkString(",")).mkString(FieldSep)

  def canonRow(row: Row): String =
    cols.indices.map { i =>
      row.get(i) match {
        case null => "∅"
        case d: java.math.BigDecimal => d.setScale(6).toPlainString
        case s: scala.collection.Seq[_] => s.mkString(",")
        case v => v.toString
      }
    }.mkString(FieldSep)

  /** url → sorted canonical records of a Spark records frame. */
  def sparkRecords(df: DataFrame): Map[String, Seq[String]] =
    df.select(cols.head, cols.tail: _*).collect().toSeq
      .map(r => r.getString(0) -> canonRow(r))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).sorted }

  type MainText = (String, Seq[(Int, Int, String, Int)])

  /** url → (main_text, spans) from the Spark byte-identity artifact. */
  def sparkMainTexts(pages: Dataset[Page]): Map[String, MainText] =
    ExtractionPipeline.mainTexts(pages).select("url", "main_text", "spans")
      .collect()
      .map(r => r.getString(0) -> (r.getString(1),
        r.getSeq[Row](2).map(s =>
          (s.getInt(0), s.getInt(1), s.getString(2), s.getInt(3)))))
      .toMap

  /** Per-page scalar twin: canonical records and main text. */
  final case class Twin(records: Seq[String], main: MainText,
      error: Boolean)

  def twin(p: Page, rs: RuleSet): Twin = {
    val c = ContentExtractor.extract(p.html)
    Twin(ScalarEvaluator.process(p, rs).map(canon).sorted,
      (c.main_text, c.spans.map(s => (s.start, s.end, s.kind, s.block_id))),
      c.error != null && c.error.nonEmpty)
  }

  /** Pages whose Spark records and main text both equal the twin. */
  def identicalPages(pages: Seq[Page], twins: Map[String, Twin],
      records: Map[String, Seq[String]],
      mains: Map[String, MainText]): Int =
    pages.count { p =>
      val t = twins(p.url)
      records.getOrElse(p.url, Nil) == t.records &&
        mains.get(p.url).contains(t.main)
    }
}
