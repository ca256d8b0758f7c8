package perfbench

import scala.util.hashing.MurmurHash3

/** Order-independent digests: each row hashes to 64 bits and rows combine
  * by wrapping addition, so the result ignores partitioning and row order
  * but still counts duplicates.
  */
object Digest {
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)

  private def f(s: String): String = if (s == null) "\u0001" else s

  /** One extracted page: url, text, spans, invoice fields, product count. */
  def page(url: String, text: String, spans: Seq[(String, Int, Int)], company: String,
      invoiceNumber: String, fssai: String, invoiceDate: String, nProducts: Int): Long = {
    val sb = new java.lang.StringBuilder
    sb.append(f(url)).append('\u0000').append(f(text)).append('\u0000')
    spans.foreach { case (l, s, e) => sb.append(l).append(':').append(s).append(':').append(e).append(';') }
    sb.append('\u0000').append(f(company)).append('\u0000').append(f(invoiceNumber))
      .append('\u0000').append(f(fssai)).append('\u0000').append(f(invoiceDate))
      .append('\u0000').append(nProducts)
    hash64(sb.toString)
  }

  def rows(rows: Seq[org.apache.spark.sql.Row]): Long =
    rows.foldLeft(0L)((acc, r) => acc + hash64(r.toString))

  def hex(d: Long): String = f"$d%016X"
}
