package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    GraftFunctions.register(s)
    s
  }

  test("gopherQuality: each rule trips on its own violation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val good = ("the data and results have shown that models scale with compute " +
      (1 to 45).map(k => s"token$k").mkString(" "))
    val docs = Seq(
      ("good", good),
      ("short", "the cat and dog have fun with that"),             // < 50 words
      ("longwords", "the " + (1 to 60).map(_ => "extraordinarily").mkString(" ") + " and of that have with"), // mean len > 10
      ("symbols", good.split(" ").map(w => w + "#").mkString(" ")), // symbol ratio > 0.1
      ("bullets", (1 to 10).map(k => s"- item $k of the list and that have with more words").mkString("\n")), // all lines bulleted but word count ok
      ("nonalpha", "the of and that have with " + (1 to 60).map(k => s"$k$k$k").mkString(" ")), // numeric words
      ("nostops", (1 to 60).map(k => s"token$k").mkString(" ")))   // no stop words
      .toDF("name", "text")
    val flags = docs.select(col("name"),
      graft.functions.GraftFunctions.gopherQuality(col("text")).as("g"))
      .select("name", "g.*").collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getBoolean).toList).toMap
    // struct order: wordcount, meanlen, symbol, bullet, ellipsis, alpha, stopword, pass
    assert(flags("good").forall(identity), s"good doc must pass all: ${flags("good")}")
    assert(!flags("short")(0) && !flags("short").last)
    assert(!flags("longwords")(1))
    assert(!flags("symbols")(2))
    assert(!flags("bullets")(3))
    assert(!flags("nonalpha")(5))
    assert(!flags("nostops")(6))
  }

  test("pure-SQL surface: spark.sql over temp views with registered graft functions") {
    // a reference user's SQL-first path: views + SQL text, no DataFrame API
    val pages = graft.pipeline.ExtractStage.generatePages(spark, 50, partitions = 4)
    pages.createOrReplaceTempView("pages_v")
    val out = spark.sql(
      """SELECT kind, count(*) AS n, sum(n_spans) AS total_spans,
        |       human_file_size(sum(n_bytes)) AS total_pretty
        |FROM (
        |  SELECT CASE WHEN substring(html, 1, 5) = cast('%PDF-' AS BINARY) THEN 'pdf' ELSE 'html' END AS kind,
        |         length(html) AS n_bytes,
        |         size(extract_main_content(html).spans) AS n_spans
        |  FROM pages_v
        |) GROUP BY kind ORDER BY kind""".stripMargin).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n")).sum == 50)
    out.foreach { r =>
      assert(r.getAs[String]("total_pretty").matches("[0-9.]+ (Bytes|KB|MB|GB)"))
    }
    // scalar rules straight from SQL text
    val scrub = spark.sql(
      "SELECT scrub_invoice_number(' IN-2024/001 :') AS inv, " +
        "weight_to_kg('2 QTL') AS kg, strip_code_fences('x ```json {\"a\":1} ``` y') AS fenced")
      .first()
    assert(scrub.getAs[Double]("kg") == 200.0)
    assert(scrub.getAs[String]("fenced") == "{\"a\":1}")
  }

  test("simhash48 expression bit-matches the SQL aggregate formula on real docs") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the SQL formulation q49 used before the native expression: explode
    // single-space tokens (split keeps empties), ±1 vote per bit of the
    // first-12-hex md5 value, bit set iff sum > 0
    val words = docs.select($"doc_id", explode(split($"text", " ")).as("x"))
      .withColumn("h", expr("cast(conv(substr(md5(x), 1, 12), 16, 10) AS BIGINT)"))
    val bitSums = (0 until 48).map(j =>
      expr(s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)").as(s"s$j"))
    val compose = (0 until 48).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val sqlSide = words.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", expr(compose).as("sh"))
      .as[(Long, Long)].collect().toMap
    val exprSide = docs.select($"doc_id", expr("simhash48(text)").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(exprSide.size == sqlSide.size && exprSide.nonEmpty)
    exprSide.foreach { case (id, sh) =>
      assert(sh == sqlSide(id), s"doc $id: expression $sh != sql ${sqlSide(id)}")
    }
    // empty tokens / edge strings
    val edge = Seq("", " ", "a", "a  b ").toDF("text")
      .select(expr("simhash48(text)").as("sh")).as[Long].collect()
    assert(edge.length == 4) // total, no throw; values pinned by parity above
  }

  test("extract_main_content expression equals core output (html + pdf)") {
    import spark.implicits._
    val rows = (0L until 30L).map { i =>
      val p = graft.pipeline.PageGen.page(42L, i)
      (p.url, p.html)
    }
    val df = rows.toDF("url", "html")
      .select($"url", GraftFunctions.extract_main_content($"html").as("ex"))
      .select($"url", $"ex.text", $"ex.spans")
    val got = df.as[(String, String, Seq[(String, Int, Int)])].collect()
      .map { case (u, t, s) => u -> (t, s) }.toMap
    rows.foreach { case (url, html) =>
      val (text, spans) = graft.core.ExtractCore.extractText(html, null)
      val (gt, gs) = got(url)
      assert(gt == text, s"text mismatch for $url")
      assert(gs == spans.map(s => (s.label, s.start, s.end)), s"span mismatch for $url")
    }
  }

  test("extract_main_content callable from SQL and survives codegen") {
    import spark.implicits._
    val p = graft.pipeline.PageGen.page(42L, 3L)
    Seq((p.url, p.html)).toDF("url", "html").createOrReplaceTempView("pages_tmp")
    val r = spark.sql(
      "SELECT length(extract_main_content(html).text) AS len, size(extract_main_content(html).spans) AS n FROM pages_tmp")
      .first()
    val (text, spans) = graft.core.ExtractCore.extractText(p.html, null)
    assert(r.getInt(0) == text.length)
    assert(r.getInt(1) == spans.length)
  }

  test("field-rule udfs match core semantics through SQL") {
    val r = spark.sql(
      "SELECT weight_to_kg('5 qtl') AS kg, weight_to_kg('12 bags') AS pass, " +
        "normalize_date('2023-06-15') AS d, scrub_invoice_number('INV-78/0#') AS inv, " +
        "scrub_hsn('HSN 1006-30') AS hsn, scrub_money('₹1,075.50/-') AS m, " +
        "identify_pattern('x') AS pat").first()
    assert(r.getDouble(0) == 500.0)
    assert(r.isNullAt(1)) // passthrough → typed null
    assert(r.getString(2) == "23/06/2015")
    assert(r.getString(3) == "INV780")
    assert(r.getString(4) == "100630")
    assert(r.getString(5) == "₹1,075.50")
    assert(r.getString(6) == "generic")
  }

  test("incremental_mean aggregator equals built-in avg") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = df.groupBy($"event_type")
      .agg(expr("incremental_mean(value)").as("im"), avg($"value").as("av"))
      .select($"im", $"av").as[(Double, Double)].collect()
    got.foreach { case (im, av) => assert(math.abs(im - av) < 1e-9) }
  }

  test("nfc_normalize: decomposed == precomposed after NFC, idempotent, codegen-safe") {
    import spark.implicits._
    val composed = "caf\u00e9 r\u00e9sum\u00e9"
    val decomposed = "cafe\u0301 re\u0301sume\u0301"
    val rows = Seq(
      ("pre", composed), ("dec", decomposed), ("ascii", "plain text"),
      ("cjk", "中文 日本語"), ("empty", ""), ("nul", null))
      .toDF("k", "v")
      .withColumn("n", call_function("nfc_normalize", $"v"))
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(rows("pre") == Some(composed))
    assert(rows("dec") == Some(composed)) // the collapse under test
    assert(rows("ascii") == Some("plain text"))
    assert(rows("cjk") == Some("中文 日本語"))
    assert(rows("empty") == Some(""))
    assert(rows("nul") == None)
    // idempotent + core parity
    assert(graft.core.text.UnicodeNorm.nfc(graft.core.text.UnicodeNorm.nfc(decomposed)) == composed)
    // SQL path (interpreted + codegen'd projections agree)
    val viaSql = spark.sql(s"SELECT nfc_normalize('$decomposed')").head().getString(0)
    assert(viaSql == composed)
  }

  test("GraftExtensions injects the native expression") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // applying to a live session state is covered by the registry path;
    // here assert the injection callback itself is well-formed
    succeed
  }
}
