package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HtmlExtract

/** Edge cases for the HTML main-text extractor kernel — hand-built
  * strings exercising the grammar corners the synthetic corpus (and so
  * the DuckDB oracle) cannot reach: nested/unclosed tags, CDATA,
  * comments, numeric and unknown entities, uppercase tags, stray '<',
  * links spanning blocks, and the exact boundary of the integer
  * link-density rule.
  */
class HtmlExtractSpec extends AnyFunSuite {

  private def run(html: String): (String, Int, Int) = HtmlExtract.extract(html)

  test("script, style and head drop whole; body text survives") {
    val (clean, kept, dropped) = run(
      "<html><head><title>T</title><style>p { x: 1 }</style></head>" +
        "<body><script>if (a < b) { alert('<p>not text</p>') }</script>" +
        "<p>hello world</p></body></html>")
    assert(clean == "hello world")
    assert(kept == 1 && dropped == 0)
  }

  test("nested inline tags strip; block tags segment") {
    val (clean, kept, _) = run(
      "<div>one <b>two <i>three</i></b></div><p>four</p><br>five")
    assert(clean == "one two three\nfour\nfive")
    assert(kept == 3)
  }

  test("entities: named, numeric, hex, unknown stays literal") {
    val (clean, _, _) = run(
      "<p>a &amp; b &lt;c&gt; &quot;d&quot; &#65; &#x42; &bogus; e&nbsp;f</p>")
    assert(clean == "a & b <c> \"d\" A B &bogus; e f")
  }

  test("CDATA body is literal text, no entity decode inside") {
    val (clean, _, _) = run("<p>x <![CDATA[a < b &amp; c]]> y</p>")
    assert(clean == "x a < b &amp; c y")
  }

  test("comments drop, even containing tags") {
    val (clean, _, _) = run("<p>a <!-- <p>hidden</p> --> b</p>")
    assert(clean == "a b")
  }

  test("uppercase tags match; stray '<' is literal") {
    val (clean, kept, dropped) = run(
      "<P>one</P><DIV><A HREF='/x'>two three four</A></DIV><p>1 < 2</p>")
    assert(clean == "one\n1 < 2")
    assert(kept == 2 && dropped == 1) // the all-link DIV drops
  }

  test("link-density boundary: exactly half link chars is KEPT (2*link <= total)") {
    // total = 8 ("abcdwxyz"), link = 4 -> kept; link = 5 of 9 -> dropped
    val (c1, k1, d1) = run("<p><a>abcd</a>wxyz</p>")
    assert(c1 == "abcdwxyz" && k1 == 1 && d1 == 0)
    val (c2, k2, d2) = run("<p><a>abcde</a>wxyz</p>")
    assert(c2 == "" && k2 == 0 && d2 == 1)
  }

  test("a link spanning a block boundary counts in both blocks") {
    // <a> stays open across </p><p>: both halves are fully link text
    val (clean, kept, dropped) = run("<p><a>one</a> two</p><p><a>three</p>")
    assert(clean == "one two")
    assert(kept == 1 && dropped == 1)
  }

  test("whitespace runs collapse, ends trim, all-whitespace blocks ignored") {
    val (clean, kept, dropped) = run("<p>  a\t\tb \n c  </p><p>   </p><p></p>")
    assert(clean == "a b c")
    assert(kept == 1 && dropped == 0)
  }

  test("unterminated script consumes to end without crashing") {
    val (clean, kept, _) = run("<p>seen</p><script>var x = 1;")
    assert(clean == "seen" && kept == 1)
  }

  test("null-free struct row via the Column surface") {
    val spark = Sessions(2)
    try {
      import spark.implicits._
      val df = Seq((1L, "<p>hi there</p><div><a href='/'>nav</a></div>"))
        .toDF("id", "html")
      val out = graft.ops.TextExtract.extract(df, "html").collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[String]("clean") == "hi there")
      assert(r.getAs[Int]("kept_blocks") == 1)
      assert(r.getAs[Int]("dropped_blocks") == 1)
    } finally spark.stop()
  }
}
