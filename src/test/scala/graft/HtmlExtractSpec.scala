package graft

import org.apache.spark.sql.functions._

import graft.expressions.HtmlText

/** [[HtmlText]] — the markup→block-text extractor (round 14): exact
  * planted ground truth for every documented rule, the traps the
  * oracle-checked regexp chain (q_text_html_strip) cannot see, the
  * degrade-never-throw contract on malformed input, and
  * strip-vs-extract agreement on the registry's constructed pages. */
class HtmlExtractSpec extends SparkSuite {

  private def x(html: String): String = HtmlText.extract(html)

  test("block tags emit newlines, inline tags vanish, cells separate") {
    assert(x("<h1>Title</h1><p>para one</p><p>para two</p>") ===
      "Title\npara one\npara two")
    assert(x("<b>bo</b>ld <i>x</i>y") === "bold xy")
    assert(x("<tr><td>a</td><td>b</td></tr>") === "a b")
    assert(x("line<br>break") === "line\nbreak")
    assert(x("<ul><li>one</li><li>two</li></ul>") === "one\ntwo")
    assert(x("<span>in</span><span>line</span>") === "inline")
  }

  test("script/style/comment content drops wholesale — including the " +
      "traps the regexp chain cannot see") {
    assert(x("a<style>p > div { color: red; }</style>b") === "ab")
    assert(x("a<script>if (1 < 2) alert('x');</script>b") === "ab")
    // a close tag of ANOTHER element inside a script string does not
    // end the script — only </script> does
    assert(x("""a<script>s = "</div>";</script>b""") === "ab")
    assert(x("""a<SCRIPT TYPE="text/javascript">x<y</SCRIPT>b""") === "ab",
      "case-insensitive, attribute-bearing script tag")
    assert(x("x<!-- <p>hidden</p> -->y") === "xy")
    // <scripts> is NOT a script element (name boundary respected)
    assert(x("<scripts>kept</scripts>") === "kept")
  }

  test("self-closing script/style are empty elements — the document " +
      "tail survives (round-15 ADVICE)") {
    assert(x("""a<script src="x"/>b""") === "ab")
    assert(x("""a<script src="x" />b""") === "ab",
      "whitespace before the closing '/>'")
    assert(x("""a<style media="print"/>b<p>tail</p>""") === "ab\ntail")
    // a '/' inside a quoted attribute value is NOT self-closing
    assert(x("""a<script src="x/">s()</script>b""") === "ab")
    // an OPEN (non-self-closing) tag still drops to the real close
    assert(x("""a<script src="x">s()</script>b""") === "ab")
    // an UNQUOTED attribute value consumes a trailing '/' per HTML5
    // (value is "a/", the tag is OPEN) — round 17, ADVICE r16 low
    assert(x("""a<script data-x=a/>s()</script>b""") === "ab")
    // ...but a bare attribute NAME before '/>' is still self-closing
    assert(x("""a<script defer/>b""") === "ab")
    // and a quoted value directly before '/>' is self-closing
    assert(x("""a<script src="x" type="t"/>b""") === "ab")
  }

  test("attributes skip quote-aware: a '>' inside a quoted value does " +
      "not end the tag") {
    assert(x("""<a href="x>y">link</a> end""") === "link end")
    assert(x("""<img alt='a > b'>tail""") === " tail".trim)
  }

  test("entities: the five XML names, nbsp, numeric; unknown verbatim") {
    assert(x("a &lt;tag&gt; b") === "a <tag> b")
    assert(x("&quot;q&quot; &apos;a&apos;") === "\"q\" 'a'")
    assert(x("a&nbsp;b") === "a b")
    assert(x("&#65;&#x42;") === "AB")
    // &amp; decodes LAST-like semantics: "&amp;lt;" is the literal
    // text "&lt;" (single decode, never double)
    assert(x("&amp;lt;") === "&lt;")
    assert(x("5 &unknown; 7 & 8") === "5 &unknown; 7 & 8")
  }

  test("malformed input degrades, never throws") {
    assert(x("text <div unclosed") === "text")
    assert(x("a <!-- never closed") === "a")
    assert(x("<script>never closed") === "")
    assert(x("1 < 2 done") === "1 < 2 done", "bare '<' is text")
    assert(x("<p") === "")
    assert(x("") === "")
    assert(x("&") === "&")
    assert(x("&#zz;") === "&#zz;")
    // pathological soup — just must not throw
    val soup = "<<<>>>&&&<a<b>'\"<script<style<!--&#999999999999;"
    assert(x(soup) != null)
  }

  test("whitespace normalizes: space runs collapse, blank runs around " +
      "newlines collapse to one newline, ends trim") {
    assert(x("  <p>  a   b  </p>  <p>c</p> ") === "a b\nc")
    assert(x("<div></div><div></div>x") === "x")
  }

  test("registry page: extract equals strip modulo block structure, " +
      "and the query output is well-formed") {
    val sf = "/root/testdata/sf0.001"
    val ex = SparkEntry.queries("q_text_html_extract")(spark, sf)
    val st = SparkEntry.queries("q_text_html_strip")(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(ex.count() === nDocs)
    assert(st.count() === nDocs)
    // nothing markup-like survives either path
    assert(ex.filter(col("text_clean").contains("<") ||
      col("text_clean").contains("color: red") ||
      col("text_clean").contains("alert")).count() === 0L)
    // the constructed page has 4 block sections: title, h1, p, div
    assert(ex.filter(col("n_blocks") =!= 4).count() === 0L)
    // on these pages the extractor and the oracle-checked strip chain
    // agree exactly once block newlines flatten to spaces — the two
    // rows certify each other
    val joined = ex.select(col("doc_id"),
        regexp_replace(col("text_clean"), "\n", " ").as("flat"))
      .join(st.select(col("doc_id"), col("text_clean").as("stripped")),
        Seq("doc_id"))
    assert(joined.filter(col("flat") =!= col("stripped")).count() === 0L)
    // each key's page archive has the declared schema, and once it
    // is written the query reads it back with no Spark job
    for (q <- Seq("q_text_html_strip", "q_text_html_extract",
        "q_text_html_links")) {
      val page = SparkEntry.queries(q)(spark, sf).inputFiles.head
      val archive = new org.apache.hadoop.fs.Path(page).getParent.toString
      assert(spark.read.parquet(archive).schema.simpleString ===
        graft.queries.TextOps.PagesSchema.simpleString, q)
      val (_, work) = SparkWork.measure(spark)(SparkEntry.queries(q)(spark, sf))
      assert(work.jobs === 0, s"$q: ${work.jobStageNames}")
    }
  }
}
