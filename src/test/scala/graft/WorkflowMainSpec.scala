package graft

import java.nio.file.Files

/** F3 workflow entry point: the api.http:4-23 request shapes, end to
  * end — index six elements, then search with an exact indexed text
  * (self-match must rank first with score 1.0 under any encoder). */
class WorkflowMainSpec extends SparkTestBase {

  private def write(name: String, body: String): String = {
    val p = Files.createTempFile(name, ".json")
    Files.writeString(p, body)
    p.toString
  }

  test("index + search workflow requests (api.http payloads)") {
    val dir = Files.createTempDirectory("graft-wf-main").toString
    val indexReq = write("wf-index",
      """{"name": "index",
        | "elements": [
        |   "US tops 5 million confirmed virus cases",
        |   "Canadas last fully intact ice shelf has suddenly collapsed, forming a Manhattan-sized iceberg",
        |   "Beijing mobilises invasion craft along coast as Taiwan tensions escalate",
        |   "The National Park Service warns against sacrificing slower friends in a bear attack",
        |   "Maine man wins $1M from $25 lottery ticket",
        |   "Make huge profits without work, earn up to $100,000 a day"
        | ]}""".stripMargin)
    val out = WorkflowMain.run(spark, indexReq, dir)
    assert(out == """{"name":"index","indexed":6}""")

    val searchReq = write("wf-search",
      """{"name": "search",
        | "elements": ["Maine man wins $1M from $25 lottery ticket",
        |              "feel good story"]}""".stripMargin)
    val res = WorkflowMain.run(spark, searchReq, dir, k = 3)
    assert(res.startsWith("""{"name":"search","results":[["""), res)
    // element 0 is an exact indexed text: its top hit is itself, score 1
    val first = res.split("\\[\\[")(1).split("\\}")(0)
    assert(first.contains("\"docid\":4") && first.contains("\"score\":1.0"), res)
    // both elements served (the reference serves only queries[0])
    assert(res.split("\\],\\[").length == 2, res)
  }

  test("hybrid workflow request: lexical+semantic blend over the same " +
    "index, JSON shape parity with search") {
    val dir = Files.createTempDirectory("graft-wf-hybrid").toString
    val indexReq = write("wf-index-h",
      """{"name": "index",
        | "elements": [
        |   "spark vector join engine",
        |   "vector vector hash",
        |   "the quick brown fox",
        |   "hash join hash join hash"
        | ]}""".stripMargin)
    WorkflowMain.run(spark, indexReq, dir)

    val hybridReq = write("wf-hybrid",
      """{"name": "hybrid", "elements": ["vector hash join"]}""")
    val res = WorkflowMain.run(spark, hybridReq, dir, k = 3)
    assert(res.startsWith("""{"name":"hybrid","results":[["""), res)
    // same per-hit shape as search: uid, docid, score
    assert(res.contains("\"uid\":\"") && res.contains("\"docid\":") &&
      res.contains("\"score\":"), res)
    // "the quick brown fox" matches no query term → at most 3 hits from
    // the 3 keyword-matched docs
    val hits = res.split("\\{\"uid\"").length - 1
    assert(hits == 3, res)
    // alpha=0 → purely lexical: doc with most keyword mass ranks first
    // and gets the max normalized score 1.0
    val lexReq = write("wf-hybrid-lex",
      """{"name": "hybrid", "alpha": 0.0, "elements": ["vector hash join"]}""")
    val lex = WorkflowMain.run(spark, lexReq, dir, k = 1)
    assert(lex.contains("\"score\":1.0"), lex)

    // multi-element batch: every element served (one plan), and each
    // element's hits equal its own single-element run
    val multiReq = write("wf-hybrid-multi",
      """{"name": "hybrid", "elements": ["vector hash join", "hash join"]}""")
    val multi = WorkflowMain.run(spark, multiReq, dir, k = 3)
    assert(multi.split("\\],\\[\\{").length == 2, multi)
    val soloReq = write("wf-hybrid-solo",
      """{"name": "hybrid", "elements": ["hash join"]}""")
    val solo = WorkflowMain.run(spark, soloReq, dir, k = 3)
    val soloHits = solo.stripPrefix("""{"name":"hybrid","results":[""")
      .stripSuffix("]}")
    assert(multi.contains(soloHits), s"$multi\nvs\n$solo")
  }

  test("keyword workflow request: BM25-only ranking (txtai " +
    "scoring=bm25 without the semantic half)") {
    val dir = Files.createTempDirectory("graft-wf-kw").toString
    val indexReq = write("wf-index-k",
      """{"name": "index",
        | "elements": [
        |   "spark vector join engine",
        |   "vector vector hash",
        |   "the quick brown fox",
        |   "hash join hash join hash"
        | ]}""".stripMargin)
    WorkflowMain.run(spark, indexReq, dir)

    val kwReq = write("wf-keyword",
      """{"name": "keyword", "elements": ["vector hash join"]}""")
    val res = WorkflowMain.run(spark, kwReq, dir, k = 3)
    assert(res.startsWith("""{"name":"keyword","results":[["""), res)
    assert(res.contains("\"uid\":\"") && res.contains("\"docid\":") &&
      res.contains("\"score\":"), res)
    // the no-match doc never appears
    val hits = res.split("\\{\"uid\"").length - 1
    assert(hits == 3, res)
  }

  test("unknown workflow name is a loud error") {
    val bad = write("wf-bad", """{"name": "nope", "elements": ["x"]}""")
    intercept[IllegalArgumentException] {
      WorkflowMain.run(spark, bad, "/tmp/unused")
    }
  }

  test("request bodies parse on the driver: malformed, nameless or " +
    "non-string bodies are IllegalArgumentException (the server's 400)") {
    Seq("this is not json", "", "[1, 2]", """{"elements": ["x"]}""",
      """{"name": 5, "elements": ["x"]}""", """{"name": "search"}""",
      """{"name": "search", "elements": [1]}""",
      """{"name": "search", "elements": ["x"]} trailing""").foreach { body =>
      intercept[IllegalArgumentException] {
        WorkflowMain.runJson(spark, body, "/tmp/unused")
      }
    }
  }
}
