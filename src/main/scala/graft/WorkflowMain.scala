package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.VectorIndex
import graft.operators.Workflows

/** The reference's workflow entry point (F3) as a batch main — the
  * engine-side equivalent of `POST /workflow` (api.http:4-23), which
  * accepts `{"name": "index"|"search", "elements": [...]}`:
  *
  *  - `index`: encode every element with the [[TextEncoder]] seam and
  *    sink into the vector index at `indexPath` (the reference's
  *    `[nop, transform] → weaviate sink` task list, README.md:30-43);
  *  - `search`: encode each element and run top-k cosine search against
  *    the same index (the reference's `transform → search` task list) —
  *    all elements are served, not just `elements[0]`;
  *  - `hybrid`: each element scored lexically (BM25 over the indexed
  *    `text` column) AND semantically (encoded vector), blended by
  *    `alpha` (optional request field, default 0.5) — the txtai
  *    `hybrid: true` config served through the same POST /workflow
  *    surface ([[Workflows.hybridSearch]]).
  *
  * {{{ sbt "runMain graft.WorkflowMain <request.json> <indexPath> [k]" }}}
  *
  * Prints one JSON line (results to stdout, and to
  * `SPARK_GRAFT_WORKFLOW_OUT` when set).
  */
object WorkflowMain {

  /** Execute a workflow request; returns the response JSON line. */
  def run(spark: SparkSession, reqPath: String, indexPath: String,
      k: Int = 10): String = {
    val p = new org.apache.hadoop.fs.Path(reqPath)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    runJson(spark, body, indexPath, k)
  }

  /** The same contract over an in-memory request body — the form
    * [[WorkflowServer]] serves per POST. */
  def runJson(spark: SparkSession, body: String, indexPath: String,
      k: Int = 10): String =
    runReq(spark, parse(body), indexPath, k)

  /** A workflow request: `{"name": …, "elements": [...], "alpha": …?}`. */
  private final case class Request(
      name: String, elements: Seq[String], alpha: Option[Double])

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Parse a request body on the driver (Jackson, which Spark already
    * ships; a Spark JSON read costs two jobs per request). A body that
    * is not one JSON object, or lacks a string `name` or an array of
    * string `elements`, is an IllegalArgumentException: the server's
    * 400. */
  private def parse(body: String): Request = {
    val root = try json.readTree(body) catch {
      case e: JacksonException => throw new IllegalArgumentException(
        s"malformed workflow request: ${e.getOriginalMessage}")
    }
    if (root == null || !root.isObject)
      throw new IllegalArgumentException(
        "workflow request must be a JSON object")
    val name = Option(root.get("name")).filter(_.isTextual)
      .getOrElse(throw new IllegalArgumentException(
        "workflow request needs a string 'name'"))
    val elements = Option(root.get("elements"))
      .filter(e => e.isArray && e.elements().asScala.forall(_.isTextual))
      .getOrElse(throw new IllegalArgumentException(
        "workflow request needs 'elements', an array of strings"))
    Request(name.asText, elements.elements().asScala.map(_.asText).toSeq,
      Option(root.get("alpha")).filter(_.isNumber).map(_.asDouble))
  }

  private def runReq(spark: SparkSession,
      req: Request, indexPath: String, k: Int): String = {
    Graft.init(spark)
    val name = req.name
    val elements = req.elements
    // one search hit as JSON, from the row's (uid, docid, score) at `at`
    def hit(r: org.apache.spark.sql.Row, at: Int) = {
      val uid = r.getString(at).replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"uid":"$uid","docid":${r.getLong(at + 1)},"score":${r.getDouble(at + 2)}}"""
    }
    name match {
      case "index" =>
        import spark.implicits._
        // uid = zero-padded element position, so engine-assigned dense
        // docids follow the input order like the reference's offset
        // counter (weaviate.py:132-149)
        val docs = elements.zipWithIndex
          .map { case (t, i) => (f"$i%09d", t) }.toDF("uid", "text")
        val idx = Workflows.indexTextWorkflow(docs, "text", indexPath)
        s"""{"name":"index","indexed":${idx.count()}}"""
      case "search" =>
        val idx = VectorIndex.load(spark, indexPath)
        val results = elements.map { q =>
          val hits = idx.search(TextEncoder.encode(q), k)
            .select(col("uid"), col("docid"), round(col("score"), 6).as("score"))
            .collect().map(hit(_, 0))
          hits.mkString("[", ",", "]")
        }
        s"""{"name":"search","results":${results.mkString("[", ",", "]")}}"""
      case "hybrid" | "keyword" =>
        // keyword is the txtai scoring="bm25" config without the
        // semantic half: BM25 over the indexed text column. Either way
        // the whole element list is served by ONE batch plan (shared
        // postings pass, per-qid heap top-k) instead of one job per
        // element, and scores are reported as micros/1e6
        val data = VectorIndex.load(spark, indexPath).df // (docid, uid, text, vector, …props)
        require(data.schema.fieldNames.contains("text"),
          s"$name workflow requires an index built over a 'text' column")
        val (ranked, micros) =
          if (name == "hybrid") {
            // packed-binary indexes unpack for the cosine half (same floats)
            val emb =
              if (data.schema("vector").dataType ==
                  org.apache.spark.sql.types.BinaryType)
                data.withColumn("vector", Graft.unpackVector(col("vector")))
              else data
            (Workflows.hybridSearchBatch(data, "text", "docid", emb, "docid",
              "vector", elements, k, req.alpha.getOrElse(0.5)), "hybrid_micros")
          } else {
            val queries = elements.zipWithIndex.map { case (q, i) =>
              (i.toLong, operators.Bm25.termsOf(q, "keyword:")) }
            (operators.Bm25.topKBatch(data, "text", "docid", queries, k),
              "bm25_micros")
          }
        val hits = ranked
          .join(data.select(col("docid"), col("uid")), "docid")
          .select(col("qid"), col("rank"), col("uid"), col("docid"),
            round(col(micros) / 1000000.0, 6).as("score"))
          .orderBy(col("qid"), col("rank"))
          .collect()
        val results = elements.indices.map { i =>
          hits.filter(_.getLong(0) == i.toLong).map(hit(_, 2))
            .mkString("[", ",", "]")
        }
        s"""{"name":"$name","results":${results.mkString("[", ",", "]")}}"""
      case other => throw new IllegalArgumentException(
        s"unknown workflow '$other' (expected 'index', 'search', " +
        "'keyword' or 'hybrid')")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: WorkflowMain <request.json> <indexPath> [k]")
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val json = run(spark, args(0), args(1), k)
    println(json)
    sys.env.get("SPARK_GRAFT_WORKFLOW_OUT").foreach { out =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
