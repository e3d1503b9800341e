package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import graft.{HashingEncoder, WorkflowServer}
import graft.index.{IvfVectorIndex, Manifests, VectorIndex}
import graft.operators.{Bm25, Bm25Index, Ivf, Workflows}

/** A generated text corpus indexed twice: a flat `VectorIndex` built by
  * the text index workflow, and an `IvfVectorIndex` over the same
  * encoded rows. The live contents of both are replayed on the driver
  * from the op log, so every read can be checked against an exact
  * brute-force top-k. */
final class VectorIndexes(ctx: Ctx, docs: Int, clusters: Int) {
  import VectorIndexes._

  private val spark = ctx.spark
  val gen = new Data.TextGen(new java.util.Random(ctx.seed))
  /** Live flat rows: uid number → (text, vector). */
  val flatLive = mutable.LinkedHashMap.empty[Long, (String, Array[Float])]
  /** Live IVF rows: docid → vector. */
  val ivfLive = mutable.LinkedHashMap.empty[Long, Array[Float]]
  var nextUid = 0
  var flat: VectorIndex = _
  var ivf: IvfVectorIndex = _

  def newDoc(): (Long, String, Array[Float]) = {
    val text = gen.doc()
    val u = nextUid.toLong
    nextUid += 1
    (u, text, Encoder(text))
  }

  def build(): Unit = {
    import spark.implicits._
    val rows = ctx.step("generate")(Seq.fill(docs)(newDoc()))
    rows.foreach { case (u, t, v) => flatLive(u) = (t, v) }
    val input = rows.map { case (u, t, _) => (Data.uid(u.toInt), t) }
      .toDF("uid", "text")
    flat = ctx.step("flat_build")(ctx.spans("index.flat_build") {
      Workflows.indexTextWorkflow(input, "text", ctx.path("flat"))
    })
    // docids are dense in uid order, and uids are zero-padded positions
    val ids = flat.df.select("docid", "uid").collect()
    CheckFailed.require(ids.length == docs &&
        ids.forall(r => r.getLong(0) == uidNumber(r.getString(1))),
      "flat index docids do not follow uid order")
    ivf = ctx.step("ivf_build")(ctx.spans("index.ivf_build") {
      val model = Ivf.train(flat.df, "vector", clusters)
      IvfVectorIndex.build(flat.df.select("docid", "vector"), "vector",
        "docid", ctx.path("ivf"), model)
    })
    flatLive.foreach { case (u, (_, v)) => ivfLive(u) = v }
  }

  def query(): (String, Array[Float]) = {
    val texts = flatLive.valuesIterator
    val pick = gen.rng.nextInt(flatLive.size)
    val text = gen.window(texts.drop(pick).next()._1, QueryTokens)
    (text, Encoder(text))
  }

  def ivfSearch(q: Array[Float]): Seq[(Long, Double)] =
    ivf.search(q, K, NProbe).select("docid", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Flat search, keyed by uid number. */
  def flatSearch(q: Array[Float]): Seq[(Long, Double)] =
    flat.search(q, K).select("uid", "score").collect()
      .map(r => (uidNumber(r.getString(0)), r.getDouble(1))).toSeq

  def exactIvf(q: Array[Float]): IndexedSeq[(Long, Double)] =
    Checks.exactTopK(ivfLive, q, K)

  def exactFlat(q: Array[Float]): IndexedSeq[(Long, Double)] =
    Checks.exactTopK(flatLive.view.mapValues(_._2), q, K)

  /** Checks an approximate ranking — every row is a live vector scored
    * exactly, in descending order — and returns its recall@k. */
  def annRecall(got: Seq[(Long, Double)], q: Array[Float],
      live: scala.collection.Map[Long, Array[Float]],
      exact: Seq[(Long, Double)]): Double = {
    CheckFailed.require(got.nonEmpty && got.length <= K,
      s"${got.length} ANN results")
    got.foreach { case (id, s) =>
      val v = live.getOrElse(id, throw new CheckFailed(s"id $id is not live"))
      CheckFailed.require(math.abs(Checks.cosine(v, q) - s) <= 1e-9,
        s"id $id scored $s, exact ${Checks.cosine(v, q)}")
    }
    CheckFailed.require(got.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "ANN scores not in descending order")
    Checks.recall(got.map(_._1), exact.map(_._1))
  }

  def requireRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      eps: Double, what: String): Unit =
    Checks.rankingMismatch(got, want, eps).foreach(m =>
      throw new CheckFailed(s"$what: $m"))

  /** On-disk bytes of both indexes' current data. */
  def indexBytes(): Long = ivf.storageFootprint()._2 + Fs.bytes(flat.dataDir.stripPrefix("file:"))

  def ivfGenerations(): Int =
    Manifests.require(spark, ctx.path("ivf")).parts.map(Manifests.genOf).distinct.length
}

object VectorIndexes {
  val K = 10
  val NProbe = 4
  val QueryTokens = 12
  val Encoder = HashingEncoder(64)

  def uidNumber(uid: String): Long = uid.stripPrefix("u").toLong

}

/** `index_churn`: writes beside the mixed reads of a search service, on
  * one index layer.
  *
  * Set-up builds a flat `VectorIndex` with the text index workflow, an
  * `IvfVectorIndex` and a `Bm25Index` over the same rows, and serves
  * the flat index from a `WorkflowServer`. One iteration is a rotation
  * of three cycles, then one hybrid read. Each cycle makes one write
  * and then reads:
  *  - writes rotate through an IVF append of 1,000 new vectors (then
  *    `compact()` only when `shouldCompact()` says so), a flat upsert of
  *    500 rows (half new uids, half existing) and a flat delete of 100
  *    uids;
  *  - the first read probes the write: the appended vector must be IVF
  *    rank 1, the upserted one REST rank 1, the deleted one absent from
  *    a flat search;
  *  - then, in a seeded order, two `IvfVectorIndex.search` (k=10,
  *    nprobe=4), one `POST /workflow {"name":"search"}` over one HTTP
  *    connection and one SQL `similar('…')` top-k with ANN auto-routing.
  * The rotation ends with one `Bm25Index.hybridSearch`. Every read is
  * checked against an exact top-10 over the live rows replayed from the
  * op log; ANN reads give the recall. */
final class IndexChurn(ctx: Ctx, docs: Int, clusters: Int) extends Workload {
  import IndexChurn._
  import VectorIndexes._

  private val spark = ctx.spark
  private val idx = new VectorIndexes(ctx, docs, clusters)
  private var bm25: Bm25Index = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var http: HttpClient = _
  private val annRecalls = mutable.ArrayBuffer.empty[Double]
  private var nextDocid = 0L
  private var compactions = 0
  /** Rows written by the measured phase's successful writes. */
  private var writtenRows = 0L

  def primaryCall(): Unit = read("ivf")

  def setup(): Unit = {
    idx.build()
    nextDocid = docs.toLong
    bm25 = ctx.step("bm25_build")(ctx.spans("operators.bm25_build") {
      Bm25Index.build(idx.flat.df.select("docid", "text"), "text", "docid",
        ctx.path("bm25"))
    })
    // the server's worker thread must not inherit a span's job group
    spark.sparkContext.clearJobGroup()
    server = WorkflowServer.start(spark, ctx.path("flat"), 0, K)
    http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    spark.conf.set("spark.graft.ann.nprobe", NProbe.toString)
  }

  /** Each write once at its measured size (smaller batches warm other
    * code), with its probe, then the read kinds no probe covers. */
  def warmup(): Unit = ctx.step("warmup") {
    Writes.foreach(write)
    Seq("sql", "hybrid").foreach(read)
  }

  def iteration(): Unit = {
    Writes.foreach { w =>
      write(w)
      Data.shuffled(idx.gen.rng, Mix.length).map(Mix(_)).foreach(read)
    }
    read("hybrid")
  }

  /** One write and the read that probes it. */
  private def write(kind: String): Unit = {
    import spark.implicits._
    val rng = idx.gen.rng
    kind match {
      case "ivf_append" =>
        val n = AppendRows
        val rows = Seq.fill(n) {
          val (_, _, v) = idx.newDoc(); nextDocid += 1; (nextDocid - 1, v)
        }
        val done = ctx.op(kind) {
          ctx.spans("index.ivf_append") {
            idx.ivf.append(rows.toDF("docid", "vector"), "vector", "docid")
          }
          if (idx.ivf.shouldCompact()) {
            ctx.spans("index.ivf_compact")(idx.ivf.compact())
            compactions += 1
          }
        }(_ => ())
        if (done.isDefined) {
          rows.foreach { case (d, v) => idx.ivfLive(d) = v }
          written(n)
        }
        val (probe, pv) = rows(rng.nextInt(rows.length))
        ivfRead(pv) { got =>
          CheckFailed.require(got.headOption.exists(_._1 == probe),
            s"appended docid $probe not at rank 1: ${got.take(3)}")
        }
      case "flat_upsert" =>
        val n = UpsertRows
        val keys = idx.flatLive.keys.toIndexedSeq
        val existing = Data.shuffled(rng, keys.length).take(n / 2).map(keys(_))
        val fresh = Seq.fill(n - existing.length) {
          idx.nextUid += 1; (idx.nextUid - 1).toLong }
        val rows = (existing.toSeq ++ fresh).map { u =>
          val t = idx.gen.doc(); (u, t, Encoder(t)) }
        val input = rows.map { case (u, t, _) => (Data.uid(u.toInt), t) }
          .toDF("uid", "text")
        val done = ctx.op(kind)(ctx.spans("index.flat_upsert") {
          idx.flat.upsert(
            graft.TextEncoder.encodeColumn(input, "text", "vector", Encoder))
        })(_ => ())
        if (done.isDefined) {
          rows.foreach { case (u, t, v) => idx.flatLive(u) = (t, v) }
          written(n)
        }
        val (probe, text, _) = rows(rng.nextInt(rows.length))
        restRead(text) { got =>
          CheckFailed.require(got.headOption.exists(_._1 == probe),
            s"upserted uid $probe not at REST rank 1: ${got.take(3)}")
        }
      case "flat_delete" =>
        val n = DeleteRows
        val keys = idx.flatLive.keys.toIndexedSeq
        val gone = Data.shuffled(rng, keys.length).take(n).map(keys(_)).toSeq
        val probeVec = idx.flatLive(gone.head)._2
        val done = ctx.op(kind)(ctx.spans("index.flat_delete") {
          idx.flat.deleteUids(gone.map(u => Data.uid(u.toInt)))
        })(_ => ())
        if (done.isDefined) {
          gone.foreach(idx.flatLive.remove)
          written(n)
        }
        ctx.op("flat")(ctx.spans("index.flat_search")(idx.flatSearch(probeVec))) { got =>
          CheckFailed.require(!got.exists(_._1 == gone.head),
            s"deleted uid ${gone.head} still served")
          idx.requireRanking(got, idx.exactFlat(probeVec), 1e-12, "flat search")
        }
    }
  }

  private def written(rows: Int): Unit =
    if (ctx.measuring) writtenRows += rows

  private def read(kind: String): Unit = {
    val (text, q) = idx.query()
    kind match {
      case "ivf" => ivfRead(q)(_ => ())
      case "rest" => restRead(text)(_ => ())
      case "sql" =>
        // routing is on for the SQL reads only, so the other ops keep
        // the plans their own APIs build; the view is re-resolved so
        // it reads the current snapshot
        ctx.op(kind)(ctx.spans("sql.similar") {
          idx.ivf.df.createOrReplaceTempView(View)
          spark.conf.set("spark.graft.ann.autoRoute", "true")
          try spark.sql(s"SELECT docid, similar(vector, '$text') AS score " +
              s"FROM $View ORDER BY score DESC, docid LIMIT $K")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          finally spark.conf.set("spark.graft.ann.autoRoute", "false")
        })(got => ann(got, q))
      case "hybrid" =>
        // a keyword-length query: the window's first few words
        val terms = Bm25.TokenPattern.r.findAllIn(text).toSeq
          .take(HybridTerms).distinct
        val hq = Encoder(terms.mkString(" "))
        ctx.op(kind)(ctx.spans("operators.hybrid_search") {
          bm25.hybridSearch(idx.ivf.df, "docid", "vector", terms, hq, K)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        }) { got =>
          CheckFailed.require(got.nonEmpty && got.length <= K,
            s"${got.length} hybrid results")
          CheckFailed.require(got.map(_._1).distinct.length == got.length &&
              got.forall(g => idx.ivfLive.contains(g._1)),
            "hybrid returned duplicate or unknown ids")
          CheckFailed.require(
            got.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
            "hybrid scores not in descending order")
        }
    }
  }

  private def ann(got: Seq[(Long, Double)], q: Array[Float]): Unit = {
    val r = idx.annRecall(got, q, idx.ivfLive, idx.exactIvf(q))
    if (ctx.measuring) annRecalls += r
  }

  private def ivfRead(q: Array[Float])(extra: Seq[(Long, Double)] => Unit): Unit =
    ctx.op("ivf")(ctx.spans("index.ivf_search")(idx.ivfSearch(q))) { got =>
      ann(got, q)
      extra(got)
    }

  /** A REST search, checked to equal the exact flat top-10 (scores
    * are rounded to 6 decimals on the wire). */
  private def restRead(text: String)(extra: Seq[(Long, Double)] => Unit): Unit = {
    val q = Encoder(text)
    ctx.op("rest")(ctx.spans("rest.workflow_search")(rest(text))) { got =>
      extra(got)
      idx.requireRanking(got, idx.exactFlat(q), 1e-6, "REST search")
    }
  }

  private val Hit = """"uid":"(u\d+)","docid":\d+,"score":([-0-9.eE]+)""".r

  private def rest(text: String): Seq[(Long, Double)] = {
    val body = s"""{"name":"search","elements":[${Json.str(text)}]}"""
    val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/workflow"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    CheckFailed.require(resp.statusCode == 200,
      s"REST status ${resp.statusCode}: ${resp.body.take(200)}")
    Hit.findAllMatchIn(resp.body)
      .map(m => (uidNumber(m.group(1)), m.group(2).toDouble)).toSeq
  }

  override def finish(): Unit =
    ctx.acct.run("final", "count") {
      val (f, i) = (idx.flat.count(), idx.ivf.count())
      CheckFailed.require(f == idx.flatLive.size,
        s"flat count $f, replayed ${idx.flatLive.size}")
      CheckFailed.require(i == idx.ivfLive.size,
        s"ivf count $i, replayed ${idx.ivfLive.size}")
    }

  private def live: Int = idx.flatLive.size + idx.ivfLive.size
  private def ms(kinds: Seq[String]): Seq[Double] =
    kinds.flatMap(k => ctx.samples.getOrElse(k, Nil))

  /** Rows appended, upserted or deleted per second of write-op time
    * (compaction included). */
  private def writeRowsPerS: Double = writtenRows / (ms(Writes).sum / 1000.0)

  def endToEnd: EndToEnd = EndToEnd(
    throughputPerS = writeRowsPerS,
    opMs = Stats.median(ms(Reads)),
    quality = annRecalls.sum / annRecalls.length,
    bytesPerRow = idx.indexBytes().toDouble / live)

  def summary: Seq[String] = {
    def line(name: String, xs: Seq[Double]) =
      if (xs.isEmpty) Nil else Seq(Stats.timing(xs).render(name, "ms"))
    def p90(name: String, xs: Seq[Double]) =
      Stats.percentileIfSupported(xs, 90).fold(
        f"$name%-28s n/a (n=${xs.length} < 100)")(v =>
        f"$name%-28s $v%.3f  (n=${xs.length})")
    Seq(s"docs=$docs clusters=$clusters nprobe=$NProbe append=$AppendRows " +
        s"upsert=$UpsertRows delete=$DeleteRows") ++
      line("search_ms (all reads)", ms(Reads)) ++
      Seq(p90("search_p90_ms", ms(Reads))) ++
      Reads.flatMap(k => line(s"  $k", ms(Seq(k)))) ++
      line("write_ms", ms(Writes)) ++
      Writes.flatMap(k => line(s"  $k", ms(Seq(k)))) ++
      Seq(f"write_rows_per_s            $writeRowsPerS%.1f  (rows=$writtenRows)") ++
      Seq(f"recall_at_10                ${annRecalls.sum / annRecalls.length}%.4f  (n=${annRecalls.length} ANN reads)",
        f"bytes_per_live_vector       ${idx.indexBytes().toDouble / live}%.1f  (live=$live)",
        s"compactions                 $compactions")
  }

  override def layerExtras(): Seq[(String, Double)] = {
    // exact flat searches in a span of their own, for the scan rate
    (0 until 6).foreach { _ =>
      val (_, q) = idx.query()
      ctx.spans("functions.cosine_scan")(idx.flatSearch(q))
    }
    // vectors scored per second of executor run time
    val scans = ctx.tracer.toSeq.flatMap(_.spans).filter(_.name == "functions.cosine_scan")
    val execMs = scans.map(_.execRunMs).sum
    Seq(
      "functions.cosine_scan.rows_per_s" ->
        (if (execMs <= 0) 0.0 else scans.length * idx.flatLive.size / (execMs / 1000.0)),
      "index.ivf.files" -> idx.ivf.storageFootprint()._1.toDouble,
      "index.ivf.generations" -> idx.ivfGenerations().toDouble,
      "index.ivf_compact.count" -> compactions.toDouble)
  }

  override def close(): Unit =
    if (server != null) { WorkflowServer.shutdown(server); server = null }
}

object IndexChurn {
  val AppendRows = 1000
  val UpsertRows = 500
  val DeleteRows = 100
  val Writes = Seq("ivf_append", "flat_upsert", "flat_delete")
  /** The reads after each write's probe. */
  val Mix = Seq("ivf", "ivf", "rest", "sql")
  val Reads = Seq("ivf", "hybrid", "rest", "sql", "flat")
  val HybridTerms = 3
  val View = "perfbench_ivf"
}
