package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions.{Bm25QueryModel, Bm25Score}
import graft.operators.{Bm25, Bm25Index}

/** The SQL dialect's `keyword_score('query terms')` — the lexical twin
  * of the `similar('query text')` predicate, so a hybrid query needs no
  * API call at all:
  *
  * {{{
  * SELECT id, keyword_score('vector database') AS bm
  * FROM txtai WHERE keyword_score('vector database') > 0
  * ORDER BY bm DESC LIMIT 10
  * }}}
  *
  * BM25 needs corpus-global statistics (per-term df, corpus n/avgdl)
  * that a row-scalar function cannot derive, so — like `similar`'s
  * driver-side text encoding — they are resolved at ANALYSIS time and
  * shipped into the plan as literals inside a [[Bm25QueryModel]]; the
  * per-row kernel is then pure, codegen'd, and pushdown-friendly. Two
  * stats sources, registered driver-side:
  *
  *  - [[Txtai.register]] registers its view as the stats corpus: one
  *    aggregate job per distinct query's terms (cached per
  *    registration) scans the corpus for df/n/avgdl — fine below
  *    cluster scale;
  *  - [[Keyword.registerIndex]] plugs a persisted [[Bm25Index]]: df
  *    comes from the query terms' bucket partitions only and n/avgdl
  *    from the stats sidecar — nothing scans the corpus, which is the
  *    100 TB path.
  *
  * Registrations are SCOPED, not one global slot: each source (keyed
  * by corpus plan identity or index path) keeps its own stats and df
  * caches in a bounded registry, and the ACTIVE source is tracked per
  * SparkSession (weakly — dead sessions drop their entry). Two
  * sessions never clobber each other, and one session flipping between
  * corpora re-activates warm caches instead of recomputing. An
  * [[Bm25Index.append]] invalidates that path's registration (the
  * pre-append n/sumdl/df are wrong for the grown corpus): scoring
  * against it afterwards fails loudly until the appended index is
  * re-registered — never silently serving stale statistics.
  *
  * One-argument form binds to the FROM relation's `text` column
  * (mirroring one-argument `similar`'s `vector` binding);
  * `keyword_score(col, 'terms')` names the column explicitly. The terms
  * string is tokenized exactly like [[Bm25]] queries, and scores are
  * bit-identical to [[Bm25.score]]'s `bm25_micros` over the registered
  * corpus by construction (same stats, same literal math). */
object Keyword {

  /** One registered stats source with its own caches — never shared
    * across sources (the round-6 staleness/clobber fix). `routeIdCol`
    * additionally opts the index into [[graft.plans.KeywordRouteRule]]
    * plan rewriting (the name of the corpus id column the index was
    * built on). */
  private final class Registration(
      val corpus: Option[(DataFrame, String)],
      val index: Option[Bm25Index],
      val routeIdCol: Option[String] = None) {
    var statsCache: Option[(Long, Double)] = None
    val dfCache =
      scala.collection.mutable.Map.empty[Seq[String], Map[String, Long]]
  }

  /** Bounds: distinct registered sources, and distinct query term-sets
    * cached per source — both driver-memory-only; overflow clears (the
    * dropped stats re-derive in one small job, so eviction policy is
    * not worth state). */
  private val MaxRegistrations = 64
  private val MaxDfEntries = 1024

  private val registry =
    new scala.collection.mutable.LinkedHashMap[String, Registration]
  // active source PER SESSION — weak keys so a dropped session frees
  // its entry; values are registry keys
  private val active = new java.util.WeakHashMap[SparkSession, String]

  private def corpusKey(docs: DataFrame, textCol: String): String =
    "corpus:" + System.identityHashCode(docs.sparkSession) + ":" +
      docs.queryExecution.analyzed.semanticHash() + ":" + textCol

  private def indexKey(path: String): String = "index:" + path

  // keys removed by [[invalidateIndex]] (append made the stats stale),
  // so [[current]] can name the real cause instead of blaming an
  // append that never happened when a key was merely EVICTED; bounded
  // like the registry itself
  private val invalidatedKeys =
    new scala.collection.mutable.LinkedHashMap[String, Unit]
  private def markInvalidated(key: String): Unit = {
    if (invalidatedKeys.size >= MaxRegistrations)
      invalidatedKeys.remove(invalidatedKeys.head._1)
    invalidatedKeys(key) = ()
  }

  private def activate(session: SparkSession, key: String,
      fresh: => Registration): Unit = {
    registry.remove(key) match {
      // re-activation: re-insert so the LinkedHashMap's insertion
      // order tracks RECENCY of activation, not first registration —
      // an insertion-ordered "eldest" can be a session's hot source
      case Some(existing) => registry(key) = existing
      case None =>
        if (registry.size >= MaxRegistrations) {
          // evict the least-recently-activated entry that is no live
          // session's CURRENT source — evicting an active one would
          // break a session that did everything right. The calling
          // session's own about-to-be-replaced key does not count as
          // in use (it is garbage the moment this activation lands).
          // If every entry is some OTHER session's active source the
          // bound is hard anyway: drop the eldest and its session
          // re-registers on next use.
          val inUse = {
            import scala.jdk.CollectionConverters._
            active.values.asScala.toSet -- Option(active.get(session))
          }
          val victim = registry.keys.find(!inUse.contains(_))
            .getOrElse(registry.head._1)
          registry.remove(victim)
        }
        registry(key) = fresh
    }
    invalidatedKeys.remove(key) // a fresh registration clears the flag
    active.put(session, key)
  }

  /** Register a corpus DataFrame as the stats source (what
    * [[Txtai.register]] does with its view) and make it this session's
    * active source. Re-registering the same corpus (same plan
    * identity) re-activates its still-warm caches. */
  def registerCorpus(docs: DataFrame, textCol: String): Unit = synchronized {
    activate(docs.sparkSession, corpusKey(docs, textCol),
      new Registration(Some((docs, textCol)), None))
  }

  /** Register a persisted [[Bm25Index]] as the stats source: df reads
    * only the query terms' bucket partitions, n/avgdl come from the
    * sidecar — the no-corpus-scan path. A DIFFERENT index object at
    * the same path (e.g. the one [[Bm25Index.append]] returned)
    * replaces the cached statistics rather than reusing them. */
  def registerIndex(idx: Bm25Index): Unit = registerIndex(idx, None)

  /** [[registerIndex]] plus routing opt-in: `routeIdCol` names the
    * corpus id column the index was built on, which additionally lets
    * [[graft.plans.KeywordRouteRule]] rewrite eligible
    * `keyword_score(...) > 0` SQL onto the index's pruned postings
    * (under `spark.graft.ann.autoRoute=true`). */
  def registerIndex(idx: Bm25Index, routeIdCol: Option[String]): Unit =
    synchronized {
      val key = indexKey(idx.path)
      if (registry.get(key).exists(r =>
        r.index.exists(_ ne idx) || r.routeIdCol != routeIdCol))
        registry.remove(key) // same path, new object/route: refresh
      activate(idx.spark, key, new Registration(None, Some(idx), routeIdCol))
    }

  /** The session's active index route, if the active source is an
    * index registered with a `routeIdCol` — what
    * [[graft.plans.KeywordRouteRule]] rewrites onto. */
  private[graft] def activeRoute(session: SparkSession)
      : Option[(Bm25Index, String)] = synchronized {
    Option(active.get(session)).flatMap(registry.get).flatMap(r =>
      for (idx <- r.index; idCol <- r.routeIdCol) yield (idx, idCol))
  }

  /** Drop any registration backed by the index at `path` — called by
    * [[Bm25Index.append]] so post-append scoring fails loudly (asking
    * for a re-register) instead of silently using pre-append stats. */
  private[graft] def invalidateIndex(path: String): Unit = synchronized {
    if (registry.remove(indexKey(path)).isDefined)
      markInvalidated(indexKey(path))
  }

  /** The `keyword_score` function builder (registered via
    * [[GraftExtensions]]). */
  def build(es: Seq[Expression]): Expression = es match {
    case Seq(q) =>
      Bm25Score(UnresolvedAttribute("text"), model(queryText(q)))
    case Seq(textCol, q) =>
      Bm25Score(textCol, model(queryText(q)))
    case other => throw new IllegalArgumentException(
      s"keyword_score expects 1 or 2 arguments, got ${other.size}")
  }

  private def queryText(q: Expression): String =
    Txtai.literalText(q).getOrElse(throw new IllegalArgumentException(
      "keyword_score: the query must be a string literal — per-row " +
      "query terms would need per-row corpus statistics; score a fixed " +
      "query per pass instead"))

  private def current(): Registration =
    SparkSession.getActiveSession.flatMap(s => Option(active.get(s))) match {
      case Some(key) => registry.getOrElse(key, {
        // the session HAD a source but it is gone — never fall back to
        // some other registration (silently wrong stats). Name the
        // actual cause: append invalidation and registry eviction ask
        // for the same remedy but are different events.
        val cause =
          if (invalidatedKeys.contains(key))
            "Bm25Index.append invalidated it — the pre-append " +
              "statistics are stale for the grown corpus"
          else
            s"it was evicted when the registry exceeded " +
              s"$MaxRegistrations distinct sources"
        throw new IllegalStateException(
          s"keyword_score: this session's stats source was dropped " +
          s"($cause) — re-register the index (Keyword.registerIndex) " +
          "or the corpus (Txtai.register)")
      })
      case None =>
        // never activated in this session: unambiguous only when
        // exactly one source exists
        if (registry.size == 1) registry.head._2
        else throw new IllegalStateException(
          "keyword_score: no active stats source for this session — " +
          "call Txtai.register (corpus stats) or Keyword.registerIndex " +
          "(Bm25Index stats) first")
    }

  private[graft] def model(text: String): Bm25QueryModel = synchronized {
    val terms = Bm25.termsOf(text, "keyword_score:")
    val reg = current()
    val (n, avgdl) = stats(reg)
    if (reg.dfCache.size >= MaxDfEntries) reg.dfCache.clear()
    val dfs = reg.dfCache.getOrElseUpdate(terms, dfOf(reg, terms))
    val idfs = terms.map { t =>
      val df = dfs.getOrElse(t, 0L)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    Bm25QueryModel(terms, idfs, avgdl)
  }

  private def stats(reg: Registration): (Long, Double) =
    reg.statsCache.getOrElse {
      val st = reg.index match {
        case Some(idx) => (idx.n, idx.avgdl)
        case None =>
          val (docs, textCol) = reg.corpus.get
          val row = Bm25.stats(docs, textCol).head()
          (row.getLong(0), row.getDouble(1))
      }
      reg.statsCache = Some(st)
      st
    }

  private def dfOf(reg: Registration, terms: Seq[String])
      : Map[String, Long] = reg.index match {
    case Some(idx) => idx.dfOf(terms)
    case None =>
      val (docs, textCol) = reg.corpus.get
      docs
        .select(explode(array_distinct(Bm25.tokens(col(textCol))))
          .as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
