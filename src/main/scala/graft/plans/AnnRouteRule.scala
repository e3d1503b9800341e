package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Descending, Expression, In, InSet, Literal, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

import graft.functions.CosineSimilarity
import graft.operators.Ivf

/** OPT-IN optimizer rule: route a plain top-k-by-cosine query over an
  * IVF-partitioned table through cluster pruning automatically — the
  * user writes the EXACT query (`ORDER BY cosine_sim(vector, <lit>)
  * DESC LIMIT k`, which is what [[graft.operators.Knn.search]] emits)
  * and, when the scanned parquet directory carries an IVF codebook
  * sidecar (`_centroids/`, written by
  * [[graft.index.IvfVectorIndex.build]]), the scan is narrowed to the
  * `spark.graft.ann.nprobe` clusters nearest the query vector —
  * partition pruning drops the unprobed files at the source.
  *
  * The rewrite trades exactness for scan volume, so it NEVER fires
  * unless `spark.graft.ann.autoRoute=true` (explicit opt-in; the same
  * trade every ANN system makes, but here it must be asked for). The
  * rewritten plan is the same plan [[graft.index.IvfVectorIndex.search]]
  * builds by hand — this rule exists so SQL-text users and generic
  * DataFrame code get the routed plan without knowing the index class.
  *
  * Deployed with the other extensions (`spark.sql.extensions=
  * graft.GraftExtensions`) or imperatively via `Graft.init` (which
  * appends it to `experimentalMethods.extraOptimizations`). Codebooks
  * are cached per path — the sidecar read happens once per index, not
  * per query. */
case class AnnRouteRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.getOption("spark.graft.ann.autoRoute")
        .exists(_.toBoolean)) plan
    else plan.transform {
      case limit @ GlobalLimit(_, LocalLimit(_,
          sort @ Sort(SortOrder(scoreAttr: Attribute, Descending, _, _)
            +: _, true, proj @ Project(projectList, child), _))) =>
        val rewritten = for {
          qVec <- scoreQueryVector(projectList, scoreAttr)
          routed <- routeScan(child, qVec)
        } yield limit.copy(child = LocalLimit(
          limit.limitExpr, sort.copy(child = proj.copy(child = routed))))
        rewritten.getOrElse(limit)
    }

  /** The query vector, if `scoreAttr` is an alias of
    * cosine_sim(<column>, <array<float> literal>) in `projectList`. */
  private def scoreQueryVector(
      projectList: Seq[Expression],
      scoreAttr: Attribute): Option[Array[Float]] =
    projectList.collectFirst {
      case a @ Alias(CosineSimilarity(_, Literal(data: ArrayData,
          ArrayType(FloatType, _))), _)
        if a.exprId == scoreAttr.exprId => data.toFloatArray()
    }

  /** Inject `cluster IN (probes)` above the scan when the (possibly
    * filtered) child is a parquet relation with a `cluster` column and
    * an IVF codebook sidecar. `above` holds the conjuncts of the
    * Filters passed on the way down: when they already carry this
    * query's probe predicate the relation is routed, and nothing
    * changes — the rule runs in a fixed-point batch, so it must be
    * idempotent. */
  private def routeScan(
      child: LogicalPlan,
      qVec: Array[Float],
      above: Seq[Expression] = Nil): Option[LogicalPlan] = child match {
    case rel @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      for {
        clusterAttr <- rel.output.find(a =>
          a.name == "cluster" && a.dataType == IntegerType)
        path <- fs.location.rootPaths.headOption
          .map(p => AnnRouteRule.indexRoot(p.toString))
        model <- AnnRouteRule.codebook(spark, path)
        if model.dim == qVec.length
        nprobe = spark.conf
          .getOption("spark.graft.ann.nprobe").map(_.toInt).getOrElse(2)
        probes = model.nearest(qVec, nprobe)
        if !above.exists(isProbe(_, clusterAttr, probes.toSet))
      } yield Filter(In(clusterAttr, probes.map(Literal(_))), rel)
    case f @ Filter(cond, inner) =>
      routeScan(inner, qVec, above ++ splitConjunctivePredicates(cond))
        .map(r => f.copy(child = r))
    case _ => None
  }

  /** `e` is `cluster IN (probes)` (or its InSet form). */
  private def isProbe(
      e: Expression, cluster: Attribute, probes: Set[Int]): Boolean =
    e match {
      case In(a: Attribute, list) if a.semanticEquals(cluster) =>
        list.forall(_.isInstanceOf[Literal]) &&
          list.map(_.asInstanceOf[Literal].value).toSet == probes
      case InSet(a: Attribute, set) if a.semanticEquals(cluster) =>
        set == probes
      case _ => false
    }
}

object AnnRouteRule {

  // None is cached too: a plain parquet table without a sidecar must
  // not pay a filesystem probe on every query
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Ivf.Model]]()

  /** The index ROOT a scan's root path belongs to: an
    * [[graft.index.IvfVectorIndex]] handle reads explicit
    * `gen=…/cluster=…` snapshot directories (r17 manifest layout), so
    * the rule must resolve the codebook at the directory ABOVE the
    * generation segment. */
  private[plans] def indexRoot(rootPath: String): String =
    rootPath.indexOf("/gen=") match {
      case -1 => rootPath
      case i => rootPath.substring(0, i)
    }

  private[plans] def codebook(
      spark: SparkSession, path: String): Option[Ivf.Model] =
    cache.computeIfAbsent(path, { p =>
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        // manifest layout (r17): the current snapshot's book
        val fromManifest = graft.index.Manifests.current(spark, p)
          .flatMap(_.book)
          .map(b => s"$p/_books/$b/centroids")
        // legacy sidecar fallback: a plain `_centroids` dir
        val cdir = fromManifest.getOrElse(s"$p/_centroids")
        val cp = new org.apache.hadoop.fs.Path(cdir)
        if (!cp.getFileSystem(conf).exists(cp)) None
        else Some(Ivf.Model(
          graft.index.IvfVectorIndex.readCentroids(spark, cdir)))
      } catch { case _: Exception => None }
    })

  /** Test/ops hook: forget a cached codebook (e.g. after a rebuild). */
  def invalidate(path: String): Unit = cache.remove(path)
}
