package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Distributed connected components over an edge list — the step that
  * turns pairwise near-dup output ([[TextDedup.ngramJaccardPairs]],
  * [[MinHashLsh.nearDupPairs]], [[SimHash.nearDupPairs]]) into
  * duplicate CLUSTERS, so a pipeline can keep one representative per
  * group rather than reasoning about pairs (the canonical web-dedup
  * shape: near-dup graph → components → keep min-id per component).
  *
  * Algorithm: local contraction (Łącki et al., "Connected Components at
  * Scale via Local Contractions", 2018). A round is one shuffle and one
  * action:
  *  - route: every edge (u, v) goes to the hash partitions of BOTH
  *    endpoints (`repartition` on the key node), so a node's partition
  *    sees every edge of that node (its KEY partition);
  *  - contract: each partition runs union-find (min id as root, on
  *    primitive long state) over the edges it received and emits one
  *    row (x, root(x), x is a key here) per node x it saw. Those rows
  *    are the star edges (root, x) — a root's own row is (r, r), so a
  *    node whose only edge is a self-loop survives the round — and the
  *    key rows are the round's labels, one per distinct node;
  *  - materialize: one `localCheckpoint` cuts the lineage.
  * Every original edge is contracted inside some partition, so the star
  * edges keep connectivity; a node's stars point at roots no larger
  * than its old neighbours, so the next round starts closer to the
  * component minimum. Fewer, larger partitions contract more per round.
  *
  * A round's labels are EXACT — no size threshold decides it:
  *  - when the shuffle read has one partition (AQE coalesced a small
  *    edge list, or `shuffle.partitions` is 1), one task saw every edge;
  *  - otherwise, when the round's INPUT is already a forest of stars
  *    rooted at their minimum: then each key has only larger neighbours
  *    (a root) or exactly one distinct smaller neighbour and no larger
  *    one (a leaf), and a key partition's union-find over the key's own
  *    edges labels it with its star's root. Each task checks this for
  *    its keys and adds the violations to a `LongAccumulator` that the
  *    driver reads after the round's one action. Only zero vs non-zero
  *    is read, so a task retry that counts its partition twice changes
  *    nothing (a second accumulator counts the rows for the label
  *    table's plan statistics; a retry only overstates that size).
  * A round that is not exact hands its star edges to the next round as
  * they are: a partition emits each node once, and dropping the copies
  * that other partitions emit would cost a second shuffle per round. The
  * proof relies on a key's rows reaching ONE task: a column repartition
  * is never split by AQE (only coalesced). */
object Components {

  /** Component label (= min reachable id) for every node appearing in
    * `pairs`. Output: (id, component), one row per distinct node. A pair
    * with one null id is a lone node. Throws when `maxIter` rounds end
    * without an exact round. */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    contract(pairs.select(coalesce(a, b).as("src"), coalesce(b, a).as("dst"))
      .filter(col("src").isNotNull), 1, maxIter)
  }

  @annotation.tailrec
  private def contract(edges: DataFrame, round: Int,
      maxIter: Int): DataFrame = {
    if (round > maxIter) throw new IllegalStateException(
      s"connected components: no exact round within maxIter = $maxIter")
    val sc = edges.sparkSession.sparkContext
    val violations =
      sc.longAccumulator(s"components round $round: star-forest violations")
    val emitted = sc.longAccumulator(s"components round $round: rows")
    val step = edges
      .select(explode(array(
        struct(col("src").as("k"), col("dst").as("o")),
        struct(col("dst").as("k"), col("src").as("o")))).as("e"))
      .select("e.k", "e.o")
      .repartition(col("k"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .mapPartitions { rows =>
        val c = new Contraction
        rows.foreach { case (k, o) => c.add(k, o) }
        violations.add(c.violations)
        emitted.add(c.size)
        c.rows
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaBoolean))
      .toDF("id", "component", "key")
      .localCheckpoint()
    if (step.queryExecution.toRdd.getNumPartitions <= 1 ||
        violations.value == 0)
      Shim.withRowCount(step, emitted.value)
        .filter(col("key")).select("id", "component")
    else
      contract(step.select(col("component").as("src"), col("id").as("dst")),
        round + 1, maxIter)
  }

  /** Keep-one-per-cluster over a full corpus: every document keeps its
    * component label (singletons label themselves), and `keep` marks
    * the component representative (min id). One left join against the
    * corpus; the label table is pair-bounded — usually tiny next to
    * the documents, and it carries its checkpoint's measured row count
    * as plan statistics, so a small one is broadcast from the first
    * plan on — but it is NOT force-broadcast:
    * a web-scale dup graph can have billions of pair nodes, and a
    * forced broadcast there would OOM the driver where a shuffled join
    * simply runs. */
  def labelCorpus(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("component"), col(idCol).cast("long")))
      .withColumn("keep", col(idCol).cast("long") === col("component"))
  }
}

/** One partition's contraction: union-find with the min id as root over
  * the routed (key, other) edges, on dense int indices behind an
  * open-addressing long table (no boxed map per row). Per key it keeps
  * the star-forest check's state: its one smaller neighbour, and flags
  * for a second distinct smaller one and for any larger one. */
private final class Contraction {
  private final val Key = 1
  private final val Smaller = 2
  private final val ManySmaller = 4
  private final val Larger = 8

  private var table = Array.fill(64)(-1) // slot -> dense index, -1 empty
  private var ids = new Array[Long](32) // dense index -> node id
  private var parent = new Array[Int](32)
  private var flags = new Array[Byte](32)
  private var smaller = new Array[Long](32)
  private var n = 0

  private def slot(x: Long): Int = {
    val mask = table.length - 1
    val h = x * 0x9E3779B97F4A7C15L
    var s = (h ^ (h >>> 32)).toInt & mask
    while (table(s) >= 0 && ids(table(s)) != x) s = (s + 1) & mask
    s
  }

  private def index(x: Long): Int = {
    val s = slot(x)
    if (table(s) >= 0) table(s)
    else {
      if (n == ids.length) {
        val cap = 2 * n
        ids = java.util.Arrays.copyOf(ids, cap)
        parent = java.util.Arrays.copyOf(parent, cap)
        flags = java.util.Arrays.copyOf(flags, cap)
        smaller = java.util.Arrays.copyOf(smaller, cap)
      }
      ids(n) = x
      parent(n) = n
      table(s) = n
      n += 1
      if (2 * n > table.length) {
        table = Array.fill(2 * table.length)(-1)
        var i = 0
        while (i < n) { table(slot(ids(i))) = i; i += 1 }
      }
      n - 1
    }
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) {
      parent(i) = parent(parent(i)) // path halving
      i = parent(i)
    }
    i
  }

  /** One routed edge: key node `k` (this partition owns it) and `o`. */
  def add(k: Long, o: Long): Unit = {
    val i = index(k)
    val j = index(o)
    var f = flags(i) | Key
    if (o < k) {
      if ((f & Smaller) == 0) { smaller(i) = o; f |= Smaller }
      else if (smaller(i) != o) f |= ManySmaller
    } else if (o > k) f |= Larger
    flags(i) = f.toByte
    val ri = find(i)
    val rj = find(j)
    if (ri != rj) {
      if (ids(ri) < ids(rj)) parent(rj) = ri else parent(ri) = rj
    }
  }

  /** Keys whose edges break the min-rooted star-forest shape. */
  def violations: Long = (0 until n).count { i =>
    val f = flags(i)
    (f & Key) != 0 && (f & Smaller) != 0 && (f & (ManySmaller | Larger)) != 0
  }.toLong

  /** Nodes seen. */
  def size: Long = n

  /** (node, root, node is a key here), one per node seen. */
  def rows: Iterator[(Long, Long, Boolean)] =
    Iterator.range(0, n).map(i => (ids(i), ids(find(i)), (flags(i) & Key) != 0))
}
