package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Shim

import graft.SparkTestBase

/** Connected components must not depend on how they were computed: the
  * labels match a driver-side union-find, one row per node, under AQE
  * on/off × `shuffle.partitions` ∈ {1, 7, 200} on random graphs, a long
  * chain, a lone self-loop and duplicate/reversed pairs. Also pins the
  * round budget (running out throws) and the job count of a dup-sized
  * graph (one exact round: its shuffle map stage and its action). */
class ComponentsConfSpec extends SparkTestBase {
  import spark.implicits._

  private def withConf[T](aqe: Boolean, partitions: Int)(f: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), aqe.toString)
    spark.conf.set(keys(1), partitions.toString)
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Driver-side union-find oracle: node -> min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(edges: Seq[(Long, Long)],
      maxIter: Int = 50): Seq[(Long, Long)] =
    Components.connectedComponents(edges.toDF("id_a", "id_b"),
        "id_a", "id_b", maxIter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // a pool of spread-out ids, negatives included
    val pool = Seq.fill(300)(rnd.nextLong() % 1000000000L).distinct
    Seq.fill(250)((pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
  }

  private val graphs: Seq[(String, Seq[(Long, Long)])] =
    Seq(1, 2, 3).map(s => s"random graph (seed $s)" -> randomGraph(s)) ++ Seq(
      "1,000-node chain" ->
        new scala.util.Random(5).shuffle((0L until 999L).map(i =>
          if (i % 3 == 0) (i + 1, i) else (i, i + 1))),
      "self-loop-only pair" -> Seq((5L, 5L)),
      "duplicate and reversed pairs" ->
        Seq((3L, 1L), (1L, 3L), (1L, 3L), (7L, 3L), (9L, 8L), (8L, 9L),
          (9L, 8L), (4L, 4L), (4L, 6L)))

  for (aqe <- Seq(true, false); partitions <- Seq(1, 7, 200))
    test(s"labels match a driver union-find with AQE ${if (aqe) "on" else "off"}" +
      s" and shuffle.partitions=$partitions") {
      withConf(aqe, partitions) {
        graphs.foreach { case (name, edges) =>
          val got = components(edges)
          assert(got.map(_._1).distinct.size == got.size,
            s"$name: one row per node")
          assert(got.toMap == unionFind(edges), name)
        }
      }
    }

  test("running out of rounds throws instead of returning unconverged " +
    "labels") {
    withConf(aqe = false, partitions = 200) {
      val chain = (0L until 199L).map(i => (i, i + 1))
      val e = intercept[IllegalStateException](components(chain, maxIter = 1))
      assert(e.getMessage.contains("maxIter = 1"), e.getMessage)
    }
  }

  test("a dup-sized graph (~550 pairs) resolves in at most 2 jobs with " +
    "AQE on") {
    // near-dup clusters of 2-6 docs over 8k ids; every cluster a clique
    val rnd = new scala.util.Random(11)
    val pairs = Iterator.continually {
      val members = Seq.fill(2 + rnd.nextInt(5))(rnd.nextInt(8000).toLong)
        .distinct.sorted
      for (i <- members.indices; j <- i + 1 until members.size)
        yield (members(i), members(j))
    }.flatten.take(550).toSeq
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    withConf(aqe = true, partitions = 4) {
      val df = pairs.toDF("id_a", "id_b")
      Shim.waitUntilEmpty(spark)
      spark.sparkContext.addSparkListener(counter)
      val labels =
        try {
          val out = Components.connectedComponents(df, "id_a", "id_b")
          Shim.waitUntilEmpty(spark)
          out
        } finally spark.sparkContext.removeSparkListener(counter)
      assert(jobs.get() <= 2, s"${jobs.get()} jobs")
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.toMap == unionFind(pairs) && got.length == got.toMap.size)
    }
  }
}
