package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Iterative graph operators: integer PageRank against a driver-side
  * re-implementation, connected components against union-find. */
class GraphSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("graph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("integer PageRank equals the sequential reference computation") {
    import spark.implicits._
    val n = 60
    val edgeSeq = (0 until n).flatMap(i => Seq(0, 1, 2).map(k => (i.toLong, ((i * 7 + k * 13 + 1) % n).toLong)))
    val got = Graph.pageRank(
      (0 until n).map(_.toLong).toDF("id"), edgeSeq.toDF("src", "dst"), iters = 5)
      .as[(Long, Long)].collect().toMap
    // driver-side exact integer reference
    val base = 1000000000000L / n
    val out = edgeSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = (0 until n).map(i => i.toLong -> base).toMap
    (1 to 5).foreach { _ =>
      val s = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edgeSeq.foreach { case (src, dst) => s(dst) += r(src) / out(src) }
      r = r.map { case (id, _) => id -> (15L * base / 100L + 85L * s(id) / 100L) }
    }
    assert(got == r)
    // total mass stays within rounding loss of the initial mass
    assert(math.abs(got.values.sum - n * base) < n * 200L)
  }

  test("star connected components handles a 120-node chain in O(log n) rounds") {
    import spark.implicits._
    // a long chain (diameter 119) shuffled together with a clique and
    // isolated nodes: fixed-round label propagation would need 119
    // rounds; the large-star/small-star form converges in ~log n
    val chain = (0 until 119).map(i => (i.toLong, (i + 1).toLong))
    val clique = for (a <- 200 to 205; b <- (a + 1) to 205) yield (a.toLong, b.toLong)
    val edges = (chain ++ clique).toDF("src", "dst")
    val nodes = ((0L to 119L) ++ (200L to 205L) ++ Seq(300L, 301L)).toDF("id")
    val got = Graph.connectedComponentsStar(nodes, edges, maxRounds = 15)
      .as[(Long, Long)].collect().toMap
    (0L to 119L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    (200L to 205L).foreach(i => assert(got(i) == 200L))
    assert(got(300L) == 300L && got(301L) == 301L)
    assert(got.size == 128)
  }

  test("guards: empty pageRank input and non-converged star CC fail loudly") {
    import spark.implicits._
    assertThrows[IllegalArgumentException](
      Graph.pageRank(Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"), 3))
    // a 40-chain cannot reach a star in 1 round: must refuse, not return
    // silently split components
    val edges = (0 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val nodes = (0L to 40L).toDF("id")
    assertThrows[IllegalArgumentException](
      Graph.connectedComponentsStar(nodes, edges, maxRounds = 1))
  }

  test("pageRank refuses to run with AQE off, naming the conf") {
    import spark.implicits._
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val e = intercept[IllegalArgumentException](
        Graph.pageRank(Seq(1L, 2L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"), 3))
      assert(e.getMessage.contains(key))
    } finally spark.conf.set(key, before)
    assert(spark.conf.get(key) == before)
  }

  test("connected components equals union-find, incl. isolated nodes and chains") {
    import spark.implicits._
    val nodes = (0L to 20L).toDF("id")
    // two chains, one triangle, isolated nodes
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L),
      (15L, 16L), (16L, 17L), (17L, 15L)).toDF("src", "dst")
    val got = Graph.connectedComponents(nodes, edges, iters = 6)
      .as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map((0L to 20L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L),
      (15L, 16L), (16L, 17L), (17L, 15L)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expect = (0L to 20L).map { i =>
      // canonical label = min member of the component
      val root = find(i)
      val members = (0L to 20L).filter(find(_) == root)
      i -> members.min
    }.toMap
    assert(got == expect)
  }
}
