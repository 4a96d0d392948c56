package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Pins the two contracts of the alternating large-star/small-star
  * connected components (Dedup.components):
  *   1. CORRECTNESS — the min-id labeling matches a driver-side
  *     union-find ground truth on randomized graphs (the differential
  *     that lets the log-round rewrite inherit every existing oracle);
  *   2. LOGARITHMIC CONVERGENCE — round count on a generated chain of
  *     length d is ≤ ⌈log₂ d⌉ + c, NOT ∝ d (the round-14 scale-killer:
  *     one-hop label propagation needed d rounds, measured 31.9× per
  *     data decade on corpus_clean_cc because ScaleUp chains components
  *     longer as SF grows).
  */
class ComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  /** Driver-side union-find: the ground-truth min-id component labeling. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (df, rounds) =
      Dedup.componentsWithRounds(pairs.toDF("a_id", "b_id"), "a_id", "b_id")
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("differential: matches union-find ground truth on randomized graphs") {
    val rnd = new scala.util.Random(421542)
    for (trial <- 1 to 6) {
      val n = 30 + rnd.nextInt(60)
      val m = 20 + rnd.nextInt(80)
      val pairs = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (got, _) = run(pairs)
      assert(got == unionFind(pairs),
        s"trial=$trial n=$n m=$m: labels diverge from union-find")
    }
  }

  test("self-pairs and singletons stay in the output labeled as themselves") {
    val (got, _) = run(Seq((7L, 7L), (1L, 2L)))
    assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("chain convergence is logarithmic in diameter, not linear") {
    // Chains are the worst case for one-hop propagation (rounds = d).
    // The alternating algorithm must stay within ⌈log₂ d⌉ + 3 rounds —
    // a bound a linear-round algorithm breaks at every length below.
    for (d <- Seq(32, 128, 1024)) {
      val pairs = (0L until d.toLong).map(i => (i, i + 1))
      val (got, rounds) = run(pairs)
      assert(got.size == d + 1 && got.values.forall(_ == 0L),
        s"chain d=$d must collapse to one component rooted at 0")
      val bound = (math.log(d.toDouble) / math.log(2.0)).ceil.toInt + 3
      assert(rounds <= bound,
        s"chain d=$d took $rounds rounds (> log bound $bound) — " +
          "convergence has regressed toward linear")
    }
  }

  test("round count and labels are orientation- and partition-invariant") {
    val chain = (0L until 200L).map(i => (i + 1, i)) // reversed orientation
    import spark.implicits._
    val (df, rounds) = Dedup.componentsWithRounds(
      chain.toDF("a_id", "b_id").repartition(7), "a_id", "b_id")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L) && got.size == 201)
    assert(rounds <= 11, s"reversed 200-chain took $rounds rounds")
  }

  test("string ids use the same lexicographic min as the oracle") {
    import spark.implicits._
    val pairs = Seq(("b", "a"), ("c", "b"), ("z", "y")).toDF("a_id", "b_id")
    val got = Dedup.components(pairs, "a_id", "b_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "y" -> "y", "z" -> "y"))
  }
}
