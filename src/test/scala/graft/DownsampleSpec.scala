package graft

import graft.operators.Downsample
import org.apache.spark.sql.functions._

class DownsampleSpec extends SparkSpec {

  test("lttbCore: hand-computed 6->4 selection") {
    // points: (0,0) (1,10) (2,0) (3,5) (4,0) (5,3)
    // threshold 4 => first, 2 interior buckets of every=(6-2)/2=2:
    //  bucket1 = idx [1,3): candidates (1,10),(2,0); a=(0,0),
    //  c = centroid of idx [3,5) = (3.5, 2.5)
    //   area(1,10): |(0-3.5)*(10-0) - (0-1)*(2.5-0)| = |-35 + 2.5| = 32.5
    //   area(2,0):  |(0-3.5)*(0-0)  - (0-2)*(2.5-0)| = |0 + 5| = 5
    //  -> picks (1,10)
    //  bucket2 = idx [3,5): candidates (3,5),(4,0); a=(1,10), c=(5,3)
    //   area(3,5): |(1-5)*(5-10) - (1-3)*(3-10)| = |20 - 14| = 6
    //   area(4,0): |(1-5)*(0-10) - (1-4)*(3-10)| = |40 - 21| = 19
    //  -> picks (4,0); last = (5,3)
    val pts = Array((0.0, 0.0), (1.0, 10.0), (2.0, 0.0), (3.0, 5.0), (4.0, 0.0), (5.0, 3.0))
    val got = Downsample.lttbCore(pts, 4)
    assert(got.toSeq == Seq((0.0, 0.0), (1.0, 10.0), (4.0, 0.0), (5.0, 3.0)))
  }

  test("lttbCore: invariants — size, endpoints, membership, x-monotone, tie earliest") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(3, 10, 100, 1437); k <- Seq(2, 3, 4, 20, 100)) {
      val pts = Array.tabulate(n)(i => (i.toDouble, rnd.nextDouble() * 100))
      val got = Downsample.lttbCore(pts, k)
      assert(got.length == math.min(n, k))
      assert(got.head == pts.head && got.last == pts.last)
      assert(got.forall(pts.contains))
      assert(got.sliding(2).forall(s => s.length < 2 || s(0)._1 < s(1)._1))
    }
    // all-equal y: every area is 0 => earliest candidate of each bucket
    val flat = Array.tabulate(10)(i => (i.toDouble, 1.0))
    val gotFlat = Downsample.lttbCore(flat, 5)
    // every = (10-2)/3 = 2.667 => interior buckets start at idx 1, 3, 6;
    // zero areas everywhere => earliest of each bucket: 1, 3, 6
    assert(gotFlat.toSeq == Seq((0.0, 1.0), (1.0, 1.0), (3.0, 1.0), (6.0, 1.0), (9.0, 1.0)))
  }

  test("lttb: a threshold below 2 fails at build time, naming the threshold") {
    import spark.implicits._
    val df = Seq(("a", 0.0, 1.0), ("a", 1.0, 2.0), ("a", 2.0, 0.0)).toDF("k", "x", "y")
    val pts = Array((0.0, 1.0), (1.0, 2.0), (2.0, 0.0))
    for (t <- Seq(1, 0, -1)) {
      val built = intercept[IllegalArgumentException](Downsample.lttb(spark, df, "k", "x", "y", t))
      assert(built.getMessage.endsWith(s"threshold >= 2, got $t"), built.getMessage)
      val core = intercept[IllegalArgumentException](Downsample.lttbCore(pts, t))
      assert(core.getMessage.endsWith(s"threshold >= 2, got $t"), core.getMessage)
    }
  }

  test("distributed lttb: per-key series, deterministic across partitioning") {
    val ev = spark.read
      .parquet(s"${sf("sf0.001")}/events.parquet")
      .select(
        col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("x"),
        col("value").as("y"))
    val a = Downsample
      .lttb(spark, ev.repartition(2), "user_id", "x", "y", 10)
      .collect()
      .map(_.toSeq)
      .toSet
    val b = Downsample
      .lttb(spark, ev.repartition(13), "user_id", "x", "y", 10)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(a == b && a.nonEmpty)
    // exactly 10 points per user (all series here exceed 10 points)
    val counts = a.groupBy(_.head).map(_._2.size).toSet
    assert(counts == Set(10))
  }
}
