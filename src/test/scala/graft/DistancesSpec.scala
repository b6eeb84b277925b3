package graft

import graft.functions.Distances
import graft.model.TweetFeatures
import org.apache.spark.sql.functions._

/** F1/F2 distance semantics (`Cluster.java:32-43`). */
class DistancesSpec extends SparkSpec {

  private def tf(time: Int, tags: Int, lang: String, video: Int) =
    TweetFeatures(0L, tags, lang, video, 0, 0, 0, time)

  test("hand-computed weighted distance") {
    // dt=1, dh=0.8*5=4, dl=1, dv=1 → sqrt(1 + 16 + 1 + 1) = sqrt(19)
    val a = tf(1, 10, "en", 0)
    val b = tf(2, 5, "tr", 1)
    assert(Distances.weightedDistance(a, b) === math.sqrt(19.0))
  }

  test("unweighted variant drops the 0.8 factor (kmeansCluster.java:90-93)") {
    val a = tf(0, 10, "en", 0)
    val b = tf(0, 5, "en", 0)
    assert(Distances.unweightedDistance(a, b) === 5.0)
    assert(Distances.weightedDistance(a, b) === 4.0)
  }

  test("identity, symmetry, non-negativity (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    val langs = Array("en", "tr", "es")
    def rand() = tf(rnd.nextInt(4), rnd.nextInt(100), langs(rnd.nextInt(3)), rnd.nextInt(2))
    (1 to 500).foreach { _ =>
      val a = rand(); val b = rand()
      assert(Distances.weightedDistance(a, a) === 0.0)
      assert(Distances.weightedDistance(a, b) === Distances.weightedDistance(b, a))
      assert(Distances.weightedDistance(a, b) >= 0.0)
    }
  }

  test("Column form agrees with Scala form") {
    import spark.implicits._
    val pairs = Seq(
      (tf(1, 10, "en", 0), tf(2, 5, "tr", 1)),
      (tf(3, 0, "en", 1), tf(0, 49, "en", 0)),
      (tf(2, 7, "tr", 1), tf(2, 7, "tr", 1)))
    val df = pairs.map { case (a, b) =>
      (a.time, a.numOfHashtags, a.language, a.hasVideo,
        b.time, b.numOfHashtags, b.language, b.hasVideo)
    }.toDF("t1", "h1", "l1", "v1", "t2", "h2", "l2", "v2")
    val got = df.select(Distances.weightedDistance(
      col("t1"), col("h1"), col("l1"), col("v1"),
      col("t2"), col("h2"), col("l2"), col("v2")).as("d"))
      .collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) => Distances.weightedDistance(a, b) }
    assert(got.toSeq === want)
  }

  test("Scala form == Column form bit for bit: null languages, Int extremes (generated)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Array(Int.MinValue, Int.MinValue + 1, -1, 0, 1, 3, 49, Int.MaxValue - 1, Int.MaxValue)
    def anInt() = if (rnd.nextBoolean()) edges(rnd.nextInt(edges.length)) else rnd.nextInt()
    val langs = Array("en", "tr", "", null)
    def rand() = tf(anInt(), anInt(), langs(rnd.nextInt(langs.length)), anInt())
    val pairs = (1 to 4000).map(_ => (rand(), rand())) :+
      (tf(0, 0, null, 0), tf(0, 0, null, 0)) // SQL: null = null is not true
    val df = pairs.map { case (a, b) =>
      (a.time, a.numOfHashtags, a.language, a.hasVideo,
        b.time, b.numOfHashtags, b.language, b.hasVideo)
    }.toDF("t1", "h1", "l1", "v1", "t2", "h2", "l2", "v2")
    for (w <- Seq(0.8, 1.0)) {
      val got = df.select(Distances.weightedDistance(
        col("t1"), col("h1"), col("l1"), col("v1"),
        col("t2"), col("h2"), col("l2"), col("v2"), w))
        .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSeq
      val want = pairs.map { case (a, b) =>
        java.lang.Double.doubleToRawLongBits(Distances.weightedDistance(a, b, w))
      }
      assert(got === want)
    }
    assert(Distances.weightedDistance(tf(0, 0, null, 0), tf(0, 0, null, 0)) === 1.0)
  }
}
