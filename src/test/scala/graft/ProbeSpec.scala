package graft

import graft.operators.Similarity

/** The distributed half of the linear probe: the bias-augmented gram and
  * the per-class moments `q_probe_stats` is built on. */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  /** 4 classes on orthogonal-ish centroids in R^8 + small noise —
    * linearly separable by construction. */
  private def synth(n: Int, seed: Long): Seq[(Long, Seq[Float], Int)] = {
    val rnd = new scala.util.Random(seed)
    val centroids = Array.tabulate(4, 8)((c, i) =>
      if (i == 2 * c || i == 2 * c + 1) 3.0 else 0.0)
    (0 until n).map { k =>
      val c = k % 4
      val v = centroids(c).map(x => (x + rnd.nextGaussian() * 0.4).toFloat)
      (k.toLong, v.toSeq, c)
    }
  }

  test("probeGram/probeMoments shapes: upper triangle only, bias row " +
      "present, per-class counts correct") {
    val df = synth(40, seed = 9).toDF("vec_id", "embedding", "label")
    val g = Similarity.probeGram(df, "embedding").collect()
    assert(g.length == 9 * 10 / 2) // d+1 = 9
    assert(g.forall(r => r.getInt(0) <= r.getInt(1)))
    // gram(bias,bias) = n
    val nn = g.find(r => r.getInt(0) == 8 && r.getInt(1) == 8).get.getDouble(2)
    assert(nn == 40.0)
    val m = Similarity.probeMoments(df, "embedding", "label").collect()
    assert(m.length == 4 * 9)
    assert(m.filter(_.getInt(1) == 8) // bias slot sums = class counts
      .forall(r => r.getDouble(2) == r.getLong(3).toDouble))
  }
}
