package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A planted anomaly: host `host` reads `spike` higher over `[from, to[`. */
final case class Planted(host: Int, from: Long, to: Long)

/** A seeded points layout: `hosts` hosts every `step` seconds over
  * `[start, end[`, sorted by (ts, host). Tags: `host` = "h<i>", `region`
  * = "r<i mod 2>"; fields `cpu` (the host's shape plus planted anomalies)
  * and `mem`. `noise` is the half-width of the uniform noise on every
  * field. Point `i` is a pure function of (seed, i), so Spark tasks
  * compute it without shipping rows from the driver. */
final case class PointsSpec(seed: Long, hosts: Int, start: Long, end: Long,
    step: Long, noise: Double, planted: Seq[Planted], spike: Double) {
  def size: Int = (((end - start) / step) * hosts).toInt

  def ts(i: Long): Long = start + (i / hosts) * step
  def host(i: Long): Int = (i % hosts).toInt

  private def unit(i: Long, k: Long): Double = {
    // splitmix64 finalizer over (seed, index, stream)
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + k * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  def cpu(i: Long): Double = {
    val t = ts(i); val h = host(i)
    val extra = if (planted.exists(p => p.host == h && t >= p.from && t < p.to)) spike else 0.0
    PointsGen.Base + PointsGen.Amplitude * PointsGen.shape(h, t) +
      noise * (2 * unit(i, 1) - 1) + extra
  }

  def mem(i: Long): Double =
    30.0 + 10.0 * math.sin(2 * math.Pi * (ts(i).toDouble / PointsGen.Day) + host(i)) +
      noise * (2 * unit(i, 2) - 1)

  /** The points as a local frame (no Spark job to build it). */
  def localFrame(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row](size)
    for (i <- 0 until size)
      rows.add(Row(new java.sql.Timestamp(ts(i) * 1000L), s"h${host(i)}",
        s"r${host(i) % 2}", cpu(i), mem(i)))
    spark.createDataFrame(rows, PointsGen.schema)
  }

  /** The points as a frame (ts, host, region, cpu, mem) of `parts`
    * contiguous time ranges, computed in Spark tasks. */
  def frame(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val spec = this
    spark.range(0, size.toLong, 1, parts).as[Long]
      .map(i => (spec.ts(i), s"h${spec.host(i)}", s"r${spec.host(i) % 2}", spec.cpu(i), spec.mem(i)))
      .toDF("ts_s", "host", "region", "cpu", "mem")
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("host"), col("region"),
        col("cpu"), col("mem"))
  }
}

object PointsGen {
  val Day = 86400L
  val Base = 50.0
  val Amplitude = 20.0

  /** FIXTURES §2 shapes with a daily period, by host: sin, saw, flat. */
  def shape(host: Int, t: Long): Double = {
    val phase = Math.floorMod(t, Day).toDouble / Day
    host % 3 match {
      case 0 => math.sin(2 * math.Pi * phase)
      case 1 => 2 * phase - 1
      case _ => 0.0
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("region", StringType, nullable = false),
    StructField("cpu", DoubleType, nullable = false),
    StructField("mem", DoubleType, nullable = false)))

  /** Write the points as `files` time-ordered parquet files. */
  def writeParquet(spark: SparkSession, spec: PointsSpec, dir: Path, files: Int): Unit =
    spec.frame(spark, files).write.mode("append").parquet(dir.toString)
}

/** A text corpus with a Zipf vocabulary and a planted near-duplicate
  * share: `dupShare` of the documents are copies of an earlier original,
  * a quarter of them exact and the rest with 1 to 3 word substitutions. */
final class Corpus(val texts: Array[String], val planted: Seq[(Long, Long)]) {
  def size: Int = texts.length
}

object CorpusGen {
  def generate(seed: Long, docs: Int, vocab: Int, zipfS: Double,
      dupShare: Double): Corpus = {
    val rnd = new java.util.Random(seed)
    val cum = new Array[Double](vocab)
    var acc = 0.0
    for (k <- 0 until vocab) { acc += 1.0 / math.pow(k + 1, zipfS); cum(k) = acc }
    def word(): String = {
      val u = rnd.nextDouble() * acc
      var lo = 0; var hi = vocab - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cum(m) < u) lo = m + 1 else hi = m }
      "w" + Integer.toString(lo, 36)
    }
    val texts = new Array[String](docs)
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until docs) {
      if (originals.nonEmpty && rnd.nextDouble() < dupShare) {
        val src = originals(rnd.nextInt(originals.size))
        val words = texts(src).split(" ")
        if (rnd.nextDouble() >= 0.25)
          for (_ <- 0 until 1 + rnd.nextInt(3)) words(rnd.nextInt(words.length)) = word()
        texts(i) = words.mkString(" ")
        planted += ((src.toLong, i.toLong))
      } else {
        texts(i) = Array.fill(20 + rnd.nextInt(41))(word()).mkString(" ")
        originals += i
      }
    }
    new Corpus(texts, planted.toSeq)
  }

  /** Word 3-shingle set of a whitespace-tokenized text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split("\\s+").filter(_.nonEmpty)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size
}
