package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** What one curation pass returns, collected. */
final case class PassOut(
    edges: Array[(Long, Long)],             // distinct LSH-verified pairs
    clusters: Map[Long, Long],              // doc id → cluster id
    reps: Array[(Long, Long, Long)],        // (id, cluster_id, cluster_size)
    joined: Array[(Long, Long, Double)])    // exact Jaccard pairs

/** `curation_dedup`: batch passes over a seeded corpus. One pass runs
  * `Dedup.lshVerifiedPairs` → `connectedComponents` →
  * `selectRepresentatives`, plus the exact `jaccardJoin`. */
object CurationDedup {
  val Docs = 2000
  val Vocab = 2000
  val ZipfS = 1.1
  val DupShare = 0.2
  val Tau = 0.5
  val NumHashes = 16
  val Bands = 8

  def docs(spark: SparkSession, dir: Path): DataFrame = spark.read.parquet(dir.toString)

  def write(spark: SparkSession, c: Corpus, dir: Path): Unit = {
    import spark.implicits._
    c.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").coalesce(2).write.parquet(dir.toString)
  }

  def edgesOf(pairs: DataFrame): Array[(Long, Long)] =
    pairs.select("id_a", "id_b").distinct().collect().map(r => (r.getLong(0), r.getLong(1)))

  def repsOf(docs: DataFrame, clusters: DataFrame): Array[(Long, Long, Long)] =
    Dedup.selectRepresentatives(docs, clusters, "id", Seq(col("id")))
      .select("id", "cluster_id", "cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  def joinOf(docs: DataFrame): Array[(Long, Long, Double)] =
    Dedup.jaccardJoin(docs, "id", "text", Tau).select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  def pass(spark: SparkSession, dir: Path): PassOut = {
    val d = docs(spark, dir)
    val pairs = Dedup.lshVerifiedPairs(d, "id", "text", NumHashes, Bands, 3, Tau)
    val edges = edgesOf(pairs)
    val clusters = Dedup.connectedComponents(d.select("id"), pairs, "id").localCheckpoint(true)
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    PassOut(edges, cl, repsOf(d, clusters), joinOf(d))
  }

  /** The output checks, each failure one failed operation:
    *  - every exact-join pair's Jaccard, recomputed in plain Scala, is ≥ τ
    *    and equals the reported value;
    *  - every planted pair with Jaccard ≥ τ is among the exact-join pairs;
    *  - cluster ids equal a union-find (min id per component) over the
    *    verified pairs, for every document;
    *  - one representative per cluster: its lowest id, with the
    *    component's size. */
  def check(tally: Tally, c: Corpus, out: PassOut, label: String): Unit = {
    val sh = mutable.Map.empty[Long, Set[String]]
    def j(a: Long, b: Long) = CorpusGen.jaccard(
      sh.getOrElseUpdate(a, CorpusGen.shingles(c.texts(a.toInt))),
      sh.getOrElseUpdate(b, CorpusGen.shingles(c.texts(b.toInt))))
    tally.check(s"$label: exact-join pairs recompute to >= tau")(out.joined.forall {
      case (a, b, v) => val w = j(a, b); w >= Tau - 1e-12 && math.abs(w - v) < 1e-9 })
    val got = out.joined.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    val missed = c.planted.filter { case (a, b) => j(a, b) >= Tau && !got((math.min(a, b), math.max(a, b))) }
    tally.check(s"$label: planted pairs missing from the exact join: ${missed.take(5)}")(missed.isEmpty)
    val parent = Array.tabulate(c.size)(i => i.toLong)
    def find(x: Long): Long = {
      var r = x
      while (parent(r.toInt) != r) r = parent(r.toInt)
      var y = x
      while (parent(y.toInt) != r) { val nx = parent(y.toInt); parent(y.toInt) = r; y = nx }
      r
    }
    out.edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    val label0 = (0 until c.size).map(i => find(i.toLong))
    tally.check(s"$label: cluster ids equal union-find over verified pairs")(
      out.clusters.size == c.size && (0 until c.size).forall(i => out.clusters.get(i.toLong).contains(label0(i))))
    val sizes = label0.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    tally.check(s"$label: one lowest-id representative per cluster")(
      out.reps.length == sizes.size && out.reps.forall { case (id, cid, n) =>
        id == cid && sizes.get(cid).contains(n) })
  }

  def run(a: Args): String = {
    val work = WorkDir.fresh("curation_dedup")
    val dir = work.resolve("corpus")
    val tally = new Tally
    var corpus: Corpus = null
    var spark: SparkSession = null
    val clock = new SetupClock
    spark = Session.start(work, batch = true)
    clock.exclude("generate") {
      corpus = CorpusGen.generate(a.seed, Docs, Vocab, ZipfS, DupShare)
      write(spark, corpus, dir)
    }
    tally.attempt()
    check(tally, corpus, pass(spark, dir), "warm-up pass")
    val setupS = clock.setupSeconds
    Report.detail("setup", Seq("setup_s" -> setupS) ++
      clock.excluded.toSeq.map { case (k, v) => s"excluded_${k}_ms" -> v })

    val out =
      if (!a.trace) {
        val lat = mutable.ArrayBuffer.empty[Double]
        var last: PassOut = null
        val tStart = Clock.nowMs()
        while (Clock.nowMs() - tStart < a.seconds * 1000) {
          val t0 = Clock.nowMs()
          last = pass(spark, dir)
          lat += Clock.nowMs() - t0
          tally.attempt()
          check(tally, corpus, last, s"pass ${lat.size}")
        }
        val elapsed = Clock.nowMs() - tStart
        val docsPerS = corpus.size * lat.size / (elapsed / 1000)
        Report.detail("curation_dedup", Seq("passes" -> lat.size, "docs" -> corpus.size,
          "planted_pairs" -> corpus.planted.size, "dup_share" -> DupShare,
          "verified_pairs" -> last.edges.length, "join_pairs" -> last.joined.length,
          "clusters" -> last.reps.length, "pass_p50_ms" -> Pct.median(lat),
          "curation_docs_per_s" -> docsPerS))
        corpus = null; last = null
        val heap = Jvm.liveHeapMb()
        Seq(("p50_ms", Pct.median(lat), "ms"), ("ops_per_s", docsPerS, "1/s"),
          ("setup_s", setupS, "s"), ("live_heap_mb", heap, "MB"))
      } else {
        val untraced = mutable.ArrayBuffer.empty[Double]
        val tU = Clock.nowMs()
        while (Clock.nowMs() - tU < a.seconds * 350) {
          val t0 = Clock.nowMs()
          val o = pass(spark, dir)
          untraced += Clock.nowMs() - t0
          tally.attempt()
          check(tally, corpus, o, s"untraced pass ${untraced.size}")
        }
        val tracer = new Tracer(spark)
        val gc0 = Jvm.gcMs()
        val tT = Clock.nowMs()
        var n = 0
        while (n < untraced.size && Clock.nowMs() - tT < a.seconds * 650) {
          tally.attempt()
          val o = tracer.request(n) {
            val d = docs(spark, dir)
            val sigs = tracer.span("dedup.signature") {
              val s = Dedup.minHashSignatures(d, "id", "text", NumHashes, 3).localCheckpoint(true)
              s.count(); s
            }
            // candidate pairs: docs sharing a band key (instrumentation only)
            tracer.span("trace.candidates") {
              val keys = Dedup.lshBandKeys(sigs, "id", NumHashes, Bands)
              tracer.note("dedup.candidate_pairs", keys.as("a").join(keys.as("b"),
                col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
                  col("a.id") < col("b.id")).select("a.id", "b.id").distinct().count().toDouble)
            }
            val (pairs, edges) = tracer.span("dedup.pairs") {
              val p = Dedup.lshVerifiedPairs(d, "id", "text", NumHashes, Bands, 3, Tau)
              (p, edgesOf(p))
            }
            tracer.note("dedup.verified_pairs", edges.length.toDouble)
            val (clusters, cl) = tracer.span("dedup.cluster") {
              val c = Dedup.connectedComponents(d.select("id"), pairs, "id").localCheckpoint(true)
              (c, c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
            }
            val rp = tracer.span("dedup.select") { repsOf(d, clusters) }
            val jj = tracer.span("dedup.join") { joinOf(d) }
            PassOut(edges, cl, rp, jj)
          }
          check(tally, corpus, o, s"traced pass $n")
          n += 1
        }
        val gcPerPass = (Jvm.gcMs() - gc0) / n.max(1)
        tracer.finish()
        tracer.write(work.resolve("spans.jsonl"))
        val extra = Traced.overhead(tracer.requestMs().map(_._2), untraced.take(n).toSeq) +
          ("spark.gc_ms" -> gcPerPass)
        Report.detail("trace", Seq("untraced_passes" -> untraced.size, "traced_passes" -> n,
          "spans" -> work.resolve("spans.jsonl").toString))
        val (metrics, all) = Tracer.report(tracer.perRequest().values, extra)
        Report.detail("layers", all)
        metrics
      }
    Session.stop(spark)
    Report.result(tally.failed == 0, tally, out)
  }
}
