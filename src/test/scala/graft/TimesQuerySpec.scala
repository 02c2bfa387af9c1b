package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Golden cases from the reference's hermetic query-engine tests:
  * /root/reference/tests/test_memdatasource.py:37-74 (micro-series buckets
  * [[2,3],[],[4]], avg [2.5, None, 4.0]) and
  * /root/reference/tests/test_influx.py:265-282 (counts [2,0,1]).
  */
class TimesQuerySpec extends SparkSpec {
  import spark.implicits._

  /** (foo, timestamp) micro-series from test_memdatasource.py:37-49. */
  private def micro: DataFrame =
    Seq((1.0, 0L), (2.0, 1L), (3.0, 2L), (4.0, 8L), (5.0, 10L))
      .toDF("foo", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))

  private def runMicro(features: Seq[Feature], anchor: Boolean): Seq[Row3] =
    TimesQuery.run(spark, micro, "ts", 3L, 1L, 9L, features,
        anchorAtFrom = anchor)
      .collect().toSeq
      .map(r => Row3(r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  case class Row3(bucket: Long, v: Option[Double])

  test("membucket golden: avg [2.5, null, 4.0] with from-anchored buckets") {
    val rows = runMicro(Seq(Feature("avg_foo", "avg", "foo")), anchor = true)
    assert(rows.map(_.bucket) == Seq(1L, 4L, 7L))
    assert(rows.map(_.v) == Seq(Some(2.5), None, Some(4.0)))
  }

  test("membucket golden: count [2, 0, 1]") {
    val rows = runMicro(Seq(Feature("count_foo", "count", "foo")), anchor = true)
    assert(rows.map(_.v) == Seq(Some(2.0), Some(0.0), Some(1.0)))
  }

  test("default fill constant (FEATURE avg_foo default=0, test_memdatasource)") {
    val rows = runMicro(
      Seq(Feature("avg_foo", "avg", "foo", fill = ConstFill(0.0))), anchor = true)
    assert(rows.map(_.v) == Seq(Some(2.5), Some(0.0), Some(4.0)))
  }

  test("previous fill forward-fills the gap (loudml/donut.py:597-610)") {
    val rows = runMicro(
      Seq(Feature("avg_foo", "avg", "foo", fill = PreviousFill)), anchor = true)
    assert(rows.map(_.v) == Seq(Some(2.5), Some(2.5), Some(4.0)))
  }

  test("epoch-aligned mode floors the range (influx semantics)") {
    val rows = runMicro(Seq(Feature("avg_foo", "avg", "foo")), anchor = false)
    // aligned range [0,9): buckets 0,3,6; ts=0 now included
    assert(rows.map(_.bucket) == Seq(0L, 3L, 6L))
    assert(rows.map(_.v) == Seq(Some(2.0), None, Some(4.0)))
  }

  test("[from,to[ exclusivity: final point excluded (loudml/bucket.py:166-168)") {
    val rows = runMicro(Seq(Feature("max_foo", "max", "foo")), anchor = true)
    assert(!rows.flatMap(_.v).contains(5.0)) // ts=10 >= to=9
  }

  test("match_all tag filter restricts aggregation (test_influx.py:319-369)") {
    val tagged = Seq(
      (1.0, 1L, "tag1"), (2.0, 2L, "tag1"), (10.0, 2L, "tag2"))
      .toDF("foo", "epoch", "tag_kw")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimesQuery.run(spark, tagged, "ts", 3L, 0L, 3L,
      Seq(Feature("avg_foo", "avg", "foo", matchAll = Seq("tag_kw" -> "tag1"))))
      .collect()
    assert(out.length == 1 && out(0).getDouble(1) == 1.5)
  }

  test("derivative and integral post-agg transforms") {
    val pts = Seq((0.0, 0L), (2.0, 3L), (6.0, 6L))
      .toDF("foo", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimesQuery.run(spark, pts, "ts", 3L, 0L, 9L,
      Seq(Feature("d", "derivative", "foo"), Feature("i", "integral", "foo")))
      .collect()
    // buckets 0,3,6 means 0,2,6; derivative (v-lag)/3: null, 2/3, 4/3
    assert(out(0).isNullAt(1))
    assert(math.abs(out(1).getDouble(1) - 2.0 / 3) < 1e-12)
    assert(math.abs(out(2).getDouble(1) - 4.0 / 3) < 1e-12)
    // integral trapezoid (v+lag)/2*3: null, 3, 12
    assert(out(1).getDouble(2) == 3.0 && out(2).getDouble(2) == 12.0)
  }

  test("per-series keys partition the scan and fills") {
    val pts = Seq(
      ("a", 1.0, 1L), ("a", 3.0, 7L), ("b", 10.0, 1L))
      .toDF("host", "foo", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimesQuery.run(spark, pts, "ts", 3L, 0L, 9L,
      Seq(Feature("avg_foo", "avg", "foo", fill = PreviousFill)),
      seriesKeys = Seq("host"))
    val rows = out.collect().map(r =>
      (r.getString(r.fieldIndex("host")), r.getLong(r.fieldIndex("bucket")),
        r.getDouble(r.fieldIndex("avg_foo"))))
    // 3 buckets per host; host a: 1.0, ffill 1.0, 3.0; host b: 10 throughout
    assert(rows.count(_._1 == "a") == 3 && rows.count(_._1 == "b") == 3)
    assert(rows.filter(_._1 == "a").map(_._3).toSeq == Seq(1.0, 1.0, 3.0))
    assert(rows.filter(_._1 == "b").map(_._3).toSeq == Seq(10.0, 10.0, 10.0))
  }

  test("time-range predicate reaches the parquet scan (PushedFilters on " +
      "the file ts column)") {
    val pts = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val out = TimesQuery.run(spark, pts, "ts", 3600L,
      1704067200L, 1704067200L + 86400L,
      Seq(Feature("v", "avg", "value")))
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // losing the pushed range would silently turn row-group pruning into
    // full scans at 100 TB
    assert(plan.contains("PushedFilters"),
      "no parquet scan with pushed filters in plan")
    // the pushed filter must name the FILE column `ts` with a range literal
    // in the file's own representation — raw int64 nanos (legacy
    // TIMESTAMP(NANOS) layout) or a typed timestamp (timestamp[us] layout).
    // Either proves the range prunes row groups.
    val pushedNanos = plan.contains("GreaterThanOrEqual(ts,1704067200000000000)")
    val pushedTs = plan.contains("GreaterThanOrEqual(ts,2024-01-01 00:00:00") ||
      plan.contains("GreaterThanOrEqual(ts,2024-01-01T00:00")
    assert(pushedNanos || pushedTs,
      s"time range not pushed to scan on the file ts column:\n$plan")
  }

  test("max_series_per_request guard (bucket.py:41-46,87-89)") {
    val pts = Seq(("a", 1.0, 1L), ("b", 2.0, 1L), ("c", 3.0, 1L))
      .toDF("host", "foo", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val e = intercept[IllegalArgumentException] {
      TimesQuery.run(spark, pts, "ts", 3L, 0L, 3L,
        Seq(Feature("avg_foo", "avg", "foo")),
        seriesKeys = Seq("host"), maxSeries = Some(2))
    }
    assert(e.getMessage.contains("max_series_per_request"))
    // within limit → runs
    assert(TimesQuery.run(spark, pts, "ts", 3L, 0L, 3L,
      Seq(Feature("avg_foo", "avg", "foo")),
      seriesKeys = Seq("host"), maxSeries = Some(3)).count() == 3)
  }

  test("a small single series runs in one partition with no exchange, and " +
      "gives the distributed plan's rows for every behaviour of run") {
    val HOUR = 3600L
    val t0 = 1704067200L
    // two days of 10-minute points on two hosts in three files, with a
    // 5-hour hole; values are quarter multiples, so every sum is exact in
    // any order
    val dir = java.nio.file.Files.createTempDirectory("tq-paths").toString + "/p"
    (0 until 288).filterNot(i => i >= 100 && i < 130).grouped(100)
      .foreach { part =>
        part.map(i => (t0 + i * 600L, if (i % 2 == 0) "a" else "b",
            (i % 13) * 0.25))
          .toDF("epoch", "host", "value")
          .select(timestamp_seconds(col("epoch")).as("ts"), col("host"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(dir)
      }
    val pts = spark.read.parquet(dir)
    val (from, to) = (t0 + 1234L, t0 + 2 * 86400L - 77L)
    def f(name: String, metric: String, fill: Fill = NoFill,
        transform: Option[String] = None, script: Option[String] = None) =
      Feature(name, metric, "value", fill = fill, transform = transform,
        script = script)
    val cases = Seq(
      "fills" -> Seq(f("none", "avg"), f("const", "avg", ConstFill(-1.0)),
        f("prev", "max", PreviousFill)),
      "count" -> Seq(f("n", "count")),
      "post-agg" -> Seq(f("d", "derivative"), f("i", "integral"),
        f("diff", "avg", PreviousFill, transform = Some("diff"))),
      "topk" -> Seq(f("top", "topk_3")),
      "script" -> Seq(f("s", "sum", script = Some("value * 2 + 1")),
        Feature("a_only", "avg", "value", matchAll = Seq("host" -> "a"))))
    def plan(df: DataFrame): String = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val key = "spark.sql.files.openCostInBytes"
    for ((label, feats) <- cases; anchor <- Seq(false, true)) {
      def query() = TimesQuery.run(spark, pts, "ts", HOUR, from, to, feats,
        anchorAtFrom = anchor)
      val one = query()
      val rows = one.collect().toSeq
      assert(!plan(one).contains("Exchange"), s"$label:\n${plan(one)}")
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1") // every input is larger than this
      val (distRows, distPlan) =
        try { val d = query(); (d.collect().toSeq, plan(d)) }
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(distPlan.contains("Exchange"), s"$label: distributed plan")
      assert(rows.length == 48, label)
      assert(rows == distRows, s"$label anchorAtFrom=$anchor")
    }
  }

  test("unsupported metric raises UnsupportedMetric (loudml/errors.py:106-115)") {
    assertThrows[graft.functions.Metrics.UnsupportedMetric](
      Feature("x", "nope", "foo"))
  }

  test("exact avg degrades gracefully outside the decimal-safe range " +
      "(no ANSI overflow error at 1e18, no truncation-to-zero at 1e-14)") {
    import graft.functions.Metrics
    def avgOf(vals: Seq[Double]): Double =
      vals.toDF("v").agg(Metrics.agg("avg", col("v")).as("a"))
        .collect()(0).getDouble(0)
    // huge magnitudes: an unguarded DECIMAL(30,12) cast errors under
    // Spark 4 ANSI; the guard routes the group to double avg
    assert(math.abs(avgOf(Seq(4e18, 2e18)) - 3e18) < 1e6)
    // sub-truncation magnitudes: decimal would give exactly 0
    assert(math.abs(avgOf(Seq(2e-14, 4e-14)) - 3e-14) < 1e-20)
    // mixed: one unsafe value routes the whole group to double avg,
    // not a partial decimal sum over the safe subset
    assert(math.abs(avgOf(Seq(1e18, 2.0)) - 5e17) < 1e6)
    // normal range keeps the exact decimal lane
    assert(avgOf(Seq(0.1, 0.2)) == 0.15)
    assert(avgOf(Seq(0.0, 0.0)) == 0.0) // all-zero group stays decimal
  }

  test("approx tier (exact=false, the streaming/100TB setting) tracks " +
      "the exact tier within tolerance") {
    import graft.functions.Metrics
    val rnd = new scala.util.Random(17)
    val df = Seq.fill(20000)(rnd.nextGaussian() * 50 + 100).toDF("v")
    def both(metric: String): (Double, Double) = {
      val r = df.agg(
        Metrics.agg(metric, col("v"), exact = true).cast("double").as("e"),
        Metrics.agg(metric, col("v"), exact = false).cast("double").as("a"))
        .collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    for (m <- Seq("avg", "median", "95percentile", "5percentile")) {
      val (e, a) = both(m)
      assert(math.abs(a - e) <= math.max(math.abs(e) * 0.01, 1e-6),
        s"$m: exact=$e approx=$a")
    }
    // metrics with no approx variant are identical across tiers
    for (m <- Seq("count", "min", "max", "sum", "stddev", "spread")) {
      val (e, a) = both(m)
      assert(e == a, m)
    }
  }

  test("feature DSL validation mirrors the reference schema " +
      "(model.py:77-98, tests/test_model.py)") {
    // valid: full surface
    val f = Feature("foo", "avg", "bar", measurement = Some("baz"),
      bucket = Some("b1"), io = "o", anomalyType = "low",
      scores = "standardize", script = Some("value * 2"))
    assert(!f.isInput && f.isOutput)
    assert(f.aggId == "baz")
    assert(Feature("foo", "avg", "bar",
      matchAll = Seq("tag" -> "x", "a" -> 1)).aggId == "all_a=1,tag=x")
    // invalid enum values
    assertThrows[IllegalArgumentException](Feature("f", "avg", "b", io = "x"))
    assertThrows[IllegalArgumentException](
      Feature("f", "avg", "b", anomalyType = "sideways"))
    assertThrows[IllegalArgumentException](
      Feature("f", "avg", "b", scores = "nope"))
    assertThrows[IllegalArgumentException](
      Feature("f", "avg", "b", transform = Some("square")))
  }

  test("scores scaling: min_max / normalize / standardize " +
      "(model.py:97,129)") {
    import graft.functions.Stats
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    def vals(method: String): Seq[Double] =
      Stats.scaleSeries(df, "v", method, "s").orderBy("v")
        .select("s").collect().map(_.getDouble(0)).toSeq
    assert(vals("min_max") == Seq(0.0, 1.0 / 3, 2.0 / 3, 1.0))
    val l2 = math.sqrt(1 + 4 + 9 + 16)
    assert(vals("normalize").zip(Seq(1, 2, 3, 4).map(_ / l2))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val mu = 2.5; val sd = math.sqrt(1.25)
    assert(vals("standardize").zip(Seq(1, 2, 3, 4).map(x => (x - mu) / sd))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // constant series: min_max → 0, standardize σ=0→1 guard
    val const = Seq(5.0, 5.0).toDF("v")
    assert(Stats.scaleSeries(const, "v", "min_max", "s")
      .select("s").collect().forall(_.getDouble(0) == 0.0))
    assert(Stats.scaleSeries(const, "v", "standardize", "s")
      .select("s").collect().forall(_.getDouble(0) == 0.0))
  }

  test("script-derived feature field (ES painless analog, model.py:93)") {
    val pts = Seq((1.0, 1L), (3.0, 2L)).toDF("foo", "epoch")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val out = TimesQuery.run(spark, pts, "ts", 10L, 0L, 10L,
      Seq(Feature("doubled", "sum", "foo", script = Some("foo * 2"))))
      .collect()
    assert(out.length == 1 && out(0).getDouble(out(0).fieldIndex("doubled")) == 8.0)
  }
}
