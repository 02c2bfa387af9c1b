package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.{Engine, ModelEndpoints}
import graft.io.ModelStore
import graft.ml.{AnomalyScan, ModelRegistry}
import graft.sources.{BucketRegistry, ParquetBucket}

/** The warm eval path: models cached by `ACTIVE` version, the bucket
  * schema resolved once, and a solo series scored on the driver once the
  * times query has collected it. */
class EvalPathSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  /** Hourly points: a daily shape around `level(h)`, plus `spikes`. */
  private def points(hours: Range, level: Long => Double,
      spikes: Set[Long] = Set.empty): DataFrame =
    hours.map { h =>
      val v = level(h) + 3.0 * math.sin(2 * math.Pi * h / 24.0)
      (h * HOUR, if (spikes(h)) v + 100.0 else v)
    }.toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .coalesce(1)

  /** An engine over a parquet bucket `pts` holding `pts`. */
  private def engineWith(pts: DataFrame): (Engine, ParquetBucket, String) = {
    val root = java.nio.file.Files.createTempDirectory("evalpath").toString
    val bucket = new ParquetBucket("pts", s"$root-pts")
    bucket.writePoints(pts)
    val reg = new BucketRegistry
    reg.register(bucket)
    (new Engine(spark, reg, root), bucket, root)
  }

  private def settings(name: String, tpe: String, extra: String = ""): String =
    s"""{"name": "$name", "type": "$tpe",
       |  "features": [{"name": "avg_v", "metric": "avg", "field": "value"}],
       |  "bucket_interval": "1h", "interval": "6h", "offset": "0s",
       |  "default_bucket": "pts"$extra}""".stripMargin

  private def meanPredicted(scored: DataFrame): Double = {
    val ps = scored.select("predicted").collect().map(_.getDouble(0))
    ps.sum / ps.length
  }

  test("job budget: a warm _eval starts at most the times query's 3 Spark " +
      "jobs and a warm _forecast none, for seasonal, holtwinters and " +
      "donut_vae") {
    val (engine, _, _) = engineWith(points(0 until 744, _ => 10.0, Set(730L)))
    val types = Seq("seasonal" -> "", "holtwinters" -> "",
      "donut_vae" -> """, "epochs": 2, "patience": 2""")
    types.foreach { case (tpe, extra) =>
      engine.createModel(settings(tpe, tpe, extra))
      engine.trainModel(tpe, "0", (720L * HOUR).toString)
    }
    val eval = Map("from" -> (720L * HOUR).toString, "to" -> (744L * HOUR).toString)
    val forecast = Map("from" -> (744L * HOUR).toString, "to" -> (768L * HOUR).toString)
    types.foreach { case (tpe, _) =>
      def run(endpoint: String, params: Map[String, String]): String =
        ModelEndpoints.run(engine, tpe, endpoint, params, 0L)
      // cold: the first request loads the model and resolves the schema
      val coldEval = run("_eval", eval)
      val coldForecast = run("_forecast", forecast)
      var warmEval, warmForecast = ""
      val evalJobs = jobsOf { warmEval = run("_eval", eval) }
      val forecastJobs = jobsOf { warmForecast = run("_forecast", forecast) }
      assert(evalJobs > 0 && evalJobs <= 3, s"$tpe warm _eval: $evalJobs jobs")
      assert(forecastJobs == 0, s"$tpe warm _forecast: $forecastJobs jobs")
      assert(warmEval == coldEval && warmForecast == coldForecast)
      assert(org.json4s.jackson.JsonMethods.parse(warmEval).children.length == 24)
    }
  }

  test("the model cache follows ACTIVE: a _train, a restore flip, and " +
      "delete → re-create → retrain under the same name each make the next " +
      "_eval score with the new checkpoint") {
    // level 10 before hour 240, level 50 after
    val (engine, _, root) =
      engineWith(points(0 until 504, h => if (h < 240) 10.0 else 50.0))
    def evalLevel(): Double = meanPredicted(engine.evalModel("s",
      (480L * HOUR).toString, (504L * HOUR).toString))
    def near(x: Double, level: Double) = math.abs(x - level) < 5.0

    engine.createModel(settings("s", "seasonal"))
    assert(engine.trainModel("s", "0", (240L * HOUR).toString) == 1)
    assert(near(evalLevel(), 10.0))
    assert(engine.loadTrained("s") eq engine.loadTrained("s")) // cached
    assert(engine.trainModel("s", (240L * HOUR).toString, (480L * HOUR).toString) == 2)
    assert(near(evalLevel(), 50.0))
    ModelStore.restore(root, "s", 1)
    assert(near(evalLevel(), 10.0))
    // the cache now holds version 1 trained on level 10; a re-created
    // model's versions restart at 1
    engine.deleteModel("s")
    engine.createModel(settings("s", "seasonal"))
    assert(engine.trainModel("s", (240L * HOUR).toString, (480L * HOUR).toString) == 1)
    assert(near(evalLevel(), 50.0))
  }

  test("a _train between two evalOnce calls changes the model the second " +
      "one scores with") {
    val (engine, _, _) =
      engineWith(points(0 until 504, h => if (h < 240) 10.0 else 50.0))
    engine.createModel(settings("s", "seasonal"))
    engine.trainModel("s", "0", (240L * HOUR).toString)
    val sched = engine.startScheduled("s")
    assert(math.abs(meanPredicted(sched.evalOnce(486L * HOUR)) - 10.0) < 5.0)
    engine.trainModel("s", (240L * HOUR).toString, (480L * HOUR).toString)
    assert(math.abs(meanPredicted(sched.evalOnce(492L * HOUR)) - 50.0) < 5.0)
  }

  test("points appended after the first read are seen by the next _eval " +
      "and the next evalOnce") {
    val (engine, bucket, _) = engineWith(points(0 until 480, _ => 10.0))
    engine.createModel(settings("s", "seasonal"))
    engine.trainModel("s", "0", (480L * HOUR).toString)
    val sched = engine.startScheduled("s")
    def observed(df: DataFrame) = df.filter(col("avg_v").isNotNull).count()
    // nothing in [480h, 504h) yet: the reads resolve the schema
    assert(observed(engine.evalModel("s", (480L * HOUR).toString,
      (504L * HOUR).toString)) == 0)
    assert(observed(sched.evalOnce(486L * HOUR)) == 0)

    bucket.writePoints(points(480 until 504, _ => 10.0, Set(482L, 497L)))
    val scanned = engine.evalModel("s", (480L * HOUR).toString,
      (504L * HOUR).toString)
    assert(observed(scanned) == 24)
    assert(scanned.filter(col("is_anomaly")).select("bucket").as[Long]
      .collect().toSet == Set(482L * HOUR, 497L * HOUR))
    val window = sched.evalOnce(498L * HOUR) // [492h, 498h)
    assert(observed(window) == 6)
    assert(window.filter(col("anomaly") === "start").select("bucket").as[Long]
      .collect().toSeq == Seq(497L * HOUR))
  }

  test("a bucket keeps its resolved schema until a writePoints adds a " +
      "field") {
    val dir = java.nio.file.Files.createTempDirectory("schema").toString + "/b"
    val bucket = new ParquetBucket("b", dir)
    bucket.writePoints(points(0 until 24, _ => 10.0))
    assert(bucket.readPoints(spark).columns.toSeq == Seq("ts", "value"))
    val prev = spark.conf.getOption("spark.sql.parquet.mergeSchema")
    // schema inference reads every file's footer, so any inference
    // sees the widest schema
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      // another writer's field stays hidden: the resolved schema is used
      points(24 until 48, _ => 10.0).withColumn("other", lit(1.0))
        .write.mode("append").parquet(dir)
      assert(bucket.readPoints(spark).columns.toSeq == Seq("ts", "value"))
      // a writePoints that adds a field resets it
      bucket.writePoints(points(48 until 72, _ => 10.0).withColumn("extra", lit(2.0)))
      val cols = bucket.readPoints(spark).columns.toSet
      assert(Set("ts", "value", "other", "extra").subsetOf(cols), cols)
      assert(bucket.readPoints(spark).count() == 72)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.mergeSchema", v)
      case None => spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("a writePoints that adds a field shows it on the next read, though " +
      "inference reads an older file's footer") {
    val dir = java.nio.file.Files.createTempDirectory("widen").toString + "/b"
    val bucket = new ParquetBucket("b", dir)
    bucket.writePoints(points(0 until 24, _ => 10.0))
    // inference reads the footer of the file whose path sorts first: make
    // that the file without the new field
    val d = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.list(d))(_.iterator().asScala
        .toList).filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f, d.resolve(s"a-${f.getFileName}")))
    bucket.writePoints(points(24 until 48, _ => 10.0).withColumn("extra", lit(2.0)))
    val read = bucket.readPoints(spark)
    assert(read.columns.toSeq == Seq("ts", "value", "extra"))
    assert(read.filter(col("extra").isNull).count() == 24)
    assert(read.filter(col("extra") === 2.0).count() == 24)
  }

  test("local and distributed inputs give identical rows: solo predict and " +
      "AnomalyScan.scan for every ModelRegistry type") {
    val series = points(0 until 480, _ => 10.0, Set(300L, 301L, 450L))
      .select((unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % HOUR)
        .as("bucket"), col("value"))
    val local = graft.ml.Local.collect(series)
    assert(graft.ml.Local.isLocal(local))
    val distributed = local.repartition(3)
    assert(!graft.ml.Local.isLocal(distributed))
    def rows(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.getLong(df.schema.fieldIndex("bucket")))
    val train = local.filter(col("bucket") < 240L * HOUR)
    assert(ModelRegistry.names.toSet == Set("seasonal", "window_reconstructor",
      "holtwinters", "autoencoder", "donut_vae"))
    ModelRegistry.names.foreach { tpe =>
      val model = ModelRegistry(tpe).train(train, "value",
        s"""{"type":"$tpe","bucket_interval":$HOUR,"epochs":2,"patience":2}""")
      def predicted(in: DataFrame) = model.predict(in, "value")
        .withColumn("score", coalesce(col("score"), lit(0.0)))
      def scanned(in: DataFrame) = AnomalyScan.scan(predicted(in))
      val (pl, pd) = (predicted(local), predicted(distributed))
      assert(pl.schema.fieldNames.toSeq == pd.schema.fieldNames.toSeq, tpe)
      assert(rows(pl).length > 200, tpe)
      assert(rows(pl) == rows(pd), tpe)
      assert(rows(scanned(local)) == rows(scanned(distributed)), tpe)
      if (tpe != "window_reconstructor")
        assert(graft.ml.Local.isLocal(scanned(local)), tpe)
    }
  }
}
