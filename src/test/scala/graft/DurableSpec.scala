package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicBoolean

import graft.api.{Engine, ScheduledJobs}
import graft.io.{Durable, ModelStore}
import graft.ml.{FleetScan, RunState}
import graft.sources.BucketRegistry
import graft.streaming.{BucketHistory, StateStore}

/** The on-disk state protocol ([[graft.io.Durable]]): atomic small
  * files, race-free versions behind `ACTIVE`, and stores laid out by
  * earlier releases still loading. */
class DurableSpec extends SparkSpec {
  import spark.implicits._

  private def entries(dir: Path): Set[String] = {
    val l = Files.list(dir)
    try l.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
    finally l.close()
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("concurrent saves of one model get distinct versions; loads never fail") {
    val root = Files.createTempDirectory("store").toString
    ModelStore.save(Seq((0L, 0.0)).toDF("slot", "mu"), """{"v":0}""", root, "m")
    val profiles = Seq(1, 2).map(i => i -> Seq((0L, i.toDouble)).toDF("slot", "mu"))
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val saving = new AtomicBoolean(true)
    val loader = thread {
      while (saving.get) {
        try ModelStore.load(spark, root, "m")._1.collect()
        catch { case t: Throwable => errors.add(t) }
      }
    }
    val barrier = new CyclicBarrier(2)
    val saved = new ConcurrentLinkedQueue[(Int, Int)]()
    val savers = profiles.map { case (i, p) =>
      thread {
        try {
          barrier.await()
          saved.add(i -> ModelStore.save(p, s"""{"v":$i}""", root, "m"))
        } catch { case t: Throwable => errors.add(t) }
      }
    }
    savers.foreach(_.join())
    saving.set(false)
    loader.join()
    assert(errors.isEmpty, errors.toArray.mkString("; "))

    val byInput = saved.toArray.map(_.asInstanceOf[(Int, Int)]).toMap
    assert(byInput.keySet == Set(1, 2))
    assert(byInput.values.toSet.size == 2, byInput.toString)
    assert(ModelStore.listVersions(root, "m") == Seq(1, 2, 3))
    byInput.foreach { case (i, v) =>
      val (prof, json) = ModelStore.load(spark, root, "m", Some(v))
      assert(json == s"""{"v":$i}""" && prof.collect()(0).getDouble(1) == i.toDouble)
    }
    assert(byInput.values.toSet.contains(ModelStore.activeVersion(root, "m").get))
    // nothing staged or temporary survives
    assert(entries(Paths.get(root, "m")) == Set("ckpt-1", "ckpt-2", "ckpt-3", "ACTIVE"))
  }

  test("atomic writes replace content and leave no temp files") {
    val dir = Files.createTempDirectory("durable")
    val f = dir.resolve("a").resolve("state.json")
    assert(Durable.read(f).isEmpty)
    Durable.write(f, "one")
    Durable.write(f, "two")
    assert(Durable.read(f).contains("two"))
    assert(entries(f.getParent) == Set("state.json"))
    assert(Files.deleteIfExists(f) && Durable.read(f).isEmpty)
  }

  test("a json dir lists its documents in name order and skips temp entries") {
    val dir = Files.createTempDirectory("jsondir")
    val docs = new Durable.JsonDir(dir)
    assert(docs.readAll().isEmpty)
    docs.put("b", """{"n":"b"}""")
    docs.put("a", """{"n":"a"}""")
    Files.writeString(dir.resolve(".c.json.x.tmp"), "torn")
    Files.writeString(dir.resolve("notes.txt"), "not a document")
    assert(docs.readAll() == Seq("""{"n":"a"}""", """{"n":"b"}"""))
    assert(docs.remove("a") && !docs.remove("a"))
    assert(docs.readAll() == Seq("""{"n":"b"}"""))
  }

  test("a store laid out by earlier releases loads unchanged") {
    // every file below is written exactly as the pre-Durable code wrote
    // it: plain Files.writeString, ACTIVE without a newline
    val root = Files.createTempDirectory("legacy")
    def put(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    val r = root.toString
    Seq(1, 2).foreach { v =>
      Seq((0L, v.toDouble)).toDF("slot", "mu").write
        .parquet(s"$r/m/ckpt-$v/profile.parquet")
      put(s"m/ckpt-$v/settings.json", s"""{"v":$v}""")
    }
    put("m/ACTIVE", "1")
    put("m/run_state.json",
      """{"open":true,"last_end_ts":1700000000,"episode_max":97.5}""")
    put("m/stream_history.json", """{"hwm":7200,"rows":[[3600,1.5],[7200,2]]}""")
    Seq(("a", true, 10L, 99.9, 10L)).toDF("host", "open", "last_end_ts",
      "episode_max", "hwm").write.parquet(s"$r/fleet/v4")
    put("fleet/ACTIVE", "4")
    put("buckets/b1.json", s"""{"name":"b1","type":"parquet","path":"$r/b1"}""")
    put("scheduled_jobs/j1.json", """{"name":"j1","method":"post",""" +
      """"relative_url":"/models/m/_train","params":{},""" +
      """"every":{"count":2,"unit":"hours"}}""")

    assert(ModelStore.listVersions(r, "m") == Seq(1, 2))
    assert(ModelStore.activeVersion(r, "m").contains(1))
    val (prof, json) = ModelStore.load(spark, r, "m")
    assert(json == """{"v":1}""" && prof.collect()(0).getDouble(1) == 1.0)
    assert(StateStore.load(r, "m") == RunState(open = true,
      lastEndTs = Some(1700000000L), episodeMax = 97.5))
    assert(BucketHistory.load(r, "m") == (Some(7200L), Seq(3600L -> 1.5, 7200L -> 2.0)))
    val fleet = FleetScan.loadState(spark, r, "fleet", Seq("host")).collect()
    assert(fleet.length == 1 && fleet(0).getString(0) == "a")
    val engine = new Engine(spark, new BucketRegistry, r)
    assert(engine.listBuckets() == Seq("b1"))
    assert(new ScheduledJobs(engine, r).list.map(_.name) == Seq("j1"))

    // and the next writes continue the same numbering
    assert(ModelStore.save(prof, json, r, "m") == 3)
    assert(FleetScan.saveState(FleetScan.loadState(spark, r, "fleet",
      Seq("host")), r, "fleet") == 5)
    assert(entries(root.resolve("fleet")) == Set("v5", "ACTIVE"))
  }
}
