package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.{Bucket, BucketRegistry, BucketSettings}

/** The engine configuration document — the reference's `Config`
  * (/root/reference/loudml/config.py:18-90, golden behavior
  * `tests/test_config.py`): a parsed settings tree with defaulted
  * sections, the `buckets` + legacy `datasources` lists merged into one
  * name-keyed registry (later entry wins on a name collision, matching
  * the reference's chain-then-dict construction), and `scheduled_jobs`
  * declarations for [[ScheduledJobs]].
  *
  * The reference constructs it from an already-parsed YAML dict; here
  * the input is a parsed JSON tree (same shape, engine-available
  * parser). Defaults are the reference's except identity strings
  * (cluster/node names, storage path) which carry this engine's name.
  */
final class GraftConfig(private val data: JValue) {

  private def section(name: String): Map[String, JValue] = data \ name match {
    case JObject(fields) => fields.toMap
    case _ => Map.empty
  }

  private def entries(name: String): Seq[JValue] = data \ name match {
    case JArray(items) => items
    case _ => Nil
  }

  private def nameOf(j: JValue): String = j \ "name" match {
    case JString(s) => s
    case _ => throw new IllegalArgumentException("declaration needs a name")
  }

  /** buckets ++ datasources, name-keyed; a datasource with the same
    * name SHADOWS the bucket (reference order: datasources second). */
  lazy val buckets: Map[String, JValue] =
    (entries("buckets") ++ entries("datasources"))
      .map(j => nameOf(j) -> j).toMap

  lazy val scheduledJobs: Map[String, JValue] =
    entries("scheduled_jobs").map(j => nameOf(j) -> j).toMap

  // accessors REPORT type mismatches instead of silently defaulting
  // (the reference validates via a voluptuous schema — a typoed
  // `workers: "abc"` must fail loud, not quietly become the default);
  // unambiguous coercions (a whole 4.0, a numeric string) are accepted
  private def bad(k: String, want: String, got: JValue): Nothing =
    throw new IllegalArgumentException(
      s"config key '$k' expects $want, got: " +
        JsonMethods.compact(JsonMethods.render(got)))

  private def str(sec: Map[String, JValue], k: String, dflt: String): String =
    sec.get(k) match {
      case None | Some(JNothing) | Some(JNull) => dflt
      case Some(JString(s)) => s
      case Some(JInt(i)) => i.toString
      case Some(other) => bad(k, "a string", other)
    }

  private def int(sec: Map[String, JValue], k: String, dflt: Long): Long =
    sec.get(k) match {
      case None | Some(JNothing) | Some(JNull) => dflt
      case Some(JInt(i)) => i.toLong
      case Some(JLong(i)) => i
      case Some(JDouble(d)) if d.isWhole => d.toLong
      case Some(JDecimal(d)) if d.isWhole => d.toLong
      case Some(JString(s)) if s.matches("-?\\d+") => s.toLong
      case Some(other) => bad(k, "an integer", other)
    }

  private def bool(sec: Map[String, JValue], k: String, dflt: Boolean): Boolean =
    sec.get(k) match {
      case None | Some(JNothing) | Some(JNull) => dflt
      case Some(JBool(b)) => b
      case Some(JString(s)) => ConfigCoerce.makeBool(s)
      case Some(JInt(i)) => i != 0
      case Some(other) => bad(k, "a boolean", other)
    }

  lazy val nodeMaster: Boolean = bool(section("node"), "master", true)
  lazy val nodeCompute: Boolean = bool(section("node"), "compute", true)
  lazy val metricsEnable: Boolean = bool(section("metrics"), "enable", true)
  lazy val storagePath: String =
    str(section("storage"), "path", "/var/lib/graft")

  object training {
    private val s = section("training")
    val numCpus: Long = int(s, "num_cpus", 1)
    val numGpus: Long = int(s, "num_gpus", 0)
    val nice: Long = int(s, "nice", 5)
    val batchSize: Long = int(s, "batch_size", 64)
    val epochs: Long = int(s, "epochs", 100)
  }

  object inference {
    private val s = section("inference")
    val numCpus: Long = int(s, "num_cpus", 1)
    val numGpus: Long = int(s, "num_gpus", 0)
  }

  object server {
    private val s = section("server")
    val listen: String = str(s, "listen", "localhost:8077")
    val workers: Long =
      int(s, "workers", Runtime.getRuntime.availableProcessors().toLong)
    val maxTasksPerChild: Long = int(s, "maxtasksperchild", 100)
    val jobsMaxTtl: Long = int(s, "jobs_max_ttl", 60)
    /** (host, port) via the reference's parse_addr semantics. */
    def listenAddr: (String, Option[Int]) =
      ConfigCoerce.parseAddr(listen, Some(8077))
  }

  lazy val debug: Boolean = data \ "debug" match {
    case JBool(b) => b
    case JNothing | JNull => false
    case JString(s) => ConfigCoerce.makeBool(s)
    case JInt(i) => i != 0
    case _ => false
  }

  /** Hydrate a [[BucketRegistry]] from the declarations — each entry
    * routes through the same `type`-dispatched factory the runtime
    * `POST /buckets` uses, so file-config and API-registered buckets
    * are literally the same code path. */
  def registerBuckets(reg: BucketRegistry): Seq[Bucket] =
    buckets.values.toSeq.map { j =>
      val b = BucketSettings.fromJson(JsonMethods.compact(j))
      reg.register(b)
      b
    }
}

object GraftConfig {
  /** Parse a JSON config document. An empty document yields all
    * defaults (the `Config({})` golden case). */
  def fromJson(json: String): GraftConfig =
    new GraftConfig(JsonMethods.parse(json))

  /** config → running service, the `loudmld -c config.yml` analog
    * (/root/reference/loudml/server.py main): hydrate the bucket
    * registry, build the engine and the scheduled jobs over the
    * configured storage path (registering the config's
    * `scheduled_jobs`), and bind the HTTP facade on the configured listen
    * port (port 0 for an ephemeral test bind). Nothing fires the jobs
    * yet: the daemon has no scheduler clock. Returns (engine, api,
    * boundAddress). */
  def serve(spark: org.apache.spark.sql.SparkSession, config: GraftConfig,
      portOverride: Option[Int] = None)
      : (Engine, HttpApi, java.net.InetSocketAddress) = {
    val reg = new BucketRegistry
    config.registerBuckets(reg)
    val engine = new Engine(spark, reg, config.storagePath)
    val jobs = new ScheduledJobs(engine, config.storagePath)
    config.scheduledJobs.values.foreach(j =>
      jobs.create(JsonMethods.compact(j)))
    val api = new HttpApi(engine, jobs,
      jobWorkers = config.server.workers.toInt.max(1).min(64),
      jobsMaxTtlMs = config.server.jobsMaxTtl * 1000L)
    val port = portOverride.orElse(config.server.listenAddr._2).getOrElse(8077)
    val addr = api.start(port)
    (engine, api, addr)
  }
}
