package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Anomaly hooks — the alert-delivery seam of the reference
  * (/root/reference/loudml/api.py:110-139: `on_anomaly_start(dt, score,
  * predicted, observed, anomalies)` / `on_anomaly_end(dt, score)`),
  * dispatched from the detection scan
  * (/root/reference/loudml/donut.py:1534-1568: start fires when a new
  * episode opens, end fires with the CLOSING bucket's score when it
  * closes — the reference recomputes `max_score` per bucket and its close
  * branch passes that current value, leaving `anomaly['max_score']`
  * unused; hook exceptions are swallowed-but-logged so one failing hook
  * can't break the scan).
  */
trait Hook {
  def name: String

  /** Fired when an anomaly episode opens.
    * `anomalies`: feature → (direction "low"/"high", score) — the
    * reference's anomalies dict (donut.py:1507-1512). */
  def onAnomalyStart(ts: Long, score: Double, predicted: Option[Double],
      observed: Option[Double], anomalies: Map[String, (String, Double)]): Unit

  /** Fired when the episode closes; `score` is the closing bucket's
    * score (donut.py:1562-1566 — the low reading that ended the episode;
    * the episode max stays available as the scan output's `episode_max`
    * column). Default no-op as in the reference. */
  def onAnomalyEnd(ts: Long, score: Double): Unit = ()
}

object Hooks {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dispatch start/end events from [[AnomalyScan.scan]] output to hooks,
    * in (key, bucket) order. Only marker rows reach the driver —
    * O(episodes), not O(buckets) — and they STREAM through
    * `toLocalIterator`, one range partition at a time: a fleet scan over
    * millions of series in a bad hour never materializes every alert in
    * one driver array (the r8 audit's finding). The `orderBy` range-
    * partitions the events, so iterating partitions in order preserves
    * the global (key, bucket) order hooks rely on. */
  def dispatch(scanned: DataFrame, hooks: Seq[Hook],
      feature: String = "value", keyCols: Seq[String] = Nil): Unit =
    if (hooks.nonEmpty)
      fire(scanned
        .filter(col("anomaly").isin("start", "end"))
        .orderBy((keyCols.map(col) :+ col("bucket")): _*)
        .toLocalIterator().asScala, hooks, feature, keyCols)

  /** Fire hooks for the start/end rows of scan output, in iterator order
    * (other rows are skipped). `feature` names the scored feature for
    * the anomalies dict; direction = low when observed < predicted
    * (donut.py:1509). For fleet scans pass `keyCols`: each event's
    * anomalies-dict key is suffixed `[k1=v1,…]` so alerts identify the
    * series. */
  def fire(rows: Iterator[Row], hooks: Seq[Hook],
      feature: String = "value", keyCols: Seq[String] = Nil): Unit =
    if (hooks.nonEmpty) rows
      .filter(r => Set("start", "end")(r.getString(r.fieldIndex("anomaly"))))
      .foreach { r =>
        val ts = r.getLong(r.fieldIndex("bucket"))
        val score = r.getDouble(r.fieldIndex("score"))
        val label =
          if (keyCols.isEmpty) feature
          else feature + keyCols.map(k => s"$k=${r.get(r.fieldIndex(k))}")
            .mkString("[", ",", "]")
        def opt(c: String): Option[Double] =
          if (r.schema.fieldNames.contains(c) && !r.isNullAt(r.fieldIndex(c)))
            Some(r.getDouble(r.fieldIndex(c))) else None
        r.getString(r.fieldIndex("anomaly")) match {
          case "start" =>
            val (pred, obs) = (opt("predicted"), opt("observed"))
            val direction = (obs, pred) match {
              case (Some(o), Some(p)) if o < p => "low"
              case _                           => "high"
            }
            hooks.foreach { h =>
              try h.onAnomalyStart(ts, score, pred, obs,
                Map(label -> (direction, score)))
              catch { // swallow so one bad hook can't break the scan, but
                // LOG like the reference does (donut.py:1545-1548)
                case scala.util.control.NonFatal(e) =>
                  log.warn(s"hook '${h.name}' failed on anomaly start @$ts", e)
              }
            }
          case "end" =>
            hooks.foreach { h =>
              try h.onAnomalyEnd(ts, score)
              catch {
                case scala.util.control.NonFatal(e) =>
                  log.warn(s"hook '${h.name}' failed on anomaly end @$ts", e)
              }
            }
        }
      }
}

object HookTest {
  /** Fire a synthetic anomaly (start at max score, immediate end) through
    * the hooks — the reference's fake-prediction hook test
    * (/root/reference/loudml/donut.py:1316-1331, served by `_hook_test`,
    * /root/reference/loudml/server.py:1016-1028): verifies alert wiring
    * without touching data. */
  def fire(hooks: Seq[Hook], feature: String = "value",
      nowEpoch: Long = System.currentTimeMillis() / 1000,
      bucketInterval: Long = 60L): Unit = {
    hooks.foreach { h =>
      try {
        h.onAnomalyStart(nowEpoch - bucketInterval, 100.0,
          predicted = Some(0.0), observed = Some(Double.MaxValue),
          anomalies = Map(feature -> ("high", 100.0)))
        h.onAnomalyEnd(nowEpoch, 100.0)
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"hook '${h.name}' failed on hook test", e)
      }
    }
  }
}

/** Mutable annotation store backing [[AnnotationHook]] — the
  * insert-then-update protocol of the reference's annotation sink
  * (`insert_annotation` / `update_annotation`,
  * /root/reference/loudml/influx.py:616-660). In-memory here (annotations
  * are human-scale); a TSDB/Delta-backed impl plugs in behind the same
  * two calls. */
class AnnotationStore {
  private val rows =
    scala.collection.mutable.LinkedHashMap.empty[String, (Long, Option[Long], String, String)]

  def insert(id: String, startTs: Long, text: String, kind: String): Unit =
    synchronized { rows.put(id, (startTs, None, text, kind)) }

  def close(id: String, endTs: Long): Unit = synchronized {
    rows.get(id).foreach { case (s, _, t, k) => rows.put(id, (s, Some(endTs), t, k)) }
  }

  def size: Int = synchronized { rows.size }

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized {
      rows.iterator.map { case (id, (s, e, t, k)) =>
        (id, s, e.map(Long.box).orNull.asInstanceOf[java.lang.Long], t, k)
      }.toSeq
    }.toDF("id", "start_ts", "end_ts", "text", "type")
  }
}

/** The reference's AnnotationHook
  * (/root/reference/loudml/annotations.py:15-69): on start, insert an
  * annotation describing the abnormal features and remember its id (the
  * `set_object` persistent-object protocol, api.py:145-169, so the open
  * annotation survives process restarts); on end, update it with the end
  * timestamp and forget the id. */
class AnnotationHook(
    store: AnnotationStore,
    kind: String = "anomaly",
    text: String = "{desc}",
    objects: ObjectStore = ObjectStore.inMemory) extends Hook {

  val name = "annotations"
  private val objKey = "annotations.points"
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  override def onAnomalyStart(ts: Long, score: Double, predicted: Option[Double],
      observed: Option[Double], anomalies: Map[String, (String, Double)]): Unit = {
    val desc = anomalies.map { case (f, (dir, s)) =>
      f"feature '$f' is too $dir (score = $s%.1f)"
    }.mkString("; ")
    val id = s"ann-${counter.incrementAndGet()}"
    store.insert(id, ts, text.replace("{desc}", desc), kind)
    objects.set(objKey, id)
  }

  override def onAnomalyEnd(ts: Long, score: Double): Unit =
    objects.get(objKey).foreach { id =>
      store.close(id, ts)
      objects.delete(objKey)
    }
}

/** Per-hook persistent key/value objects (loudml/api.py:145-169). */
trait ObjectStore {
  def set(key: String, value: String): Unit
  def get(key: String): Option[String]
  def delete(key: String): Unit
}

object ObjectStore {
  def inMemory: ObjectStore = new ObjectStore {
    private val m = scala.collection.concurrent.TrieMap.empty[String, String]
    def set(key: String, value: String): Unit = m.put(key, value)
    def get(key: String): Option[String] = m.get(key)
    def delete(key: String): Unit = m.remove(key)
  }
}
