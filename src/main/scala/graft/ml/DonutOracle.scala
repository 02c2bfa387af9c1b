package graft.ml

/** DuckDB-SQL generator for the q_donut_score oracle: replays
  * [[PinnedDonut]]'s deterministic scoring path (donut.py:1257-1276)
  * with the SAME floating-point semantics as the Scala net —
  *
  *  - each dense layer's dot product folds LEFT-TO-RIGHT starting from
  *    the bias (`list_reduce(list_prepend(b, list(w·x ORDER BY i)))`),
  *    mirroring [[DonutVae.Lin.fwd]]'s `s = b(o); s += k·x` loop, so
  *    every intermediate double is bit-identical in IEEE binary64;
  *  - relu is `greatest(0.0, ·)`;
  *  - MCMC imputation unrolls to `mcmcIters` reconstructions with the
  *    missing entries re-imputed between rounds (x_miss ← x̂), exactly
  *    [[DonutVae.mcmcImpute]]'s effective sequence (the final impute
  *    does not feed the returned reconstruction);
  *  - prediction de-standardizes the LAST window column; bands use the
  *    Scala-computed 3σ literal; the anomaly score mirrors
  *    [[graft.functions.Stats.anomalyScore]]'s erf expression term by
  *    term (the q_anomaly_score precedent).
  *
  * The weights/biases ride as a VALUES dictionary generated from the
  * same pinned JSON the Spark side loads — one source of truth. */
object DonutOracle {

  private lazy val (flat, muL, sdL, sigma, p) = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(PinnedDonut.settingsJson)
    def num(v: JValue): Double = graft.io.Json.num(v).getOrElse(
      throw new IllegalArgumentException("bad pinned number"))
    val ws = (j \ "weights") match {
      case JArray(a) => a.map(num).toArray
      case _ => throw new IllegalArgumentException("no pinned weights")
    }
    (ws, num(j \ "mu"), num(j \ "sd"), num(j \ "sigma"),
      DonutVae.parseParams(PinnedDonut.settingsJson))
  }

  /** (name, nOut, nIn, relu) in [[DonutVae.Net.flat]] layout order;
    * `lv` is carried for offset arithmetic but unused by the z = z_mean
    * scoring path, so it never enters the SQL. */
  private val layout = Seq(
    ("e1", "i", "s", true), ("e2", "i", "i", true),
    ("mu", "l", "i", false), ("lv", "l", "i", false),
    ("d1", "i", "l", true), ("d2", "i", "i", true),
    ("out", "s", "i", false))

  private def dim(c: String): Int = c match {
    case "s" => p.span
    case "i" => p.intermediate
    case "l" => p.latent
  }

  /** Per-layer (kernel row-major, bias) slices of the flat blob. */
  private lazy val slices: Map[String, (Array[Double], Array[Double])] = {
    var off = 0
    layout.map { case (name, oC, iC, _) =>
      val (nOut, nIn) = (dim(oC), dim(iC))
      val k = flat.slice(off, off + nOut * nIn); off += nOut * nIn
      val b = flat.slice(off, off + nOut); off += nOut
      name -> (k, b)
    }.toMap
  }

  private def matvec(name: String, layer: String, input: String,
      inCol: String, relu: Boolean): String = {
    val fold = "list_reduce(list_prepend(b.v, " +
      "list(w.v * x.v ORDER BY w.i)), (a, c) -> a + c)"
    val expr = if (relu) s"greatest(CAST(0.0 AS DOUBLE), $fold)" else fold
    s"""$name AS (
       |  SELECT x.bucket, w.o, $expr AS v
       |  FROM $input x JOIN wt w ON w.l = '$layer' AND w.i = x.$inCol
       |  JOIN bs b ON b.l = '$layer' AND b.o = w.o
       |  GROUP BY x.bucket, w.o, b.v
       |)""".stripMargin
  }

  /** The full oracle for scoring the hourly-avg events series over
    * `[split, to[` — 1:1 with
    * `PinnedDonut.model(s).predict(hourlyAvg(s, dir, split, to), "observed")`. */
  def sql(split: Long, to: Long): String = {
    val H = 3600L
    val span = p.span
    val last = span - 1
    val scoring = Seq(("e1", true), ("e2", true), ("mu", false),
      ("d1", true), ("d2", true), ("out", false))
    val wtRows = scoring.flatMap { case (name, _) =>
      val (k, _) = slices(name)
      val (oC, iC) = layout.collectFirst {
        case (`name`, o, i, _) => (o, i) }.get
      val nIn = dim(iC)
      k.zipWithIndex.map { case (v, idx) =>
        s"('$name', ${idx / nIn}, ${idx % nIn}, CAST($v AS DOUBLE))"
      }
    }
    val bsRows = scoring.flatMap { case (name, _) =>
      val (_, b) = slices(name)
      b.zipWithIndex.map { case (v, o) =>
        s"('$name', $o, CAST($v AS DOUBLE))" }
    }
    val rounds = (1 to p.mcmcIters).map { r =>
      val in = if (r == 1) "x0" else s"x${r - 1}"
      val chain = Seq(
        matvec(s"r${r}_h1", "e1", in, "i", relu = true),
        matvec(s"r${r}_h2", "e2", s"r${r}_h1", "o", relu = true),
        matvec(s"r${r}_zm", "mu", s"r${r}_h2", "o", relu = false),
        matvec(s"r${r}_g1", "d1", s"r${r}_zm", "o", relu = true),
        matvec(s"r${r}_g2", "d2", s"r${r}_g1", "o", relu = true),
        matvec(s"r${r}_xh", "out", s"r${r}_g2", "o", relu = false))
      val impute = if (r < p.mcmcIters)
        s""",
           |x$r AS (
           |  SELECT w.bucket, w.off AS i,
           |         CASE WHEN w.miss THEN h.v ELSE w.x END AS v
           |  FROM xw w JOIN r${r}_xh h
           |    ON h.bucket = w.bucket AND h.o = w.off
           |)""".stripMargin
      else ""
      chain.mkString(",\n") + impute
    }
    val threeSigma = 3.0 * sigma // the exact literal predict() bands with
    s"""WITH series_agg AS (
       |  SELECT CAST(floor(epoch(ts)/$H) AS BIGINT)*$H AS bucket,
       |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
       |  FROM events WHERE epoch(ts) >= $split AND epoch(ts) < $to GROUP BY 1
       |), spine AS (
       |  SELECT unnest(generate_series($split, ${to - H}, $H)) AS bucket
       |), series AS (
       |  SELECT s.bucket, a.v FROM spine s LEFT JOIN series_agg a USING (bucket)
       |), wt(l, o, i, v) AS (VALUES
       |  ${wtRows.mkString(",\n  ")}
       |), bs(l, o, v) AS (VALUES
       |  ${bsRows.mkString(",\n  ")}
       |), xw AS (
       |  -- right-aligned window per bucket: standardized present values,
       |  -- missing → 0 + flag, LAST entry forced missing (predictWindow)
       |  SELECT t.bucket, g.off,
       |    CASE WHEN g.off = $last OR s2.v IS NULL THEN CAST(0.0 AS DOUBLE)
       |         ELSE (s2.v - $muL) / $sdL END AS x,
       |    (g.off = $last OR s2.v IS NULL) AS miss
       |  FROM series t
       |  CROSS JOIN generate_series(0, $last) g(off)
       |  LEFT JOIN series s2 ON s2.bucket = t.bucket - ($last - g.off) * $H
       |), x0 AS (SELECT bucket, off AS i, x AS v FROM xw),
       |${rounds.mkString(",\n")},
       |banded AS (
       |  SELECT t.bucket, t.v AS observed,
       |         $muL + $sdL * h.v AS predicted,
       |         $muL + $sdL * h.v - $threeSigma AS lower,
       |         $muL + $sdL * h.v + $threeSigma AS upper
       |  FROM series t JOIN r${p.mcmcIters}_xh h
       |    ON h.bucket = t.bucket AND h.o = $last
       |), xed AS (
       |  -- x = |z|/sqrt(2), sigma_hat = (upper-pred)/3 (exact op-order
       |  -- mirror of graft.functions.Stats.anomalyScore)
       |  SELECT *,
       |    abs((observed - predicted) / greatest((upper - predicted)/3.0, 1e-9)) / sqrt(2) AS xx
       |  FROM banded
       |), ted AS (
       |  SELECT *, 1/(1 + 0.3275911*xx) AS tp FROM xed
       |), scored AS (
       |  SELECT bucket, observed, predicted, lower, upper,
       |    100 * least(greatest(
       |      2*(0.5*(1 + (1 - ((((1.061405429*tp - 1.453152027)*tp + 1.421413741)*tp
       |                          - 0.284496736)*tp + 0.254829592)*tp * exp(-xx*xx)))) - 1,
       |      0), 1) AS score
       |  FROM ted
       |)
       |SELECT bucket, round(observed, 4) AS observed,
       |       round(predicted, 6) AS predicted,
       |       round(lower, 6) AS lower, round(upper, 6) AS upper,
       |       round(score, 4) AS score
       |FROM scored ORDER BY bucket""".stripMargin
  }
}
