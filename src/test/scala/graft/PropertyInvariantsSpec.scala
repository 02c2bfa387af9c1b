package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{CorpusStats, Packing}

/** Property-based checks (ScalaCheck generators, fixed seeds — the
  * suite stays deterministic) for the ALGEBRAIC contracts the engine's
  * incremental/distributed paths lean on. Each property packs its
  * generated cases into a handful of small Spark jobs; the point is
  * randomized STRUCTURE (duplicate texts, empty strings, unicode,
  * skewed splits, degenerate weights), not volume — the SF gates cover
  * volume.
  *
  *  - manifest additivity: manifest(A ⊎ B) equals the additive merge
  *    of manifest(A) and manifest(B) per shard (counts, chars, and the
  *    mod-1e18 checksum) — THE invariant that makes
  *    Publish.appendShards' merge-without-recompute exact.
  *  - orderedCorpus ≡ orderedSmall: materialize-then-range-sort emits
  *    the identical row sequence as the SinglePartition local sort for
  *    a unique key — the r12 sweep's refactor contract.
  *  - packSequences reconstruction: concatenating seq_text in seq_id
  *    order reproduces the corpus token stream in id order; every
  *    sequence but the last is exactly seqLen tokens; totals conserve.
  *  - anomaly-scan episodes: for arbitrary score sequences the
  *    hysteresis output is well-formed (starts only when closed,
  *    ongoing/end only when open, end strictly below the min
  *    threshold, is_anomaly ⇔ detection at grace 0).
  */
class PropertyInvariantsSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "péché", "навык", "数据", "x1",
    "LONGTOKEN9", "q")
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    9 -> Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
  private def docsGen(n: Int): Gen[List[(Long, String)]] =
    Gen.listOfN(n, text).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t)
    })

  test("property: manifest additivity — manifest(A ⊎ B) == additive " +
      "merge of manifest(A), manifest(B), incl. the mod-1e18 checksum") {
    val M = 1000000000000000000L
    (1 to 6).foreach { k =>
      val docs = sample(docsGen(40 + k * 17), seed = 1000 + k)
      val mask = sample(Gen.listOfN(docs.size, Gen.oneOf(true, false)),
        seed = 2000 + k)
      val shards = 1 + k % 5
      val df = docs.toDF("doc_id", "text")
      val a = docs.zip(mask).collect { case (d, true) => d }
      val b = docs.zip(mask).collect { case (d, false) => d }
      def rows(d: List[(Long, String)]): Map[Long, (Long, Long, Long)] =
        if (d.isEmpty) Map.empty
        else CorpusStats.manifest(d.toDF("doc_id", "text"),
            "doc_id", "text", shards).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
            r.getLong(3))).toMap
      val full = rows(docs)
      val (ma, mb) = (rows(a), rows(b))
      val merged = (ma.keySet ++ mb.keySet).map { s =>
        val (d1, c1, s1) = ma.getOrElse(s, (0L, 0L, 0L))
        val (d2, c2, s2) = mb.getOrElse(s, (0L, 0L, 0L))
        s -> (d1 + d2, c1 + c2, Math.floorMod(s1 + s2, M))
      }.toMap
      assert(merged === full, s"case $k (shards=$shards)")
    }
  }

  test("property: orderedCorpus (materialize + range sort) emits the " +
      "identical row sequence as the SinglePartition local sort") {
    (1 to 4).foreach { k =>
      val docs = sample(docsGen(60 + k * 31), seed = 3000 + k)
      val df = docs.toDF("doc_id", "text").repartition(5)
      val small = df.repartition(1).sortWithinPartitions("doc_id")
        .collect().toSeq
      val corpus = df.localCheckpoint(true).orderBy("doc_id")
        .collect().toSeq
      assert(small === corpus, s"case $k")
    }
  }

  test("property: packSequences reconstructs the corpus token stream " +
      "in order; all but the last sequence are exactly seqLen tokens") {
    (1 to 3).foreach { k =>
      val docs = sample(docsGen(25 + k * 13), seed = 6000 + k)
      val seqLen = Seq(8L, 16L, 32L)(k - 1)
      val out = Packing.packSequences(docs.toDF("doc_id", "text"),
          "doc_id", "text", seqLen)
        .orderBy("seq_id").collect()
      val expected = docs.sortBy(_._1).flatMap(
        _._2.split("[^A-Za-z0-9]+").filter(_.nonEmpty))
      val got = out.flatMap(_.getAs[String]("seq_text")
        .split(" ").filter(_.nonEmpty))
      assert(got.toSeq === expected.toSeq, s"case $k")
      val lens = out.map(_.getAs[Long]("n_tokens")).toSeq
      assert(lens.sum === expected.size.toLong)
      assert(lens.dropRight(1).forall(_ === seqLen), s"case $k: $lens")
    }
  }

  test("property: anomaly-scan episodes are well-formed for arbitrary " +
      "score sequences (grace 0)") {
    val (maxT, minT) = (80.0, 40.0)
    (1 to 5).foreach { k =>
      val scores = sample(Gen.listOfN(60,
        Gen.chooseNum(0.0, 100.0)), seed = 7000 + k)
      val df = scores.zipWithIndex
        .map { case (s, i) => (i.toLong * 60, s) }.toDF("bucket", "score")
      val rows = graft.ml.AnomalyScan.scan(df, maxThreshold = maxT,
          minThreshold = minT)
        .orderBy("bucket")
        .select("bucket", "score", "is_anomaly", "anomaly").collect()
      var open = false
      rows.foreach { r =>
        val s = r.getDouble(1)
        val a = Option(r.getString(3))
        a match {
          case Some("start") =>
            assert(!open && s >= maxT, s"case $k bucket ${r.getLong(0)}")
            open = true
          case Some("ongoing") =>
            assert(open, s"case $k bucket ${r.getLong(0)}")
          case Some("end") =>
            assert(open && s < minT, s"case $k bucket ${r.getLong(0)}")
            open = false
          case Some(other) => fail(s"unexpected label $other")
          case None =>
            assert(!open, s"case $k bucket ${r.getLong(0)}")
        }
        // grace 0: detection is exactly the threshold test
        assert(r.getBoolean(2) === (s >= maxT),
          s"case $k bucket ${r.getLong(0)}")
      }
    }
  }

  test("property: exact dedup keeps exactly the min-tieBreak row per " +
      "distinct text and is idempotent") {
    import graft.operators.Dedup
    (1 to 4).foreach { k =>
      // force collisions: few distinct texts over many ids
      val texts = sample(Gen.listOfN(80, Gen.oneOf(
        "", "a b", "a b", "x", "数据 poids", "x y z")), seed = 8000 + k)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text").repartition(4)
      val out = Dedup.exact(df, "text", "doc_id")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val expected = docs.groupBy(_._2).map { case (t, g) =>
        (g.map(_._1).min, t) }.toSet
      assert(out.toSet === expected, s"case $k")
      val again = Dedup.exact(out.toSeq.toDF("doc_id", "text"),
        "text", "doc_id").collect()
      assert(again.length === out.length, s"case $k idempotence")
    }
  }

  test("property: Bloom-prefiltered incremental exact dedup equals the " +
      "plain anti-join on the content key") {
    import graft.operators.Dedup
    (1 to 3).foreach { k =>
      val pool = sample(Gen.listOfN(60, text), seed = 9000 + k)
      val corpus = pool.take(40).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      // incoming overlaps the corpus on ~half its contents
      val incoming = (pool.drop(30).take(30) ++ pool.take(10)).zipWithIndex
        .map { case (t, i) => (1000L + i, t) }
      val (cDf, iDf) = (corpus.toDF("doc_id", "text"),
        incoming.toDF("doc_id", "text"))
      val got = Dedup.exactDedupAgainst(iDf, cDf, "text",
          expectedItems = 10000L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val corpusKeys = corpus.map(_._2).toSet
      val expected = incoming.collect {
        case (id, t) if !corpusKeys.contains(t) => id }.toSet
      assert(got === expected, s"case $k")
    }
  }

  test("property: NormalizeText is idempotent on arbitrary dirty input") {
    val dirty: Gen[String] = Gen.listOfN(20, Gen.oneOf(
      "a", " ", "\t", " ", "é", "", "", "",
      "Z", "数", "  ", "\r\n")).map(_.mkString)
    val cases = (1 to 12).map(k => sample(dirty, seed = 10000 + k))
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "raw")
    val out = df.select(col("id"),
        graft.functions.NormalizeText(col("raw")).as("once"))
      .withColumn("twice", graft.functions.NormalizeText(col("once")))
      .collect()
    out.foreach(r => assert(r.getString(1) === r.getString(2),
      s"id ${r.getLong(0)}: ${r.getString(1)} vs ${r.getString(2)}"))
  }

  test("property: chunkDocs covers every token, bounds every chunk, " +
      "and each chunk is the exact token slice at its start") {
    import graft.operators.Packing
    (1 to 3).foreach { k =>
      val docs = sample(docsGen(30), seed = 11000 + k)
      val (chunkLen, stride) = Seq((6, 3), (8, 8), (5, 2))(k - 1)
      val out = Packing.chunkDocs(docs.toDF("doc_id", "text"),
          "doc_id", "text", chunkLen, stride)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("start_token"), r.getAs[String]("chunk")))
      val toks = docs.map { case (id, t) =>
        id -> t.split("[^A-Za-z0-9]+").filter(_.nonEmpty).toSeq }.toMap
      docs.foreach { case (id, _) =>
        val n = toks(id).size
        val chunks = out.filter(_._1 == id)
        if (n == 0) assert(chunks.isEmpty, s"case $k doc $id")
        else {
          val covered = chunks.flatMap { case (_, s, c) =>
            s.toInt until (s.toInt + c.split(" ").count(_.nonEmpty)) }.toSet
          assert(covered === (0 until n).toSet, s"case $k doc $id coverage")
          chunks.foreach { case (_, s, c) =>
            val ct = c.split(" ").filter(_.nonEmpty).toSeq
            assert(ct.size <= chunkLen, s"case $k doc $id len")
            assert(ct === toks(id).slice(s.toInt, s.toInt + ct.size),
              s"case $k doc $id slice at $s")
          }
        }
      }
    }
  }

  test("property: as-of join matches the driver-replayed latest-at-or-" +
      "before (and earliest-at-or-after) right row per key, with and " +
      "without tolerance") {
    import graft.operators.Temporal
    (1 to 3).foreach { k =>
      val nKeys = 3
      // unique right timestamps per key — no tie ambiguity to model
      val rights = sample(Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0, nKeys - 1), Gen.chooseNum(0L, 5000L))),
        seed = 13000 + k).distinct
        .zipWithIndex.map { case ((g, t), i) => (s"k$g", t, i.toLong) }
      val lefts = sample(Gen.listOfN(50,
        Gen.zip(Gen.chooseNum(0, nKeys - 1), Gen.chooseNum(0L, 5000L))),
        seed = 14000 + k)
        .zipWithIndex.map { case ((g, t), i) => (s"k$g", t, 9000L + i) }
      val lDf = lefts.toDF("g", "lts", "lid")
      val rDf = rights.toDF("g", "rts", "rid")
      def replay(fwd: Boolean, tol: Option[Long]) = lefts.map {
        case (g, t, lid) =>
          val cands = rights.filter(_._1 == g).filter { case (_, rt, _) =>
            (if (fwd) rt >= t else rt <= t) &&
              tol.forall(d => math.abs(rt - t) <= d) }
          val pick =
            if (cands.isEmpty) None
            else Some(if (fwd) cands.minBy(_._2) else cands.maxBy(_._2))
          (lid, pick.map(_._3))
      }.toMap
      Seq((false, None), (true, None), (false, Some(300L)),
          (true, Some(300L))).foreach { case (fwd, tol) =>
        val got = Temporal.asofJoin(lDf, rDf, Seq("g"), "lts", "rts",
            payload = Seq("rid"), forward = fwd, tolerance = tol)
          .select("lid", "r_rid").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(got === replay(fwd, tol), s"case $k fwd=$fwd tol=$tol")
      }
    }
  }

  test("property: sessionize assigns exactly the driver-replayed " +
      "gap-split session ids per key") {
    import graft.operators.Temporal
    (1 to 3).foreach { k =>
      val gap = Seq(50L, 10L, 500L)(k - 1)
      val events = sample(Gen.listOfN(80,
        Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 2000L))),
        seed = 15000 + k).distinct
        .zipWithIndex.map { case ((g, t), i) => (s"k$g", t, i.toLong) }
      val got = Temporal.sessionize(events.toDF("g", "ts", "eid"),
          Seq("g"), "ts", gap, tieCols = Seq("eid"))
        .select("eid", "session_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = events.groupBy(_._1).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        var sess = -1L
        var prev = Long.MinValue
        sorted.map { case (_, t, eid) =>
          if (prev == Long.MinValue || t - prev > gap) sess += 1
          prev = t
          eid -> sess
        }
      }.toMap
      assert(got === expected, s"case $k gap=$gap")
    }
  }

  test("property: TimesQuery materializes exactly the aligned bucket " +
      "spine and exact per-bucket counts for arbitrary sparse points") {
    import graft.operators.{Feature, TimesQuery}
    (1 to 3).foreach { k =>
      val interval = Seq(60L, 300L, 3600L)(k - 1)
      val from = 1704067200L
      val to = from + interval * 40
      // sparse, clustered, with points outside the range (must clip)
      val ts = sample(Gen.listOfN(120,
        Gen.chooseNum(from - interval * 3, to + interval * 3)),
        seed = 16000 + k)
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, 1.0) }
        .toDF("id", "epoch", "value")
        .withColumn("ts", timestamp_seconds(col("epoch")))
      val out = TimesQuery.run(spark, df, "ts", interval, from, to,
          Seq(Feature("cnt", "count", "value")))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) 0L else r.getDouble(1).toLong)).toMap
      val spine = (from until to by interval).toSeq
      assert(out.keySet === spine.toSet, s"case $k spine")
      val expected = spine.map(b => b ->
        ts.count(t => t >= b && t < b + interval &&
          t >= from && t < to).toLong).toMap
      assert(out === expected, s"case $k counts")
    }
  }

  test("property: psiBetween(X, X) is exactly zero for arbitrary " +
      "value distributions") {
    import graft.operators.Drift
    (1 to 3).foreach { k =>
      val vs = sample(Gen.listOfN(200, Gen.chooseNum(-50.0, 50.0)),
        seed = 19000 + k)
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val psi = Drift.psiBetween(df, df, "v").head().getAs[Double]("psi")
      assert(psi === 0.0, s"case $k: $psi")
    }
  }

  test("property: the pair-budget guard convention holds for EVERY " +
      "pair-producing operator — an adversarial all-identical corpus " +
      "trips the budget with a remedy message, runs under it, and " +
      "cap-style guards bound output instead of going quadratic") {
    import graft.operators.{Dedup, Multimodal, Similarity, Temporal}
    val n = 40L
    val allPairs = n * (n - 1) / 2 // 780
    val clones = (0L until n)
      .map(i => (i, "the identical adversarial payload every row shares"))
      .toDF("doc_id", "text")

    // FAIL-FAST tier: (operator, tripping thunk, expected fragments,
    // passing thunk → pair count). Every thunk runs on the same
    // all-identical corpus; the trip must throw BEFORE the pair join
    // executes, with a message carrying the budget knob and a remedy.
    val hashes = clones.select(col("doc_id"), lit(42L).as("phash"))
    def trip[E <: Exception](frag: String*)(f: => Any)(
        implicit ct: scala.reflect.ClassTag[E]): Unit = {
      val e = intercept[E](f)
      frag.foreach(s => assert(e.getMessage.contains(s), e.getMessage))
    }
    trip[IllegalStateException]("maxCandidatePairs", "Remedies") {
      Dedup.hammingNearDups(hashes, "doc_id", "phash",
        maxCandidatePairs = 10L).count()
    }
    assert(Dedup.hammingNearDups(hashes, "doc_id", "phash")
      .count() === allPairs)
    trip[IllegalStateException]("maxCandidatePairs") {
      Dedup.ngramJaccardPairs(clones, "doc_id", "text",
        maxCandidatePairs = 10L).count()
    }
    assert(Dedup.ngramJaccardPairs(clones, "doc_id", "text")
      .count() === allPairs)
    trip[IllegalArgumentException]("maxDupGroup", "Dedup.exact") {
      Dedup.jaccardJoin(clones, "doc_id", "text", tau = 0.5,
        maxDupGroup = 10).count()
    }
    assert(Dedup.jaccardJoin(clones, "doc_id", "text", tau = 0.5)
      .count() === allPairs)
    trip[IllegalArgumentException]("maxDupGroup") {
      Dedup.containmentJoin(clones, "doc_id", "text", tau = 0.5,
        maxDupGroup = 10).count()
    }
    trip[IllegalArgumentException]("maxDupGroup") {
      Dedup.editDistanceJoin(clones, "doc_id", "text", maxDist = 1,
        maxDupGroup = 10).count()
    }
    // the multimodal tiers delegate to the shared Hamming kernel — the
    // budget must reach it through the blob path too (identical text
    // blobs all byteDHash to one hash)
    val blobs = Multimodal.attachBlob(clones, "doc_id", "text")
    trip[IllegalStateException]("maxCandidatePairs") {
      Multimodal.videoNearDups(blobs, "media_id",
        maxCandidatePairs = 10L).count()
    }
    trip[IllegalStateException]("maxCandidatePairs") {
      Multimodal.audioNearDups(blobs, "media_id",
        maxCandidatePairs = 10L).count()
    }
    // the temporal quadratic: one hot key with n buckets
    val series = (0L until n).map(t => ("k", t, t * 1.0)).toDF("g", "t", "v")
    trip[IllegalStateException]("maxPairsPerKey", "trendOls") {
      Temporal.theilSen(series, Seq("g"), "t", "v",
        maxPairsPerKey = allPairs - 1)
    }
    assert(Temporal.theilSen(series, Seq("g"), "t", "v",
      maxPairsPerKey = allPairs).count() === 1L)

    // CAP tier (documented drop-don't-fail contract): over-cap buckets
    // anti-join out BEFORE the self-join, so the adversarial corpus
    // yields BOUNDED output (zero pairs / zero removals), never a
    // quadratic plan
    assert(Dedup.lshVerifiedPairs(clones, "doc_id", "text",
      maxBucket = 10).count() === 0L)
    assert(Dedup.lshVerifiedPairs(clones, "doc_id", "text")
      .count() === allPairs)
    val vecs = (0L until n).map(i => (i, Seq(1.0f, 0.5f, 0.25f, 0.125f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.cosineDedup(vecs, "vec_id", "embedding", tau = 0.9,
      bands = 4, planesPerBand = 4, dim = 4, maxBucket = 10)
      .count() === n, "capped: every bucket over cap, nothing removed")
    assert(Similarity.cosineDedup(vecs, "vec_id", "embedding", tau = 0.9,
      bands = 4, planesPerBand = 4, dim = 4)
      .count() === 1L, "uncapped: the clique collapses to one survivor")
  }

  test("property: LSH-verified pairs are a SUBSET of the exact " +
      "threshold join at the same tau, with identical jaccard values " +
      "(precision 1 by verification)") {
    import graft.operators.Dedup
    (1 to 2).foreach { k =>
      // force near-dups: clone texts with small perturbations
      val bases = sample(Gen.listOfN(12,
        Gen.chooseNum(5, 14).flatMap(n =>
          Gen.listOfN(n, word).map(_.mkString(" ")))), seed = 20000 + k)
      val docs = bases.zipWithIndex.flatMap { case (t, i) =>
        Seq((i * 10L, t), (i * 10L + 1, t + " tail" + (i % 3)),
          (i * 10L + 2, "head " + t))
      }
      val df = docs.toDF("doc_id", "text")
      val exact = Dedup.jaccardJoin(df, "doc_id", "text", tau = 0.4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Dedup.lshVerifiedPairs(df, "doc_id", "text",
          numHashes = 8, bands = 4, tau = 0.4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh.nonEmpty, s"case $k: generator produced no near-dups")
      assert(lsh.subsetOf(exact),
        s"case $k: ${lsh.diff(exact)} not in exact join")
    }
  }

  test("property: int8 quantization reconstructs every element within " +
      "scale/2") {
    import graft.operators.Similarity
    (1 to 3).foreach { k =>
      val vecs = sample(Gen.listOfN(20, Gen.listOfN(16,
        Gen.chooseNum(-10.0, 10.0))), seed = 21000 + k)
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "vec")
        .select(col("id"), col("vec"),
          Similarity.quantize(col("vec")).as("qz"))
        .select(col("id"), col("vec"), col("qz.scale").as("scale"),
          col("qz.q").as("q"))
        .collect()
      rows.foreach { r =>
        val v = r.getSeq[Double](1)
        val s = r.getDouble(2)
        val q = r.getSeq[Int](3)
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(x - qi * s) <= s / 2 + 1e-12,
            s"case $k id ${r.getLong(0)}")
        }
      }
    }
  }

  test("property: mediaNearDups banded pairs EQUAL the brute-force " +
      "Hamming join at every radius tier (adaptive band exactness)") {
    import graft.operators.Multimodal
    // random blobs with forced dup clusters (clones + tiny byte edits)
    (1 to 2).foreach { k =>
      val bases = sample(Gen.listOfN(10, Gen.chooseNum(8, 60).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 255).map(_.toByte))
          .map(_.toArray))), seed = 31000 + k)
      val blobs = bases.zipWithIndex.flatMap { case (b, i) =>
        val tweaked = b.clone(); tweaked(0) = (tweaked(0) ^ 1).toByte
        Seq((i * 10L, b), (i * 10L + 1, b.clone()), (i * 10L + 2, tweaked))
      }
      val df = blobs.toDF("media_id", "data")
      val hashes = Multimodal.mediaHash(df)
        .select("media_id", "phash").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(0, 1, 3, 7).foreach { r =>
        val brute = (for {
          a <- hashes.keys; b <- hashes.keys if a < b
          if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= r
        } yield (a, b)).toSet
        val banded = Multimodal.mediaNearDups(df, "media_id",
            maxHamming = r)
          .select("id_a", "id_b").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        assert(banded === brute, s"case $k radius $r")
      }
    }
  }

  test("property: z-value is monotonic per dimension with the other " +
      "held fixed (the interleaving order contract)") {
    val xs = sample(Gen.listOfN(40, Gen.chooseNum(0L, 1000000L)),
      seed = 12000).distinct.sorted
    val fixed = 73741L
    val rows = xs.map(x => (x, fixed)).toDF("x", "y")
      .select(col("x"), graft.io.ZOrder.zValue(col("x"), col("y")).as("z"))
      .orderBy("x").collect().map(_.getLong(1))
    assert(rows.toSeq === rows.sorted.toSeq, "monotonic in x")
    val rows2 = xs.map(y => (fixed, y)).toDF("x", "y")
      .select(col("y"), graft.io.ZOrder.zValue(col("x"), col("y")).as("z"))
      .orderBy("y").collect().map(_.getLong(1))
    assert(rows2.toSeq === rows2.sorted.toSeq, "monotonic in y")
  }
}
