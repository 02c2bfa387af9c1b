package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Packing, Sampling, Similarity, Temporal, TextAnalysis}

/** Scale-growth audit (not a unit test — run with `Test/runMain`):
  * synthesizes 1× / K× corpora from sf0.1 by unioning id-shifted copies
  * (texts get a per-copy token prefix so copies are near- but not
  * exact-dups — the worst case for dedup operators: clusters grow with
  * K), then times the heavy pipeline operators at both scales and prints
  * the growth ratio. A scale-safe plan grows ≲ K× on K× data (plus fixed
  * overheads); a quadratic plan shows K²×.
  *
  * Writes nothing to the repo or testdata; parquet copies land in /tmp.
  */
object ScaleGrowthMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val spark = Suite.session(32)

    val sf = "/root/testdata/sf0.1"
    val docs1 = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val embs1 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val nDocs = docs1.count()
    val nEmbs = embs1.count()

    def grow(df: DataFrame, idCol: String, shift: Long,
        perturb: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => perturb(df, i)
        .withColumn(idCol, col(idCol) + lit(i * shift))).reduce(_ union _)

    val docsK = grow(docs1, "doc_id", 1000000L,
      (d, i) => d.withColumn("text",
        concat(lit(s"copy$i marker "), col("text"))))
    val embsK = grow(embs1, "vec_id", 1000000L,
      (d, i) => d.withColumn("embedding",
        transform(col("embedding"), x => x * (lit(1.0f) + lit(i * 1e-4f)))))

    val dk = "/tmp/graft_scale_docs"
    val ek = "/tmp/graft_scale_embs"
    docsK.write.mode("overwrite").parquet(dk)
    embsK.write.mode("overwrite").parquet(ek)
    val docsKr = spark.read.parquet(dk)
    val embsKr = spark.read.parquet(ek)
    println(s"corpora: docs ${nDocs} -> ${docsKr.count()}, " +
      s"embs ${nEmbs} -> ${embsKr.count()}")

    def time(name: String, f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      try f.write.format("noop").mode("overwrite").save()
      catch {
        case e: IllegalStateException =>
          // a fail-fast budget guard (e.g. ngramJaccardPairs' candidate
          // cap on the clone-dense K× corpus) IS the operator's scale
          // answer — record it instead of aborting the audit
          println(s"  $name: GUARD — " +
            Option(e.getMessage).getOrElse("").take(90))
          return -1.0
      }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"  $name%-28s $s%8.2f s")
      s
    }

    def suite(tag: String, d: DataFrame, e: DataFrame): Map[String, Double] = {
      println(s"== $tag ==")
      Map(
        "minhash" -> time("minhash",
          Dedup.minHashSignatures(d, "doc_id", "text", 8)),
        "simhash" -> time("simhash", Dedup.simHash(d, "doc_id", "text")),
        "lsh_dedup" -> time("lsh_dedup",
          Dedup.lshDedup(d, "doc_id", "text", 8, 4, 3, 0.5, maxBucket = 2000)),
        "dedup_cluster" -> time("dedup_cluster",
          Dedup.nearDupClusters(d, "doc_id", "text", 8, 4, 3, 0.5,
            maxBucket = 2000)),
        "ngram_jaccard" -> time("ngram_jaccard",
          Dedup.ngramJaccardPairs(d, "doc_id", "text")
            .orderBy(col("jaccard").desc).limit(20)),
        "cosine_dedup" -> time("cosine_dedup",
          Similarity.cosineDedup(e, "vec_id", "embedding", 0.45, 4, 8, 64,
            maxBucket = 1000)),
        "ivf_topk" -> time("ivf_topk",
          Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "embedding", 5, 16, 4)),
        "stratified" -> time("stratified",
          Sampling.stratifiedTopK(d, "source", "doc_id", 25)),
        "pack" -> time("pack",
          Packing.packManifest(d, "doc_id", "text", 512)),
        "boilerplate" -> time("boilerplate",
          Dedup.removeBoilerplate(d, "doc_id", "text", minDocs = 390,
            sepRegex = " ", joinSep = " ")),
        "redact" -> time("redact",
          d.select(col("doc_id"),
            TextAnalysis.redactPii(col("text")).as("redacted"))),
        "quantize" -> time("quantize",
          e.select(col("vec_id"),
            Similarity.quantize(col("embedding")).as("q"))),
        "ann_quant" -> time("ann_quant",
          Similarity.quantizedTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "embedding", 5)),
        "dedup_against" -> time("dedup_against",
          Dedup.lshDedupAgainst(
            d.filter(pmod(col("doc_id"), lit(10)) === 0),
            d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
            "doc_id", "text", maxBucket = 2000)),
        "bloom_anti" -> time("bloom_anti",
          Dedup.exactDedupAgainst(
            d.filter(pmod(col("doc_id"), lit(10)) === 0),
            d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
            "text", expectedItems = 10000000L)),
        "weighted_topk" -> time("weighted_topk",
          Sampling.weightedTopK(d, "doc_id",
            length(col("text")).cast("double"), 100)),
        "top_ngrams" -> time("top_ngrams",
          TextAnalysis.topNgrams(d, "text", 2, 40)),
        "media_neardups" -> time("media_neardups",
          Multimodal.mediaNearDups(
            Multimodal.attachBlob(d, "doc_id", "text"), "media_id",
            maxHamming = 3, maxBucket = 2000)),
        "video_neardups" -> time("video_neardups",
          Multimodal.videoNearDups(
            Multimodal.buildAviBlocks(
              d.select(col("doc_id").as("media_id"),
                col("doc_id").as("content"), lit(0L).as("jitter")),
              "media_id", "content", "jitter"),
            "media_id", maxHamming = 3, maxBucket = 2000)),
        "audio_neardups" -> time("audio_neardups",
          Multimodal.audioNearDups(
            Multimodal.buildWav(
              Multimodal.attachBlob(d, "doc_id", "text", kind = "audio")),
            "media_id", maxHamming = 3, maxBucket = 2000)),
        "theilsen_approx" -> time("theilsen_approx",
          Temporal.theilSenApprox(
            d.select(pmod(col("doc_id"), lit(7)).as("g"),
              col("doc_id").as("t"),
              length(col("text")).cast("double").as("v")),
            Seq("g"), "t", "v")),
        "multitier" -> time("multitier",
          Dedup.multiTierClusters(d.select(col("doc_id")), "doc_id", Seq(
            "exact" -> Dedup.exactDupEdges(d, "doc_id", "text"),
            "media" -> Multimodal.mediaNearDups(
              Multimodal.attachBlob(d, "doc_id", "text"), "media_id",
              maxHamming = 3, maxBucket = 2000)))),
      )
    }

    val t1 = suite("1x", docs1, embs1)
    val tk = suite(s"${k}x", docsKr, embsKr)
    println(f"%nGrowth on ${k}x data (scale-safe target: <= ${k}x):")
    t1.keys.toSeq.sorted.foreach { q =>
      if (t1(q) < 0 || tk(q) < 0) println(f"  $q%-28s guard-capped")
      else println(f"  $q%-28s ${tk(q) / t1(q)}%6.2fx")
    }
    spark.stop()
  }
}
