package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level audit artifacts: the per-shard publishing manifest and the
  * snapshot diff between two corpus versions. */
object CorpusStats {

  /** Per-shard publishing manifest: doc count, exact char total, and an
    * ORDER-INDEPENDENT content checksum per shard — the verification
    * artifact shipped next to a released dataset (the WebDataset/HF
    * manifest idea) so a consumer can check "same shards, same bytes"
    * without re-reading row order.
    *
    * Shard assignment = [[graft.operators.Sampling.shuffleShards]]'s
    * md5 scheme (append-stable, partitioning-independent). Checksum =
    * Σ hash60(id || ':' || md5(text)) summed in DECIMAL(38,0) — exact
    * in both engines regardless of summation order (a long sum would
    * wrap in Spark but widen to HUGEINT in DuckDB) — then mod 10¹⁸ back
    * into a bigint. Any changed/missing/extra row flips the sum with
    * probability 1 − 2⁻⁶⁰ per difference.
    *
    * One shard-keyed agg with map-side partials; the exchange carries
    * `shards` rows. */
  def manifest(df: DataFrame, idCol: String, textCol: String,
      shards: Int, salt: String = ""): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(shards.toLong))
    val rowHash = graft.operators.Dedup.hash60(
      concat(col(idCol).cast("string"), lit(":"), md5(col(textCol))))
    df.select(shard.as("shard"), length(col(textCol)).cast("long").as("__c"),
        rowHash.cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_chars"),
        pmod(sum(col("__h")), lit(1000000000000000000L)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("checksum"))
  }


  /** Snapshot diff between two corpus versions: per id, `added` /
    * `removed` / `changed` / `unchanged` by content hash — the ingest
    * delta report every versioned-corpus pipeline prints before
    * reprocessing (and the input to incremental recompute: only
    * `added`+`changed` need re-curation; `removed` ids invalidate
    * downstream artifacts).
    *
    * Scale shape: each side reduces to `(id, md5)` on its scan (narrow
    * — 2 small columns through the join, never the payloads), then ONE
    * id-keyed full-outer equi-join; AQE broadcasts a small delta side.
    * Output: `(idCol, status)`. */
  def corpusDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def keyed(df: DataFrame, h: String) =
      df.select(col(idCol), md5(col(textCol)).as(h))
    keyed(before, "__hb").join(keyed(after, "__ha"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__hb").isNull, lit("added"))
          .when(col("__ha").isNull, lit("removed"))
          .when(col("__ha") === col("__hb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
