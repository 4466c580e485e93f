package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup-on-ingest — the streaming complement of the batch MinHash
  * family: new documents arriving on a stream are near-dup-checked
  * against an EXISTING corpus without joining against it.
  *
  * Scale design: the corpus (100 TB) is summarized once, at stream
  * start, into a Bloom filter over its MinHash band-bucket keys
  * (16 longs per document — a few GB of sketch for billions of
  * docs at 1% fpp, vs the corpus itself). The stream side is then
  * MAP-ONLY: each incoming doc computes its own 16 band keys and
  * probes the broadcast sketch — no shuffle, no state store, no
  * stream-static join, unbounded throughput. A hit means some
  * corpus document agrees on one full signature band — the same
  * collision event that makes the batch `minhash_lsh` bucket join
  * emit a candidate pair.
  *
  * False positives (Bloom + banding) only over-flag candidates —
  * precision is restored by the downstream exact verify if the
  * pipeline needs it; false negatives are the banding recall, same
  * as batch.
  */
object StreamingDedup {

  /** Build the corpus sketch: Bloom filter over every document's
    * band keys. ONE pass over the static corpus when `expectedDocs`
    * is supplied (pass the catalog/metadata row count — don't make
    * the builder burn a dedicated counting scan of 100 TB); without
    * it a count() job runs first and the build costs two passes. */
  def corpusSketch(
      corpus: DataFrame,
      textCol: String = "text",
      fpp: Double = 0.001,
      expectedDocs: Option[Long] = None): org.apache.spark.util.sketch.BloomFilter = {
    val keysUdf = udf { (text: String) => Dedup.bandKeysOf(text) }
    val keys = corpus.select(explode(keysUdf(col(textCol))).as("key"))
    val expected =
      math.max(1000L, expectedDocs.getOrElse(corpus.count()) * graft.ops.Dedup.Bands)
    keys.stat.bloomFilter("key", expected, fpp)
  }

  /** Flag streamed documents whose MinHash bands collide with the
    * corpus sketch. Adds `dup_candidate` (boolean); map-only, so it
    * composes with any downstream streaming sink/aggregation. */
  def flagAgainstCorpus(
      newDocs: DataFrame,
      sketch: org.apache.spark.util.sketch.BloomFilter,
      textCol: String = "text"): DataFrame = {
    val bc = newDocs.sparkSession.sparkContext.broadcast(sketch)
    val dupUdf = udf { (text: String) =>
      val keys = Dedup.bandKeysOf(text)
      var i = 0
      var hit = false
      while (i < keys.length && !hit) {
        if (bc.value.mightContainLong(keys(i))) hit = true
        i += 1
      }
      hit
    }
    newDocs.withColumn("dup_candidate", dupUdf(col(textCol)))
  }

  /** Continuous band-index ingest — the maintenance half of the
    * streaming dedup story (the probe half is [[flagAgainstCorpus]]):
    * each arriving micro-batch of documents appends its band rows
    * into the persisted bucketed index ([[Dedup.appendBandIndex]]),
    * so the NEXT batch's [[Dedup.dedupIncrementalIndexed]] probe sees
    * everything that ever streamed in. The `_counts` sidecar keeps
    * the probe's hot-bucket cap global across segments; run
    * `PersistedIndex.maintain(spark, Dedup.BandIndex, table, next)`
    * from the periodic maintenance job to fold accumulated segment
    * files into a fresh generation. foreachBatch is at-least-once: a
    * replayed batch re-appends its rows — dedupe on (doc_id, bkey60)
    * at probe time if the source cannot guarantee exactly-once file
    * delivery. */
  def bandAppendStream(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.appendBandIndex(batch, table)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
  }
}
