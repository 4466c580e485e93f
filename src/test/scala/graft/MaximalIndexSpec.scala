package graft

import graft.ops.{Dedup, PersistedIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted maximal atom-window index —
  * [[Dedup.writeMaximalIndex]] / [[Dedup.maximalScrubIndexed]] /
  * [[Dedup.ensureMaximalIndex]]: [[Dedup.writeSubstrIndex]]'s
  * bucketed pattern extended to the [[Dedup.MaximalAtomWords]] grid,
  * storing per-hash GLOBAL first occurrences (survivorship needs WHO
  * was first, not bare membership). Contract: (1) the arriving-batch
  * probe matches an independent per-doc reference, variable-length
  * semantics included (a 14-word copy the fixed 15-word grid is
  * blind to is cut; a sub-threshold coincidence survives); (2)
  * segment appends min-fold to the one-shot firsts and compaction
  * preserves answers; (3) the bucketed index side never shuffles;
  * (4) the three registered maximal queries probe ONE shared build
  * instead of re-electing firsts per query. */
class MaximalIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("indexed maximal scrub ≡ an independent per-doc reference; 14-word copy cut, sub-threshold survives") {
    import spark.implicits._
    val passage14 = (1 to 14).map(i => s"p$i")
    val coincidence10 = (1 to 10).map(i => s"c$i")
    // corpus doc 11 holds both spans; arriving doc 20 copies the
    // 14-word passage (invisible to the 15-word fixed grid, ≥ the
    // 12-word removal threshold); arriving doc 30 copies only the
    // 10-word span (detected at the 8-word atom grain, but the
    // island spans 10 < 12 — must SURVIVE); doc 40 is clean
    val d11 = (1 to 5).map(i => s"a$i") ++ passage14 ++
      (1 to 3).map(i => s"b$i") ++ coincidence10
    val d20 = (1 to 2).map(i => s"x$i") ++ passage14 ++ (1 to 9).map(i => s"y$i")
    val d30 = (1 to 4).map(i => s"u$i") ++ coincidence10 ++ (1 to 7).map(i => s"v$i")
    val d40 = (1 to 26).map(i => s"w$i")
    val dir = java.nio.file.Files.createTempDirectory("graft-mxidx").toString
    Seq((11L, d11.mkString(" ")), (20L, d20.mkString(" ")),
        (30L, d30.mkString(" ")), (40L, d40.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.writeMaximalIndex(spark, dir, "mx_idx_plant")
    val got = Dedup.maximalScrubIndexed(spark, dir, "mx_idx_plant").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(20L, 30L, 40L), s"batch docs only: $got")
    assert(got(20L) == ((25L, 14L)),
      s"exactly the 14-word copy must be cut from doc 20: $got")
    assert(got(30L) == ((21L, 0L)),
      s"the 10-word coincidence is below the span threshold and survives: $got")
    assert(got(40L) == ((26L, 0L)), s"clean doc untouched: $got")
    // independent reference: membership + the per-doc island kernel
    // (a DIFFERENT implementation from the DataFrame islands window)
    val corpusHashes = d11.sliding(Dedup.MaximalAtomWords)
      .map(_.mkString(" ")).toSet
    Seq(d20 -> 20L, d30 -> 30L, d40 -> 40L).foreach { case (words, id) =>
      val bad = words.sliding(Dedup.MaximalAtomWords).zipWithIndex
        .collect { case (w, i) if corpusHashes.contains(w.mkString(" ")) => i }
        .toSeq
      val expected = Dedup.maximalCleanOf(words.mkString(" "), bad)
      val gotRow = Dedup.maximalScrubIndexed(spark, dir, "mx_idx_plant")
        .filter(col("doc_id") === id).select("len_clean").head.getLong(0)
      assert(gotRow == expected.length.toLong,
        s"doc $id rebuild must match the independent kernel: got $gotRow, want ${expected.length}")
    }
  }

  test("write+append min-folds to the one-shot firsts; compaction preserves probe answers") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    Dedup.writeMaximalIndex(spark, sf, "mx_idx_all")
    spark.sql("DROP TABLE IF EXISTS mx_idx_seg")
    // segment 1 = odd docs, then append segment 2 = even docs: the
    // per-hash first must fold to the GLOBAL min across segments
    Dedup.writeMaximalIndexOf(d.filter(col("doc_id") % 2 === 1), "mx_idx_seg")
    Dedup.appendMaximalIndex(d.filter(col("doc_id") % 2 === 0), "mx_idx_seg")
    val oneShot = Dedup.maximalIndexFirsts(spark, "mx_idx_all")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val segmented = Dedup.maximalIndexFirsts(spark, "mx_idx_seg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(segmented == oneShot,
      "per-segment firsts must min-fold to the one-shot global firsts")
    val probeBefore = Dedup.maximalScrubIndexed(spark, sf, "mx_idx_seg").collect().toSeq
    assert(probeBefore == Dedup.maximalScrubIndexed(spark, sf, "mx_idx_all").collect().toSeq)
    // and the indexed probe is bit-identical to the inline
    // incremental form (the registered, oracle-gated query)
    assert(probeBefore == Dedup.maximalScrubIncremental(spark, sf).collect().toSeq,
      "indexed maximal scrub must equal the inline incremental scrub")
    spark.sql("DROP TABLE IF EXISTS mx_idx_g2")
    PersistedIndex.compact(spark, Dedup.MaximalIndex, "mx_idx_seg", "mx_idx_g2")
    assert(Dedup.maximalScrubIndexed(spark, sf, "mx_idx_g2").collect().toSeq == probeBefore,
      "a compacted generation must answer identically")
    // the compacted generation holds ONE row per hash
    val n = spark.table("mx_idx_g2").count()
    val nDistinct = spark.table("mx_idx_g2").select("h").distinct().count()
    assert(n == nDistinct, s"compaction must fold duplicates: $n vs $nDistinct")
  }

  test("probe join: the bucketed firsts read in place — exactly one Exchange (the probe's)") {
    Dedup.writeMaximalIndex(spark, sf, "mx_idx_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = Dedup.maximalScrubIndexed(spark, sf, "mx_idx_plan")
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val plan = full.indexOf("== Initial Plan ==") match {
        case -1 => full
        case i => full.substring(0, i)
      }
      assert(plan.contains("Bucketed: true"), s"index scan must be bucketed: $plan")
      val exchanges = "Exchange hashpartitioning\\(h#".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"only the arriving batch may shuffle on the hash key: $plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("the three registered maximal queries probe ONE shared persisted build") {
    Dedup.clearMaximalIdxCache()
    val table = Dedup.ensureMaximalIndex(spark, sf)
    assert(spark.catalog.tableExists(table), s"ensure must materialize $table")
    // a second ensure is a memo hit — same table, no rebuild
    assert(Dedup.ensureMaximalIndex(spark, sf) == table)
    // every registered maximal query's plan scans the SHARED table
    // instead of re-electing first occurrences over the posting stream
    Seq(
      Dedup.substrDedupMaximal(spark, sf),
      Dedup.substrThresholdSweep(spark, sf),
      Dedup.substrMaximalReport(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(table),
        s"query must probe the shared index $table: $plan")
    }
    // and the results are the inline election's, bit for bit
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val inline = Dedup.maximalIslandsInline(d)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    val probed = Dedup.maximalIslandsProbed(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    assert(probed == inline, "indexed islands must equal the inline election")
  }
}
