package graft

import graft.ops.{Dedup, Maintenance, PersistedIndex}
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index inventory ([[Maintenance.indexInventoryOf]]):
  * ONE operations surface over the three standing dedup-index
  * families (substring window, maximal atom-window, MinHash band).
  * Contract: (1) catalog truth is REPORTED, not assumed — the format
  * column is the stamped property (an unstamped generation surfaces
  * as -1, which the oracle's pinned constant then fails); (2)
  * `n_entries > n_keys` is the compaction-debt signal — appends
  * raise entries, never keys, and compaction restores equality; (3)
  * counts agree with hand-derivable values on a tiny corpus. */
class IndexInventorySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** 20-word doc twice (all windows duplicated), one sub-shingle doc. */
  private def tinyDocs = {
    import spark.implicits._
    val t20 = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((1L, t20), (2L, t20), (3L, "short doc")).toDF("doc_id", "text")
  }

  private def buildAll(prefix: String): (String, String, String) = {
    val (sub, mx, bd) = (s"${prefix}_sub", s"${prefix}_mx", s"${prefix}_bd")
    Seq(sub, mx, bd, bd + "_counts").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.writeSubstrIndexOf(tinyDocs, sub)
    Dedup.writeMaximalIndexOf(tinyDocs, mx)
    Dedup.writeBandIndexOf(tinyDocs, bd)
    (sub, mx, bd)
  }

  test("inventory counts are hand-derivable on the tiny corpus; format and buckets are the catalog's") {
    val (sub, mx, bd) = buildAll("inv_tiny")
    val rows = Maintenance.indexInventoryOf(spark, sub, mx, bd).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("band", "maximal", "substr"),
      "one row per family, family-ordered")
    rows.foreach { r =>
      assert(r.getInt(1) == Dedup.IndexFormatVersion, s"format of ${r.getString(0)}")
      assert(r.getInt(2) == Dedup.BandIndexBuckets, s"buckets of ${r.getString(0)}")
    }
    val byFam = rows.map(r => r.getString(0) -> r).toMap
    // 20 words → 6 fifteen-word windows, 13 eight-word atoms; the
    // doc-2 duplicate adds NO keys; "short doc" adds nothing anywhere
    assert(byFam("substr").getLong(3) == 6L && byFam("substr").getLong(4) == 6L)
    assert(byFam("maximal").getLong(3) == 13L && byFam("maximal").getLong(4) == 13L)
    // band: 2 shingled docs × 16 bands; identical texts share every
    // band key → 16 true buckets in the sidecar
    assert(byFam("band").getLong(3) == 32L)
    assert(byFam("band").getLong(5) == 16L)
    assert(byFam("band").getLong(4) <= byFam("band").getLong(5),
      "60-bit collisions may only MERGE key rows, never exceed true buckets")
    // a fresh generation stores each key once
    rows.foreach(r => assert(r.getLong(3) >= r.getLong(4)))
  }

  test("appends raise n_entries but never n_keys; compaction restores entries == keys") {
    val (sub, mx, bd) = buildAll("inv_dbt")
    import org.apache.spark.sql.functions.col
    Dedup.appendSubstrIndex(tinyDocs.filter(col("doc_id") === 1L), sub)
    val appended = Maintenance.indexInventoryOf(spark, sub, mx, bd).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(appended("substr").getLong(3) == 12L, "6 re-inserted hashes double the entries")
    assert(appended("substr").getLong(4) == 6L, "the key space is unchanged")
    spark.sql("DROP TABLE IF EXISTS inv_dbt_sub_g2")
    PersistedIndex.compact(spark, Dedup.SubstrIndex, sub, "inv_dbt_sub_g2")
    val compacted = Maintenance.indexInventoryOf(spark, "inv_dbt_sub_g2", mx, bd)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(compacted("substr").getLong(3) == 6L && compacted("substr").getLong(4) == 6L)
  }

  test("a pre-sidecar band generation (no _counts table) audits as NULL sidecar instead of crashing") {
    val (sub, mx, bd) = buildAll("inv_nosc")
    spark.sql(s"DROP TABLE ${bd}_counts")
    val rows = Maintenance.indexInventoryOf(spark, sub, mx, bd)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("band").isNullAt(5), "missing sidecar must REPORT, not throw")
    assert(rows("band").getLong(3) == 32L, "posting counts still audit")
  }

  test("the audit plan reads ONLY index tables + catalog metadata — the corpus parquet never appears in a warm-session scan") {
    val sf = "/root/testdata/sf0.001"
    Maintenance.indexInventory(spark, sf).collect() // warms ensureOpsIndexes
    val plan = Maintenance.indexInventory(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"audit must never rescan the corpus (megabytes vs 100 TB): $plan")
    assert(plan.contains("graft_inv_"), s"scans must be the index tables: $plan")
  }

  test("generation inventory mirrors the table-vacuum lifecycle: build -> append -> compact -> vacuum, each state audited not assumed") {
    import org.apache.spark.sql.functions.col
    Seq("gen_g1", "gen_g1_counts", "gen_g2", "gen_g2_counts")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.writeBandIndexOf(tinyDocs, "gen_g1")
    Dedup.appendBandIndex(tinyDocs.filter(col("doc_id") === 1L), "gen_g1")
    PersistedIndex.compact(spark, Dedup.BandIndex, "gen_g1", "gen_g2")
    val before = Maintenance.indexGenerationInventory(
      spark, Seq("gen_g1", "gen_g2"), live = "gen_g2").collect()
    assert(before.map(r =>
        (r.getString(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toSeq ==
      Seq(("gen_g1", false, true, true), ("gen_g2", true, false, true)),
      "would_vacuum IS the vacuum's victim selection under keep=1")
    before.foreach { r =>
      assert(r.getInt(5) == Dedup.IndexFormatVersion)
      assert(r.getBoolean(9), "both generations carry the sidecar")
      assert(r.getLong(7) > 0L && r.getLong(8) > 0L, "files and bytes are real")
    }
    // a keep=2 policy retains both — the report flips before any drop
    val keep2 = Maintenance.indexGenerationInventory(
      spark, Seq("gen_g1", "gen_g2"), live = "gen_g2", keep = 2).collect()
    assert(keep2.forall(!_.getBoolean(3)), "keep=2 plans no victims")
    val dropped = Maintenance.vacuumGenerationTables(
      spark, Seq("gen_g1", "gen_g2"), live = "gen_g2")
    assert(dropped == Seq("gen_g1"),
      "the executed vacuum drops exactly the would_vacuum rows")
    val after = Maintenance.indexGenerationInventory(
      spark, Seq("gen_g1", "gen_g2"), live = "gen_g2").collect()
    val g1 = after.find(_.getString(1) == "gen_g1").get
    assert(!g1.getBoolean(4) && g1.isNullAt(5) && g1.isNullAt(7),
      "a retired generation audits as absent with NULL metrics, never errors")
    assert(after.find(_.getString(1) == "gen_g2").get.getBoolean(4))
  }

  test("dir-form generation inventory: qualified-path liveness, committed marker, absent dir as a NULL row") {
    val base = java.nio.file.Files.createTempDirectory("graft-geninv").toString
    tinyDocs.write.mode("overwrite").parquet(s"$base/g1")
    tinyDocs.write.mode("overwrite").parquet(s"$base/g2")
    val rows = Maintenance.dirGenerationInventory(
      spark, Seq(s"$base/g1", s"$base/g2", s"$base/gone"), live = s"$base/gone")
      .collect()
    assert(rows.map(r => (r.getBoolean(2), r.getBoolean(4))).toSeq ==
      Seq((false, true), (false, true), (true, false)))
    assert(rows.take(2).forall(r => r.getBoolean(5) && r.getLong(6) > 0L),
      "committed generations carry _SUCCESS and real files")
    assert(rows(2).isNullAt(5) && rows(2).isNullAt(6))
    // a would_vacuum row whose directory is MISSING is the
    // stale-history signal: the executed vacuum would refuse on its
    // all-victims-exist pre-check, and the audit reports both facts
    assert(rows.map(_.getBoolean(3)).toSeq == Seq(true, true, false),
      "keep=1 plans both superseded dirs as victims — g1 AND g2")
    val err = intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(
        spark, Seq(s"$base/g1", s"$base/g2", s"$base/gone2", s"$base/gone"),
        live = s"$base/gone")
    }
    assert(err.getMessage.contains("not found"),
      "a planned victim that does not exist makes the vacuum refuse")
  }

  test("dir-form would_vacuum IS vacuumGenerations' victim selection: plan under keep, then execute, then re-audit") {
    val base = java.nio.file.Files.createTempDirectory("graft-genvac").toString
    val gens = Seq(s"$base/g1", s"$base/g2", s"$base/g3")
    gens.foreach(g => tinyDocs.write.mode("overwrite").parquet(g))
    val plan2 = Maintenance.dirGenerationInventory(
      spark, gens, live = s"$base/g3", keep = 2).collect()
    assert(plan2.map(r => (r.getString(1), r.getBoolean(3))).toSeq ==
      Seq((s"$base/g1", true), (s"$base/g2", false), (s"$base/g3", false)),
      "keep=2 plans exactly the oldest generation")
    val dropped = Maintenance.vacuumGenerations(
      spark, gens, live = s"$base/g3", keep = 2)
    assert(dropped == Seq(s"$base/g1"),
      "the executed vacuum drops exactly the would_vacuum rows")
    val after = Maintenance.dirGenerationInventory(
      spark, gens, live = s"$base/g3", keep = 2).collect()
    assert(!after(0).getBoolean(4) && after(0).isNullAt(5),
      "the dropped generation re-audits as absent with NULL metrics")
    assert(after.drop(1).forall(_.getBoolean(4)))
  }

  test("a history whose last entry is not the live pointer plans ZERO victims in BOTH inventory forms — the vacuum would abort, not drop") {
    // table form: live is g1 but the history ends at g2
    val (_, _, bd) = buildAll("inv_abort")
    spark.sql("DROP TABLE IF EXISTS inv_abort_bd2")
    PersistedIndex.compact(spark, Dedup.BandIndex, bd, "inv_abort_bd2")
    val tbl = Maintenance.indexGenerationInventory(
      spark, Seq(bd, "inv_abort_bd2"), live = bd).collect()
    assert(tbl.forall(!_.getBoolean(3)),
      "live-not-last: would_vacuum must be false everywhere (incl. the live row)")
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerationTables(
        spark, Seq(bd, "inv_abort_bd2"), live = bd)
    }
    // dir form: same abort rule under the qualified-path identity
    val base = java.nio.file.Files.createTempDirectory("graft-genabort").toString
    tinyDocs.write.mode("overwrite").parquet(s"$base/g1")
    tinyDocs.write.mode("overwrite").parquet(s"$base/g2")
    val dir = Maintenance.dirGenerationInventory(
      spark, Seq(s"$base/g1", s"$base/g2"), live = s"$base/g1").collect()
    assert(dir.forall(!_.getBoolean(3)))
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(
        spark, Seq(s"$base/g1", s"$base/g2"), live = s"$base/g1")
    }
  }

  test("an unstamped (pre-versioning) generation surfaces as format -1 — the oracle's pinned constant then fails the audit") {
    import spark.implicits._
    val (_, mx, bd) = buildAll("inv_fmt")
    spark.sql("DROP TABLE IF EXISTS inv_fmt_stale")
    Seq(1L, 2L).toDF("h").write.mode("overwrite")
      .bucketBy(4, "h").sortBy("h").saveAsTable("inv_fmt_stale")
    val rows = Maintenance.indexInventoryOf(spark, "inv_fmt_stale", mx, bd)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("substr").getInt(1) == -1)
    assert(rows("substr").getInt(2) == 4, "bucket count is the catalog's, not assumed")
    assert(rows("maximal").getInt(1) == Dedup.IndexFormatVersion)
  }
}
