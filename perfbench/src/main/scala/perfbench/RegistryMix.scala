package perfbench

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Warm passes over the registry queries the roadmap carries as serial
  * or overhead-bound, on seeded star-schema tables, under the
  * `graft.Bench` protocol: each query's `Bench.setupFor` pre-pass runs
  * untimed, then the query is timed with `queryExecution.toRdd.count()`,
  * and a query's time is its best over the timed passes. One
  * closed-loop client. */
object RegistryMix {
  /** The carried queries but `source_pagerank`, whose result misses its
    * oracle in the 6th decimal on some seeded tables (seed 108 at sf
    * 0.01), so a run on such tables would fail its output check. */
  val Queries: Seq[String] = Seq("bloom_decontaminate", "pq_m_sweep", "ppl_buckets",
    "lsh_band_sweep", "soft_dedup_weights", "dedup_components", "dedup_funnel")
  /** At least two timed passes, as in `graft.Bench`: the first after
    * the warm pass still runs up to a third slower than the second, so
    * a best over one pass would depend on whether a second fitted. */
  val MinPasses = 2

  def run(spark: SparkSession, a: Args, spans: Spans, sessionS: Double): Result = {
    val sf = a.tables.getOrElse(throw new IllegalArgumentException("registry_mix needs --tables")).toString
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = Queries.filterNot(q => registry.contains(q) && oracles.contains(q))
    require(missing.isEmpty, s"queries without a registry entry or an oracle: ${missing.mkString(", ")}")
    val probe = if (a.trace) Some(new Probe(spark.sparkContext)) else None
    var attempted, failed = 0L

    /** Runs `body` on query `q` after its `Bench.setupFor` pre-pass;
      * returns its seconds, or None when it threw. */
    def once(q: String)(body: DataFrame => Unit): Option[Double] = {
      Bench.setupFor(q)(spark, sf)
      attempted += 1
      try Some(spans(s"ops.$q")(Main.timed(body(registry(q)(spark, sf)))._2))
      catch {
        case e: Exception =>
          failed += 1
          Main.log(s"$q failed: $e")
          None
      }
    }

    // set-up: one untimed warm pass (JIT, codegen, fits) that also
    // writes each query's rows for the DuckDB comparison the launcher
    // makes after this JVM exits
    val outDir = a.work.resolve("oracle")
    val (warm, warmS) = Main.timed(Queries.map { q =>
      once(q)(_.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString))
    })
    val sqlJson = Queries.map(q => s"${jsonStr(q)}:${jsonStr(oracles(q))}").mkString("{", ",", "}")
    Files.write(outDir.resolve("oracle_sql.json"), sqlJson.getBytes(StandardCharsets.UTF_8))
    val setupS = sessionS + warmS
    Main.log(f"registry_mix: warm pass $warmS%.2f s: " +
      Queries.zip(warm).map { case (q, t) => f"$q ${t.getOrElse(Double.NaN)}%.2f" }.mkString(", "))

    val times = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val counts = mutable.Map.empty[String, Counts].withDefaultValue(Counts())
    val passCounts = mutable.ArrayBuffer.empty[Counts]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    while (passWalls.size < MinPasses || passWalls.sum < a.seconds) {
      val passStart = probe.map(_.settled())
      var passWall = 0.0
      Queries.foreach { q =>
        val before = probe.map(_.settled())
        once(q)(df => df.queryExecution.toRdd.count()).foreach { s => times(q) += s; passWall += s }
        for (p <- probe; b <- before if passWalls.size < MinPasses) counts(q) = counts(q) + (p.settled() - b)
      }
      for (p <- probe; b <- passStart) passCounts += p.settled() - b
      passWalls += passWall
    }
    val memMb = Stats.retainedHeapMb()
    Main.log(s"registry_mix: passes (s): ${passWalls.map(s => f"$s%.2f").mkString(" ")}")

    val best = times.collect { case (q, ts) if ts.nonEmpty => q -> ts.min }
    val totalS = best.values.sum
    Main.log(f"registry_mix: sum of per-query best times ${totalS}%.3f s, setup $setupS%.2f s; " +
      best.map { case (q, t) => f"$q $t%.2f" }.mkString(", "))
    if (!a.trace) Result(attempted, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_ms", totalS * 1000, "ms"),
      ("mem_retained_mb", memMb, "MB")))
    else Result(attempted, failed, Layers.fill(
      // counts over the first MinPasses passes only, so they repeat exactly
      Layers.spark(passCounts.take(MinPasses).toSeq, passWalls.take(MinPasses).toSeq) ++
        Queries.map(q => s"registry.${q}_s" -> best.getOrElse(q, 0.0)) ++
        Queries.map(q => s"registry.$q.jobs" -> counts(q).jobs.toDouble / MinPasses) :+
        ("registry.geomean_s" -> Stats.geomean(best.values.toSeq))))
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
