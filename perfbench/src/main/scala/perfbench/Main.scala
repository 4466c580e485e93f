package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Command line of one benchmark run. `work` is the run's private
  * scratch directory (corpora, indexes, outputs, spans). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, tables: Option[Path]) {
  def cores: Int = Runtime.getRuntime.availableProcessors
}

/** What a workload hands back: metrics by name with their units and
  * the operation tally for the result line. */
final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)])

/** Entry point of the benchmark JVM. Prints one JSON result line last
  * on stdout; diagnostics go to stderr. Exits 1 when an output check
  * failed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val spans = new Spans(a.trace)
    val result =
      try a.workload match {
        case "index_build" => IndexBuild.run(spark, a, spans, sessionS)
        case "ask_session" => AskWorkload.run(spark, a, spans, sessionS)
        case "registry_mix" => RegistryMix.run(spark, a, spans, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    if (a.trace) spans.write(a.work.resolve("spans.jsonl"))
    println(json(result))
    if (result.failed > 0) sys.exit(1)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), Paths.get(need("work")).toAbsolutePath,
      m.get("tables").map(Paths.get(_).toAbsolutePath))
  }

  /** One local session per run, `local[cores]`, everything it writes
    * kept under the run's work directory. The registry workload adds
    * the two session settings `graft.Bench` times the registry with
    * (its default codegen cache size and no scan-split floor). */
  private def session(a: Args): SparkSession = {
    Files.createDirectories(a.work)
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    if (a.workload == "registry_mix")
      b.config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.sql.files.minPartitionNum", "1")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(r: Result): String = {
    val ms = r.metrics.map { case (name, v, unit) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name":{"value":${java.lang.Double.toString(v)},"unit":"$unit"}"""
    }
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":{${ms.mkString(",")}}}"""
  }

  /** Wall time of `body` in seconds, with its result. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Bytes and regular files under `dir`, recursively. */
  def du(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
