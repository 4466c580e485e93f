package perfbench

import graft.Graft
import graft.embed.{EmbedOps, HashEmbedder}
import graft.index.{IndexManifest, VectorIndex}
import graft.ingest.{Chunker, Sources}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

/** Repeated `Graft.index` overwrite builds, each over a freshly
  * generated corpus, so no build can reuse another's result. One
  * closed-loop client; corpus generation and output checks run
  * outside the timed region. */
object IndexBuild {
  val CorpusBytes: Long = 6L << 20
  val ChunkSize: Int = Chunker.DefaultChunkSize
  /** Warm-up goes on until the mean of the last two builds is within
    * `Levelled` of the mean of the two before, i.e. throughput has
    * levelled off. */
  val WarmupMin = 4
  val WarmupMax = 10
  val Levelled = 0.1
  val MinBuilds = 6
  /** Staged builds of the traced run, a fixed number so its counts
    * repeat exactly. */
  val StagedBuilds = 4

  /** Fresh corpora, one per call, each replacing the last on disk. */
  final class Corpora(root: Path, seed: Long) {
    val vocab = new Vocab(seed)
    private var n = 0
    private var last: Option[Path] = None
    def next(): Corpus = {
      last.foreach(Main.deleteTree)
      val dir = root.resolve(s"corpus-$n")
      val c = Corpus.write(dir, seed * 1000003L + n, vocab, CorpusBytes, ChunkSize)
      n += 1
      last = Some(dir)
      c
    }
  }

  /** Output check of one build: the row count equals the independent
    * line-packing count, every embedding has dim 64, and the stored
    * manifest matches the one the build returned. */
  def check(spark: SparkSession, c: Corpus, index: Path, m: IndexManifest): Boolean = {
    val r = VectorIndex.readVectors(spark, index.toString)
      .agg(count(lit(1)), coalesce(sum(when(size(col("embedding")) =!= 64, 1)), lit(0L)))
      .head()
    val stored = VectorIndex.readManifest(spark, index.toString)
    val ok = r.getLong(0) == c.expectedChunks && r.getLong(1) == 0L && stored == m &&
      m.embedding_type == "hash" && m.embedding_model == "hash-ngram-64" &&
      m.chunk_size == ChunkSize && m.repository == c.dir.toString && m.index_path == index.toString
    if (!ok) Main.log(s"index check failed: rows ${r.getLong(0)} expected ${c.expectedChunks}, " +
      s"bad dims ${r.getLong(1)}, manifest $stored vs $m")
    ok
  }

  def run(spark: SparkSession, a: Args, spans: Spans, sessionS: Double): Result = {
    val corpora = new Corpora(a.work, a.seed)
    val index = a.work.resolve("index")
    var attempted, failed = 0L

    val probe = if (a.trace) Some(new Probe(spark.sparkContext)) else None

    var genS, checkS = 0.0
    /** One timed build, checked unless it is a warm-up; returns the
      * corpus, the build seconds and, when traced, the listener counts
      * of the build alone. */
    def build(checked: Boolean = true): (Corpus, Double, Option[Counts]) = {
      val (c, g) = Main.timed(corpora.next())
      val before = probe.map(_.settled())
      val (m, s) = Main.timed(spans("Graft.index")(Graft.index(spark, c.dir.toString, index.toString)))
      val counts = for (p <- probe; b <- before) yield p.settled() - b
      genS += g
      if (checked) {
        attempted += 1
        val (ok, k) = Main.timed(check(spark, c, index, m))
        if (!ok) failed += 1
        checkS += k
      }
      (c, s, counts)
    }

    val warmS = ArrayBuffer.empty[Double]
    def levelled = warmS.size >= 4 && {
      val Seq(a, b, c, d) = warmS.takeRight(4).toSeq
      math.abs(a + b - c - d) <= Levelled * (c + d)
    }
    while (warmS.size < WarmupMin || (!levelled && warmS.size < WarmupMax)) warmS += build(checked = false)._2
    Main.log(s"warm-up builds (s): ${warmS.map(s => f"$s%.2f").mkString(" ")}" +
      (if (levelled) "" else s"; not levelled after $WarmupMax"))
    val setupS = sessionS + warmS.sum

    // build seconds, the same scaled to a CorpusBytes corpus, index size ratio
    val secs, norm, sizeRatio = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Counts]
    val traced = ArrayBuffer.empty[Seq[(String, Double)]]
    while (secs.size < MinBuilds || secs.sum < a.seconds) {
      val (c, s, counts) = build()
      ops ++= counts
      secs += s
      norm += s * CorpusBytes / c.totalBytes
      sizeRatio += Main.du(index)._1.toDouble / c.totalBytes
      if (a.trace && traced.size < StagedBuilds) traced += stagedBuild(spark, corpora.next(), index, spans)
    }
    val memMb = Stats.retainedHeapMb()
    Main.log(s"timed builds (s): ${secs.map(s => f"$s%.2f").mkString(" ")}")
    Main.log(f"outside the timed region: corpus generation $genS%.2f s, output checks $checkS%.2f s")
    val medS = Stats.median(secs.toSeq)
    if (!a.trace) Result(attempted, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_ms", medS * 1000, "ms"),
      ("mem_retained_mb", memMb, "MB")))
    else {
      val staged = traced.toSeq
      val stages = staged.head.map(_._1).map(k => k -> Stats.median(staged.map(_.toMap.apply(k))))
      val stageMap = stages.toMap
      val tracedS = Seq("ingest.scan_s", "ingest.chunk_s", "embed.s", "index.write_s").map(stageMap).sum
      Result(attempted, failed, Layers.fill(
        Layers.spark(ops.take(MinBuilds).toSeq, secs.take(MinBuilds).toSeq) ++ stages ++ Seq(
          "index.bytes_per_corpus_byte" -> Stats.median(sizeRatio.toSeq),
          "index.mb_per_s" -> CorpusBytes / 1048576.0 / Stats.median(norm.toSeq),
          "trace_overhead_s" -> (tracedS - medS))))
    }
  }

  /** The traced build: the facade's four stages run one by one from
    * the layers' public functions, each materialized and cached, so
    * each layer's own time shows. Returns the per-stage metrics. */
  def stagedBuild(spark: SparkSession, c: Corpus, index: Path, spans: Spans): Seq[(String, Double)] = {
    def stage(name: String)(df: => DataFrame): (DataFrame, Double, Long) = {
      val ((cached, n), s) = Main.timed(spans(name) {
        val d = df.cache()
        (d, d.count())
      })
      (cached, s, n)
    }
    val (files, scanS, accepted) = stage("ingest.scan")(Sources.readTextFiles(spark, c.dir.toString))
    val (chunks, chunkS, nChunks) = stage("ingest.chunk")(Chunker.chunkDF(files, "source", "content", ChunkSize))
    val (emb, embedS, _) = stage("embed")(EmbedOps.withEmbedding(chunks, "text", "embedding", HashEmbedder.default))
    val zero = emb.filter(!exists(col("embedding"), _ =!= 0)).count()
    val manifest = IndexManifest(java.time.Instant.now().toString, c.dir.toString, "hash",
      HashEmbedder.default.model, ChunkSize, index.toString)
    val (_, writeS) = Main.timed(spans("index.write")(VectorIndex.write(emb, index.toString, manifest)))
    val (bytes, nFiles) = Main.du(index.resolve(VectorIndex.VectorsDir))
    Seq(files, chunks, emb).foreach(_.unpersist(blocking = true))
    Seq(
      "ingest.scan_s" -> scanS,
      "ingest.files_accepted" -> accepted.toDouble,
      "ingest.accept_ratio" -> accepted.toDouble / c.files.size,
      "ingest.chunk_s" -> chunkS,
      "ingest.chunks" -> nChunks.toDouble,
      "embed.s" -> embedS,
      "embed.chunks_per_s" -> nChunks / embedS,
      "embed.zero_frac" -> zero.toDouble / nChunks,
      "index.write_s" -> writeS,
      "index.files_written" -> nFiles.toDouble,
      "index.bytes_written" -> bytes.toDouble)
  }
}
