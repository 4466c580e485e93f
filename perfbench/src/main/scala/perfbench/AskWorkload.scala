package perfbench

import graft.Graft
import graft.embed.{EmbedOps, HashEmbedder}
import graft.index.VectorIndex
import graft.query.Knn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One REPL user in a closed loop: each question is sent after the
  * previous answer arrives. The index is built in set-up; the timed
  * loop sends seeded questions to the open session's `ask` (index
  * cached). The traced run then also times the session's `askHybrid`
  * (BM25 plus cosine) and one-shot `Graft.ask`, which reads the
  * manifest and parquet on every call. */
object AskWorkload {
  val K = 5
  val CorpusBytes: Long = 6L << 20
  /** Untimed warm-up session asks, enough for the latencies to have
    * stopped falling. */
  val WarmupAsks = 10
  /** Session asks whose listener counts are reported: a fixed number,
    * so the counts repeat exactly between traced runs of one seed. */
  val CountedAsks = 10
  /** Timed questions per path for hybrid and one-shot (traced run),
    * after one untimed warm-up question each. */
  val PathQuestions = 4
  val Empty = "No relevant data found in the database."

  /** One indexed chunk as the driver-side checks see it. */
  final case class Chunk(source: String, chunkIndex: Int, id: String, text: String, vec: Array[Float]) {
    val uid: String = source + "\u0000" + chunkIndex
  }

  /** Exact cosine distance as the index scores it, rounded half-up to
    * six decimals; None for a zero-norm vector. */
  def dist(x: Array[Float], y: Array[Float]): Option[Double] = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < math.min(x.length, y.length)) {
      val a = x(i).toDouble
      val b = y(i).toDouble
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) None
    else {
      val d = 1.0 - dot / denom
      if (d.isNaN) None else Some(BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }
  }

  /** The context a correct top-k retrieval assembles: brute-force
    * exact top-k by (distance, source, chunk index), zero and NaN
    * vectors excluded, then blocks in (distance, id) order. */
  def expectedContext(index: IndexedSeq[Chunk], question: String): String = {
    val q = HashEmbedder.default.embedOne(question)
    val top = index.flatMap(c => dist(c.vec, q).map(_ -> c))
      .sortBy { case (d, c) => (d, c.uid) }.take(K)
    if (top.isEmpty) Empty
    else top.map { case (d, c) => (d, c.id, s"File: ${c.source} (chunk ${c.chunkIndex})\n${c.text}\n\n") }
      .sorted.map(_._3).mkString
  }

  private val Header = """(?m)^File: (.*) \(chunk (\d+)\)$""".r

  /** Hybrid answers: at most k hits, each a chunk of the index. */
  def hybridOk(index: Set[(String, Int)], context: String): Boolean =
    context == Empty || {
      val hits = Header.findAllMatchIn(context).map(m => (m.group(1), m.group(2).toInt)).toSeq
      hits.nonEmpty && hits.size <= K && hits.forall(index.contains)
    }

  /** One timed question: its path, latency and, when traced, counts. */
  private final case class Op(path: Char, question: String, context: String, ms: Double,
      counts: Option[Counts])

  def run(spark: SparkSession, a: Args, spans: Spans, sessionS: Double): Result = {
    val vocab = new Vocab(a.seed)
    val corpus = Corpus.write(a.work.resolve("corpus"), a.seed, vocab, CorpusBytes, IndexBuild.ChunkSize)
    val path = a.work.resolve("index").toString
    val pool = Questions(a.seed + 1, vocab, corpus.codes, 4096)
    // the loop's questions come from the front, the layer split's from the back
    val questions = pool.iterator

    val (session, setupWork) = Main.timed {
      spans("Graft.index")(Graft.index(spark, corpus.dir.toString, path))
      val s = spans("Graft.open")(Graft.open(spark, path))
      // cache fill and warm-up, untimed
      (1 to WarmupAsks).foreach(_ => ask(spark, s, path, 'A', questions.next(), spans))
      s
    }
    val setupS = sessionS + setupWork

    val probe = if (a.trace) Some(new Probe(spark.sparkContext)) else None
    def timedOp(p: Char): Op = {
      val q = questions.next()
      val before = probe.map(_.settled())
      val (context, s) = Main.timed(ask(spark, session, path, p, q, spans))
      Op(p, q, context, s * 1000, for (pr <- probe; b <- before) yield pr.settled() - b)
    }
    val ops = ArrayBuffer.empty[Op]
    while (ops.size < CountedAsks || ops.map(_.ms).sum < a.seconds * 1000) ops += timedOp('A')
    val memMb = Stats.retainedHeapMb()
    if (a.trace) for (p <- Seq('H', 'O')) {
      ask(spark, session, path, p, questions.next(), spans)
      (1 to PathQuestions).foreach(_ => ops += timedOp(p))
    }

    // output checks, outside the timed region, against a driver-side
    // copy of the index
    val index = VectorIndex.readVectors(spark, path)
      .select("source", "chunk_index", "id", "text", "embedding").collect()
      .map(r => Chunk(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getSeq[Float](4).toArray)).toIndexedSeq
    val keys = index.map(c => (c.source, c.chunkIndex)).toSet
    var failed = if (index.size.toLong == corpus.expectedChunks) 0L else {
      Main.log(s"index holds ${index.size} chunks, the corpus packs into ${corpus.expectedChunks}")
      1L
    }
    ops.foreach { o =>
      val ok = if (o.path == 'H') hybridOk(keys, o.context) else o.context == expectedContext(index, o.question)
      if (!ok) {
        failed += 1
        Main.log(s"wrong answer on path ${o.path} for question '${o.question}'")
      }
    }

    def ms(p: Char): Seq[Double] = ops.filter(_.path == p).map(_.ms).toSeq
    def cs(p: Char): Seq[Counts] = ops.filter(_.path == p).flatMap(_.counts).toSeq
    val askMs = ms('A')
    Main.log(ops.map(o => f"${o.path}${o.ms}%.0f").mkString("latencies ms: ", " ", ""))
    Main.log(f"ask_session: ${askMs.size} session asks, p50 ${Stats.median(askMs)}%.1f ms, setup $setupS%.2f s")
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms", Stats.median(askMs), "ms"),
        ("mem_retained_mb", memMb, "MB"))
      else {
        val declared = Layers.Units.map(_._1).toSet
        val counted = cs('A').take(CountedAsks)
        val countedS = askMs.take(CountedAsks).map(_ / 1000)
        def jobsPerOp(p: Char) = cs(p).map(_.jobs).sum.toDouble / cs(p).size
        Layers.fill(
          Layers.spark(counted, countedS) ++
            Layers.spark(counted, countedS, "ask").filter(kv => declared(kv._1)) ++ Seq(
              "ask.p50_ms" -> Stats.median(askMs),
              "hybrid.p50_ms" -> Stats.median(ms('H')),
              "hybrid.jobs_per_op" -> jobsPerOp('H'),
              "oneshot.p50_ms" -> Stats.median(ms('O')),
              "oneshot.jobs_per_op" -> jobsPerOp('O')) ++
            layerSplit(spark, path, pool.takeRight(10), spans))
      }
    session.close()
    Result(ops.size + 1, failed, metrics)
  }

  /** One question through one path; returns the assembled context. */
  private def ask(spark: SparkSession, s: Graft.AskSession, path: String, p: Char, q: String,
      spans: Spans): String = p match {
    case 'A' => spans("Graft.AskSession.ask")(s.ask(q, K).context)
    case 'H' => spans("Graft.AskSession.askHybrid")(s.askHybrid(q, K).context)
    case 'O' => spans("Graft.ask")(Graft.ask(spark, path, q, K).context)
  }

  /** The traced split of the ask path into its layers, composed from
    * the layers' public functions the way the session composes them:
    * question embedding, top-k with fetch (collected), context
    * assembly, and the open and read costs of the index. */
  private def layerSplit(spark: SparkSession, path: String, qs: Seq[String],
      spans: Spans): Seq[(String, Double)] = {
    val vectors = VectorIndex.readVectors(spark, path).persist()
    vectors.count()
    val uids = vectors.withColumn("_uid", concat_ws("\u0000", col("source"), col("chunk_index")))
    val embedMs, topkMs, assembleMs = ArrayBuffer.empty[Double]
    var empty = 0
    qs.foreach { q =>
      val (qv, e) = Main.timed(spans("embed.question")(EmbedOps.embedLiteral(q)))
      val hits: DataFrame = Knn.topKWithFetch(uids, qv, K, idCol = "_uid",
        fetchCols = Seq("id", "source", "chunk_index", "text")).drop("_uid").cache()
      val (rows, t) = Main.timed(spans("query.topk")(hits.collect()))
      if (rows.isEmpty) empty += 1
      else assembleMs += Main.timed(spans("query.assemble")(Knn.assembleContext(hits).head()))._2 * 1000
      hits.unpersist(blocking = true)
      embedMs += e * 1000
      topkMs += t * 1000
    }
    vectors.unpersist(blocking = true)
    val openMs = (1 to 3).map { i =>
      Main.timed(spans("index.open") {
        val s = Graft.open(spark, path)
        try s.ask(qs(i)) finally s.close()
      })._2 * 1000
    }
    val readMs = (1 to 3).map { _ =>
      Main.timed(spans("index.read") {
        VectorIndex.readManifest(spark, path)
        VectorIndex.readVectors(spark, path)
      })._2 * 1000
    }
    Seq(
      "embed.question_ms" -> Stats.median(embedMs.toSeq),
      "query.topk_ms" -> Stats.median(topkMs.toSeq),
      "query.assemble_ms" -> (if (assembleMs.isEmpty) 0.0 else Stats.median(assembleMs.toSeq)),
      "query.empty_frac" -> empty.toDouble / qs.size,
      "index.open_ms" -> Stats.median(openMs),
      "index.read_ms" -> Stats.median(readMs))
  }
}
