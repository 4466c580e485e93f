package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Zipf-skewed vocabulary shared by the corpus and the questions, so
  * questions hit the words the index actually holds. */
final class Vocab(seed: Long, size: Int = 3000, s: Double = 1.1) {
  private val rnd = new Random(seed)
  private val syllables = Array("ka", "lo", "re", "mi", "tan", "vor", "shi", "el",
    "pra", "dun", "qu", "ix", "ost", "ne", "bal", "zu", "fer", "gal", "ho", "ty")
  private val logWords = Array("error", "timeout", "connection", "pool", "exhausted",
    "retry", "failed", "request", "user", "session", "cache", "miss", "disk",
    "latency", "queue", "worker", "shutdown", "started", "socket", "refused")
  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    logWords.foreach(seen += _)
    while (seen.size < size)
      seen += (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.length))).mkString
    seen.toArray
  }
  private val cdf: Array[Double] = {
    val w = words.indices.map(r => 1.0 / math.pow(r + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def draw(r: Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
  }
}

/** What the sniff and the pruned-directory rule should do with a file. */
sealed abstract class FileKind(val accepted: Boolean)
object FileKind {
  case object Utf8 extends FileKind(true)
  case object Latin1 extends FileKind(true)
  case object Binary extends FileKind(false)
  case object Pruned extends FileKind(false)
}

final case class CorpusFile(rel: String, kind: FileKind, bytes: Long, chunks: Long)

/** A generated log corpus on disk with the facts the checks need. */
final case class Corpus(dir: Path, files: Seq[CorpusFile], codes: Seq[Int]) {
  def totalBytes: Long = files.map(_.bytes).sum
  def accepted: Seq[CorpusFile] = files.filter(_.kind.accepted)
  def expectedChunks: Long = accepted.map(_.chunks).sum
}

/** Seeded log-corpus writer.
  *
  * Properties the ingest path depends on, each varied on purpose:
  *  - file count and size: sizes are log-uniform over 2 KB..256 KB;
  *  - line length: 20..300 chars, plus one line longer than the chunk
  *    size in about one file in eight (an oversize single-line chunk);
  *  - about 5% NUL-byte binaries, which the sniff rejects;
  *  - about 5% of files under `node_modules/`, which the scan prunes;
  *  - about 5% latin1 files (invalid UTF-8), decoded by the fallback;
  *  - the same basenames in sibling directories, so chunk ids collide
  *    and only `(source, chunk_index)` is unique. */
object Corpus {
  private val Dirs = Array("app", "db", "web", "auth", "cache", "queue", "worker", "api",
    "app/v1", "db/replica")
  private val Basenames = Array("server.log", "server.log.1", "access.log", "error.log",
    "worker.log", "gc.log", "audit.log", "debug.log")
  private val Levels = Array("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")

  def write(dir: Path, seed: Long, vocab: Vocab, targetBytes: Long, chunkSize: Int): Corpus = {
    val r = new Random(seed)
    Files.createDirectories(dir)
    val files = ArrayBuffer.empty[CorpusFile]
    val codes = scala.collection.mutable.TreeSet.empty[Int]
    var total = 0L
    var n = 0
    while (total < targetBytes) {
      val size = math.exp(math.log(2048) + r.nextDouble() * math.log(128)).toInt
      val roll = r.nextDouble()
      val kind =
        if (roll < 0.05) FileKind.Binary
        else if (roll < 0.10) FileKind.Pruned
        else if (roll < 0.15) FileKind.Latin1
        else FileKind.Utf8
      val base = Basenames(r.nextInt(Basenames.length))
      val rel = kind match {
        case FileKind.Binary => s"${Dirs(r.nextInt(Dirs.length))}/blob-$n.bin"
        case FileKind.Pruned => s"web/node_modules/pkg$n/$base"
        case _ => s"${Dirs(r.nextInt(Dirs.length))}/f$n/$base"
      }
      val bytes = kind match {
        case FileKind.Binary =>
          val b = new Array[Byte](size)
          r.nextBytes(b)
          b(r.nextInt(math.min(size, 8192))) = 0
          b
        case FileKind.Latin1 => logText(r, vocab, size, codes, latin1 = true)
          .getBytes(StandardCharsets.ISO_8859_1)
        case _ => logText(r, vocab, size, codes, latin1 = false)
          .getBytes(StandardCharsets.UTF_8)
      }
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      val chunks = kind match {
        case FileKind.Utf8 => packedChunks(new String(bytes, StandardCharsets.UTF_8), chunkSize)
        case FileKind.Latin1 => packedChunks(new String(bytes, StandardCharsets.ISO_8859_1), chunkSize)
        case _ => 0L
      }
      files += CorpusFile(rel, kind, bytes.length.toLong, chunks)
      total += bytes.length
      n += 1
    }
    Corpus(dir, files.toSeq, codes.toSeq)
  }

  private def logText(r: Random, vocab: Vocab, size: Int,
      codes: scala.collection.mutable.Set[Int], latin1: Boolean): String = {
    val sb = new StringBuilder
    var sec = r.nextInt(86400)
    val oversizeAt = if (r.nextInt(8) == 0) r.nextInt(math.max(1, size / 2)) else -1
    while (sb.length < size) {
      sec += r.nextInt(5)
      sb.append(f"2024-03-01T${sec / 3600 % 24}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d ")
        .append(Levels(r.nextInt(Levels.length))).append(' ')
      val target = if (oversizeAt >= 0 && sb.length > oversizeAt && sb.length < oversizeAt + 400)
        2500 + r.nextInt(1500) else 20 + r.nextInt(280)
      val start = sb.length
      while (sb.length - start < target) {
        if (r.nextInt(60) == 0) {
          val c = 100 + r.nextInt(900)
          codes += c
          sb.append("code=").append(c)
        } else sb.append(vocab.draw(r))
        if (latin1 && r.nextInt(25) == 0) sb.append("été")
        else if (!latin1 && r.nextInt(40) == 0) sb.append("µs")
        sb.append(' ')
      }
      sb.append('\n')
    }
    sb.toString
  }

  private def isBlank(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** Independent count of the non-blank chunks a greedy line packer
    * makes: lines are added while the running size (each line counts
    * its newline) stays within `chunkSize`; a line that does not fit
    * starts a new chunk; a single line longer than `chunkSize` stands
    * alone. Chunks made only of whitespace are not indexed. */
  def packedChunks(text: String, chunkSize: Int): Long = {
    var count = 0L
    var size = 0
    var lines = 0
    var blank = true
    var lineStart = 0
    var i = 0
    while (i <= text.length) {
      if (i == text.length || text.charAt(i) == '\n') {
        val len = i - lineStart + 1
        if (lines > 0 && size + len > chunkSize) {
          if (!blank) count += 1
          size = 0; lines = 0; blank = true
        }
        size += len
        lines += 1
        var j = lineStart
        while (blank && j < i) { if (!isBlank(text.charAt(j))) blank = false; j += 1 }
        lineStart = i + 1
      }
      i += 1
    }
    if (lines > 0 && !blank) count += 1
    count
  }
}

/** Seeded question stream: 2..7 Zipf-drawn corpus words. Every tenth
  * question also carries a rare exact token (`code=NNN`) present in
  * the corpus, and every fiftieth is whitespace only, which embeds to
  * the zero vector and takes the empty-hit path. The positions are
  * fixed so every seed sends the same mix. */
object Questions {
  def apply(seed: Long, vocab: Vocab, codes: Seq[Int], n: Int): IndexedSeq[String] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val words = (1 to 2 + r.nextInt(6)).map(_ => vocab.draw(r))
      if (i % 50 == 49) Seq(" ", "  \t ", "\n")(r.nextInt(3))
      else if (i % 10 == 4 && codes.nonEmpty) (words :+ s"code=${codes(r.nextInt(codes.size))}").mkString(" ")
      else words.mkString(" ")
    }
  }
}
