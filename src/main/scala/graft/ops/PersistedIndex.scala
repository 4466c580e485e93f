package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle every persisted-index family shares — the reference
  * grows its one store in place (`collection.add` into ChromaDB's
  * HNSW index, `index.py:432-449`); each family here instead builds
  * a generation, appends segments to it, and periodically folds the
  * segments into a FRESH generation the caller swaps to by pointer
  * (retired generations go through [[Maintenance.vacuumGenerations]]
  * / [[Maintenance.vacuumGenerationTables]]).
  *
  * A family owns its build, its append-row derivation, its search and
  * (where compaction is more than a plain rewrite) its fold; this
  * module owns the decisions they all share: how a layout is
  * measured, when to compact, how a generation is rewritten, how an
  * append stays idempotent, and the format stamp every consumer
  * checks. */
object PersistedIndex {

  /** How an index's rows sit on disk — what [[maintain]] measures and
    * [[compact]] rewrites. `threshold` is the merge policy's default
    * trigger: data files per measured unit (the whole flat table, one
    * cell, one bucket) or, for segments, the segment count. */
  sealed abstract class Layout(val threshold: Int)

  /** A flat parquet dir `<root>/<data>` (PQ and SQ codes). Every
    * search scans the whole table, so the tax of accumulated append
    * files is per query. */
  final case class Flat(data: String) extends Layout(64)

  /** A `cluster=`-partitioned parquet dir `<root>/<data>` (IVF
    * vectors, IVF-PQ codes). Every append adds ≥ 1 file to each cell
    * it touches, and a probe opens and merge-reads each probed cell's
    * files. */
  final case class Cells(data: String) extends Layout(16)

  /** A catalog table bucketed on `key` into [[Dedup.BandIndexBuckets]]
    * buckets (substring, maximal and band indexes). Every append adds
    * one file per bucket it touches, and a probe opens each. */
  final case class Bucketed(key: String) extends Layout(16)

  /** Graph `shard=N` segment dirs at the root. Every segment's graph
    * answers every query (the Lucene many-small-segments tax), so the
    * policy bounds the segment count. */
  case object Segments extends Layout(64)

  /** Format version of the directory families' stamp. Bump it when a
    * family's stored encoding changes. */
  val DirFormatVersion = 1

  /** One persisted-index family.
    *  - `name` identifies the family in its stamp and in errors.
    *  - `version` is the format this engine reads and writes; catalog
    *    families carry [[Dedup.IndexFormatVersion]].
    *  - `sidecars` are the root-relative dirs of frozen state
    *    (codebooks, centroids) that ride every generation byte-verbatim.
    *  - `fold` rewrites the stored rows on compaction of a cell,
    *    bucketed or segment layout (a flat layout is the plain
    *    size-derived [[Maintenance.compactParquet]] rewrite).
    *  - `companions` rebuilds tables derived from a freshly written
    *    generation (the band index's `_counts`). */
  final case class Family(
      name: String,
      layout: Layout,
      version: Int = DirFormatVersion,
      sidecars: Seq[String] = Nil,
      fold: DataFrame => DataFrame = identity,
      companions: (SparkSession, String) => Unit = (_, _) => ())

  private val CellCol = "cluster"
  private val ShardCol = "shard"
  private val FormatProperty = "graft.index.format"
  /** Stamp file at a directory index's root: underscore-prefixed, so
    * Spark's listing never reads it as data. */
  private[graft] val StampFile = "_graft_index_format"

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def tableId(s: SparkSession, table: String) =
    s.sessionState.catalog.qualifyIdentifier(
      s.sessionState.sqlParser.parseTableIdentifier(table))

  private def stampValue(family: Family): String = family.layout match {
    case Bucketed(_) => family.version.toString
    case _ => s"${family.name}:${family.version}"
  }

  /** Record `family`'s format on a freshly written generation — the
    * last step of every build and compaction. */
  private[ops] def stamp(s: SparkSession, family: Family, root: String): Unit =
    family.layout match {
      case Bucketed(_) =>
        s.sql(s"ALTER TABLE $root SET TBLPROPERTIES ('$FormatProperty' = '${stampValue(family)}')")
      case _ =>
        val out = fsOf(s, path(root)).create(path(s"$root/$StampFile"), /* overwrite = */ true)
        try out.write(stampValue(family).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }

  private def readStamp(s: SparkSession, family: Family, root: String): Option[String] =
    family.layout match {
      case Bucketed(_) =>
        s.sessionState.catalog.getTableMetadata(tableId(s, root)).properties.get(FormatProperty)
      case _ =>
        val p = path(s"$root/$StampFile")
        val fs = fsOf(s, p)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        }
    }

  /** Refuse a generation this engine did not write in its current
    * format. A stale generation (written before a key-derivation
    * change such as the split-parity fix) or a foreign one would
    * otherwise mismatch quietly; the remedy is a rebuild. Every
    * append, compaction and indexed search calls this. */
  def requireFormat(s: SparkSession, family: Family, root: String): Unit = {
    val got = readStamp(s, family, root)
    require(got.contains(stampValue(family)),
      s"${family.name} index $root is format ${got.getOrElse("<unstamped>")} but this " +
        s"engine reads and writes format ${stampValue(family)} — its stored keys may " +
        "not match this engine's derivation, so reading it could mismatch quietly; " +
        "rebuild the index instead of reading a stale or foreign generation")
  }

  /** `saveAsTable(Overwrite)` on a name NOT in this session's catalog
    * is a CREATE, and a managed-table CREATE refuses a stale nonempty
    * location left by a PREVIOUS session's build (an in-memory
    * catalog forgets its tables at JVM exit, but the warehouse
    * directory survives). Overwrite semantics across sessions: if the
    * name is registered, the writer's own overwrite handles it; if
    * not, clear the stale managed location first. */
  private[ops] def prepareManagedOverwrite(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val loc = path(s.sessionState.catalog.defaultTablePath(
        s.sessionState.sqlParser.parseTableIdentifier(table)).toString)
      val fs = fsOf(s, loc)
      if (fs.exists(loc)) fs.delete(loc, /* recursive = */ true)
    }

  /** Write `rows` as a bucketed table on `key`. The repartition
    * aligns the write parallelism with the bucket count: repartition
    * and bucketBy share Murmur3 HashPartitioning, so every task holds
    * exactly one bucket and the layout lands as ONE file per bucket
    * at ANY cluster parallelism (an unaligned shuffle count writes up
    * to tasks × buckets files). Unstamped — the caller stamps last. */
  private[ops] def writeBucketed(rows: DataFrame, key: String, table: String): Unit = {
    prepareManagedOverwrite(rows.sparkSession, table)
    rows.repartition(Dedup.BandIndexBuckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(Dedup.BandIndexBuckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** The directory a layout's data files live in. */
  private def dataDir(s: SparkSession, family: Family, root: String): String =
    family.layout match {
      case Flat(data) => s"$root/$data"
      case Cells(data) => s"$root/$data"
      // resolved through the catalog API — string-parsing DESCRIBE
      // output breaks silently across metastore formats, and a silent
      // mis-parse here would disable compaction forever
      case Bucketed(_) =>
        s.sessionState.catalog.getTableMetadata(tableId(s, root)).location.toString
      case Segments => root
    }

  /** (data files or segments, measured units) — metadata-only
    * listings, no data read. */
  private def measure(s: SparkSession, family: Family, dir: String): (Long, Long) =
    family.layout match {
      case Flat(_) => (Maintenance.parquetFileCount(s, dir), 1L)
      case Cells(_) => Maintenance.partitionedFileStats(s, dir, CellCol)
      case Bucketed(_) => (Maintenance.parquetFileCount(s, dir), Dedup.BandIndexBuckets.toLong)
      case Segments =>
        val p = path(dir)
        (fsOf(s, p).listStatus(p)
          .count(st => st.isDirectory && st.getPath.getName.startsWith(s"$ShardCol=")).toLong, 1L)
    }

  /** The merge policy: one metadata-cheap measure of `in`'s layout;
    * past the layout's default [[Layout.threshold]] the index is
    * compacted into `out`. Returns true when a new generation was
    * written — the caller then swaps its live pointer to `out` and
    * retires `in` once in-flight reads drain. */
  def maintain(s: SparkSession, family: Family, in: String, out: String): Boolean =
    maintain(s, family, in, out, family.layout.threshold)

  /** [[maintain]] with an explicit `threshold`. The decision reads
    * listings only — no format check — so a zero-row index of any
    * provenance is a no-op. */
  def maintain(
      s: SparkSession, family: Family, in: String, out: String, threshold: Int): Boolean = {
    val dir = dataDir(s, family, in)
    val (n, units) = measure(s, family, dir)
    if (n == 0) {
      // a zero-row committed write (bucketed and partitioned writers
      // emit no data files for no rows, only the marker) is a VALID
      // empty index → no-op; a missing or relocated layout fails
      // loudly, since a silent 0 would disable compaction forever
      require(fsOf(s, path(dir)).exists(path(s"$dir/_SUCCESS")),
        s"${family.name} index $in at $dir lists no data and no _SUCCESS marker — " +
          "layout changed? refusing to silently skip compaction")
      false
    } else if (n > threshold.toLong * units) {
      compact(s, family, in, out)
      true
    } else false
  }

  /** Rewrite `in` into a fresh generation at `out`: the layout's
    * rewrite of the family's folded rows, sidecars copied
    * byte-verbatim (frozen quantizers stay frozen — compaction is file
    * maintenance, never a retrain), companions rebuilt, format
    * stamped. Never in place: an overwrite deletes its target before
    * the lazy read of the input runs, and the old generation must stay
    * queryable until the caller swaps its pointer. */
  def compact(s: SparkSession, family: Family, in: String, out: String): Unit = {
    val same = family.layout match {
      case Bucketed(_) => tableId(s, in) == tableId(s, out)
      case _ =>
        val (pi, po) = (path(in), path(out))
        fsOf(s, pi).makeQualified(pi) == fsOf(s, po).makeQualified(po)
    }
    require(!same, s"compaction output must differ from its input $in — " +
      "a generation is never rewritten in place")
    requireFormat(s, family, in)
    family.layout match {
      case Flat(data) => Maintenance.compactParquet(s, s"$in/$data", s"$out/$data")
      case Cells(data) =>
        family.fold(s.read.parquet(s"$in/$data"))
          .repartition(col(CellCol)) // one file per cell
          .write.mode(SaveMode.Overwrite).partitionBy(CellCol).parquet(s"$out/$data")
      case Bucketed(key) => writeBucketed(family.fold(s.table(in)), key, out)
      case Segments =>
        family.fold(s.read.parquet(in))
          .write.mode(SaveMode.Overwrite).partitionBy(ShardCol).parquet(out)
    }
    family.sidecars.foreach(d => Maintenance.copySidecar(s, s"$in/$d", s"$out/$d"))
    family.companions(s, out)
    stamp(s, family, out)
  }

  /** Append a batch's derived `rows` to the generation at `root`.
    *
    * `dedupeExisting = false` (default): caller contract is that the
    * batch's `vec_id`s are new — an at-least-once replay duplicates
    * rows. `dedupeExisting = true` (flat and cell layouts): anti-join
    * against the existing `vec_id`s first, so a replayed or
    * partially-applied batch CONVERGES instead of duplicating. On a
    * cell layout the scan is pruned to the batch's own cells (a
    * replayed row's prior copy lives in the same cell under the
    * frozen centroids). Bucketed appends are membership-safe without
    * it (probes semi-join or min-fold across segments). */
  def append(
      s: SparkSession, family: Family, root: String, rows: DataFrame,
      dedupeExisting: Boolean = false): Unit = {
    requireFormat(s, family, root)
    def fresh(existing: => DataFrame) =
      if (dedupeExisting) rows.join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
      else rows
    family.layout match {
      case Flat(data) =>
        val dir = s"$root/$data"
        fresh(s.read.parquet(dir)).write.mode(SaveMode.Append).parquet(dir)
      case Cells(data) =>
        val dir = s"$root/$data"
        fresh {
          val cells = rows.select(col(CellCol)).distinct()
            .collect().map(_.getInt(0)).toSeq // bounded by K
          s.read.parquet(dir).filter(col(CellCol).isin(cells: _*))
        }.write.mode(SaveMode.Append).partitionBy(CellCol).parquet(dir)
      case Bucketed(key) =>
        require(!dedupeExisting, s"${family.name} appends are membership-safe; no dedupe")
        rows.repartition(Dedup.BandIndexBuckets, col(key))
          .write.mode(SaveMode.Append).insertInto(root)
      case Segments =>
        require(!dedupeExisting, s"${family.name} appends are idempotent by segment tag")
        rows.write.mode(SaveMode.Append).partitionBy(ShardCol).parquet(root)
    }
  }
}
