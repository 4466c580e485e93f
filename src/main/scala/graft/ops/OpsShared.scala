package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small helpers shared across the vector-operator family — single
  * definitions for logic that was previously copy-pasted per op
  * (fingerprint memo keys, the degenerate-query lookup, driver-side
  * centroid ranking). */
object OpsShared {

  /** Session-memo key for a fixture directory: path + a cheap file
    * fingerprint of the backing table, so overwriting a dir inside
    * one JVM invalidates any memo keyed on it instead of silently
    * serving stale results. Non-local filesystems fall back to
    * path-only keying (immutable-ingest assumption). */
  def dirKey(dir: String, table: String = "embeddings"): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val fp =
      if (!root.exists()) "remote"
      else filesFingerprint(Option(root.listFiles()).getOrElse(Array(root)).toSeq)
    s"$dir#$fp"
  }

  /** `name:length:mtime` of each file, name-sorted — the cheap change
    * fingerprint behind every file-keyed memo. The FULL string is the
    * key: a 32-bit hash of it collides whenever a rewrite swaps
    * equal-hash names (`Aa.parquet` ↔ `BB.parquet` at the same size
    * and mtime), and the memo would serve a stale fit. */
  def filesFingerprint(files: Seq[java.io.File]): String =
    files.sortBy(_.getName).map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")

  /** The 1-row query-vector lookup every ANN query starts with:
    * `Some(vector)` when the [[VectorQueries.QueryVecId]] row exists
    * and is not all-zero, `None` otherwise — the family-wide
    * degenerate-query convention (missing/zero query → EMPTY result,
    * matching the oracles' empty/NaN-filtered q side). */
  def queryVec(s: SparkSession, dir: String): Option[Array[Float]] =
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))

  /** Eagerly free the executor blocks behind a `localCheckpoint`'d
    * frame. Checkpoint storage is otherwise released only when the
    * ContextCleaner notices the plan is garbage — fine for one result
    * frame, but an iterative loop (label propagation) that leaves
    * every superseded round's blocks to chance accumulates storage
    * across a long session (88-query bench + tri-scale verify in one
    * JVM). Call ONLY on frames whose data has been fully superseded —
    * a released local checkpoint cannot be recomputed. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => () // not a checkpoint frame — nothing to free
    }

  /** Build two INDEPENDENT relation chains from concurrent driver
    * threads so their eager work (localCheckpoint materializations,
    * memoized fits) overlaps instead of serializing — the
    * [[Maintenance.ensureOpsIndexes]] device generalized (guide §2.6
    * overlap-independent-jobs: actions are only sequential because
    * the driver calls them sequentially). Use ONLY when the two
    * thunks share no mutable state and neither reads the other's
    * output; failures propagate (unwrapped from the pool's
    * ExecutionException) exactly as if the thunks ran inline.
    *
    * Thread-local inheritance requirement: the pool is created fresh
    * PER CALL so its two threads are spawned at submit time from the
    * calling thread — Spark's InheritableThreadLocals (active
    * session, job-group/job-description local properties) propagate
    * only at thread creation. Refactoring to a shared/cached pool
    * would silently detach the thunks' Spark jobs from the caller's
    * session properties; keep per-call pools. */
  def concurrently[A, B](fa: => A, fb: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val ja = pool.submit(new java.util.concurrent.Callable[A] { def call(): A = fa })
      val jb = pool.submit(new java.util.concurrent.Callable[B] { def call(): B = fb })
      def get[T](f: java.util.concurrent.Future[T]): T =
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // one thunk failed: cancel the sibling and WAIT for it to
            // exit before rethrowing, so its Spark job (and any
            // eagerly-materialized localCheckpoint blocks it would
            // orphan) does not keep running with no owner
            ja.cancel(true); jb.cancel(true)
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw Option(e.getCause).getOrElse(e)
        }
      (get(ja), get(jb))
    } finally pool.shutdown()
  }

  /** Driver-side double cosine distance of a centroid against the
    * query — the probe-ranking metric (sequential fold; ties broken
    * by the caller's stable sort on centroid id). */
  def cosineDistTo(q: Array[Float], c: Array[Double]): Double = {
    var dotp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length) {
      dotp += c(i) * q(i); na += c(i) * c(i); nb += q(i).toDouble * q(i); i += 1
    }
    1.0 - dotp / (math.sqrt(na) * math.sqrt(nb))
  }
}
