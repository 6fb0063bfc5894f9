package graft.domain

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.UUID

/** Content-addressed materialisation — the Spark analog of the
  * reference's shared disk cache (dqa/shared_cache.py:46-131), whose
  * cache keys are an md5 of the memoized function's *source code* so any
  * logic change invalidates the entry.
  *
  * Here the invalidation key is the canonicalized logical plan (what the
  * computation IS, post-analysis) plus the result schema: same plan →
  * parquet re-read, changed plan → recompute under a new path. Works on
  * any Hadoop filesystem (local, HDFS, S3A), so the cluster posture is
  * the same as the reference's S3-synced cache but without the
  * download/upload choreography — executors read the materialised
  * parquet directly.
  *
  * Concurrent writers: each writer builds into a private temp dir under
  * the cache root and publishes with a single rename, so a reader can
  * never observe a half-written entry and two racing writers cannot
  * interleave files. The loser of a publish race deletes its temp copy
  * and reads the winner's — acceptable because entries are
  * content-addressed (both writers computed the same thing). On object
  * stores where rename is copy-not-atomic (raw S3A), this degrades to
  * the idempotent double-write, which is still correct for the same
  * reason.
  */
object SharedCache {

  /** Default cache root shared by all cached stages in this process —
    * override per-call for cluster deployments (HDFS/S3A path).
    *
    * The root is PER-PROCESS (pid suffix): the harness mains (Verify,
    * Bench, tools.Probe, tools.Scale) each start with
    * [[clear]] for hermeticity, and with a machine-global path a
    * concurrently running second harness would wipe the first one's
    * entries mid-run — observed as cache-backed queries silently
    * re-building inside a bench warm pass. Entries are content-addressed, so sharing across
    * processes was only ever an optimisation; isolation is worth more.
    * A cluster deployment overrides per-call with a durable shared path
    * and does NOT delete it at startup.
    */
  def defaultRoot: String = {
    val pid = ProcessHandle.current().pid()
    s"${System.getProperty("java.io.tmpdir")}/graft_shared_cache_$pid"
  }

  /** Deletes [[defaultRoot]], so the next cached stage builds from
    * scratch and no earlier run's entries reach this one. The readers
    * memoised over its entries go too: a rebuilt entry has new part
    * files, and a kept reader would list the deleted ones.
    */
  def clear(spark: SparkSession): Unit = {
    val root = new Path(defaultRoot)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    graft.Tables.relationCache.keySet.removeIf(
      (k: (SparkSession, String)) => k._2.startsWith(s"$defaultRoot/"))
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Cache key derived from the dataframe's canonicalized analyzed plan —
    * the "hash of the source" analog: any change to the lineage (inputs,
    * filters, expressions) yields a new key.
    *
    * The canonicalized plan STRING alone is not enough: a file relation
    * prints as `Relation [schema] parquet` with no path, so two reads of
    * identically-shaped tables from different directories (e.g. two
    * scale factors) would collide — observed as a poisoned connected-
    * components cache serving sf0.1 results to an sf0.01 run. The leaf
    * relations' root paths are folded into the key explicitly.
    */
  def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val leafIds = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.table.name
      case leaf => leaf.toString
    }
    md5Hex(plan.canonicalized.toString + "\u0000" + leafIds.mkString("\u0000"))
  }

  /** Build into a temp dir, publish via rename iff the destination is
    * still absent; otherwise discard — some other writer won the race
    * with an identical (content-addressed) result.
    */
  private def writePublished(df: => DataFrame, fs: FileSystem,
      dest: Path): Unit = {
    // a dest without _SUCCESS is a crashed publish (or a pre-atomic-
    // layout leftover) — clear it so the fresh copy can land, else the
    // poisoned entry would be served forever. If a racing writer
    // completes dest between this check and the delete, the delete
    // discards a complete-but-identical entry (content-addressed) and
    // this writer's publish restores it.
    if (fs.exists(dest) && !fs.exists(new Path(dest, "_SUCCESS")))
      fs.delete(dest, true)
    val tmp = new Path(dest.getParent,
      s".tmp-${dest.getName}-${UUID.randomUUID().toString.take(8)}")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(dest) || !fs.rename(tmp, dest)) fs.delete(tmp, true)
    // Hadoop rename nests src under dest when dest was created between
    // the exists check and the rename — remove any such stray child.
    val stray = new Path(dest, tmp.getName)
    if (fs.exists(stray)) fs.delete(stray, true)
  }

  private def getOrBuild(spark: SparkSession, dir: String)
      (build: => DataFrame): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path, "_SUCCESS")))
      writePublished(build, fs, path)
    // memoise the RESOLVED reader in the bounded memo graft.Tables uses
    // for base tables (metadata only — schema + file index; data is still read per
    // action): a bare spark.read.parquet re-runs parquet schema inference
    // (a footer-reading job) on every consumer call, and cache-composed
    // queries touch 1-3 entries per call. Safe because an entry is
    // immutable once _SUCCESS exists (content-addressed; roots are
    // per-process), and the memo is only populated after that check.
    graft.Tables.memo(spark, dir)
  }

  /** Write `df` as parquet under `root/<name>-<key>` unless that path is
    * already complete (`_SUCCESS` marker), then return a reader over the
    * materialised copy. Callers pass `planKey(df)` (default) for
    * source-hash semantics, or a fixed key for explicit versioning.
    */
  def materialise(df: DataFrame, root: String, name: String,
      key: Option[String] = None): DataFrame = {
    val k = key.getOrElse(planKey(df))
    getOrBuild(df.sparkSession, s"$root/$name-${k.take(16)}")(df)
  }

  /** By-name variant for stages whose CONSTRUCTION is itself expensive
    * (iterative algorithms like connected components run jobs while the
    * frame is being built): on a cache hit the builder never executes.
    * `key` must encode everything the result depends on — inputs plus a
    * logic version tag — exactly the reference's source-hash contract
    * (the caller bumps the tag when the stage's logic changes).
    */
  def materialiseWith(spark: SparkSession, root: String, name: String,
      key: String)(build: => DataFrame): DataFrame =
    getOrBuild(spark, s"$root/$name-${md5Hex(key).take(16)}")(build)
}
