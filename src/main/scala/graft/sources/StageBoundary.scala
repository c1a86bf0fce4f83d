package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Persisted stage boundaries: the production form of an in-plan
  * `.cache()` cut-point. A multi-consumer intermediate (a
  * decontaminated sample, a mixture-filtered survivor set) is written
  * to storage ONCE PER DATASET and read back by every consumer — in
  * any session — instead of being re-materialized into executor memory
  * once per session. At 100 TB a pipeline checkpoints these boundaries
  * anyway (executor memory cannot hold a corpus-sized intermediate,
  * and a session restart must not re-run upstream stages); `.cache()`
  * is the single-session approximation. This helper makes the real
  * thing the default for the heavy cut-points (q82's curation stages).
  *
  * Layout: `<shards base>/<query>_<md5(dir)>/fp_<fingerprint>` where
  * the fingerprint hashes the input directory's recursive file listing
  * (path, length, modification time). Any file add, remove, resize, or
  * rewrite changes the fingerprint, so a stale boundary cannot answer
  * for fresh data — the correctness gate (Verify) stays sound with
  * zero cross-run coordination. (The one blind spot: an in-place
  * same-size rewrite within the filesystem's mtime granularity —
  * ~1 s on many local FS — is invisible to a metadata-only key;
  * regenerated-fixture workflows should delete-then-write.) Older fingerprints under the same query
  * root are deleted best-effort after a successful publish, bounding
  * disk to one boundary per (query, dataset).
  *
  * Writes are atomic: build into a PER-ATTEMPT unique tmp dir
  * (`<dest>__tmp_<uuid>` — a shared literal tmp let concurrent
  * builders of the same fingerprint clobber each other's in-progress
  * write and publish a partial directory), verify the tmp's own
  * `_SUCCESS` marker, then FS rename into place (a failure mid-write
  * must not leave a half boundary that later reads serve silently).
  * A concurrent builder losing the rename race waits for the winner's
  * `_SUCCESS` before reading. Superseded fingerprints are deleted
  * AFTER a successful publish — a concurrent session still scanning
  * an old fingerprint keeps its files until the new boundary exists,
  * and a failed rename never destroys the only good boundary.
  *
  * Schema record: the build writes the schema its published files read
  * back with (`_graft_schema.json`, next to the part files; the leading
  * underscore keeps it out of Spark's file listing) into the tmp dir
  * BEFORE the rename, so every published boundary carries it. A hit
  * reads the boundary with that schema instead of inferring one from
  * the parquet footers — inference runs a Spark job per read, which
  * made a hit cost ~0.1 s on a small boundary; a hit now runs no job
  * at all. The schema travels with the files it describes, so it
  * cannot go stale against them. A boundary published before the
  * record existed falls back to inference.
  */
object StageBoundary {

  private val SchemaFile = "_graft_schema.json"

  /** Read the boundary for (query, dir) if one exists for the CURRENT
    * input fingerprint; otherwise build, persist atomically, and read
    * back. `build` is by-name — never evaluated on a fingerprint hit,
    * and a hit runs no Spark job (the read uses the recorded schema).
    */
  def apply(spark: SparkSession, query: String, dir: String)
           (build: => DataFrame): DataFrame = {
    val root = new Path(ShardPaths.resolve(spark, query, dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dest = new Path(root, s"fp_${fingerprint(spark, dir)}")
    val marker = new Path(dest, "_SUCCESS")
    if (!fs.exists(marker)) {
      // per-attempt unique tmp: two builders racing the same
      // fingerprint each write their own dir, so neither can overwrite
      // the other mid-write or publish a partial directory
      val tmp = new Path(root,
        dest.getName + "__tmp_" + java.util.UUID.randomUUID().toString.take(8))
      build.write.mode("overwrite").parquet(tmp.toString)
      if (!fs.exists(new Path(tmp, "_SUCCESS")))
        throw new IllegalStateException(
          s"stage boundary write left no _SUCCESS marker: $tmp")
      // the one schema inference this boundary ever needs: recorded
      // with the files, so the rename publishes both together
      val schema = spark.read.parquet(tmp.toString).schema
      writeSchema(fs, tmp, schema)
      if (!fs.rename(tmp, dest)) {
        // lost a race to a concurrent builder — its boundary is ours
        // too, once its _SUCCESS appears (rename-then-marker is atomic
        // per attempt, but give a slow FS a bounded grace window)
        fs.delete(tmp, true)
        val deadline = System.nanoTime() + 30e9.toLong
        while (!fs.exists(marker) && System.nanoTime() < deadline)
          Thread.sleep(200)
        if (!fs.exists(marker))
          throw new IllegalStateException(s"stage boundary rename failed: $dest")
      }
      // publish first, clean up second: drop superseded PUBLISHED
      // fingerprints immediately (no reader starts on one once ours is
      // live), but age-gate every __tmp_ dir — a tmp of ANY
      // fingerprint may be another session's in-progress build
      // (deleting it mid-write fails that builder on vanished files),
      // while a tmp older than the grace window is a crashed attempt
      // (including ones for OUR fingerprint, which would otherwise
      // leak disk until the data changes).
      cleanup(fs, root, keep = dest.getName)
    }
    spark.read.schema(schemaOf(spark, fs, dest)).parquet(dest.toString)
  }

  private def writeSchema(fs: FileSystem, dir: Path, schema: StructType): Unit = {
    val out = fs.create(new Path(dir, SchemaFile), true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
  }

  /** Schema of the published boundary `dest`: read from its record,
    * else (a boundary published without one) inferred. */
  private def schemaOf(spark: SparkSession, fs: FileSystem, dest: Path): StructType = {
    val record = new Path(dest, SchemaFile)
    if (fs.exists(record)) {
      val in = fs.open(record)
      val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
      DataType.fromJson(json).asInstanceOf[StructType]
    } else spark.read.parquet(dest.toString).schema
  }

  /** Grace window before a `__tmp_` dir is presumed crashed. A live
    * builder keeps writing part files SOMEWHERE under its tmp (in
    * `_temporary/` subdirs — see [[maxMtime]]), so a recursive max
    * mtime this stale means no writer survives; 1 h is far beyond any
    * boundary build here (seconds) while still reclaiming crashed
    * attempts within the session's lifetime.
    */
  private val tmpGraceMs: Long = 60L * 60 * 1000

  /** Newest modification time anywhere under `p` (the path itself or
    * any descendant). Spark stages part files under
    * `_temporary/<attempt>/...` SUBDIRECTORIES, so the top-level tmp
    * dir's own mtime stops moving once those exist — liveness must be
    * judged from the deepest recent write, or a slow build older than
    * the grace window would be swept mid-write by a concurrent
    * session. */
  private def maxMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else fs.listStatus(p).foldLeft(st.getModificationTime) { (m, c) =>
      math.max(m, maxMtime(fs, c.getPath))
    }
  }

  /** Post-publish sweep: delete superseded published fingerprints
    * unconditionally, and any `__tmp_` attempt dir (any fingerprint,
    * including `keep`'s own crashed attempts) whose RECURSIVE max
    * mtime is older than [[tmpGraceMs]] — a live builder's in-flight
    * part files keep refreshing some descendant's mtime even when the
    * top-level dir's is stale. Exposed for StageBoundarySpec.
    */
  private[sources] def cleanup(fs: org.apache.hadoop.fs.FileSystem,
                               root: Path, keep: String): Unit =
    if (fs.exists(root)) {
      val now = System.currentTimeMillis()
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val isTmp = n.contains("__tmp_")
        val doomed =
          if (isTmp)
            (try now - maxMtime(fs, st.getPath) > tmpGraceMs
             catch { case _: java.io.FileNotFoundException => false })
          else n.startsWith("fp_") && n != keep
        // best-effort: this runs after our boundary is published, so a
        // failed sweep (a dir another session is deleting or still
        // holds open) only delays reclaiming disk until the next
        // publish — it must not fail a read whose data is already live
        if (doomed)
          try fs.delete(st.getPath, true) catch { case _: java.io.IOException => }
      }
    }

  /** Hash of the input dir's recursive (path, length, mtime) listing —
    * metadata-only (one FS listing, no data read), changes whenever any
    * input file is added, removed, resized, or rewritten.
    */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(d: Path): Unit =
      fs.listStatus(d).sortBy(_.getPath.toString).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else md.update(
          s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n".getBytes("UTF-8"))
      }
    walk(p)
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
