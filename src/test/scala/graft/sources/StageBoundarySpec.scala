package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.SparkSpec

/** StageBoundary: the persisted cut-point behind q82's pipeline
  * stages. The contract under test: (1) the build runs ONCE per
  * dataset — a second apply over unchanged input reads the persisted
  * boundary without evaluating the build; (2) any change to the input
  * files (rewrite, add) changes the fingerprint and forces a rebuild,
  * so a stale boundary can never answer for fresh data; (3) superseded
  * fingerprints are garbage-collected, bounding disk to one boundary
  * per (query, dataset); (4) a hit runs no Spark job, and reads back
  * exactly what schema inference over the published files would.
  */
class StageBoundarySpec extends SparkSpec {

  private def freshInput(rows: Seq[Long]): String = {
    val d = Files.createTempDirectory("graft_sb_in").toString
    import spark.implicits._
    rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$d/t")
    d
  }

  /** Spark jobs started by `body` on this thread. Counted by a local
    * property tag, so jobs of anything else running on the context do
    * not count. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a hit runs no Spark job and reads back the inferred schema and rows") {
    val dir = freshInput(Seq(1L, 2L, 3L))
    val shards = Files.createTempDirectory("graft_sb_out").toString
    spark.conf.set("graft.shards.dir", shards)
    // a non-nullable literal and a nullable expression: the schema a
    // hit reads with must carry parquet's read-back nullability
    def boundary(s: SparkSession) = StageBoundary(s, "sbspec5", dir)(
      s.read.parquet(s"$dir/t").select(col("v"), lit("x").as("tag"),
        when(col("v") > 1, col("v") * 2).as("w")))
    boundary(spark)
    val (hit, jobs) = jobsDuring(boundary(spark))
    assert(jobs == 0, s"a boundary hit ran $jobs Spark job(s)")
    val dest = hit.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
      .distinct.toSeq
    assert(dest.size == 1, s"hit read more than one boundary dir: $dest")
    val inferred = spark.read.parquet(dest.head)
    assert(hit.schema == inferred.schema)
    // the build declared `tag` non-nullable; parquet reads it back
    // nullable, and the recorded schema must say what inference says
    assert(hit.schema("tag").nullable)
    assert(rows(hit) == rows(inferred))
    assert(rows(hit) == Seq("[1,x,null]", "[2,x,4]", "[3,x,6]"))

    // a fresh session reads the same on-disk schema record: still no
    // job, still the inferred schema
    val fresh = spark.newSession()
    fresh.conf.set("graft.shards.dir", shards)
    val (again, freshJobs) = jobsDuring(boundary(fresh))
    assert(freshJobs == 0, s"a hit from a fresh session ran $freshJobs Spark job(s)")
    assert(again.schema == inferred.schema)
    assert(rows(again) == rows(inferred))
  }

  test("a boundary published without a schema record still reads back") {
    val dir = freshInput(Seq(4L, 5L))
    spark.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_sb_out").toString)
    def boundary() = StageBoundary(spark, "sbspec6", dir)(
      spark.read.parquet(s"$dir/t").withColumn("w", col("v") + 1))
    val built = rows(boundary())
    val root = new org.apache.hadoop.fs.Path(
      ShardPaths.resolve(spark, "sbspec6", dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val fp = fs.listStatus(root).map(_.getPath).find(_.getName.startsWith("fp_")).get
    assert(fs.delete(new org.apache.hadoop.fs.Path(fp, "_graft_schema.json"), false))
    assert(rows(boundary()) == built)
  }

  test("build runs once per dataset; unchanged input reuses the boundary") {
    val dir = freshInput(Seq(1L, 2L, 3L))
    spark.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_sb_out").toString)
    var builds = 0
    def boundary() = StageBoundary(spark, "sbspec", dir) {
      builds += 1
      spark.read.parquet(s"$dir/t").withColumn("w", col("v") * 2)
    }
    val first = boundary().collect().map(_.getLong(1)).sorted
    assert(first.sameElements(Array(2L, 4L, 6L)))
    assert(builds == 1)
    val second = boundary().collect().map(_.getLong(1)).sorted
    assert(second.sameElements(first), "read-back drifted from the build")
    assert(builds == 1, "unchanged input must not re-evaluate the build")
  }

  test("changed input changes the fingerprint and forces a rebuild") {
    val dir = freshInput(Seq(1L, 2L))
    spark.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_sb_out").toString)
    def boundary() = StageBoundary(spark, "sbspec2", dir)(
      spark.read.parquet(s"$dir/t"))
    assert(boundary().count() == 2)
    // rewrite the input in place: same path, new listing (files change)
    import spark.implicits._
    Seq(10L, 20L, 30L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t")
    val after = boundary()
    assert(after.count() == 3, "stale boundary answered for fresh data")
    assert(after.select(sum(col("v"))).collect()(0).getLong(0) == 60L)
    // superseded fingerprint was garbage-collected: one fp_ dir remains
    val root = new org.apache.hadoop.fs.Path(
      ShardPaths.resolve(spark, "sbspec2", dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val fps = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("fp_") && !n.contains("__tmp"))
    assert(fps.length == 1, s"expected one live fingerprint, got ${fps.toSeq}")
  }

  test("tmp sweep is age-gated: fresh tmps survive, stale ones go") {
    val dir = freshInput(Seq(5L))
    spark.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_sb_out").toString)
    val root = new org.apache.hadoop.fs.Path(
      ShardPaths.resolve(spark, "sbspec3", dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // a RECENT tmp of another fingerprint may be a concurrent
    // session's in-progress build — the post-publish sweep must NOT
    // delete it (deleting a live builder's dir fails it on vanished
    // part files); only once its mtime says no writer survives is it
    // a crashed attempt to reclaim
    val live = new org.apache.hadoop.fs.Path(root, "fp_deadbeef__tmp_inflight")
    fs.mkdirs(live)
    val out = StageBoundary(spark, "sbspec3", dir)(
      spark.read.parquet(s"$dir/t"))
    assert(out.count() == 1)
    val afterPublish = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.contains("__tmp"))
    assert(afterPublish.sameElements(Array("fp_deadbeef__tmp_inflight")),
      s"fresh in-progress tmp must survive the sweep: ${afterPublish.toSeq}")
    // backdate it past the grace window, plus a crashed tmp of the
    // CURRENT fingerprint (previously leaked forever by the prefix
    // guard) — both are reclaimed by the next publish's sweep
    val fpDir = fs.listStatus(root).map(_.getPath.getName)
      .find(n => n.startsWith("fp_") && !n.contains("__tmp")).get
    val crashedSameFp = new org.apache.hadoop.fs.Path(root, fpDir + "__tmp_dead")
    fs.mkdirs(crashedSameFp)
    fs.setTimes(live, 1000L, 1000L)
    fs.setTimes(crashedSameFp, 1000L, 1000L)
    StageBoundary.cleanup(fs, root, keep = fpDir)
    val names = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("fp_"))
    assert(names.sameElements(Array(fpDir)),
      s"expected only the live boundary after the stale sweep, got ${names.toSeq}")
  }

  test("tmp liveness is the RECURSIVE max mtime, not the top-level dir's") {
    val dir = freshInput(Seq(7L))
    spark.conf.set("graft.shards.dir",
      Files.createTempDirectory("graft_sb_out").toString)
    val root = new org.apache.hadoop.fs.Path(
      ShardPaths.resolve(spark, "sbspec4", dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    // Spark writes part files under __tmp_/_temporary/<attempt>/, so a
    // long-running build's TOP-LEVEL tmp mtime goes stale while nested
    // writes keep happening — model exactly that: stale dir, fresh file
    val slow = new org.apache.hadoop.fs.Path(root, "fp_cafe__tmp_slow")
    val nested = new org.apache.hadoop.fs.Path(slow, "_temporary/0")
    fs.mkdirs(nested)
    val part = new org.apache.hadoop.fs.Path(nested, "part-00000")
    val out = fs.create(part, true); out.write(1); out.close()
    fs.setTimes(slow, 1000L, 1000L) // top-level looks crashed
    fs.setTimes(new org.apache.hadoop.fs.Path(slow, "_temporary"), 1000L, 1000L)
    StageBoundary.cleanup(fs, root, keep = "fp_other")
    assert(fs.exists(part),
      "a build with fresh nested writes was swept on its stale dir mtime")
    // once every descendant is stale too, it IS a crashed attempt
    fs.setTimes(nested, 1000L, 1000L)
    fs.setTimes(part, 1000L, 1000L)
    StageBoundary.cleanup(fs, root, keep = "fp_other")
    assert(!fs.exists(slow), "a fully-stale tmp attempt must be reclaimed")
  }
}
