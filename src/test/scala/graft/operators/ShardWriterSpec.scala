package graft.operators

import graft.SparkSpec

/** q78: the shard writer must write one parquet directory per output
  * shard, and the oracle-checked manifest must account for every packed
  * window — deterministically across runs.
  */
class ShardWriterSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private lazy val shardRoot =
    java.nio.file.Files.createTempDirectory("graft_q78_spec").toString

  private def withShardDir[A](f: => A): A = {
    val prev = spark.conf.getOption("graft.shards.dir")
    spark.conf.set("graft.shards.dir", shardRoot)
    try f finally prev match {
      case Some(p) => spark.conf.set("graft.shards.dir", p)
      case None => spark.conf.unset("graft.shards.dir")
    }
  }

  test("q78 manifest accounts for every packed window and shard dirs exist") {
    val manifest = withShardDir { Curation.q78ShardManifest(spark, dir).collect() }
    val packed = Curation.q74SequencePacking(spark, dir).collect()
    assert(manifest.nonEmpty)
    assert(manifest.map(_.getAs[Long]("n_windows")).sum == packed.length,
      "manifest window count != packed window count")
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum ==
      packed.map(_.getAs[Long]("win_tokens")).sum,
      "manifest token count != packed token count")
    assert(manifest.forall { r =>
      val s = r.getAs[Int]("out_shard"); s >= 0 && s < Curation.OutShards
    })
    // the write really happened: one out_shard=N directory per manifest
    // row, under the ShardPaths-resolved (per-query-namespaced) root
    val outDir = withShardDir {
      graft.sources.ShardPaths.resolve(spark, "q78", dir)
    }
    assert(outDir.startsWith("file:") && outDir.contains("/q78_"),
      s"q78 root not namespaced/qualified: $outDir")
    manifest.foreach { r =>
      val d = new java.io.File(new java.net.URI(outDir).getPath,
        s"out_shard=${r.getAs[Int]("out_shard")}")
      assert(d.isDirectory, s"missing shard directory $d")
    }
  }

  test("q78 manifest is deterministic across runs") {
    val a = withShardDir { Curation.q78ShardManifest(spark, dir).collect() }
    val b = withShardDir { Curation.q78ShardManifest(spark, dir).collect() }
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }
}
