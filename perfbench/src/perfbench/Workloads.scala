package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.SinkSource
import graft.streaming.EventsStreaming

/** Read-only analytics over the corpus and star schema: one query per
  * registry module, each pass in a seeded order, forced through the
  * `noop` sink. The warm pass writes every result to parquet for the
  * oracle check and builds the persisted stage boundaries. */
final class QueryBoard(spark: SparkSession, rec: Recorder, dataDir: String,
    runDir: String, seed: Long) extends Workload {
  private val fns = SparkEntry.queries
  private val shards = new File(s"$runDir/shards")

  def setup(): Unit = {
    val t = rec.now
    order(-1).foreach { case (module, name) =>
      spark.catalog.clearCache()
      try fns(name)(spark, dataDir).write.mode("overwrite").parquet(s"$runDir/results/$name")
      catch { case e: Exception => rec.check(name, ok = false, s"warm pass threw: ${e.getMessage}") }
    }
    rec.setup("warm_ms") = rec.now - t
    rec.setup("boundaries_built") = boundaries().size
    rec.extra("oracle_sql") = QueryBoard.Queries.map { case (_, n) =>
      n -> SparkEntry.oracleSql.getOrElse(n, null) }.toMap
    rec.extra("results_dir") = s"$runDir/results"
  }

  private def order(pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(QueryBoard.Queries)

  /** Persisted stage-boundary directories present under the pinned root. */
  private def boundaries(): Set[String] =
    Option(shards.listFiles).toSeq.flatten.flatMap(q => Option(q.listFiles).toSeq.flatten)
      .filter(d => d.getName.startsWith("fp_") && new File(d, "_SUCCESS").exists)
      .map(_.getPath).toSet

  def pass(): Unit = order(rec.pass).foreach { case (module, name) =>
    spark.catalog.clearCache()
    val before = boundaries()
    val (r, _) = rec.op("query", name) {
      rec.building(fns(name)(spark, dataDir)).write.format("noop").mode("overwrite").save()
    }
    r("module") = module
    r("boundary_dirs_built") = (boundaries() -- before).toSeq.sorted
    r("boundary_dirs_present") = before.toSeq.sorted
  }

  def finish(): Unit = ()
}

object QueryBoard {
  /** (registry module, query): one per module of `graft.queries.*` and
    * `graft.operators.*`, each at the cheap end of its module so the
    * warm pass and whole timed passes fit a short run. q43 is the
    * cheapest of the four reference marts and the board's only user of
    * the `etl` layer (Facts, SurrogateKeys, Calendar). q32 and q156
    * read persisted stage boundaries that the warm pass builds. */
  val Queries: Seq[(String, String)] = Seq(
    "Relational" -> "q12_case_when",
    "StarSchema" -> "q16_date_dim",
    "EtlParity" -> "q43_etl_retiro",
    "EventsQueries" -> "q126_type_signature",
    "StatsQueries" -> "q61_histogram",
    "TimeSeriesQueries" -> "q106_range_join",
    "Profiling" -> "q170_cms_heavy_hitters",
    "PlannerMechanisms" -> "q249_existence_join",
    "Dedup" -> "q32_minhash_neardup",
    "Similarity" -> "q156_knn_graph",
    "TextAnalysis" -> "q218_lang_fertility",
    "Curation" -> "q136_weighted_sample",
    "Multimodal" -> "q37_binary_meta",
    "ZOrder" -> "q102_zorder",
    "OperatorQueries" -> "q50_salted_count")
}

/** Writes beside reads on one growing sink table, driven through public
  * entry points only: `SinkSource.write`, catalog SQL (MERGE INTO,
  * UPDATE, DELETE, the compact procedure, VERSION AS OF reads) and
  * streamed appends from `EventsStreaming.readEventsStream`. The op log
  * is an input (`log.tsv`, one line per op: log pass, kind, arguments);
  * log pass 0 is the warm pass. Keys are `(id * 7919) % 16`. */
final class TableIngest(spark: SparkSession, rec: Recorder, dataDir: String,
    runDir: String) extends Workload {
  private val root = s"$runDir/ingest"
  private val table = s"$root/t"
  private val log: Seq[(Int, Int, String, Array[String])] = {
    val src = scala.io.Source.fromFile(s"$dataDir/log.tsv", "UTF-8")
    try src.getLines().zipWithIndex.map { case (line, i) =>
      val f = line.split('\t')
      (i, f(0).toInt, f(1), f.drop(2))
    }.toVector finally src.close()
  }
  private val versionAfter = mutable.Map[Int, Int]()
  private var lastOp = -1

  spark.conf.set("spark.sql.catalog.graft_sink", classOf[graft.sources.SinkCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft_sink.root", root)

  private def keyed(df: org.apache.spark.sql.Dataset[_], id: String): DataFrame =
    df.select((col(id) * 7919 % 16).as("k"), col(id).as("v"))

  /** Head version: the highest `manifest.v<N>.psv` in the table dir. */
  private def headVersion(): Int =
    Option(new File(table).list).toSeq.flatten
      .collect { case n if n.startsWith("manifest.v") && n.endsWith(".psv") =>
        n.stripPrefix("manifest.v").stripSuffix(".psv").toInt }
      .foldLeft(0)(math.max)

  def setup(): Unit = {
    val t = rec.now
    runLogPass(0)
    rec.setup("warm_ms") = rec.now - t
  }

  def pass(): Unit = runLogPass(rec.pass + 1)

  private def runLogPass(p: Int): Unit = {
    val ops = log.filter(_._2 == p)
    if (ops.isEmpty) throw new IllegalStateException(s"op log has no pass $p")
    ops.foreach { case (idx, _, kind, a) => run(idx, kind, a); lastOp = idx }
  }

  private def commit(idx: Int, name: String)(body: => Unit): Unit = {
    val (r, ok) = rec.op("commit", name)(body)
    r("log_index") = idx
    if (ok.isDefined) {
      val v = headVersion()
      versionAfter(idx) = v
      r("version") = v
    }
  }

  private def read(idx: Int, name: String, sql: => String): Unit = {
    val (r, row) = rec.op("read", name) {
      val x = spark.sql(sql).collect()(0)
      Seq(x.getLong(0), x.getLong(1))
    }
    r("log_index") = idx
    r("result") = row.orNull
  }

  private def run(idx: Int, kind: String, a: Array[String]): Unit = kind match {
    case "append" => commit(idx, kind) {
      SinkSource.write(keyed(spark.range(a(0).toLong, a(1).toLong), "id")
        .repartition(spark.sparkContext.defaultParallelism, col("k")), table, overwrite = false)
    }
    case "merge" =>
      keyed(spark.range(a(0).toLong, a(1).toLong), "id").createOrReplaceTempView("perfbench_src")
      commit(idx, kind) {
        spark.sql(s"""MERGE INTO graft_sink.t USING perfbench_src s
          |ON t.k = s.k AND t.v = s.v
          |WHEN MATCHED THEN UPDATE SET v = t.v + ${a(2)}
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      }
    case "update" => commit(idx, kind) {
      spark.sql(s"UPDATE graft_sink.t SET v = v + ${a(2)} WHERE k % ${a(0)} = ${a(1)}")
    }
    case "delete" => commit(idx, kind) {
      spark.sql(s"DELETE FROM graft_sink.t WHERE k >= ${a(0)} AND k < ${a(1)}")
    }
    case "compact" => commit(idx, kind) {
      spark.sql("CALL graft_sink.compact('t')").collect()
    }
    case "stream" =>
      val (r, progress) = rec.op("stream", kind) {
        val q = keyed(EventsStreaming.readEventsStream(spark, s"$dataDir/${a(0)}", "*.parquet",
            Map("maxFilesPerTrigger" -> "1")), "event_id")
          .writeStream.format("graft.sources.SinkSource")
          .option("path", table)
          .option("checkpointLocation", s"$runDir/checkpoints/$idx")
          .start()
        try { q.processAllAvailable(); q.recentProgress } finally q.stop()
      }
      r("log_index") = idx
      progress.foreach { ps =>
        versionAfter(idx) = headVersion()
        r("version") = versionAfter(idx)
        r("batches") = ps.filter(_.numInputRows > 0).map { p =>
          val d = p.durationMs
          def ms(k: String): Any = Option(d.get(k)).map(_.longValue).orNull
          Map("trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
            "latest_offset_ms" -> ms("latestOffset"), "query_planning_ms" -> ms("queryPlanning"),
            "wal_commit_ms" -> ms("walCommit"), "input_rows" -> p.numInputRows)
        }.toSeq
      }
    case "read_full" =>
      read(idx, kind, "SELECT count(*), coalesce(sum(v), 0) FROM graft_sink.t")
    case "read_range" =>
      read(idx, kind, s"SELECT count(*), coalesce(sum(v), 0) FROM graft_sink.t " +
        s"WHERE k >= ${a(0)} AND k < ${a(1)}")
    case "read_tt" =>
      read(idx, kind, s"SELECT count(*), coalesce(sum(v), 0) FROM graft_sink.t " +
        s"VERSION AS OF ${versionAfter(a(0).toInt)}")
      rec.ops.last("as_of_log_index") = a(0).toInt
    case other => throw new IllegalArgumentException(s"unknown op kind $other")
  }

  /** Dump the final state and the time-travelled states of up to three
    * commits since the latest rewrite (older versions' files are gone),
    * per key, for the check against the independent model. */
  def finish(): Unit = {
    val rewrites = Set("merge", "update", "delete", "compact")
    val lastRewrite = log.filter(o => o._1 <= lastOp && rewrites(o._3)).map(_._1).lastOption
    val picks = versionAfter.keys.toSeq.sorted
      .filter(i => lastRewrite.forall(i >= _)).takeRight(3)
    def perKey(asOf: String): Seq[Seq[Long]] =
      spark.sql(s"SELECT k, count(*), sum(v) FROM graft_sink.t $asOf GROUP BY k ORDER BY k")
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    rec.extra("last_log_index") = lastOp
    rec.extra("states") = (None +: picks.map(Some(_))).flatMap { pick =>
      val (at, asOf) = pick match {
        case None => (lastOp, "")
        case Some(i) => (i, s"VERSION AS OF ${versionAfter(i)}")
      }
      try Some(Map("after_log_index" -> at, "rows" -> perKey(asOf)))
      catch { case e: Exception =>
        rec.check(s"state@$at", ok = false, s"$asOf read threw: ${e.getMessage}")
        None
      }
    }
    rec.extra("table_dir") = table
  }
}
