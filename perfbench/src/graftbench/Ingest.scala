package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.llmops.{Pipelines, SparseSim}
import graft.streaming.{RegistryIngest, TaskStateMachine}

import Harness.{Ctx, OpRecord, Span, timedAction, timedQuery}

/** The write path: one pass is
  *  1. `batches` fixed-size micro-batches of seed-keyed documents through
  *     `RegistryIngest.start` (source `rate-micro-batch`) into a fresh
  *     segmented registry,
  *  2. `read`: BM25 retrieval over the segments (`openBm25` →
  *     `SparseSim.queryIndex`),
  *  3. `compact`: both registries compacted to one segment each,
  *  4. `read_compacted`: the same retrieval over the compacted index,
  *  5. `state_batches` fixed-size batches of task events through
  *     `TaskStateMachine.taskStates` on the RocksDB state store.
  *
  * Checks: the streamed registry equals batch-mode `Pipelines.curateIngest`
  * over the same batches (on the verification pass), retrieval returns the
  * same rows before and after compaction, and the state store holds the
  * number of live tasks the event schedule implies after every batch.
  */
final class Ingest(spec: java.util.Properties, work: String)
    extends Harness.Workload {
  private def p(k: String): Long = spec.getProperty(k).toLong
  private val seed = p("seed")
  private val cores = p("cores").toInt
  private val batches = p("ingest.batches").toInt
  private val rowsPerBatch = p("ingest.rows_per_batch")
  private val stateBatches = p("ingest.state_batches").toInt
  private val stateRows = p("ingest.state_rows")
  private val stateKeys = p("ingest.state_keys")
  private val nQueries = p("ingest.queries").toInt
  private val topK = 10
  require(stateRows <= stateKeys,
    "each task-event batch must touch distinct tasks")

  private val extras = mutable.LinkedHashMap.empty[String, Any]
  override def extra: Map[String, Any] = extras.toMap

  /** StreamBench.docStream's shape: 12 pseudo-words over a 500-word
    * vocabulary, keyed by document id and seed. */
  private def text(id: Column): Column = concat_ws(" ", (0 until 12).map(i =>
    concat(lit("w"), pmod(xxhash64(id, lit(seed), lit(i)), lit(500)))): _*)

  private def docStream(spark: SparkSession, n: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", cores).load()
      .where(col("value") < n * rowsPerBatch)
      .select(col("value").as("doc_id"), text(col("value")).as("text"))

  private def docBatch(spark: SparkSession, i: Int): DataFrame =
    spark.range(i * rowsPerBatch, (i + 1) * rowsPerBatch, 1, cores)
      .select(col("id").as("doc_id"), text(col("id")).as("text"))

  private def config(spark: SparkSession) = RegistryIngest.Config(
    "doc_id", "text",
    benchmark = spark.createDataFrame(Seq(Tuple1("benchmark leak phrase")))
      .toDF("text"),
    benchTextCol = "text", stopwords = Seq("w1", "w2", "w3"),
    minQuality = 0.1, shingleSize = 3, numHashes = 16, rowsPerBand = 4,
    nearDupThreshold = 0.8, decontamN = 3, ngram = 1)

  private def queries(spark: SparkSession): DataFrame = {
    val r = new scala.util.Random(seed)
    spark.createDataFrame((0 until nQueries).map(q =>
      (q.toLong, Seq.fill(3)(s"w${r.nextInt(500)}").mkString(" "))))
      .toDF("qid", "qtext")
  }

  private def clean(dir: String): String = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
    dir
  }

  /** Runs a started stream until batch `n - 1` has committed, stops it,
    * and returns the progress of batches 0 until n. */
  private def drive(q: StreamingQuery, n: Int): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def done = q.recentProgress.exists(_.batchId >= n - 1)
    try {
      while (!done) {
        q.exception.foreach(e => throw e)
        require(q.isActive, "stream stopped early")
        require(System.nanoTime() < deadline, s"stream did not reach batch ${n - 1}")
        Thread.sleep(10)
      }
    } finally q.stop()
    val byId = q.recentProgress.filter(_.batchId < n).groupBy(_.batchId)
    (0 until n).map(i => byId(i.toLong).last)
  }

  private def ms(prog: StreamingQueryProgress, k: String): Double =
    Option(prog.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** One record per micro-batch, timed by the engine's own progress
    * report. The stream's jobs share one job group (its run id), so its
    * scheduler counts are charged to the phase's first batch. */
  private def batchRecords(ctx: Ctx, pass: Int, traced: Boolean, phase: String,
      q: StreamingQuery, progress: Seq[StreamingQueryProgress], gcS: Double)(
      perBatch: (Int, StreamingQueryProgress) => Map[String, Double]): Seq[OpRecord] = {
    val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def start(prog: StreamingQueryProgress) =
      java.time.Instant.parse(prog.timestamp).toEpochMilli * 1000000L + clockOffset
    def end(prog: StreamingQueryProgress) =
      start(prog) + prog.durationMs.get("triggerExecution").longValue * 1000000L
    if (traced)
      ctx.spans += Span(s"p$pass.$phase", start(progress.head), end(progress.last),
        Some(s"p$pass"), s"p$pass.$phase")
    progress.zipWithIndex.map { case (prog, i) =>
      val name = s"${phase}_$i"
      val total = ms(prog, "triggerExecution") / 1e3
      if (traced)
        ctx.spans += Span(s"p$pass.$name", start(prog), end(prog),
          Some(s"p$pass.$phase"), s"p$pass.$name")
      OpRecord(pass, traced, name, "streaming", total, ok = true, "",
        Map("plan_s" -> ms(prog, "queryPlanning") / 1e3,
          "exec_s" -> ms(prog, "addBatch") / 1e3,
          "wal_commit_ms" -> ms(prog, "walCommit"),
          "add_batch_ms" -> ms(prog, "addBatch"),
          "gc_s" -> (if (i == 0) gcS else 0.0)) ++ perBatch(i, prog),
        if (i == 0 && traced) Seq(q.runId.toString) else Nil)
    }
  }

  private def ingest(spark: SparkSession, root: String, n: Int): StreamingQuery =
    RegistryIngest.start(docStream(spark, n), config(spark), s"$root/reg",
      clean(s"$root/reg-cp"))

  def open(spark: SparkSession): Unit = config(spark)

  /** One digest over all four registry tables, rendered as tagged JSON
    * rows so a single job covers them. */
  private def registryDigest(reg: Pipelines.CurationRegistry,
      bm25: SparseSim.Bm25Index): String = {
    def rows(tag: String, df: DataFrame) =
      df.select(concat(lit(tag), to_json(struct(df.columns.sorted.map(col): _*))).as("row"))
    Digest.of(rows("keys", reg.keys).unionAll(rows("sigs", reg.sigs))
      .unionAll(rows("texts", reg.texts))
      .unionAll(rows("postings", bm25.postings.select("id", "term", "tf", "len"))))
  }

  /** Live tasks after each batch: a task's state is dropped when its
    * latest event is `completed` (status index 3). */
  private lazy val expectedStateRows: Seq[Long] = {
    val last = Array.fill(stateKeys.toInt)(-1)
    (0 until stateBatches).map { b =>
      (b * stateRows until (b + 1) * stateRows).foreach { v =>
        last(taskKey(v)) = ((v / stateKeys) % 4).toInt
      }
      last.count(s => s >= 0 && s < 3).toLong
    }
  }

  // a multiplier coprime to the key count makes each run of `stateKeys`
  // consecutive events touch every task once, in a seed-dependent order
  private val stride: Long = {
    var a = 7919L + (seed.abs % 1000L)
    while (BigInt(a).gcd(BigInt(stateKeys)) != 1) a += 1
    a
  }
  private def taskKey(v: Long): Int = ((v * stride + seed.abs) % stateKeys).toInt

  private def taskEvents(spark: SparkSession) = {
    import spark.implicits._
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", stateRows)
      .option("numPartitions", cores).load()
      .where(col("value") < stateBatches * stateRows)
      .select(
        concat(lit("t"), pmod(col("value") * stride + lit(seed.abs), lit(stateKeys))).as("taskId"),
        element_at(
          array(lit("queued"), lit("assigned"), lit("rendering"), lit("completed")),
          (pmod(col("value") / stateKeys, lit(4)) + 1).cast("int")).as("status"),
        concat(lit("w"), pmod(xxhash64(col("value"), lit(seed)), lit(64))).as("workerId"),
        col("value").as("tsMillis"),
        lit("").as("error"))
      .as[TaskStateMachine.TaskEvent]
  }

  /** Untimed warm-up over one micro-batch of each stream, beside the
    * batch-mode replay that computes the references. The replay runs on
    * every run, so every run does the same work; its references replace a
    * missing verified set and are compared with an existing one. */
  override def pass0(ctx: Ctx, verifyOut: Option[String],
      digests: mutable.Map[String, String]): Seq[OpRecord] = {
    val replay = new java.util.concurrent.FutureTask[Map[String, String]](
      () => references(ctx.spark))
    new Thread(replay, "perfbench-replay").start()
    val warm = run(ctx, 0, traced = false, 1, 1, mutable.Map.empty)
    digests ++= replay.get()
    extras("input_bytes") = ctx.spark.range(0, batches * rowsPerBatch)
      .select(sum(length(text(col("id"))) + 8)).head().getLong(0)
    warm
  }

  def pass(ctx: Ctx, pass: Int, traced: Boolean, verifyOut: Option[String],
      digests: mutable.Map[String, String]): Seq[OpRecord] =
    run(ctx, pass, traced, batches, stateBatches, digests)

  /** What a correct pass produces: the registry and retrieval results of
    * the same batches applied through batch-mode `curateIngest`, and the
    * live-task counts the event schedule implies. */
  private def references(spark: SparkSession): Map[String, String] = {
    val cfg = config(spark)
    var reg = Pipelines.CurationRegistry.empty(spark, "doc_id", "text")
    var index: Option[SparseSim.Bm25Index] = None
    (0 until batches).foreach { i =>
      val (kept, delta) = Pipelines.curateIngest(docBatch(spark, i), cfg.idCol,
        cfg.textCol, cfg.benchmark, cfg.benchTextCol, cfg.stopwords,
        cfg.minQuality, cfg.shingleSize, cfg.numHashes, cfg.rowsPerBand,
        cfg.nearDupThreshold, cfg.decontamN, reg)
      reg = Pipelines.mergeRegistry(reg, delta)
      val built = SparseSim.buildIndex(kept, cfg.idCol, cfg.textCol, cfg.ngram)
      index = Some(index.fold(built)(SparseSim.mergeIndex(_, built)))
    }
    val read = Digest.of(retrieve(spark, index.get))
    Map(s"ingest_batch_${batches - 1}" -> registryDigest(reg, index.get),
      "read" -> read, "read_compacted" -> read,
      s"state_batch_${stateBatches - 1}" -> expectedStateRows.mkString(","))
  }

  private def retrieve(spark: SparkSession, index: SparseSim.Bm25Index): DataFrame =
    SparseSim.queryIndex(index, queries(spark), "qid", "qtext", topK,
      batches * rowsPerBatch)

  private def run(ctx: Ctx, pass: Int, traced: Boolean, nBatches: Int,
      nStateBatches: Int, digests: mutable.Map[String, String]): Seq[OpRecord] = {
    val spark = ctx.spark
    val root = clean(s"$work/ingest-p$pass")
    val recs = ArrayBuffer.empty[OpRecord]

    // 1. streamed ingest
    ctx.release()
    var gc0 = ctx.gcMs()
    val q = ingest(spark, root, nBatches)
    val prog = drive(q, nBatches)
    val ingested = batchRecords(ctx, pass, traced, "ingest_batch", q, prog,
      (ctx.gcMs() - gc0) / 1e3) { (i, pr) =>
      Map("segments_open" -> i.toDouble, "rows" -> pr.numInputRows.toDouble)
    }
    val stored = Harness.dirBytes(s"$root/reg/registry") + Harness.dirBytes(s"$root/reg/bm25")
    extras("stored_bytes") = stored
    recs ++= ingested.init
    recs += ingested.last.copy(layers = ingested.last.layers +
      ("bytes_written" -> stored.toDouble))
    if (pass > 0)
      digests(ingested.last.op) = registryDigest(
        RegistryIngest.openRegistry(spark, s"$root/reg", "doc_id", "text"),
        RegistryIngest.openBm25(spark, s"$root/reg"))

    // 2-4. retrieval, compaction, retrieval over the compacted segments
    val segments = RegistryIngest.bm25Segments(s"$root/reg")
    var openS = 0.0
    recs += timedQuery(ctx, pass, traced, "read", "llmops", None, digests) {
      val t0 = System.nanoTime()
      val index = RegistryIngest.openBm25(spark, s"$root/reg")
      openS = (System.nanoTime() - t0) / 1e9
      retrieve(spark, index)
    }
    recs(recs.length - 1) = recs.last.copy(layers = recs.last.layers ++ Map(
      "segments_open" -> segments.length.toDouble, "segment_open_s" -> openS))
    recs += timedAction(ctx, pass, traced, "compact", "llmops") {
      SparseSim.compactSegments(spark, segments, s"$root/bm25c")
      Pipelines.compactRegistrySegments(spark,
        RegistryIngest.registrySegments(s"$root/reg"), s"$root/regc")
      Map("bytes_written" -> (Harness.dirBytes(s"$root/bm25c") +
        Harness.dirBytes(s"$root/regc")).toDouble,
        "segments_open" -> (2 * segments.length).toDouble)
    }
    recs += timedQuery(ctx, pass, traced, "read_compacted", "llmops", None, digests) {
      retrieve(spark, SparseSim.readSegments(spark, Seq(s"$root/bm25c")))
    }
    recs(recs.length - 1) = recs.last.copy(layers = recs.last.layers +
      ("segments_open" -> 1.0))
    if (digests.get("read") != digests.get("read_compacted"))
      recs(recs.length - 1) = recs.last.copy(ok = false,
        error = "retrieval differs after compaction")

    // 5. task-state stream on RocksDB
    ctx.release()
    gc0 = ctx.gcMs()
    val sq = TaskStateMachine.taskStates(taskEvents(spark)).writeStream
      .format("noop").option("checkpointLocation", clean(s"$root/state-cp"))
      .start()
    val sprog = drive(sq, nStateBatches)
    val states = batchRecords(ctx, pass, traced, "state_batch", sq, sprog,
      (ctx.gcMs() - gc0) / 1e3) { (_, pr) =>
      val op = pr.stateOperators.head
      Map("state_rows" -> op.numRowsTotal.toDouble,
        "state_commit_ms" -> op.commitTimeMs.toDouble,
        "rows" -> pr.numInputRows.toDouble)
    }
    val live = sprog.map(_.stateOperators.head.numRowsTotal)
    digests(states.last.op) = live.mkString(",")
    recs ++= states.zip(live.zip(expectedStateRows)).map { case (r, (got, want)) =>
      if (got == want) r
      else r.copy(ok = false, error = s"state store holds $got tasks, expected $want")
    }
    recs.toSeq
  }
}
