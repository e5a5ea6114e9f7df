package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SparkEntry}

/** One benchmark run in one JVM: set-up, a verification pass, a fixed
  * number of warm-up passes, then closed-loop passes over the workload's
  * operations for the requested seconds. `perfbench/run.py` writes the
  * spec (a properties file), starts this main, and turns the JSON it
  * writes into the benchmark's metrics.
  *
  * Operations run one after another on the main thread (one client). A
  * pass runs every operation of the workload once, so every operation has
  * the same number of samples. In a traced run, passes alternate between
  * traced (listener attached, a job group per span) and untraced, so the
  * tracing overhead is measured in the same run.
  */
object Harness {

  final case class Span(name: String, start: Long, end: Long,
      parent: Option[String], op: String)

  /** One operation's outcome in one pass. `layers` holds the traced
    * breakdown; `groups` the job groups whose scheduler counts belong to
    * it. */
  final case class OpRecord(pass: Int, traced: Boolean, op: String,
      module: String, seconds: Double, ok: Boolean, error: String,
      layers: Map[String, Double], groups: Seq[String])

  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try spec.load(in) finally in.close()
    val code = try { run(spec); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[harness] ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    // RocksDB and Spark leave non-daemon threads behind; the result is
    // already on disk, so end the JVM here
    Runtime.getRuntime.halt(code)
  }

  def run(spec: java.util.Properties): Unit = {
    def p(k: String): String = Option(spec.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"spec is missing '$k'"))
    val workload = p("workload")
    val inputs = p("inputs")
    val seconds = p("seconds").toDouble
    val traced = p("trace") == "1"
    val cores = p("cores").toInt
    val work = p("work")
    val reference = loadReference(p("reference"))
    val verifyOut = p("verify_out")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartS = (System.currentTimeMillis() - jvmStart) / 1e3

    // the tag table and the engine must agree before anything is timed
    val tagged = p("tagged").split(",").filter(_.nonEmpty).toSeq
    val missing = tagged.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"tagged queries missing from SparkEntry.queries: ${missing.mkString(",")}")

    def session(): SparkSession = {
      val s = SparkSession.builder().withExtensions(new GraftExtensions)
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.stopTimeout", "30s")
        // the status store's retained jobs, stages, tasks and executions
        // are pruned in bursts; small limits keep that bookkeeping from
        // showing up in the live heap
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.sql.streaming.ui.retainedQueries", "5")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.streaming.StateBackends.rocksDb.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }

    val workloadOps: Workload = p("kind") match {
      case "batch" => new BatchQueries(p("ops"), inputs, cores)
      case "ingest" => new Ingest(spec, work)
      case k => throw new IllegalArgumentException(s"unknown workload kind $k")
    }

    // Set-up, repeated: a fresh session (extensions, state-store
    // configuration) and the workload's inputs opened. The first
    // repetition also pays JVM class loading; the reported set-up time is
    // the median of the repetitions.
    val setupReps = p("setup_reps").toInt
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      workloadOps.open(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val tap = new LayerTap
    val ctx = new Ctx(spark)
    val tPass0 = System.nanoTime()

    // Pass 0, untimed: warms the JIT and the engine's caches and computes
    // each operation's reference digest, written out for the oracle check
    // when this (seed, size) is new and compared with the verified digests
    // otherwise.
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ctx.releasing = false
    val warm = workloadOps.pass0(ctx,
      if (verifyOut.nonEmpty) Some(verifyOut) else None, digests)
    ctx.releasing = true
    val refOf: String => Option[String] =
      if (reference.nonEmpty) reference.get else digests.get
    val errors = ArrayBuffer.empty[String]
    // a reference computed on this run that disagrees with the verified
    // one is a failed operation of this run
    val stale = digests.toSeq.collect { case (op, d)
      if reference.nonEmpty && !reference.get(op).contains(d) => op }
    val pass0 = warm.map(r => if (stale.contains(r.op)) r.copy(ok = false,
        error = s"digest ${digests(r.op)} != verified ${reference.get(r.op)}") else r) ++
      stale.filterNot(op => warm.exists(_.op == op)).map(op => OpRecord(0, traced = false,
        op, "", 0.0, ok = false, s"reference ${digests(op)} != verified ${reference.get(op)}",
        Map.empty, Nil))
    pass0.foreach(r => if (!r.ok) errors += s"pass 0 ${r.op}: ${r.error}")

    // One pass over the workload's operations, each result checked
    // against its reference; returns the checked records and the pass
    // wall time.
    def runPass(pass: Int, tracedPass: Boolean): (Seq[OpRecord], Double) = {
      if (tracedPass) spark.sparkContext.addSparkListener(tap)
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val t0 = System.nanoTime()
      val recs = workloadOps.pass(ctx, pass, tracedPass, None, seen)
      if (tracedPass) {
        spark.sparkContext.removeSparkListener(tap)
        ctx.spans += Span(s"p$pass", t0, System.nanoTime(), None, s"p$pass")
      }
      val checked = recs.map { r =>
        val ok = r.ok && seen.get(r.op) == refOf(r.op)
        if (r.ok && !ok)
          errors += s"pass $pass ${r.op}: digest ${seen.get(r.op)} != ${refOf(r.op)}"
        else if (!r.ok) errors += s"pass $pass ${r.op}: ${r.error}"
        r.copy(ok = ok)
      }
      ctx.release()
      org.apache.spark.sql.BenchAccess.unloadStateStores()
      (checked, recs.map(_.seconds).sum)
    }

    // Warm-up passes, untimed but checked: the JIT keeps compiling the
    // engine's hot paths for several passes after the first, and a pass
    // measured during that descent reads slower by an amount that varies
    // from run to run. A fixed count, so every run starts measuring from
    // the same point.
    val warmPasses = p("warm_passes").toInt
    val warmRecords = (1 to warmPasses).flatMap(i => runPass(i, tracedPass = false)._1)

    // Measured window: whole passes until `seconds` have elapsed (at
    // least one; in a traced run, at least one traced and one untraced).
    val warmupS = (System.nanoTime() - tPass0) / 1e9
    val records = ArrayBuffer.empty[OpRecord]
    val passWall = ArrayBuffer.empty[(Boolean, Double)]
    val heapGb = ArrayBuffer.empty[Double]
    val windowStart = System.nanoTime()
    var pass = warmPasses + 1
    val minPasses = warmPasses + (if (traced) 2 else 1)
    while (pass <= minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val tracedPass = traced && (pass - warmPasses) % 2 == 1
      val (recs, wall) = runPass(pass, tracedPass)
      records ++= recs
      passWall += ((tracedPass, wall))
      heapGb += liveHeapGb()
      pass += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    if (traced) org.apache.spark.sql.BenchAccess.drainListenerBus(spark.sparkContext)

    val opsJson = records.map { r =>
      val counts = r.groups.flatMap(tap.get)
      val sched =
        if (!r.traced) Map.empty[String, Any]
        else Map[String, Any](
          "jobs" -> counts.map(_.jobs).sum,
          "tasks" -> counts.map(_.tasks).sum,
          "task_run_s" -> counts.map(_.runMs).sum / 1e3,
          "task_cpu_s" -> counts.map(_.cpuNs).sum / 1e9,
          "shuffle_write_bytes" -> counts.map(_.shuffleWriteBytes).sum,
          "serial_stage_s" -> counts.map(_.serialStageMs).sum / 1e3)
      Map[String, Any]("pass" -> r.pass, "traced" -> r.traced, "op" -> r.op,
        "module" -> r.module, "s" -> r.seconds, "ok" -> r.ok) ++
        r.layers ++ sched
    }
    val result = Map[String, Any](
      "workload" -> workload,
      "jvm_start_s" -> jvmStartS,
      "setup_s" -> setupS.toSeq,
      "warmup_wall_s" -> warmupS,
      "window_s" -> windowS,
      "pass0" -> pass0.map(r => Map("op" -> r.op, "s" -> r.seconds, "ok" -> r.ok)),
      "warm" -> warmRecords.map(r => Map("op" -> r.op, "s" -> r.seconds, "ok" -> r.ok)),
      "digests" -> digests.toMap,
      "ops" -> opsJson.toSeq,
      "pass_wall" -> passWall.map { case (t, s) => Map("traced" -> t, "s" -> s) }.toSeq,
      "heap_gb" -> heapGb.toSeq,
      "cores" -> cores,
      "errors" -> errors.toSeq,
      "extra" -> workloadOps.extra)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(p("out")), json.writeValueAsString(result) + "\n")
    if (traced)
      Files.writeString(Paths.get(p("trace_out")), ctx.spans.map { s =>
        json.writeValueAsString(Map("name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))
      }.mkString("", "\n", "\n"))
    // no spark.stop(): main halts the JVM next, and stopping the state
    // store's maintenance can take seconds the run does not need to spend
  }

  /** Heap in use after full collections, once cached blocks and idle
    * state stores are released: collects until a collection frees less
    * than 1%, since the blocks and broadcasts one collection hands to
    * Spark's cleaner are only freed by a later one. */
  private def liveHeapGb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e9
    }
    var last = used()
    var next = last
    var rounds = 0
    do {
      last = next
      Thread.sleep(200)
      next = used()
      rounds += 1
    } while (next < 0.99 * last && rounds < 5)
    next
  }

  private def loadReference(path: String): Map[String, String] =
    if (path.isEmpty) Map.empty
    else {
      val props = new java.util.Properties()
      val in = Files.newBufferedReader(Paths.get(path))
      try props.load(in) finally in.close()
      props.asScala.toMap
    }

  /** Session-wide state an operation needs while it runs. */
  final class Ctx(val spark: SparkSession) {
    val spans = ArrayBuffer.empty[Span]
    private val seq = new java.util.concurrent.atomic.AtomicInteger
    /** Off during pass 0, whose operations may run concurrently. */
    @volatile var releasing = true

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

    /** Runs `body` as span `name`; when traced, under its own job group. */
    def phase[T](traced: Boolean, op: String, name: String,
        groups: ArrayBuffer[String])(body: => T): (T, Double) = {
      val sc = spark.sparkContext
      val group = s"perfbench-${seq.incrementAndGet()}-$name"
      if (traced) { sc.setJobGroup(group, name, interruptOnCancel = false); groups += group }
      val t0 = System.nanoTime()
      try {
        val v = body
        val t1 = System.nanoTime()
        if (traced) spans += Span(s"$op.$name", t0, t1, Some(op), op)
        (v, (t1 - t0) / 1e9)
      } finally if (traced) sc.clearJobGroup()
    }

    /** Drops the previous operation's checkpoint and cache blocks, so
      * each operation starts from the same session state. */
    def release(): Unit = if (releasing) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** A workload: opening its inputs and one pass over its operations. */
  trait Workload {
    def open(spark: SparkSession): Unit
    def pass(ctx: Ctx, pass: Int, traced: Boolean, verifyOut: Option[String],
        digests: scala.collection.mutable.Map[String, String]): Seq[OpRecord]
    /** The untimed first pass; its digests become the references when
      * there are no verified ones yet. */
    def pass0(ctx: Ctx, verifyOut: Option[String],
        digests: scala.collection.mutable.Map[String, String]): Seq[OpRecord] =
      pass(ctx, 0, traced = false, verifyOut, digests)
    def extra: Map[String, Any] = Map.empty
  }

  /** Batch workloads: engine queries from `SparkEntry.queries` over the
    * generated input directory. */
  final class BatchQueries(opsSpec: String, inputs: String, cores: Int)
      extends Workload {
    private val ops: Seq[(String, String)] = opsSpec.split(",").toSeq.map { s =>
      val Array(name, module) = s.split(":"); (name, module) }
    private val missing = ops.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    def open(spark: SparkSession): Unit =
      new File(inputs).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getPath).schema)

    override def extra: Map[String, Any] =
      Map("oracle" -> SparkEntry.oracleSql.filter(o => ops.exists(_._1 == o._1)))

    private def one(ctx: Ctx, pass: Int, traced: Boolean, op: (String, String),
        verifyOut: Option[String], digests: scala.collection.mutable.Map[String, String]) =
      timedQuery(ctx, pass, traced, op._1, op._2, verifyOut, digests)(
        SparkEntry.queries(op._1)(ctx.spark, inputs))

    def pass(ctx: Ctx, pass: Int, traced: Boolean, verifyOut: Option[String],
        digests: scala.collection.mutable.Map[String, String]): Seq[OpRecord] =
      ops.map(one(ctx, pass, traced, _, verifyOut, digests))

    /** Every query once, untimed, on one thread per core: the first run
      * of a query is mostly class loading and code generation, which
      * overlap well. */
    override def pass0(ctx: Ctx, verifyOut: Option[String],
        digests: scala.collection.mutable.Map[String, String]): Seq[OpRecord] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try ops.map(op => pool.submit(() => one(ctx, 0, false, op, verifyOut, digests)))
        .map(_.get())
      finally pool.shutdown()
    }
  }

  /** Times one query operation: building the DataFrame (construct),
    * forcing its physical plan (plan), and executing it into a digest
    * (execute). With `verifyOut`, the result is also written as parquet
    * for the oracle check and the digest is taken from what was written. */
  def timedQuery(ctx: Ctx, pass: Int, traced: Boolean, name: String,
      module: String, verifyOut: Option[String],
      digests: scala.collection.mutable.Map[String, String])(
      build: => DataFrame): OpRecord =
    timed(ctx, pass, traced, name, module) { (groups, opId) =>
      val (df, construct) = ctx.phase(traced, opId, "construct", groups)(build)
      val (_, plan) = ctx.phase(traced, opId, "plan", groups) {
        df.queryExecution.executedPlan
      }
      val (digest, exec) = ctx.phase(traced, opId, "execute", groups) {
        verifyOut match {
          case Some(dir) =>
            df.write.mode("overwrite").parquet(s"$dir/$name")
            Digest.of(ctx.spark.read.parquet(s"$dir/$name"))
          case None => Digest.of(df)
        }
      }
      digests.synchronized(digests(name) = digest)
      Map("construct_s" -> construct, "plan_s" -> plan, "exec_s" -> exec)
    }

  /** Times one operation whose work is all execution (an eager call). */
  def timedAction(ctx: Ctx, pass: Int, traced: Boolean, name: String,
      module: String)(body: => Map[String, Double]): OpRecord =
    timed(ctx, pass, traced, name, module) { (groups, opId) =>
      val (extra, exec) = ctx.phase(traced, opId, "execute", groups)(body)
      extra + ("exec_s" -> exec)
    }

  private def timed(ctx: Ctx, pass: Int, traced: Boolean, name: String,
      module: String)(
      body: (ArrayBuffer[String], String) => Map[String, Double]): OpRecord = {
    ctx.release()
    val groups = ArrayBuffer.empty[String]
    val opId = s"p$pass.$name"
    val gc0 = ctx.gcMs()
    val t0 = System.nanoTime()
    try {
      val layers = body(groups, opId)
      val t1 = System.nanoTime()
      if (traced) ctx.spans += Span(opId, t0, t1, Some(s"p$pass"), opId)
      OpRecord(pass, traced, name, module, (t1 - t0) / 1e9, ok = true, "",
        layers + ("gc_s" -> (ctx.gcMs() - gc0) / 1e3),
        groups.toSeq)
    } catch {
      case NonFatal(e) =>
        OpRecord(pass, traced, name, module, (System.nanoTime() - t0) / 1e9,
          ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
          Map.empty, groups.toSeq)
    }
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }
}
