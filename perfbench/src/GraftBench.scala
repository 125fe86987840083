package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{EngineConf, SparkEntry, Tables}

/** The JVM half of the graft benchmark. It only measures and records:
  * `run.py` builds it, chooses the op order, and turns the raw records
  * this writes into metrics.
  *
  * Modes (first argument), each followed by `name=value` options:
  *  - `prime`  empties the index root, runs every family `warm` on it,
  *             lists its entries in `PRIMED` and writes `READY` (the
  *             build stamp and the cold warm-up times);
  *  - `run`    one benchmark run: set-up, timed passes, output
  *             fingerprints, storage, and with `trace=1` a traced repeat
  *             of the passes and the layer probes;
  *  - `sweep`  times every key of `SparkEntry.queries` twice (pass 2 is
  *             traced) to size the workloads.
  *
  * An op is one key: its function call ("build"), then
  * `write.format("noop")` on the result ("write"), which materializes
  * every output column and keeps the final sort. */
object GraftBench {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
  val SpanProp = "perfbench.span"
  val SpanTag = "perfbench-span-"

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val code = try {
      args.head match {
        case "prime" => prime(opts); 0
        case "run" => new Run(opts).run(); 0
        case "sweep" => new Run(opts).sweep(); 0
        case m => System.err.println(s"unknown mode $m"); 2
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  // ------------------------------------------------------------ helpers

  def nowMs: Double = System.nanoTime() / 1e6

  /** The session `graft.Bench` builds, through the same `EngineConf.tune`. */
  def session(cpus: String): SparkSession = {
    val spark = EngineConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def warmFns: Map[String, (SparkSession, String) => Unit] = Map(
    "mining" -> graft.operators.Mining.warm,
    "llm" -> graft.operators.LlmOps.warm,
    "rel" -> graft.operators.Relational.warm,
    "sql" -> graft.operators.SqlSurface.warm)

  def loadTables(spark: SparkSession, data: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, data, t).count())

  /** Seconds each family `warm` takes, called in name order. */
  def timeWarms(spark: SparkSession, data: String): Map[String, Double] =
    warmFns.toSeq.sortBy(_._1).map { case (fam, f) =>
      val t0 = nowMs
      f(spark, data)
      fam -> (nowMs - t0) / 1e3
    }.toMap

  def rmTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** (bytes, files) under `f`. */
  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).getOrElse(Array.empty).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Bytes held by persisted blocks: (memory, disk). */
  def persistedBytes(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  def prime(o: Map[String, String]): Unit = {
    val index = new File(o("index"))
    rmTree(index)
    index.mkdirs()
    val spark = session(o.getOrElse("cpus", "4"))
    loadTables(spark, o("data"))
    val secs = timeWarms(spark, o("data"))
    Files.writeString(Paths.get(index.getPath, "PRIMED"),
      index.list().sorted.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(index.getPath, "READY"),
      json(Map("stamp" -> o("stamp"), "warm_cold_s" -> secs)))
    spark.stop()
  }

  // ------------------------------------------------------------ fingerprints

  private val M61 = (1L << 61) - 1
  private val Base = 1000003L

  private def mulMod(a: Long, b: Long): Long = {
    val lo = a * b
    val hi = Math.multiplyHigh(a, b)
    val r0 = (lo & M61) + ((hi << 3) | (lo >>> 61))
    val r = (r0 & M61) + (r0 >>> 61)
    if (r >= M61) r - M61 else r
  }
  private def addMod(a: Long, b: Long): Long = { val r = a + b; if (r >= M61) r - M61 else r }
  private def powMod(b: Long, e: Long): Long = {
    var (r, x, n) = (1L, b, e)
    while (n > 0) { if ((n & 1) == 1) r = mulMod(r, x); x = mulMod(x, x); n >>= 1 }
    r
  }

  /** A value rendering that is stable across JVMs (no identity hashes). */
  def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def rowHash(r: org.apache.spark.sql.Row): Long = {
    val s = render(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (((h1.toLong << 32) | (h2.toLong & 0xffffffffL)) & M61)
  }

  /** Row count, an order-sensitive hash (a polynomial over the rows in
    * output order, independent of partition boundaries) and an
    * order-blind one (the sum of row hashes). */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val parts = df.rdd.mapPartitionsWithIndex { (i, it) =>
      var (h, s, n) = (0L, 0L, 0L)
      it.foreach { r => val x = rowHash(r); h = addMod(mulMod(h, Base), x); s = addMod(s, x); n += 1 }
      Iterator((i, h, s, n))
    }.collect().sortBy(_._1)
    val (h, s, n) = parts.foldLeft((0L, 0L, 0L)) { case ((h0, s0, n0), (_, h1, s1, n1)) =>
      (addMod(mulMod(h0, powMod(Base, n1)), h1), addMod(s0, s1), n0 + n1)
    }
    Map("rows" -> n, "ordered" -> f"$h%016x", "unordered" -> f"$s%016x")
  }

  // ------------------------------------------------------------ JSON

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}

case class Span(id: Int, parent: Int, kind: String, name: String, start: Double,
    var end: Double = Double.NaN, attrs: mutable.Map[String, Any] = mutable.LinkedHashMap())

/** Spans and counters for one traced section. Spans form the tree
  * run → pass → op → {build, write} → {sql, job} → stage; jobs find their
  * parent through the local properties set before each call, SQL
  * executions through a job tag. All times are milliseconds on one
  * monotonic clock. */
class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import GraftBench.{OpProp, PhaseProp, SpanProp, SpanTag, nowMs}

  private val epochOffsetMs = System.currentTimeMillis() - nowMs
  private def fromEpoch(ms: Long): Double = ms - epochOffsetMs

  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]
  private val sqls = mutable.Map.empty[Long, Span]
  private val qes = new ConcurrentLinkedQueue[Map[String, Any]]()

  def open(parent: Int, kind: String, name: String): Span = synchronized {
    nextId += 1
    val s = Span(nextId, parent, kind, name, nowMs)
    spans += s
    s
  }
  def close(s: Span): Unit = s.end = nowMs

  def span[T](parent: Int, kind: String, name: String)(body: Span => T): T = {
    val s = open(parent, kind, name)
    try body(s) finally close(s)
  }

  /** Runs `body` with every job it starts tagged with op, phase and span,
    * and every SQL execution with the span. */
  def tagged[T](op: String, phase: String, s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProp, op)
    sc.setLocalProperty(PhaseProp, phase)
    sc.setLocalProperty(SpanProp, s.id.toString)
    sc.addJobTag(SpanTag + s.id)
    try body finally {
      Seq(OpProp, PhaseProp, SpanProp).foreach(sc.setLocalProperty(_, null))
      sc.removeJobTag(SpanTag + s.id)
    }
  }

  /** Listener events arrive asynchronously. A marker job runs after the
    * traced work and this waits until its end event has been delivered:
    * the shared listener queue is ordered, so every earlier job, stage,
    * task and query-execution event has been delivered by then. */
  def barrier(): Unit = {
    val sc = spark.sparkContext
    val n = barriers.incrementAndGet()
    sc.setLocalProperty(BarrierProp, n.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(BarrierProp, null)
    val t0 = nowMs
    while (lastBarrier < n && nowMs - t0 < 60000) Thread.sleep(1)
  }
  private val BarrierProp = "perfbench.barrier"
  private val barriers = new java.util.concurrent.atomic.AtomicLong(0)
  private val barrierJobs = mutable.Map.empty[Int, Long]
  @volatile private var lastBarrier = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop(BarrierProp) match {
      case Some(n) => barrierJobs(e.jobId) = n.toLong
      case None =>
        nextId += 1
        val s = Span(nextId, prop(SpanProp).map(_.toInt).getOrElse(0), "job",
          prop(OpProp).getOrElse(""), fromEpoch(e.time))
        s.attrs("job_id") = e.jobId
        s.attrs("phase") = prop(PhaseProp).getOrElse("")
        spans += s
        jobs(e.jobId) = s
        e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { s =>
      s.end = fromEpoch(e.time)
      s.attrs("ok") = e.jobResult == JobSucceeded
    }
    barrierJobs.remove(e.jobId).foreach(n => lastBarrier = math.max(lastBarrier, n))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.Map.empty[String, Double])
    def add(k: String, v: Long): Unit = a(k) = a.getOrElse(k, 0.0) + v.toDouble
    add("tasks", 1L)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
      if (i != null && i.finishTime > 0)
        add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = e.stageInfo
    val parent = stageJob.get(st.stageId).flatMap(jobs.get).map(_.id).getOrElse(0)
    nextId += 1
    val s = Span(nextId, parent, "stage", st.name,
      fromEpoch(st.submissionTime.getOrElse(0L)), fromEpoch(st.completionTime.getOrElse(0L)))
    s.attrs("stage_id") = st.stageId
    s.attrs("num_tasks") = st.numTasks
    stageAgg.remove((st.stageId, st.attemptNumber())).foreach(m => s.attrs ++= m)
    spans += s
  }

  /** A SQL execution spans the driver's work on a query between and
    * after its jobs: adaptive re-planning, stage submission, the commit. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      val parent = x.jobTags.collectFirst { case t if t.startsWith(SpanTag) => t.stripPrefix(SpanTag).toInt }
      nextId += 1
      val s = Span(nextId, parent.getOrElse(0), "sql", x.description.take(100), fromEpoch(x.time))
      s.attrs("execution_id") = x.executionId
      spans += s
      sqls(x.executionId) = s
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqls.remove(x.executionId).foreach(_.end = fromEpoch(x.time))
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)
  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) =>
      k -> Seq(fromEpoch(v.startTimeMs), fromEpoch(v.endTimeMs))
    }
    qes.add(Map("func" -> funcName, "ok" -> ok, "phases" -> ph))
  }

  private val sessions = mutable.ArrayBuffer.empty[SparkSession]
  /** Starts recording Spark's events and the query executions of `s`. */
  def attach(s: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
    sessions += s
  }
  /** Stops recording once every event so far has been delivered. */
  def detach(): Unit = {
    barrier()
    sessions.foreach(_.listenerManager.unregister(this))
    sessions.clear()
    spark.sparkContext.removeSparkListener(this)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start" -> s.start, "end" -> s.end) ++ s.attrs
      },
      "qe" -> qes.asScala.toSeq)
  }
}

/** One benchmark process. */
class Run(o: Map[String, String]) {
  import GraftBench._

  val data: String = o("data")
  /** The corpus the index was primed for; the layer probes run on it. */
  val primedData: String = o.getOrElse("primed_data", data)
  val cpus: String = o.getOrElse("cpus", "4")
  val index = new File(o("index"))
  val tmp = new File(sys.props("java.io.tmpdir"))
  val workDir = new File(tmp, "graft_work")
  val cold: Boolean = o.get("cold").contains("1")
  val trace: Boolean = o.get("trace").contains("1")
  /** Op order, one line per pass, keys comma-separated. */
  val passes: Seq[Seq[String]] =
    o.get("order").toSeq.flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
      .map(_.trim).filter(_.nonEmpty).map(_.split(',').toSeq)
  val keys: Seq[String] = passes.flatten.distinct
  val setupReps: Int = o.getOrElse("setup_reps", "1").toInt
  val probeKeys: Seq[String] = o.get("probe").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  val out = mutable.LinkedHashMap.empty[String, Any]
  /** Output checks of this run, one map of key fingerprints each. */
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def write(): Unit = Files.writeString(Paths.get(o("out")), json(out))

  /** Each key's fingerprint, or the error it threw. With `warm`, each key
    * first runs as an untimed op, so its write path is compiled too. */
  private def check(spark: SparkSession, ks: Seq[String], warm: Boolean): Map[String, Any] =
    ks.map { k =>
      k -> (try {
        val df = queries(k)(spark, data)
        if (warm) df.write.format("noop").mode("overwrite").save()
        fingerprint(df)
      } catch { case NonFatal(e) => Map("error" -> String.valueOf(e.getMessage).take(300)) })
    }.toMap

  /** Index entries written after priming (a cold corpus copy's artifacts). */
  private def dropUnprimed(): Unit = {
    val keep = Files.readAllLines(Paths.get(index.getPath, "PRIMED")).asScala.toSet ++
      Set("PRIMED", "READY")
    Option(index.listFiles()).getOrElse(Array.empty).filterNot(f => keep(f.getName)).foreach(rmTree)
  }

  /** Fresh, cold state: a new session, an empty Spark cache and no index
    * artifacts for the workload's corpus. The cold workload runs on a copy
    * of the corpus under its own path, and the index keys its entries by
    * corpus path, so dropping every entry made after priming empties it.
    * A new session alone is not cold: the shared cache manager would
    * still serve the previous session's persisted memo plans. */
  private def coldSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.catalog.clearCache()
    dropUnprimed()
    s
  }

  case class OpResult(ms: Double, buildMs: Double, ok: Boolean, err: String)

  def op(spark: SparkSession, key: String, tr: Option[(Tracer, Int)]): OpResult = {
    val t0 = nowMs
    var tb = t0
    val err = try {
      tr match {
        case None =>
          val df = queries(key)(spark, data)
          tb = nowMs
          df.write.format("noop").mode("overwrite").save()
        case Some((t, parent)) =>
          t.span(parent, "op", key) { s =>
            val df = t.span(s.id, "build", key)(b => t.tagged(key, "build", b)(queries(key)(spark, data)))
            tb = nowMs
            t.span(s.id, "write", key)(w => t.tagged(key, "write", w)(
              df.write.format("noop").mode("overwrite").save()))
          }
      }
      null
    } catch { case NonFatal(e) => String.valueOf(e.getMessage).take(300) }
    val t1 = nowMs
    tr.foreach(_._1.barrier())
    OpResult(t1 - t0, tb - t0, err == null, err)
  }

  /** One pass of the run: the index of its op order in `passes`, and the
    * tracer and parent span when it is traced. */
  case class Pass(index: Int, tracer: Option[(Tracer, Span)])
  /** A finished pass: its op records and wall seconds. */
  case class PassResult(ops: Seq[Map[String, Any]], wallS: Double)

  /** Runs the passes in order; returns the last session and each pass's
    * result. A traced pass has the tracer attached for its duration only.
    * A cold workload starts each pass from a cold session, untimed; the
    * first pass may use `spark0` when the set-up has just made it cold. */
  def loop(spark0: SparkSession, plan: Seq[Pass], coldStart: Boolean): (SparkSession, Seq[PassResult]) = {
    var spark = spark0
    val results = plan.zipWithIndex.map { case (Pass(p, tr), i) =>
      if (cold && (i > 0 || !coldStart)) spark = coldSession(spark)
      tr.foreach(_._1.attach(spark))
      val t0 = nowMs
      val ptr = tr.map { case (t, parent) => (t, t.open(parent.id, "pass", s"pass-$p")) }
      val recs = passes(p).map { k =>
        val r = op(spark, k, ptr.map { case (t, s) => (t, s.id) })
        Map("key" -> k, "pass" -> p, "ms" -> r.ms, "build_ms" -> r.buildMs, "ok" -> r.ok, "err" -> r.err)
      }
      ptr.foreach { case (t, s) => t.close(s) }
      val wall = (nowMs - t0) / 1e3
      tr.foreach(_._1.detach())
      PassResult(recs, wall)
    }
    (spark, results)
  }

  def storage(spark: SparkSession): Map[String, Any] = {
    val (mem, disk) = persistedBytes(spark)
    val (ib, ifl) = du(index)
    val (wb, wf) = du(workDir)
    Map("blocks_mem" -> mem, "blocks_disk" -> disk, "index" -> ib, "index_files" -> ifl,
      "work" -> wb, "work_files" -> wf)
  }

  def run(): Unit = {
    if (!new File(index, "READY").isFile)
      throw new IllegalStateException(s"index at $index is not primed")
    dropUnprimed()
    // Set-up, `setupReps` times: a new session with an empty Spark cache
    // (the first one also starts the JVM's Spark context), the table
    // loads, and unless the workload is cold a warm-up call of every key
    // that fills the memo from the primed index. The warm-up calls are
    // the output check: each fingerprints its key's result.
    val t0 = nowMs
    var spark = session(cpus)
    val setups = mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until setupReps) {
      val t1 = if (rep == 0) t0 else nowMs
      spark = if (cold) coldSession(spark) else spark.newSession()
      spark.catalog.clearCache()
      loadTables(spark, data)
      if (!cold) checks += check(spark, passes.head, warm = true)
      setups += (nowMs - t1) / 1e3
    }
    out("setup_s") = setups.toSeq
    val (s1, timed) = loop(spark, passes.indices.map(Pass(_, None)), coldStart = true)
    spark = s1
    out("ops") = timed.flatMap(_.ops)
    out("pass_wall_s") = timed.map(_.wallS)
    out("storage") = storage(spark)
    // a cold workload's check runs once, after the timed region
    if (cold) checks += check(spark, keys, warm = false)
    out("fingerprints") = checks.toSeq
    out("conf") = spark.conf.getAll
    val rt = Runtime.getRuntime
    out("heap") = Map("max_bytes" -> rt.maxMemory, "total_bytes" -> rt.totalMemory,
      "used_bytes" -> (rt.totalMemory - rt.freeMemory))
    write()
    if (trace) traced(spark)
    spark.stop()
  }

  /** The traced run's extra work, after the untraced timed passes, which
    * warm it up: each pass again traced and again untraced, then the layer
    * probes. The pairs alternate their order (T U, U T, ...) so that a
    * steady drift, such as the JIT still warming, cancels over two pairs.
    * The cold warm-ups are not repeated here: they are timed when the
    * index is primed for this build. */
  def traced(spark0: SparkSession): Unit = {
    var spark = spark0
    val t = new Tracer(spark)
    val root = t.open(0, "run", "traced")
    val plan = passes.indices.flatMap { p =>
      val pair = Seq(Pass(p, Some((t, root))), Pass(p, None))
      if (p % 2 == 0) pair else pair.reverse
    }
    val (s1, results) = loop(spark, plan, coldStart = false)
    spark = s1
    t.close(root)
    val (tr, untr) = plan.zip(results).partition(_._1.tracer.isDefined)
    out("traced_ops") = tr.flatMap(_._2.ops)
    out("traced_pass_wall_s") = tr.map(_._2.wallS)
    out("repeat_ops") = untr.flatMap(_._2.ops)
    out("repeat_pass_wall_s") = untr.map(_._2.wallS)

    // tables: the loads, then the warm-ups on the primed index
    val probes = mutable.LinkedHashMap.empty[String, Any]
    val tl = new Tracer(spark)
    tl.attach(spark)
    tl.span(0, "tables.load", "all") { s =>
      Tables.names.foreach(n => tl.span(s.id, "tables.load", n)(x => tl.tagged(n, "load", x)(Tables.load(spark, primedData, n))))
    }
    tl.detach()
    probes("tables_load") = tl.toJson
    out("storage_traced") = storage(spark)
    probes("memo_bytes") = persistedBytes(spark)._1 + persistedBytes(spark)._2
    probes("warm_primed_s") = {
      val s = spark.newSession(); s.catalog.clearCache(); loadTables(s, primedData)
      timeWarms(s, primedData)
    }

    // multi-session probe: each write key once in a new session
    probes("newsession") = probeKeys.map { k =>
      val s = spark.newSession()
      k -> (try { queries(k)(s, primedData).write.format("noop").mode("overwrite").save(); null }
        catch { case NonFatal(e) => String.valueOf(e.getMessage).take(300) })
    }.toMap
    probes("work") = { val (b, f) = du(workDir); Seq(b, f) }
    out("probes") = probes
    out("trace") = t.toJson
    write()
  }

  /** Sizing sweep: every key twice, interleaved; pass 2 is traced. */
  def sweep(): Unit = {
    val spark = session(cpus)
    loadTables(spark, data)
    timeWarms(spark, data)
    val all = queries.keys.toSeq.sorted
    all.foreach(k => op(spark, k, None))
    val t = new Tracer(spark)
    t.attach(spark)
    val root = t.open(0, "pass", "sweep")
    val recs = all.map { k =>
      val r = op(spark, k, Some((t, root.id)))
      Map("key" -> k, "ms" -> r.ms, "build_ms" -> r.buildMs, "ok" -> r.ok, "err" -> r.err)
    }
    t.close(root)
    t.detach()
    out("ops") = recs
    out("trace") = t.toJson
    write()
    spark.stop()
  }
}
