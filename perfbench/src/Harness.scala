package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.hl7.{Er7Parser, Pipeline, Views}
import graft.sources.Er7Source
import graft.streaming.StreamingPipeline

/** JVM side of the benchmark: runs one workload against the engine's public
  * functions and writes raw samples to `<work>/result.json`. run.py
  * generates the inputs, turns the samples into metrics and checks the
  * outputs against the generators' truth.
  *
  * Arguments are `key=value` pairs: workload, work, seconds, trace, cores,
  * plus the workload's inputs (inbox, stream_inbox, warm_inbox,
  * files_per_trigger; requests, clients, data, queries).
  *
  * Tracing (trace=1) first measures the untraced operation, then repeats the
  * workload with spans around each call into a layer. A span forces its
  * DataFrame through a `noop` sink, so a layer's self time is its cumulative
  * prefix minus the prefix before it. Task counts come from a SparkListener
  * keyed by the job group each span sets.
  */
object Harness {

  private val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val steal0 = Steal.ticks()
    val o = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val out = new Result(o("work"), o("trace") == "1")
    val cores = o.getOrElse("cores", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("session_s", (System.currentTimeMillis() - t0Ms) / 1000.0)
    out.put("session_steal", Steal.since(steal0))
    val w = new Workloads(spark, o, out)
    try {
      // a comma-separated list runs several workloads in one JVM (the
      // class-archive training run of run.py)
      o("workload").split(",").foreach {
        case "ingest" => w.ingest()
        case "serve"  => w.serve()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      out.write()
      spark.stop()
    }
  }
}

/** CPU time the hypervisor stole from this virtual machine: the steal column
  * of the kernel's aggregate `cpu` line in /proc/stat, against the sum of
  * all columns, in clock ticks. Reads (0, 0) where the file is absent. */
object Steal {
  def ticks(): (Long, Long) = try {
    val in = Files.newBufferedReader(Paths.get("/proc/stat"))
    val f = try in.readLine().trim.split("\\s+").slice(1, 9).map(_.toLong) finally in.close()
    (f.sum, if (f.length > 7) f(7) else 0L)
  } catch { case _: java.io.IOException => (0L, 0L) }

  /** Share of all CPU time that was stolen since `from`. */
  def since(from: (Long, Long)): Double = {
    val (total, stolen) = ticks()
    if (total > from._1) (stolen - from._2).toDouble / (total - from._1) else 0.0
  }
}

/** Everything the run reports, serialized once at the end. */
final class Result(val work: String, val traced: Boolean) {
  val fields = mutable.LinkedHashMap[String, Any]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def op(m: Map[String, Any]): Unit = synchronized { ops += m }
  def write(): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val doc = fields.toMap ++ Map("ops" -> ops.toSeq, "layers" -> layers.toMap)
    Files.write(Paths.get(work, "result.json"), mapper.writeValueAsBytes(doc))
    if (traced) Files.write(Paths.get(work, "spans.json"), mapper.writeValueAsBytes(spans.toSeq))
  }
}

/** Per job-group task counters, fed by the listener bus. */
final class Counters extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var inputBytes = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  private val stageGroup = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(grp => e.stageIds.foreach(stageGroup(_) = grp))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byGroup.getOrElseUpdate(g, new Acc)
      a.tasks += 1; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def sum(groups: Iterable[String]): Acc = synchronized {
    val t = new Acc
    groups.flatMap(byGroup.get).foreach { a =>
      t.tasks += a.tasks; t.runMs += a.runMs; t.gcMs += a.gcMs
      t.inputBytes += a.inputBytes; t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
    }
    t
  }
}

/** In-memory spans: name, start, end, parent, run id. Each span sets its own
  * job group, so the counters attribute every task to exactly one span. */
final class Tracer(spark: SparkSession, out: Result) {
  val counters = new Counters
  spark.sparkContext.addSparkListener(counters)
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val seq = new AtomicInteger()
  private val parent = new ThreadLocal[String]

  /** Runs `body` under a fresh job group; returns (result, wall ms, group). */
  def span[T](name: String)(body: => T): (T, Double, String) = {
    val id = s"$name#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    val up = parent.get()
    parent.set(id)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val r = body
      (r, (System.nanoTime() - t) / 1e6, id)
    } finally {
      sc.clearJobGroup()
      parent.set(up)
      out.synchronized {
        out.spans += Map("name" -> name, "id" -> id, "start_ms" -> startMs,
          "end_ms" -> System.currentTimeMillis(), "parent" -> up, "run" -> runId)
      }
    }
  }

  /** The listener bus is asynchronous: drain it before reading counters. */
  def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

final class Workloads(spark: SparkSession, o: Map[String, String], out: Result) {
  private val seconds = o("seconds").toDouble
  private val work = o("work")
  private val cores = o.getOrElse("cores", "4").toInt
  private def now(): Double = System.nanoTime() / 1e9
  private def ms(t: Double): Double = (now() - t) * 1000

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs the set-up step `reps` times; run.py reports the median. */
  private def setup(reps: Int)(step: Int => Unit): Unit = {
    val runs = (0 until reps).map { i =>
      val (t, s) = (now(), Steal.ticks()); step(i); (now() - t, Steal.since(s))
    }
    out.put("setup_reps_s", runs.map(_._1))
    out.put("setup_reps_steal", runs.map(_._2))
  }

  /** Calls `op` until `budget` seconds have passed and it ran `minOps` times. */
  private def loop(budget: Double, minOps: Int = 1)(op: Int => Unit): Unit = {
    val start = now()
    var i = 0
    while (i < minOps || now() - start < budget) { op(i); i += 1 }
  }

  private def dirBytesAndFiles(dir: String, ext: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(ext)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** Zone/format row counts and the message ids per zone, for the checks. */
  private def summarizeLake(lake: String, tag: String): Unit = {
    val msgs = spark.read.parquet(s"$lake/messages")
    val zones = msgs.groupBy("zone", "format")
      .agg(count(lit(1)).as("rows"), countDistinct("message_id").as("ids"))
      .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" ->
        Map("rows" -> r.getLong(2), "ids" -> r.getLong(3))).toMap
    out.put(s"${tag}_zones", zones)
    val ids = msgs.filter(col("zone") =!= "ingestion").select("message_id").collect().map(_.getString(0))
    Files.write(Paths.get(work, s"${tag}_ids.txt"), ids.sorted.mkString("\n").getBytes(UTF_8))
    val catalog = spark.read.parquet(s"$lake/catalog").count()
    out.put(s"${tag}_catalog_rows", catalog)
    out.put(s"${tag}_parquet_bytes", dirBytesAndFiles(lake, ".parquet")._1)
  }

  private def inboxBytes(dir: String): Long = dirBytesAndFiles(dir, ".txt")._1

  // ------------------------------------------------------------------ ingest

  /** The batch chain as cumulative prefixes, each forced through noop; the
    * last prefix is the real `writeLake`. Returns (wall ms, job group) per layer. */
  private def tracedChain(tr: Tracer, inbox: String, lake: String): Map[String, (Double, String)] = {
    val r = mutable.LinkedHashMap[String, (Double, String)]()
    def span(name: String)(body: => Unit): Unit = {
      val (_, wall, g) = tr.span(name)(body); r(name) = (wall, g)
    }
    span("sources.er7_scan")(noop(spark.read.format("er7").load(inbox)))
    span("hl7.read_split")(noop(Pipeline.readMessages(spark, inbox)))
    span("hl7.ingest")(noop(Pipeline.ingest(Pipeline.readMessages(spark, inbox))))
    span("hl7.stage")(noop(Pipeline.stage(Pipeline.ingest(Pipeline.readMessages(spark, inbox)))))
    span("hl7.all_events")(noop(Pipeline.allEvents(spark, inbox)))
    span("hl7.write_lake")(Pipeline.writeLake(Pipeline.allEvents(spark, inbox), lake))
    r.toMap
  }

  /** Single-thread `Er7Parser.parse` over the inbox's messages (prepared
    * like the pipeline's A8 step): the parse kernel without Spark. */
  private def parserKernel(inbox: String): Double = {
    val msgs = Er7Source.listFiles(inbox).flatMap(f =>
      Er7Source.splitMessages(new String(Files.readAllBytes(Paths.get(f)), UTF_8)))
      .map(_.replaceAll("\r\n|\n", "\r"))
    msgs.foreach(Er7Parser.parse) // warm the JIT
    val t = now()
    var n = 0
    while (n < 3 * msgs.size) { Er7Parser.parse(msgs(n % msgs.size)); n += 1 }
    n / (now() - t)
  }

  private def chainLayers(tr: Tracer, reps: Seq[Map[String, (Double, String)]], inbox: String): Unit = {
    def self(a: String, b: String): Double =
      median(reps.map(r => r(a)._1 - (if (b == null) 0.0 else r(b)._1))) / 1000
    tr.drain()
    val c = tr.counters
    val L = out.layers
    L("sources.er7_scan.s") = self("sources.er7_scan", null)
    L("hl7.read_split.s") = self("hl7.read_split", null)
    L("hl7.ingest.s") = self("hl7.ingest", "hl7.read_split")
    L("hl7.stage.s") = self("hl7.stage", "hl7.ingest")
    L("hl7.route.s") = self("hl7.all_events", "hl7.stage")
    L("hl7.write_lake.s") = self("hl7.write_lake", "hl7.all_events")
    L("hl7.ingest.shuffle_bytes") =
      median(reps.map(r => (c.sum(Seq(r("hl7.ingest")._2)).shuffleWrite -
        c.sum(Seq(r("hl7.read_split")._2)).shuffleWrite).toDouble))
    L("hl7.write_lake.input_read_ratio") =
      c.sum(Seq(reps.last("hl7.write_lake")._2)).inputBytes.toDouble / inboxBytes(inbox)
    L("hl7.busy_frac") = c.sum(reps.flatMap(_.values.map(_._2))).runMs /
      (reps.flatMap(_.values.map(_._1)).sum * cores)
    L("hl7.er7parser.msgs_per_s") = parserKernel(inbox)
  }

  /** One AvailableNow drain of `inbox` into a fresh lake: the chain of
    * `StreamingPipeline.run`, with a fixed `maxFilesPerTrigger`. */
  private def drain(inbox: String, dir: String, filesPerTrigger: Int): Seq[StreamingQueryProgress] = {
    val staged = Pipeline.withZone(Pipeline.stage(StreamingPipeline.ingestStream(
      StreamingPipeline.messagesStream(spark, inbox, Some(filesPerTrigger)))))
    val q = StreamingPipeline.lakeSink(staged.drop("segments"), s"$dir/lake", s"$dir/ckpt").start()
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  private def batchMs(p: StreamingQueryProgress): Double =
    p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)

  /** Write path: repeated batch `allEvents` → `writeLake` jobs over the
    * batch inbox, then one streaming drain of the stream inbox. */
  def ingest(): Unit = {
    val (inbox, streamInbox, warm) = (o("inbox"), o("stream_inbox"), o("warm_inbox"))
    val fpt = o("files_per_trigger").toInt
    val lake = s"$work/lake"
    setup(3) { i =>
      Pipeline.writeLake(Pipeline.allEvents(spark, warm), s"$work/warm_lake")
      drain(warm, s"$work/warm$i", fpt)
    }
    val budget = if (out.traced) seconds / 2 else seconds
    loop(budget, o("min_ops").toInt) { _ =>
      val (t, s) = (now(), Steal.ticks())
      Pipeline.writeLake(Pipeline.allEvents(spark, inbox), lake)
      out.op(Map("kind" -> "ingest", "ms" -> ms(t), "steal" -> Steal.since(s), "ok" -> true))
    }
    summarizeLake(lake, "lake")
    val (t, s) = (now(), Steal.ticks())
    val progress = drain(streamInbox, s"$work/stream", fpt)
    out.op(Map("kind" -> "drain", "ms" -> ms(t), "steal" -> Steal.since(s), "ok" -> true,
      "batch_ms" -> progress.map(batchMs)))
    summarizeLake(s"$work/stream/lake", "stream")
    if (!out.traced) return

    val tr = new Tracer(spark, out)
    val reps = mutable.ArrayBuffer[Map[String, (Double, String)]]()
    loop(budget)(_ => reps += tracedChain(tr, inbox, lake))
    chainLayers(tr, reps.toSeq, inbox)
    val (bytes, files) = dirBytesAndFiles(lake, ".parquet")
    out.layers("hl7.write_lake.files") = files.toDouble
    out.layers("hl7.write_lake.bytes_per_file") = bytes.toDouble / files
    out.put("traced_op_ms", reps.map(_("hl7.write_lake")._1).toSeq)

    val progressEvents = mutable.ArrayBuffer[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressEvents.synchronized { if (e.progress.numInputRows > 0) progressEvents += e.progress }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    tr.span("streaming.drain")(drain(streamInbox, s"$work/traced_stream", fpt))
    tr.drain()
    spark.streams.removeListener(listener)
    val ps = progressEvents.synchronized(progressEvents.toSeq)
    def dur(k: String) = median(ps.map(p => p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)))
    val states = ps.flatMap(_.stateOperators.headOption)
    val L = out.layers
    L("streaming.latest_offset_ms") = dur("latestOffset")
    L("streaming.add_batch_ms") = dur("addBatch")
    L("streaming.wal_commit_ms") = dur("walCommit")
    L("streaming.state.rows") = states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    L("streaming.state.memory_bytes") = states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    L("streaming.state.commit_ms") = median(states.map(_.commitTimeMs.toDouble))
    L("streaming.lake.files_per_batch") =
      dirBytesAndFiles(s"$work/traced_stream/lake", ".parquet")._2.toDouble / math.max(1, ps.size)
    out.put("traced_batch_ms", ps.map(batchMs))
  }

  // ------------------------------------------------------------------ serve

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files and file bytes the executed plan's scans read, after pruning.
    * (Task `bytesRead` misses parquet's vectored reads, so scans report.) */
  private def scanned(df: DataFrame): (Long, Long) = {
    val nodes = Plans.collect(df.queryExecution.executedPlan) { case p => p }
    def sum(m: String) = nodes.flatMap(_.metrics.get(m)).map(_.value).sum
    (sum("numFiles"), sum("filesSize"))
  }

  /** One point lookup (`id<TAB>format`, format `-` for none), timed as the
    * `retrieve` call (listing and analysis) plus the collect of its rows. */
  private def lookup(lake: String, line: String, tr: Option[Tracer]): Map[String, Any] = {
    val Array(id, f) = line.split("\t")
    def timed[T](name: String)(body: => T): (T, Double, String) =
      tr.fold { val t = now(); val r = body; (r, ms(t), "") }(_.span(name)(body))
    val fmt = if (f == "-") None else Some(f)
    val (df, callMs, g1) = timed("hl7.retrieve.call")(Pipeline.retrieve(spark, lake, id, fmt).select("msg"))
    val (rows, collectMs, g2) = timed("hl7.retrieve.collect")(df.collect())
    val (files, bytes) = if (tr.isDefined) scanned(df) else (0L, 0L)
    Map("kind" -> "lookup", "ms" -> (callMs + collectMs), "call_ms" -> callMs,
      "collect_ms" -> collectMs, "rows" -> rows.length,
      "payload_ok" -> rows.forall(r => sha256(r.getString(0)) == id),
      "files" -> files, "bytes" -> bytes, "groups" -> Seq(g1, g2))
  }

  /** Closed loop: each client sends its next lookup when the last returns. */
  private def lookups(lake: String, requests: IndexedSeq[String], clients: Int, budget: Double,
                      tr: Option[Tracer]): Seq[Map[String, Any]] = {
    val next = new AtomicInteger()
    val results = mutable.ArrayBuffer[Map[String, Any]]()
    val (start, steal0) = (now(), Steal.ticks())
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        var first = true
        while (i < requests.size && (first || now() - start < budget)) {
          first = false
          val s = Steal.ticks()
          val r = try lookup(lake, requests(i), tr) + ("ok" -> true, "steal" -> Steal.since(s)) catch {
            case e: Exception => Map[String, Any]("kind" -> "lookup", "ok" -> false,
              "error" -> e.toString)
          }
          results.synchronized { results += (r + ("idx" -> i)) }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (tr.isEmpty) {
      out.put("window_s", now() - start)
      out.put("window_steal", Steal.since(steal0))
    }
    results.toSeq
  }

  private val viewNames = Seq("patients", "observations", "diagnoses")

  /** The fixed analytic sequence: three view aggregates over the staged zone
    * read back from the lake, then the registry sample at `data`. Each query
    * runs once (first-sample walls); a query that throws is recorded failed. */
  private def analytics(lake: String, data: String, qs: Seq[(String, String)],
                        tr: Option[Tracer]): Seq[Map[String, Any]] = {
    val staged = spark.read.parquet(s"$lake/messages").filter(col("zone") === "staging")
    val views: Seq[(String, String, () => (Long, Long))] = viewNames.map { v =>
      val agg = v match {
        case "patients" => Views.patients(staged).groupBy("sex").count()
        case "observations" => Views.observations(staged).groupBy("value_type").count()
        case "diagnoses" => Views.diagnoses(staged).groupBy("code").count()
      }
      (s"hl7.views.$v", "views", () => (agg.collect().map(_.getLong(1)).sum, scanned(agg)._2))
    }
    val registry = graft.SparkEntry.queries
    val queries = qs.map { case (n, m) => (n, m, () => (registry(n)(spark, data).count(), 0L)) }
    (views ++ queries).map { case (name, module, run) =>
      val (t, s) = (now(), Steal.ticks())
      try {
        val ((rows, bytes), wall, g) = tr.fold((run(), 0.0, ""))(_.span(name)(run()))
        Map("kind" -> "query", "name" -> name, "module" -> module, "ok" -> true,
          "ms" -> (if (tr.isDefined) wall else ms(t)), "steal" -> Steal.since(s),
          "rows" -> rows, "bytes" -> bytes, "groups" -> Seq(g))
      } catch {
        case e: Exception => Map("kind" -> "query", "name" -> name, "module" -> module,
          "ok" -> false, "error" -> e.toString.take(300), "groups" -> Seq.empty[String])
      }
    }
  }

  /** Read path: set-up writes the serving lake; the run is read-only —
    * Zipf-skewed point lookups from `clients` closed-loop clients, then the
    * fixed analytic sequence. */
  def serve(): Unit = {
    val lake = s"$work/lake"
    setup(3)(_ => Pipeline.writeLake(Pipeline.allEvents(spark, o("inbox")), lake))
    val requests = new String(Files.readAllBytes(Paths.get(o("requests"))), UTF_8)
      .split("\n").toIndexedSeq
    val clients = o("clients").toInt
    val data = o("data")
    val qs = o("queries").split(",").toSeq.map { q => val Array(n, m) = q.split(":"); (n, m) }
    out.put("oracle_sql", qs.flatMap { case (n, _) => graft.SparkEntry.oracleSql.get(n).map(n -> _) }.toMap)
    // a few untimed lookups warm the lookup plan
    lookups(lake, requests.takeRight(2), 1, Double.MaxValue, None)
    val budget = if (out.traced) seconds / 2 else seconds
    lookups(lake, requests, clients, budget, None).foreach(out.op)
    analytics(lake, data, qs, None).foreach(out.op)
    summarizeLake(lake, "lake")
    if (!out.traced) return

    val tr = new Tracer(spark, out)
    val ls = lookups(lake, requests, clients, budget, Some(tr)).filter(_("ok") == true)
    val done = analytics(lake, data, qs, Some(tr)).filter(_("ok") == true)
    tr.drain()
    def med(xs: Seq[Map[String, Any]], k: String) = median(xs.map(_(k).toString.toDouble))
    def acc(r: Map[String, Any]) = tr.counters.sum(r("groups").asInstanceOf[Seq[String]])
    def perOp(xs: Seq[Map[String, Any]], f: Counters#Acc => Long) =
      xs.map(r => f(acc(r))).sum.toDouble / math.max(1, xs.size)
    val L = out.layers
    L("hl7.retrieve.call_ms") = med(ls, "call_ms")
    L("hl7.retrieve.collect_ms") = med(ls, "collect_ms")
    L("hl7.retrieve.tasks_per_lookup") = perOp(ls, _.tasks)
    L("hl7.retrieve.bytes_per_lookup") = med(ls, "bytes")
    L("hl7.retrieve.files_per_lookup") = med(ls, "files")
    val views = done.filter(_("module") == "views")
    for (v <- views) L(s"${v("name")}_ms") = v("ms").toString.toDouble
    L("hl7.views.bytes_read") = views.map(_("bytes").toString.toDouble).sum
    val reg = done.filter(_("module") != "views")
    for (m <- Seq("queries", "llm", "operators", "streaming.twins"))
      L(s"$m.s") = reg.filter(_("module") == m).map(_("ms").toString.toDouble).sum / 1000
    val c = tr.counters.sum(reg.flatMap(_("groups").asInstanceOf[Seq[String]]))
    L("registry.tasks") = c.tasks.toDouble
    L("registry.shuffle_bytes") = c.shuffleWrite.toDouble
    L("registry.spill_bytes") = c.spill.toDouble
    L("registry.gc_s") = c.gcMs / 1000.0
    L("registry.busy_frac") = c.runMs / (reg.map(_("ms").toString.toDouble).sum * cores)
    out.put("traced_op_ms", ls.map(_("ms")))
  }
}
