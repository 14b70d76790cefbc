package perfbench

import java.io.{File, PrintWriter}
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.KeyPairGenerator
import java.security.interfaces.ECPublicKey
import java.security.spec.ECGenParameterSpec
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{ApiServer, Jwt}
import graft.eventstore.{CloudEvent, EventStore, ExpectedRevision, StreamMeta, StreamSort}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, in one JVM.
  *
  * Drives the program only through its public entry points
  * (`ApiServer.startWith` + `Jwt`, `EventStore`, `Streams.startIngest`,
  * `SparkEntry.queries`). Set-up and an untimed warm-up come first; the
  * timed part then runs whole rounds of a fixed, seeded shape until
  * `--seconds` have passed, so every round does the same work and the
  * end state of a round never depends on how fast the program is.
  *
  * Writes `result.json` (measurements, counters, check payload paths)
  * into `--work`; the Python runner turns it into the metric line and
  * runs the correctness checks. With `--trace 1` it also records spans
  * at each layer boundary and Spark listener counters, and writes the
  * spans to `--spans` when the run ends.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, spans: Path, cpus: Int,
      shape: Map[String, String]) {
    def int(k: String): Int = shape(k).toInt
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("spans")),
      kv("cpus").toInt,
      kv.collect { case (k, v) if k.startsWith("shape.") => k.drop(6) -> v })
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(o.trace)
    val probe = if (o.trace) Some(SparkProbe.install(spark)) else None
    val out = new Result()
    try {
      o.workload match {
        case "api_mixed" => ApiMixed.run(spark, o, tr, probe, out)
        case "stream_ingest" => StreamIngest.run(spark, o, tr, probe, out)
        case "query_mix" => QueryMix.run(spark, o, tr, probe, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) tr.write(o.spans)
      Files.writeString(o.work.resolve("result.json"), out.json)
    } finally spark.stop()
  }
}

/** Flat JSON result of numbers and strings. */
final class Result {
  private val fields = mutable.LinkedHashMap[String, String]()
  def put(k: String, v: Double): Unit = fields(k) = Result.num(v)
  def put(k: String, v: Long): Unit = fields(k) = v.toString
  def putStr(k: String, v: String): Unit = fields(k) = Result.str(v)
  def json: String =
    fields.map { case (k, v) => s"${Result.str(k)}:$v" }.mkString("{", ",", "}")
}

object Result {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Nearest-rank percentile. */
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** In-memory spans, written out when the run ends. Disabled, it only
  * runs the timed block. */
final class Tracer(val enabled: Boolean) {
  final case class Span(name: String, id: String, parent: String,
      start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def record(name: String, id: String, parent: String, start: Long,
      end: Long): Unit =
    if (enabled) spans.add(Span(name, id, parent, start, end))
  def time[T](name: String, id: String, parent: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally record(name, id, parent, t0, System.nanoTime())
    }
  def all: Seq[Span] = spans.asScala.toSeq
  def named(n: String): Seq[Span] = all.filter(_.name == n)
  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val w = new PrintWriter(p.toFile, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"name":${Result.str(s.name)},"id":${Result.str(s.id)},""" +
        s""""parent":${Result.str(s.parent)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** Spark engine counters from a SparkListener and a
  * QueryExecutionListener, bucketed by the `perfbench.bucket` local
  * property the driver sets around each unit of work. */
final class SparkProbe(spark: SparkSession) {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  final class Counters {
    val c = new ConcurrentHashMap[String, AtomicLong]()
    def add(k: String, v: Long): Unit =
      c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
    def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
  }
  private val buckets = new ConcurrentHashMap[String, Counters]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  @volatile var bucket: String = "setup"
  def counters(b: String): Counters = buckets.computeIfAbsent(b, _ => new Counters)

  private def bucketOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.bucket"))).getOrElse("other")

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val b = counters(bucketOf(e.properties))
      b.add("jobs", 1)
      if (Option(e.properties).exists(_.getProperty("perfbench.phase") == "construct"))
        b.add("jobs_in_construction", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageBucket.put(e.stageInfo.stageId, bucketOf(e.properties))
      counters(bucketOf(e.properties)).add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = counters(stageBucket.getOrDefault(e.stageId, "other"))
      b.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        b.add("task_run_ms", m.executorRunTime)
        b.add("task_cpu_ns", m.executorCpuTime)
        b.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        b.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        b.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val b = counters(bucket)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach(p =>
        ph.get(p).foreach(s => b.add(s"${p}_ms", s.durationMs)))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Run `f` with its jobs tagged as bucket `b`, phase `phase`; the
    * listener bus is drained afterwards so every event lands in `b`. */
  def tagged[T](b: String, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    bucket = b
    sc.setLocalProperty("perfbench.bucket", b)
    sc.setLocalProperty("perfbench.phase", phase)
    val compiles0 = CodegenCount.compiles
    val compileNs0 = CodegenCount.compileNs
    try f finally {
      val c = counters(b)
      c.add("codegen_compiles", CodegenCount.compiles - compiles0)
      c.add("codegen_compile_ns", CodegenCount.compileNs - compileNs0)
      sc.setLocalProperty("perfbench.bucket", null)
      sc.setLocalProperty("perfbench.phase", null)
      org.apache.spark.PerfbenchBus.drain(sc)
    }
  }
  /** Take and clear bucket `b`'s counters. */
  def take(b: String): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Option(buckets.remove(b)).getOrElse(new Counters)
  }
}

object SparkProbe {
  def install(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe(spark)
    spark.sparkContext.addSparkListener(p.listener)
    spark.listenerManager.register(p.qeListener)
    p
  }
  /** Spark per-layer metrics for one unit of work, from its counters. */
  def layerMetrics(cs: Seq[SparkProbe#Counters], gcMs: Seq[Double],
      out: Result): Unit = {
    def med(k: String, scale: Double) = Result.median(cs.map(_.get(k) * scale))
    out.put("spark.jobs", med("jobs", 1))
    out.put("spark.jobs_in_construction", med("jobs_in_construction", 1))
    out.put("spark.stages", med("stages", 1))
    out.put("spark.tasks", med("tasks", 1))
    out.put("spark.analysis_s", med("analysis_ms", 1e-3))
    out.put("spark.optimization_s", med("optimization_ms", 1e-3))
    out.put("spark.planning_s", med("planning_ms", 1e-3))
    out.put("spark.codegen_compiles", med("codegen_compiles", 1))
    out.put("spark.codegen_compile_s", med("codegen_compile_ns", 1e-9))
    out.put("spark.task_run_s", med("task_run_ms", 1e-3))
    out.put("spark.task_cpu_s", med("task_cpu_ns", 1e-9))
    out.put("spark.shuffle_read_bytes", med("shuffle_read_bytes", 1))
    out.put("spark.shuffle_write_bytes", med("shuffle_write_bytes", 1))
    out.put("spark.spill_bytes", med("spill_bytes", 1))
    out.put("jvm.gc_s", Result.median(gcMs) / 1e3)
  }
}

/** Codegen compile count and time, read from Spark's own counters. */
object CodegenCount {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}

/** Layer timings around the store's public methods (traced runs only).
  * Each call is a span whose parent is the request or micro-batch that
  * issued it, taken from the thread-local the caller set. */
final class TracedStore(spark: SparkSession, root: String, tr: Tracer)
    extends EventStore(spark, root) {
  private def t[T](name: String)(f: => T): T =
    tr.time(name, "", TracedStore.current)(f)
  override def append(u: String, s: String, events: Seq[CloudEvent],
      expected: ExpectedRevision): Long = t("eventstore.append")(super.append(u, s, events, expected))
  override def streamExists(u: String, s: String): Boolean =
    t("eventstore.exists")(super.streamExists(u, s))
  override def get(u: String, s: String, rownum: Long): Option[CloudEvent] =
    t("eventstore.get")(super.get(u, s, rownum))
  override def page(u: String, s: String, offset: Long, limit: Int): Seq[CloudEvent] =
    t("eventstore.page")(super.page(u, s, offset, limit))
  override def streams(u: String, sort: StreamSort): Seq[StreamMeta] =
    t("eventstore.streams")(super.streams(u, sort))
  override def getStream(u: String, s: String): Option[StreamMeta] =
    t("eventstore.get_stream")(super.getStream(u, s))
  override def ingestBatch(batch: DataFrame, deadLetterDir: Option[String],
      autoCompactAfter: Int): Long =
    t("eventstore.ingest_batch")(super.ingestBatch(batch, deadLetterDir, autoCompactAfter))
  // compactions run on the store's own pool threads, so their parent is
  // the batch being ingested
  override def compactStream(u: String, s: String, graceMs: Long): Int =
    tr.time("eventstore.compact", "", TracedStore.batch)(super.compactStream(u, s, graceMs))
}

object TracedStore {
  val parent: ThreadLocal[String] = ThreadLocal.withInitial(() => "")
  @volatile var batch: String = ""
  /** The request this thread serves, else the micro-batch in flight. */
  def current: String = { val p = parent.get; if (p.nonEmpty) p else batch }
  def open(spark: SparkSession, root: String, tr: Tracer): EventStore =
    if (tr.enabled) new TracedStore(spark, root, tr) else new EventStore(spark, root)
}

// ===================================================================
// api_mixed: closed loop of HTTP clients against ApiServer over loopback
// ===================================================================
object ApiMixed {
  val User = "bench-user"
  private val Issuer = "https://idp.perfbench"
  private val Audience = "graft-api"

  final case class Op(kind: String, index: Int, reqId: String, ms: Double,
      status: Int)

  def run(spark: SparkSession, o: Main.Opts, tr: Tracer,
      probe: Option[SparkProbe], out: Result): Unit = {
    val clients = o.int("clients")
    val length = o.int("length")
    // ES384 key pair and one signed token per client; the token's jti
    // tells the server-side spans which client sent a request
    val kpg = KeyPairGenerator.getInstance("EC")
    kpg.initialize(new ECGenParameterSpec("secp384r1"))
    val kp = kpg.generateKeyPair()
    val pub = kp.getPublic.asInstanceOf[ECPublicKey]
    def coord(i: java.math.BigInteger) = {
      val raw = i.toByteArray.dropWhile(_ == 0)
      val padded = new Array[Byte](48)
      System.arraycopy(raw, 0, padded, 48 - raw.length, raw.length)
      java.util.Base64.getUrlEncoder.withoutPadding().encodeToString(padded)
    }
    val jwks = Seq(Jwt.Jwk("bench-key", coord(pub.getW.getAffineX),
      coord(pub.getW.getAffineY)))
    val exp = System.currentTimeMillis() / 1000 + 3600
    val tokens = (0 until clients).map(c => Jwt.sign(kp.getPrivate, "bench-key",
      Map("sub" -> User, "iss" -> Issuer, "aud" -> Audience, "exp" -> exp,
        "jti" -> s"client-$c")))
    val clientOf = tokens.zipWithIndex.toMap
    val serverSeq = Array.fill(clients)(new AtomicLong())
    val authorize: String => Either[String, Jwt.Claims] =
      if (!tr.enabled) t => Jwt.authorize(t, jwks, Issuer, Audience)
      else t => {
        val c = clientOf.getOrElse(t, -1)
        val reqId = if (c < 0) "" else s"c$c-${serverSeq(c).getAndIncrement()}"
        TracedStore.parent.set(reqId)
        tr.time("api.authorize", "", reqId)(Jwt.authorize(t, jwks, Issuer, Audience))
      }
    val clientSeq = Array.fill(clients)(new AtomicLong())

    def round(tag: String, len: Int, record: Boolean): (Double, Seq[Op]) = {
      val root = o.work.resolve(s"api-$tag")
      val store = TracedStore.open(spark, root.resolve("store").toString, tr)
      val server = ApiServer.startWith(store, authorize, threads = clients)
      val logs = o.work.resolve(s"api-log-$tag")
      Files.createDirectories(logs)
      try {
        val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
        val threads = (0 until clients).map { c =>
          new Thread(() => client(c, len, server.baseUrl, tokens(c),
            clientSeq(c), tr, ops, if (record) Some(logs) else None, o.seed))
        }
        val t0 = System.nanoTime()
        threads.foreach(_.start())
        threads.foreach(_.join())
        ((System.nanoTime() - t0) / 1e9, ops.asScala.toSeq)
      } finally server.stop()
    }

    // untimed warm-up: a short round in its own store
    round("warmup", math.max(8, length / 4), record = false)
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer[(Double, Seq[Op])]()
    val gc = mutable.ArrayBuffer[Double]()
    val spark0 = mutable.ArrayBuffer[SparkProbe#Counters]()
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val g0 = Result.gcMs()
      val r = rounds.size
      rounds += probe.fold(round(s"r$r", length, record = true))(
        _.tagged(s"round$r", "action")(round(s"r$r", length, record = true)))
      gc += (Result.gcMs() - g0).toDouble
      probe.foreach(p => spark0 += p.take(s"round$r"))
    }
    val ops = rounds.flatMap(_._2)
    val appends = ops.filter(_.kind == "append").map(_.ms)
    val reads = ops.filter(o => o.kind == "get" || o.kind == "page").map(_.ms)
    val failed = ops.count(o => o.status >= 300 || o.status < 200).toLong
    out.put("first_op_ms", firstOp)
    out.put("attempted", ops.size.toLong)
    out.put("failed", failed)
    out.put("rounds", rounds.size.toLong)
    // medians of per-round figures: a burst of outside load that hits
    // one round does not move the run's value
    out.put("op_p50_ms", Result.median(rounds.map(r => Result.median(r._2.map(_.ms)))))
    out.put("round_s", Result.median(rounds.map(_._1)))
    out.put("api.append_p50_ms", Result.median(appends))
    out.put("api.append_p95_ms", Result.pct(appends, 0.95))
    out.put("api.read_p50_ms", Result.median(reads))
    out.put("api.read_p95_ms", Result.pct(reads, 0.95))
    out.put("api.ops_per_s", Result.median(rounds.map(r => r._2.size / r._1)))
    out.putStr("store_dir", o.work.resolve(s"api-r${rounds.size - 1}").resolve("store").toString)
    out.putStr("log_dirs", (0 until rounds.size).map(r => o.work.resolve(s"api-log-r$r").toString).mkString(File.pathSeparator))
    out.put("events", clients.toLong * length) // committed in the last round
    if (tr.enabled) {
      val byReq = ops.map(op => op.reqId -> op).toMap
      val spans = tr.all.filter(_.parent.nonEmpty)
      val storeSpans = spans.filter(_.name.startsWith("eventstore."))
      val storeMs = storeSpans.groupMapReduce(_.parent)(_.ms)(_ + _)
      val authMs = tr.named("api.authorize").groupMapReduce(_.parent)(_.ms)(_ + _)
      out.put("api.jwt_authorize_ms", Result.median(tr.named("api.authorize")
        .filter(s => byReq.contains(s.parent)).map(_.ms)))
      out.put("api.self_ms", Result.median(ops.map(op =>
        op.ms - authMs.getOrElse(op.reqId, 0.0) - storeMs.getOrElse(op.reqId, 0.0))))
      def storeMed(name: String, keep: Op => Boolean) = Result.median(
        storeSpans.filter(s => s.name == name && byReq.get(s.parent).exists(keep)).map(_.ms))
      out.put("eventstore.append_ms", storeMed("eventstore.append", _ => true))
      out.put("eventstore.append_first_ms", storeMed("eventstore.append", _.index < length / 4))
      out.put("eventstore.append_last_ms", storeMed("eventstore.append", _.index >= length - length / 4))
      out.put("eventstore.get_ms", storeMed("eventstore.get", _ => true))
      out.put("eventstore.page_ms", storeMed("eventstore.page", _ => true))
      out.put("eventstore.streams_ms", storeMed("eventstore.streams", _ => true))
      SparkProbe.layerMetrics(spark0.toSeq, gc.toSeq, out)
    }
  }

  /** One closed-loop client: grows stream `st-<c>` by single-event POSTs
    * to `len` events; after each POST it reads one committed revision,
    * every 4th POST a page of committed events, every 20th the listing. */
  private def client(c: Int, len: Int, base: String, token: String,
      seq: AtomicLong, tr: Tracer, ops: java.util.Collection[Op],
      log: Option[Path], seed: Long): Unit = {
    val rnd = new scala.util.Random(seed * 7919 + c)
    val stream = s"st-$c"
    val lines = mutable.ArrayBuffer[String]()
    def call(kind: String, i: Int, method: String, path: String,
        body: String): String = {
      val reqId = s"c$c-${seq.getAndIncrement()}"
      val t0 = System.nanoTime()
      val (status, text) = Http.call(base, method, path, token, body)
      val t1 = System.nanoTime()
      tr.record("api.request", reqId, "", t0, t1)
      ops.add(Op(kind, i, reqId, (t1 - t0) / 1e6, status))
      if (log.isDefined)
        lines += s"""{"kind":"$kind","index":$i,"status":$status,"path":${Result.str(path)},"body":${Result.str(text)}}"""
      text
    }
    for (i <- 0 until len) {
      val pad = rnd.alphanumeric.take(40 + rnd.nextInt(120)).mkString
      val ev = s"""{"specversion":"1.0","id":"c$c-e$i","source":"/bench/c$c","type":"bench.api","data":{"n":${rnd.nextInt(1000000)},"pad":"$pad"}}"""
      if (log.isDefined) lines += s"""{"kind":"posted","index":$i,"event":$ev}"""
      call("append", i, "POST", s"/streams/$stream/events", ev)
      val r = rnd.nextInt(i + 1)
      call("get", i, "GET", s"/streams/$stream/events/$r", null)
      if (i % 4 == 3) {
        val limit = math.min(20, i + 1)
        val off = rnd.nextInt(i + 2 - limit)
        call("page", i, "GET",
          s"/streams/$stream/events?page%5Boffset%5D=$off&page%5Blimit%5D=$limit", null)
      }
      if (i % 20 == 19) call("list", i, "GET", "/streams", null)
    }
    call("meta", len, "GET", s"/streams/$stream", null)
    log.foreach(d => Files.write(d.resolve(s"client-$c.jsonl"), lines.asJava, UTF_8))
  }
}

object Http {
  def call(base: String, method: String, path: String, token: String,
      body: String): (Int, String) = {
    val conn = new URL(base + path).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("Authorization", s"Bearer $token")
    if (body != null) {
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      os.write(body.getBytes(UTF_8))
      os.close()
    }
    val status = conn.getResponseCode
    val is = if (status < 400) conn.getInputStream else conn.getErrorStream
    val text = if (is == null) "" else try new String(is.readAllBytes(), UTF_8) finally is.close()
    (status, text)
  }
}

// ===================================================================
// stream_ingest: NDJSON files through Streams.startIngest, then a replay
// ===================================================================
object StreamIngest {
  val User = "ingest-user"

  def run(spark: SparkSession, o: Main.Opts, tr: Tracer,
      probe: Option[SparkProbe], out: Result): Unit = {
    val pool = o.work.resolve("pool")
    val files = Files.list(pool).iterator().asScala.toSeq.sortBy(_.toString)
    val compactAfter = o.int("compact_after")

    final case class Round(batchS: Seq[Double], deliveryS: Double, replayS: Double,
        wallS: Double, committed: Long, progress: Map[String, Double])

    def round(tag: String, fs: Seq[Path], record: Boolean): Round = {
      val root = o.work.resolve(s"ingest-$tag")
      val in = root.resolve("in")
      Files.createDirectories(in)
      val store = TracedStore.open(spark, root.resolve("store").toString, tr)
      val q = graft.streaming.Streams.startIngest(spark, store, in.toString,
        root.resolve("ckpt").toString, Some(root.resolve("dead").toString),
        compactAfter)
      try {
        val t0 = System.nanoTime()
        val walls = fs.zipWithIndex.map { case (f, i) =>
          val id = s"$tag-b$i"
          TracedStore.batch = id
          val b0 = System.nanoTime()
          // atomic publish: the file source never sees a partial file
          val tmp = in.resolve(s".${f.getFileName}")
          Files.copy(f, tmp)
          Files.move(tmp, in.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
          val b1 = System.nanoTime()
          tr.record("ingest.batch", id, "", b0, b1)
          (b1 - b0) / 1e9
        }
        val t1 = System.nanoTime()
        val rows = tr.time("ingest.replay", s"$tag-replay", "") {
          store.userEvents(User)
            .groupBy(col("stream_id"))
            .agg(count(lit(1)).as("n"),
              sum(get_json_object(col("data"), "$.amount").cast("long")).as("amount"))
            .collect()
        }
        val t2 = System.nanoTime()
        if (q.exception.isDefined) throw q.exception.get
        val progress = q.recentProgress.toSeq
          .flatMap(_.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 })
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (record) probe.fold(payload())(_.tagged("payload", "check")(payload()))
        def payload(): Unit = {
          // check payload (untimed): replay aggregates and every committed key
          val w = new PrintWriter(root.resolve("replay.jsonl").toFile, "UTF-8")
          try rows.foreach(r => w.println(
            s"""{"stream_id":${Result.str(r.getString(0))},"count":${r.getLong(1)},"amount":${r.getLong(2)}}"""))
          finally w.close()
          store.userEvents(User).select("stream_id", "revision", "source", "id")
            .coalesce(1).write.parquet(root.resolve("committed").toString)
        }
        Round(walls, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9,
          rows.map(_.getLong(1)).sum, progress)
      } finally q.stop()
    }

    // untimed warm-up: one whole round in its own store (JIT and codegen
    // paths of every batch kind, compaction included)
    round("warmup", files, record = false)
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer[Round]()
    val gc = mutable.ArrayBuffer[Double]()
    val counters = mutable.ArrayBuffer[SparkProbe#Counters]()
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val g0 = Result.gcMs()
      val r = rounds.size
      rounds += probe.fold(round(s"r$r", files, record = true))(
        _.tagged(s"round$r", "action")(round(s"r$r", files, record = true)))
      gc += (Result.gcMs() - g0).toDouble
      probe.foreach(p => counters += p.take(s"round$r"))
    }
    out.put("first_op_ms", firstOp)
    // operations: each delivered file and each replay
    out.put("attempted", rounds.size.toLong * (files.size + 1))
    out.put("failed", 0L)
    out.put("rounds", rounds.size.toLong)
    out.put("op_p50_ms", Result.median(rounds.map(r => Result.median(r.batchS))) * 1e3)
    out.put("round_s", Result.median(rounds.map(_.wallS)))
    out.put("ingest.events_per_s", Result.median(rounds.map(r => r.committed / r.deliveryS)))
    out.put("ingest.batch_p50_s", Result.median(rounds.flatMap(_.batchS)))
    out.put("replay_s", Result.median(rounds.map(_.replayS)))
    out.putStr("round_dirs", (0 until rounds.size).map(r => o.work.resolve(s"ingest-r$r").toString).mkString(File.pathSeparator))
    out.putStr("store_dir", o.work.resolve(s"ingest-r${rounds.size - 1}").resolve("store").toString)
    out.put("events", rounds.last.committed)
    if (tr.enabled) {
      val perRound = (0 until rounds.size).map(r => tr.all.filter(_.parent.startsWith(s"r$r-")))
      def perRoundSum(name: String) = Result.median(perRound.map(_.filter(_.name == name).map(_.ms / 1e3).sum))
      out.put("eventstore.ingest_batch_s", Result.median(tr.named("eventstore.ingest_batch").map(_.ms / 1e3)))
      out.put("eventstore.compactions", Result.median(perRound.map(_.count(_.name == "eventstore.compact").toDouble)))
      out.put("eventstore.compact_s", perRoundSum("eventstore.compact"))
      def prog(k: String) = Result.median(rounds.map(_.progress.getOrElse(k, 0.0)))
      out.put("streaming.add_batch_s", prog("addBatch"))
      out.put("streaming.query_planning_s", prog("queryPlanning"))
      out.put("streaming.get_batch_s", prog("getBatch"))
      out.put("streaming.wal_commit_s", prog("walCommit"))
      SparkProbe.layerMetrics(counters.toSeq, gc.toSeq, out)
    }
  }
}

// ===================================================================
// query_mix: a fixed subset of the gate queries, short set + heavy set
// ===================================================================
object QueryMix {
  def run(spark: SparkSession, o: Main.Opts, tr: Tracer,
      probe: Option[SparkProbe], out: Result): Unit = {
    val dir = o.work.resolve("tables").toString
    val short = o.shape("short").split(',').toSeq
    val heavy = o.shape("heavy").split(',').toSeq
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val results = o.work.resolve("results")

    def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

    /** One query: (construct s, action s, canonical rows). */
    def one(pass: Int, name: String, set: String)
        : (Double, Double, Array[Row], org.apache.spark.sql.types.StructType) = {
      val id = s"p$pass-$name"
      def phase[T](p: String)(f: => T): T =
        probe.fold(f)(_.tagged(s"$set$pass", p)(f))
      val t0 = System.nanoTime()
      val df = tr.time("query.construct", "", id)(phase("construct")(all(name)(spark, dir)))
      val t1 = System.nanoTime()
      val rows = tr.time("query.action", "", id)(phase("action")(df.collect()))
      val t2 = System.nanoTime()
      tr.record("query", id, "", t0, t2)
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, df.schema)
    }

    // untimed first pass: its results are what the oracle checks, and
    // every timed pass must reproduce them exactly
    val expected = (short ++ heavy).map { name =>
      val (_, _, rows, schema) = one(-1, name, "warmup")
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(results.resolve(name).toString)
      name -> canon(rows)
    }.toMap
    probe.foreach { p => p.take("warmup-1") }
    Files.writeString(o.work.resolve("oracle_sql.json"), (short ++ heavy)
      .map(n => s"${Result.str(n)}:${Result.str(oracle(n))}").mkString("{", ",", "}"))

    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    final case class Pass(shortS: Double, heavyS: Double, walls: Seq[Double],
        sc: Double, sa: Double, hc: Double, ha: Double, mismatches: Int)
    val passes = mutable.ArrayBuffer[Pass]()
    val gc = mutable.ArrayBuffer[Double]()
    val counters = mutable.ArrayBuffer[SparkProbe#Counters]()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val p = passes.size
      val g0 = Result.gcMs()
      val s = short.map(n => n -> one(p, n, "short"))
      val h = heavy.map(n => n -> one(p, n, "heavy"))
      gc += (Result.gcMs() - g0).toDouble
      val bad = (s ++ h).count { case (n, r) => canon(r._3) != expected(n) }
      def wall(xs: Seq[(String, (Double, Double, Array[Row], _))]) = xs.map(x => x._2._1 + x._2._2)
      passes += Pass(wall(s).sum, wall(h).sum, wall(s) ++ wall(h),
        s.map(_._2._1).sum, s.map(_._2._2).sum, h.map(_._2._1).sum, h.map(_._2._2).sum, bad)
      probe.foreach { pr =>
        val a = pr.take(s"short$p"); val b = pr.take(s"heavy$p")
        b.c.forEach((k, v) => a.add(k, v.get))
        counters += a
      }
    }
    out.put("first_op_ms", firstOp)
    out.put("attempted", passes.size.toLong * (short.size + heavy.size))
    out.put("failed", 0L)
    out.put("mismatches", passes.map(_.mismatches).sum.toLong)
    out.put("rounds", passes.size.toLong)
    out.put("op_p50_ms", Result.median(passes.map(p => Result.median(p.walls))) * 1e3)
    out.put("round_s", Result.median(passes.map(p => p.shortS + p.heavyS)))
    out.put("queries.short_s", Result.median(passes.map(_.shortS)))
    out.put("queries.heavy_s", Result.median(passes.map(_.heavyS)))
    out.putStr("results_dir", results.toString)
    (short ++ heavy).zipWithIndex.foreach { case (n, i) =>
      out.put(s"query.$n", Result.median(passes.map(_.walls(i))))
    }
    if (tr.enabled) {
      out.put("queries.short_construct_s", Result.median(passes.map(_.sc)))
      out.put("queries.short_action_s", Result.median(passes.map(_.sa)))
      out.put("queries.heavy_construct_s", Result.median(passes.map(_.hc)))
      out.put("queries.heavy_action_s", Result.median(passes.map(_.ha)))
      SparkProbe.layerMetrics(counters.toSeq, gc.toSeq, out)
    }
  }
}
