package perfbench

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.OpListener
import org.apache.spark.sql.types.{NumericType, StringType, StructField, StructType}

import graft.{Sentinel, Tables}
import graft.functions.Scalars
import graft.http.HttpShim
import graft.ingest.Ingest
import graft.lifecycle.{JsonPatch, UsersOps}
import graft.model.Records
import graft.render.ApiRender
import graft.stats.{StatsParams, StatsProcessor}
import graft.store.Warehouse

/** Drives one benchmark run of a service workload against the unchanged
  * program and writes what it observed into the work directory; the
  * Python side (`run.py`) turns that into metrics and checks it.
  *
  * Untraced run: set-up (session, corpus warehouse, warm-up),
  * then a closed loop of `clients` callers over `HttpShim` for the whole
  * number of turns of the route cycle that ends nearest to `seconds`.
  *
  * Traced run: the same set-up and HTTP window (kept open until every
  * route has run), then a replay of the ops the HTTP window ran, in the
  * order they started, by 1 caller through the public functions `HttpShim`
  * calls. Each op runs twice, against two fresh copies of the warehouse as
  * it stood before the window, so every phase does the same work: direct
  * (no spans), then traced (one span per call, Spark jobs and SQL
  * executions attributed by a job tag).
  *
  * The corpus warehouse (users plus the generator's corpus, bulk-loaded in
  * batches) is built once, by `--build-corpus`, and copied into each run.
  *
  * Usage: `perfbench.Harness <workDir> <seconds> <trace 0|1> <clients> <cores> <corpus> <warmSeconds>`
  * and `perfbench.Harness --build-corpus <workDir> <cacheDir> <cores>`
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Done(id: Int, route: String, phase: String, startNs: Long,
      endNs: Long, status: Int, error: String)

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startMs: Double, endMs: Double)

  def main(args: Array[String]): Unit = {
    if (args(0) == "--build-corpus")
      return buildCorpus(Paths.get(args(1)), Paths.get(args(2)), args(3).toInt)
    val dir = Paths.get(args(0))
    val seconds = args(1).toDouble
    val traced = args(2) == "1"
    val clients = args(3).toInt
    val cores = args(4).toInt
    // every request opens its own connection, like a command-line client
    System.setProperty("http.keepAlive", "false")
    new Harness(dir, seconds, traced, clients, cores, Paths.get(args(5)), args(6).toDouble).run()
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private val uploadSchema = StructType(Seq(
    StructField("content", StringType), StructField("fileName", StringType),
    StructField("uploaderId", StringType)))

  def uploadsFrame(spark: SparkSession, runs: JsonNode): DataFrame = {
    val rows = runs.elements().asScala.map(r =>
      Row(r.get("content").asText, r.get("fileName").asText, r.get("uploaderId").asText)).toSeq
    spark.createDataFrame(rows.asJava, uploadSchema)
  }

  /** Users plus the generator's corpus, bulk-loaded batch by batch, into
    * `cache/warehouse`, and `cache/ids.json`: the ids the program gave the
    * stored runs and samples (`run:<runName>`, `sample:<runName>/<sampleName>`)
    * and the users' API keys (`key:<user>`). Runs in a JVM of its own, so
    * every measured run starts cold. */
  def buildCorpus(dir: Path, cache: Path, cores: Int): Unit = {
    val spark = Tables.session(s"local[$cores]")
    val root = cache.resolve(s"building-${ProcessHandle.current.pid}")
    try {
      val t0 = System.nanoTime()
      val model = mapper.readTree(dir.resolve("model.json").toFile)
      val password = model.get("password").asText
      val admin = model.get("admin").asText
      val s = new Sentinel(spark, root.toString)
      (model.get("users").elements().asScala.map(_.asText).toSeq :+ admin).foreach { u =>
        s.addUser(u, s"$u@example.org", password, password, verified = true, isAdmin = u == admin)
      }
      readLines(dir.resolve("corpus.jsonl")).foreach { b =>
        val n = s.bulkIngest(uploadsFrame(spark, b.get("runs")), b.get("pipeline").asText)
        require(n == b.get("runs").size, s"corpus batch stored $n of ${b.get("runs").size} runs")
      }
      log(f"corpus built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      mapper.writeValue(cache.resolve("ids.json").toFile, storedIds(s.warehouse).asJava)
      Files.move(root, cache.resolve("warehouse"))
    } finally spark.stop()
  }

  private def storedIds(wh: Warehouse): Map[String, String] = {
    val runs = wh.read(Warehouse.Runs).select(col("runId"), col("labels.runName")).collect()
      .map(r => s"run:${r.getString(1)}" -> r.getString(0))
    val samples = Seq("maple", "pref", "pann").map(Warehouse.samples).filter(wh.exists)
      .flatMap(t => wh.read(t).select(col("_id"), col("labels.runName"), col("labels.sampleName"))
        .collect().map(r => s"sample:${r.getString(1)}/${r.getString(2)}" -> r.getString(0)))
    val keys = wh.read(Warehouse.Users).select(col("id"), col("activeKey")).collect()
      .map(r => s"key:${r.getString(0)}" -> r.getString(1))
    (runs ++ samples ++ keys).toMap
  }

  def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  def readLines(p: Path): Seq[JsonNode] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty).map(l => mapper.readTree(l))

  def text(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filter(x => !x.isNull).map(_.asText)
}

final class Harness(dir: Path, seconds: Double, traced: Boolean, clients: Int,
    cores: Int, corpus: Path, warmSeconds: Double) {
  import Harness._

  private val model = mapper.readTree(dir.resolve("model.json").toFile)
  private var ops: IndexedSeq[JsonNode] = _
  /** Placeholder (see [[Harness.buildCorpus]]) → id. */
  private var ids = Map.empty[String, String]
  /** Run ids returned by successful new uploads, by op id. */
  private val uploaded = new java.util.concurrent.ConcurrentSkipListMap[Int, String]()
  private val users = model.get("users").elements().asScala.map(_.asText).toSeq
  private val cycle = model.get("cycle").asInt
  private val admin = model.get("admin").asText

  private val out = mapper.createObjectNode()
  private val done = new ConcurrentLinkedQueue[Done]()
  private val next = new AtomicInteger(0)

  private var spark: SparkSession = _
  /** The service behind the HTTP shim; the end-of-run checks read it. */
  private var served: Sentinel = _
  /** The service the direct calls go to: `served`, or a replay's copy. */
  private var sentinel: Sentinel = _
  private var shim: HttpShim = _
  private var base: String = _
  private var keys = Map.empty[String, String]

  // ---- set-up -------------------------------------------------------------

  private def uploadsFrame(runs: JsonNode): DataFrame = Harness.uploadsFrame(spark, runs)

  private def setup(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = Tables.session(s"local[$cores]")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val t0 = System.nanoTime()
    val root = dir.resolve("warehouse")
    copyTree(corpus, root)
    served = new Sentinel(spark, root.toString)
    sentinel = served
    ids = mapper.readValue(corpus.resolveSibling("ids.json").toFile,
      classOf[java.util.Map[String, String]]).asScala.toMap
    keys = (users :+ admin).map(u => u -> ids(s"key:$u")).toMap
    ops = Files.readAllLines(dir.resolve("ops.jsonl"), UTF_8).asScala.toIndexedSeq
      .filter(_.nonEmpty).map(l => mapper.readTree(resolve(l)))
    shim = new HttpShim(served)
    base = s"http://127.0.0.1:${shim.start()}"
    spark.sparkContext.addSparkListener(listener)

    val loadS = (System.nanoTime() - t0) / 1e9

    val tw = System.nanoTime()
    warmUp()
    val s = out.putObject("setup")
    s.put("session_s", sessionS)
    s.put("load_s", loadS)
    s.put("warm_s", (System.nanoTime() - tw) / 1e9)
  }

  private val placeholder = """\{((?:run|sample):[^}]*)\}""".r

  private def resolve(s: String): String =
    placeholder.replaceAllIn(s, m => ids.getOrElse(m.group(1),
      throw new IllegalStateException(s"no stored ${m.group(1)}")))

  /** Ops taken by the warm-up; the timed loops skip them. */
  private val warmIds = scala.collection.mutable.Set.empty[Int]

  /** Untimed but checked: the stream's first op of each route (the first
    * call of a route loads and compiles its code), all at once, then the
    * closed loop for `warmSeconds` while the JIT compiles the hot paths.
    * Every op's outcome is independent of the order ops run in, so taking
    * them early and together is safe. */
  private def warmUp(): Unit = {
    val first = ops.groupBy(_.get("route").asText).values.toSeq.map(_.minBy(_.get("id").asInt))
    warmIds ++= first.map(_.get("id").asInt)
    val threads = first.map(op => new Thread(() => runOne(op, "warm", viaHttp = true)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    loop("warm", clients, warmSeconds)
  }

  // ---- executing ops ------------------------------------------------------

  private val listener = new OpListener
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicInteger(0)
  private var tracing = false
  private var curOp = -1
  private var curRoot = -1

  /** Time `f` as a child span of the current op's root span (outside any
    * root span while `curRoot` is -1) when tracing. */
  private def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = spanIds.incrementAndGet()
      val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try f
      finally {
        val dur = (System.nanoTime() - n0) / 1e6
        spans.add(Span(id, curRoot, curOp, name, s0.toDouble, s0 + dur))
      }
    }

  private def method(route: String): String = route match {
    case "upload" => "POST"
    case "patch"  => "PATCH"
    case "delete" => "DELETE"
    case _        => "GET"
  }

  /** HttpURLConnection refuses PATCH in setRequestMethod; its method field
    * takes it (the JVM runs with java.net opened to the classpath). */
  private val patchMethod = {
    val f = classOf[HttpURLConnection].getDeclaredField("method")
    f.setAccessible(true)
    f
  }

  /** One request on a fresh connection (keep-alive is off, see `main`). */
  private def request(method: String, path: String, user: Option[String],
      body: Option[Array[Byte]] = None): (Int, Array[Byte]) = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      if (method == "PATCH") patchMethod.set(c, "PATCH") else c.setRequestMethod(method)
      c.setConnectTimeout(170000); c.setReadTimeout(170000)
      user.foreach(u => c.setRequestProperty("X-Sentinel-Key", keys(u)))
      body.foreach { b =>
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        c.getOutputStream.write(b)
      }
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      (status, if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close())
    } finally c.disconnect()
  }

  private def viaHttp(op: JsonNode): (Int, Array[Byte]) =
    request(method(op.get("route").asText), op.get("path").asText, text(op, "user"),
      text(op, "body").map(_.getBytes(UTF_8)))

  private def json(kvs: (String, Any)*): Array[Byte] = {
    val n = mapper.createObjectNode()
    kvs.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Int)    => n.put(k, v)
      case (k, v)         => n.put(k, String.valueOf(v))
    }
    n.toString.getBytes(UTF_8)
  }

  private def authed(op: JsonNode): Records.User = {
    val u = op.get("user").asText
    span("lifecycle.auth")(UsersOps.authenticateByKey(sentinel.warehouse, u, keys(u)))
      .getOrElse(throw new IllegalStateException(s"key of $u rejected"))
  }

  private def statsParams(op: JsonNode): StatsParams = {
    val p = op.get("params")
    StatsParams(
      accLevel = Scalars.AccLevel.parse(p.get("accLevel").asText),
      libType = text(p, "libType").map(Scalars.parseLibType),
      runIds = text(p, "runIds").map(_.split(',').toSeq).getOrElse(Seq.empty),
      timeSorted = text(p, "timeSorted").contains("true"),
      nLimit = text(p, "nLimit").map(_.toInt))
  }

  /** The op through the public functions `HttpShim` calls, in its order. */
  private def direct(op: JsonNode): (Int, Array[Byte]) = {
    val route = op.get("route").asText
    val wh = sentinel.warehouse
    def rendered(s: String) = (200, s.getBytes(UTF_8))
    route match {
      case "stats" | "aggregate" =>
        val pipeline = op.get("pipeline").asText
        val params = statsParams(op)
        val units = span("store.read")(sentinel.unitsOf(pipeline, params.accLevel))
        if (route == "stats") {
          val df = span("stats.build")(sentinel.getStats(units, params.selectors,
            Seq(col("_id"), col("runId"), col("creationTimeUtc"), col("stats")),
            params.sortOrRandom, params.nLimit))
          rendered(span("render")(ApiRender.renderRows(df, showBlanks = false)))
        } else {
          // every numeric stat, as the shim does when no metrics are named
          val plugin = sentinel.pipelines(pipeline)
          val schema = (params.accLevel match {
            case Scalars.AccLevel.Sample    => plugin.sampleStatsSchema
            case Scalars.AccLevel.ReadGroup => plugin.readGroupStatsSchema
          }).get
          val metrics = schema.fields.toSeq.collect {
            case f if f.dataType.isInstanceOf[NumericType] => f.name -> col(s"stats.${f.name}")
          }
          val df = span("stats.build")(sentinel.getAggregateStats(units, params.selectors, metrics))
          rendered(span("render")(ApiRender.renderRows(df)))
        }
      case "stats_runs" =>
        // the body of Sentinel.globalRunStats, split so the read is a span of its own
        val runs = span("store.read")(wh.read(Warehouse.Runs))
        val df = span("stats.build")(StatsProcessor.globalRunStats(runs))
        rendered(span("render")(ApiRender.renderRows(df)))
      case "run_get" =>
        val user = authed(op)
        val df = span("lifecycle.get_run")(sentinel.getRun(op.get("runId").asText, user))
        rendered(span("render")(ApiRender.renderRows(df, showBlanks = false)))
      case "download" =>
        val user = authed(op)
        (200, span("lifecycle.get_file")(sentinel.getRunFile(op.get("runId").asText, user)))
      case "list_runs" =>
        val user = authed(op)
        val pipelines = text(op, "pipelines").toSeq
        val df = span("lifecycle.list")(sentinel.getRuns(user, pipelines))
        rendered(span("render")(ApiRender.renderRows(df, showBlanks = false)))
      case "upload" =>
        val user = authed(op)
        val bytes = op.get("body").asText.getBytes(UTF_8)
        val id = span("ingest.upload")(
          sentinel.upload(bytes, "upload.json", op.get("pipeline").asText, user))
        (201, json("runId" -> id))
      case "patch" =>
        val patch = JsonPatch.parse(mapper.readTree(op.get("body").asText))
        val user = authed(op)
        val (r, s, g) = span("lifecycle.patch")(
          sentinel.patchRun(op.get("runId").asText, user, patch))
        (200, json("runsModified" -> r, "samplesModified" -> s, "readGroupsModified" -> g))
      case "delete" =>
        val user = authed(op)
        span("lifecycle.delete")(sentinel.deleteRun(op.get("runId").asText, user))
        (204, Array.emptyByteArray)
    }
  }

  /** Bulk batches have no HTTP route: every caller drives them in-process. */
  private def bulk(op: JsonNode): (Int, Array[Byte]) = {
    val df = uploadsFrame(op.get("runs"))
    val n = span("ingest.bulk")(sentinel.bulkIngest(df, op.get("pipeline").asText))
    (200, json("count" -> n))
  }

  /** Standalone schema-validation probe on an upload's bytes: the same
    * call `Sentinel.upload` makes internally, timed before the op's root
    * span opens. */
  private def validateProbe(op: JsonNode): Unit =
    if (op.get("route").asText == "upload") span("pipelines.validate") {
      val plugin = sentinel.pipelines(op.get("pipeline").asText)
      plugin.validate(Ingest.parseJson(op.get("body").asText.getBytes(UTF_8)))
    }

  private def shimError(e: Throwable): (Int, Array[Byte]) = {
    val body = e match {
      case d: Ingest.DuplicateFileException => json("existingRunId" -> d.existingRunId)
      case _ => json("message" -> String.valueOf(e.getMessage))
    }
    (shim.statusOf(e), body)
  }

  private def runOne(op: JsonNode, phase: String, viaHttp: Boolean): Unit = {
    val id = op.get("id").asInt
    val route = op.get("route").asText
    val sc = spark.sparkContext
    if (tracing) {
      curOp = id
      validateProbe(op)
      sc.addJobTag(OpListener.tagOf(id))
    }
    val t0 = System.nanoTime()
    val rootId = if (tracing) spanIds.incrementAndGet() else -1
    val rootStartMs = System.currentTimeMillis()
    curRoot = rootId
    val (status, body, err) =
      try {
        val (s, b) =
          if (route == "bulk") bulk(op)
          else if (viaHttp) this.viaHttp(op)
          else try direct(op) catch { case e: Exception => shimError(e) }
        (s, b, check(op, s, b))
      } catch {
        case e: Throwable => (-1, Array.emptyByteArray, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val t1 = System.nanoTime()
    if (tracing) {
      spans.add(Span(rootId, -1, id, s"op.$route", rootStartMs.toDouble,
        rootStartMs + (t1 - t0) / 1e6))
      sc.removeJobTag(OpListener.tagOf(id))
      curRoot = -1
      recordWrites(id)
    }
    done.add(Done(id, route, phase, t0, t1, status, err))
  }

  /** Warehouse files (by inode) after the last traced op. */
  private var lastFiles: Map[Any, Long] = Map.empty
  private val writes = out.putObject("op_writes")

  private def snapshot(): Map[Any, Long] = {
    val s = Files.walk(Paths.get(sentinel.root))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p)).toMap
    finally s.close()
  }

  /** Parquet files and bytes the op added to the warehouse (hard links to
    * files of the previous snapshot are not new). */
  private def recordWrites(op: Int): Unit = {
    val now = snapshot()
    val fresh = now.keySet -- lastFiles.keySet
    writes.set[JsonNode](op.toString, mapper.valueToTree[JsonNode](
      Seq[Any](fresh.size, fresh.toSeq.map(now).sum).asJava))
    lastFiles = now
  }

  // ---- checking responses ---------------------------------------------------

  /** "" when the response matches the op's expected outcome. */
  private def check(op: JsonNode, status: Int, body: Array[Byte]): String = {
    val exp = op.get("expect")
    val route = op.get("route").asText
    if (route == "bulk") {
      val n = mapper.readTree(body).get("count").asLong
      return if (n == exp.get("count").asLong) "" else s"bulk stored $n runs"
    }
    val want = exp.get("status").asInt
    if (status != want) return s"status $status, expected $want: ${new String(body, UTF_8).take(200)}"
    def arr = mapper.readTree(body)
    val problems = Seq.newBuilder[String]
    Option(exp.get("rows")).foreach { n =>
      if (arr.size != n.asInt) problems += s"${arr.size} rows, expected ${n.asInt}"
    }
    Option(exp.get("md5")).foreach { m =>
      if (md5(body) != m.asText) problems += "downloaded bytes differ from the upload"
    }
    if (route == "run_get" && arr.size == 1 && text(arr.get(0), "runId") != text(exp, "runId"))
      problems += "wrong run returned"
    Option(exp.get("n")).foreach { ns =>
      ns.fields().asScala.foreach { e =>
        val got = Option(arr.get(0)).flatMap(r => Option(r.get(s"${e.getKey}_n"))).map(_.asLong)
        if (!got.contains(e.getValue.asLong))
          problems += s"${e.getKey}_n = ${got.orNull}, expected ${e.getValue.asLong}"
      }
    }
    Option(exp.get("rollup")).foreach { r => problems ++= checkRollup(arr, r) }
    Option(exp.get("counts")).foreach { c =>
      val b = mapper.readTree(body)
      val got = Seq("runsModified", "samplesModified", "readGroupsModified").map(k => b.get(k).asInt)
      val want = c.elements().asScala.map(_.asInt).toSeq
      if (got != want) problems += s"modified $got, expected $want"
    }
    if (route == "upload" && want == 201) {
      text(mapper.readTree(body), "runId").filter(_.matches("[0-9a-f]{32}")) match {
        case Some(id) => uploaded.putIfAbsent(op.get("id").asInt, id)
        case None     => problems += "no run id returned"
      }
    }
    if (route == "upload" && want == 409) {
      val got = text(mapper.readTree(body), "existingRunId")
      if (got != text(exp, "runId")) problems += s"existingRunId ${got.orNull}, expected ${text(exp, "runId").orNull}"
    }
    problems.result().mkString("; ")
  }

  private def checkRollup(arr: JsonNode, want: JsonNode): Seq[String] = {
    val got = arr.elements().asScala.map { r =>
      r.get("pipeline").asText -> Seq("nRuns", "nSamples", "nReadGroups").map(k => r.get(k).asLong)
    }.toMap
    val exp = want.fields().asScala.map(e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asLong).toSeq).toMap
    if (got == exp) Seq.empty else Seq(s"rollup $got, expected $exp")
  }

  // ---- phases -------------------------------------------------------------

  /** A closed loop: each caller takes the next op when its last one is
    * done. Without `whole` it takes ops for `secs`. With `whole` it takes a
    * whole number of turns of the route cycle (at least one), the number
    * whose end comes nearest to `secs`, so every run's window holds the
    * same number of ops of each route however fast the host runs them (a
    * cut at `secs` takes more or fewer ops of a turn with the host's speed,
    * and with few ops per window that moves the median from one route to
    * another).
    * With `everyRoute` it goes on until the phase has run an op of every
    * route of the stream. */
  private def loop(phase: String, callers: Int, secs: Double, whole: Boolean = false,
      everyRoute: Boolean = false): Unit = if (secs > 0) {
    val t0 = System.nanoTime()
    val routes = ops.map(_.get("route").asText).toSet
    def unseen = everyRoute &&
      (routes -- done.asScala.filter(_.phase == phase).map(_.route)).nonEmpty
    var taken = 0
    var full = false
    /** The next op of the window, if any. */
    def take(): Option[Int] = synchronized {
      val s = (System.nanoTime() - t0) / 1e9
      if ((if (whole) full else s >= secs) && !unseen) None
      else {
        var i = next.getAndIncrement()
        while (i < ops.size && warmIds(i)) i = next.getAndIncrement()
        if (i >= ops.size) None
        else {
          taken += 1
          // at the end of a turn, stop unless the end of the next one
          // (a turn later, at this pace) comes nearer to `secs`
          if (taken % cycle == 0 && secs - s < s * cycle / taken / 2) full = true
          Some(i)
        }
      }
    }
    val threads = (0 until callers).map { _ =>
      val t = new Thread(() => {
        var op = take()
        while (op.nonEmpty) {
          runOne(ops(op.get), phase, viaHttp = true)
          op = take()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private def jvmCounters(): (Long, Long) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  private lazy val windows = out.putObject("windows")

  private def window(name: String)(f: => Unit): Unit = {
    val (gc0, jit0) = jvmCounters()
    val t0 = System.nanoTime()
    f
    val (gc1, jit1) = jvmCounters()
    val w = windows.putObject(name)
    w.put("seconds", (System.nanoTime() - t0) / 1e9)
    w.put("gc_ms", gc1 - gc0)
    w.put("jit_ms", jit1 - jit0)
  }

  private def copyOf(from: Path, name: String): Sentinel = {
    val root = dir.resolve(name)
    copyTree(from, root)
    new Sentinel(spark, root.toString)
  }

  /** `ops` by 1 caller through the direct calls, in order: each op first
    * untraced against one fresh copy of `from`, then traced against
    * another, so both see the same JIT and cache state. Stops early after
    * `limitNs`, so a slow replay cannot outlast the run's time limit. */
  private def replay(ops: Seq[JsonNode], from: Path, limitNs: Long): Unit = {
    val untraced = copyOf(from, "warehouse-direct")
    val traced = copyOf(from, "warehouse-traced")
    sentinel = traced
    lastFiles = snapshot()
    val deadline = System.nanoTime() + limitNs
    ops.iterator.takeWhile(_ => System.nanoTime() < deadline).foreach { op =>
      sentinel = untraced
      runOne(op, "direct", viaHttp = false)
      sentinel = traced
      tracing = true
      runOne(op, "traced", viaHttp = false)
      tracing = false
    }
  }

  private def measure(): Unit =
    if (!traced) window("http")(loop("http", clients, seconds, whole = true))
    else {
      // the warehouse as the HTTP window finds it, for the replays
      val before = dir.resolve("warehouse-before")
      copyTree(Paths.get(served.root), before)
      // every route, so each layer of the workload is traced
      val t0 = System.nanoTime()
      window("http")(loop("http", clients, seconds, whole = true, everyRoute = true))
      val httpNs = System.nanoTime() - t0
      val ran = done.asScala.toSeq.filter(_.phase == "http").sortBy(_.startNs).map(d => ops(d.id))
      // the end-of-run checks and output need up to 20 s of the
      // 170 s `run.py` gives this JVM
      val leftNs = (150000L - ManagementFactory.getRuntimeMXBean.getUptime) * 1000000L
      window("replay")(replay(ran, before, math.min(3 * httpNs, leftNs)))
    }

  // ---- final state ------------------------------------------------------------

  private def get(path: String, user: Option[String]): (Int, Array[Byte]) =
    request("GET", path, user)

  /** What the service reports after the run, for `run.py` to compare with
    * the generator's model. */
  private def finalState(): Unit = {
    val f = out.putObject("final")
    val (s1, runs) = get(s"/runs?userId=$admin", Some(admin))
    f.put("runs_status", s1)
    f.put("live_runs", if (s1 == 200) mapper.readTree(runs).size else -1)
    val (s2, rollup) = get("/stats/runs", None)
    f.set[JsonNode]("rollup", if (s2 == 200) mapper.readTree(rollup) else mapper.nullNode())
    val agg = f.putObject("aggregate_n")
    Seq("maple" -> "nSnps", "pref" -> "num", "pann" -> "num").foreach { case (p, m) =>
      val (s, b) = get(s"/stats/$p/aggregate?accLevel=sample&metrics=$m", None)
      agg.put(p, if (s == 200) mapper.readTree(b).get(0).get(s"${m}_n").asLong else -1L)
    }
    // stored bytes of a corpus run and of the first new upload
    val dl = f.putObject("downloads")
    val corpusRuns = Files.readAllLines(dir.resolve("final_ids.txt")).asScala.filter(_.nonEmpty)
      .map(ref => ref -> resolve(ref))
    val uploads = uploaded.asScala.take(1).map { case (op, id) => s"op:$op" -> id }
    (corpusRuns ++ uploads).foreach { case (label, id) =>
      val (s, b) = get(s"/runs/$id?userId=$admin&download=true", Some(admin))
      dl.put(label, if (s == 200) md5(b) else s.toString)
    }
  }

  // ---- output -------------------------------------------------------------------

  private def storeFootprint(): Unit = {
    val inodes = scala.collection.mutable.Set.empty[Any]
    var bytes = 0L; var files = 0L
    val s = Files.walk(Paths.get(served.root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      if (inodes.add(Files.getAttribute(p, "unix:ino"))) {
        bytes += Files.size(p)
        if (p.toString.endsWith(".parquet")) files += 1
      }
    } finally s.close()
    out.put("store_bytes", bytes)
    out.put("store_files", files)
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def writeResults(): Unit = {
    val arr = out.putArray("ops")
    done.asScala.toSeq.sortBy(_.startNs).foreach { d =>
      arr.add(mapper.valueToTree[JsonNode](Seq[Any](d.id, d.route, d.phase,
        d.startNs / 1e6, d.endNs / 1e6, d.status, d.error).asJava))
    }
    out.put("rss_peak_mb", rssPeakMb())
    // what the process keeps once the run is over: heap in use after a full
    // GC, the least of three a little apart, so garbage that Spark's
    // background threads still held at one of them is not counted
    out.put("heap_live_mb", (1 to 3).map { _ =>
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min)
    if (traced) {
      OpListener.drain(spark.sparkContext)
      val w = Files.newBufferedWriter(dir.resolve("spans.jsonl"))
      try {
        def line(id: Int, parent: Int, op: Int, name: String, s: Double, e: Double): Unit = {
          val n = mapper.createObjectNode()
          n.put("id", id); n.put("parent", parent); n.put("op", op); n.put("name", name)
          n.put("start_ms", s); n.put("end_ms", e)
          w.write(n.toString); w.newLine()
        }
        spans.asScala.foreach(s => line(s.id, s.parent, s.op, s.name, s.startMs, s.endMs))
        listener.spans.foreach { c =>
          line(-1, -1, c.op, c.kind, c.startMs.toDouble, math.max(c.endMs, c.startMs).toDouble)
        }
      } finally w.close()
      val t = out.putObject("op_totals")
      listener.totals.asScala.foreach { case (op, x) =>
        t.set[JsonNode](op.toString, mapper.valueToTree[JsonNode](Seq[Any](
          x.jobs, x.stages, x.tasks, x.runMs, x.cpuNs / 1000000L, x.shuffleWriteBytes,
          x.spillBytes, x.inputBytes, x.executions, x.filesRead, x.analysisMs,
          x.optimizationMs, x.planningMs).asJava))
      }
    }
    mapper.writeValue(dir.resolve("observed.json").toFile, out)
  }

  def run(): Unit = {
    try {
      setup()
      measure()
      storeFootprint()
      finalState()
      writeResults()
    } finally {
      if (shim != null) shim.stop()
      if (spark != null) spark.stop()
    }
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
