package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.catalog.{ConfigLoader, FileStateBackend, Mesh}
import graft.mesh.{EntityResolver, Fixtures, MeshRegistry, MeshSession, QueryService, ViewEpoch}
import graft.transport.{ArrowCodec, RelayClient, RelayServer}
import graft.validation.SqlValidator

/** One generated operation of a serving workload. */
final case class Op(id: Long, tpl: String, entity: String, sql: String,
    user: Option[String], kind: String, enc: String)

/** What one operation did, as the client saw it. */
final case class OpRec(id: Long, client: Int, kind: String, tpl: String,
    startNs: Long, endNs: Long, status: Int, ok: Boolean, bytes: Long,
    body: String, err: String, phase: String)

/** The benchmark's JVM side. It receives only generated inputs (a plan
  * file written by run.py), sets up the system, times one workload window
  * and writes every operation record, response body and span to `--out`.
  * Correctness is judged afterwards, outside the JVM, by the oracle.
  *
  *   graftbench.Main --workload W|prepare --plan plan.json --out DIR
  *     --data SFDIR --work DIR --trace 0|1 --cpus N
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(opts("plan"))))
    val out = Paths.get(opts("out"))
    Files.createDirectories(out.resolve("bodies"))
    val cfg = Cfg(
      workload = opts("workload"),
      plan = plan,
      out = out,
      work = Paths.get(opts("work")),
      sfDir = opts("data"),
      trace = opts("trace") == "1",
      cpus = opts("cpus").toInt)
    val res = mapper.createObjectNode()
    try {
      if (cfg.workload == "prepare") prepare(cfg)
      else {
        cfg.workload match {
          case "serve-churn" => new Serving(cfg, res).run()
          case "suite-batch" => new Suite(cfg, res).run()
          case w => sys.error(s"unknown workload $w")
        }
        res.put("vm_hwm_kb", vmHwmKb())
        Files.write(out.resolve("result.json"), mapper.writeValueAsBytes(res))
      }
    } finally SparkSession.getActiveSession.foreach(_.stop())
    // relay pools and HTTP client threads are daemons, but the Spark
    // shutdown hooks and a lingering non-daemon thread must not hold the
    // process open past the run
    System.exit(0)
  }

  /** Writes graft's parquet layout cache (LocalLayout, under
    * java.io.tmpdir) for every raw table, so that no timed set-up pays for
    * compacting them. */
  def prepare(cfg: Cfg): Unit =
    Fixtures.registerRaw(session(cfg, benchConf = false), cfg.sfDir)

  /** Times each named set-up phase into `res.setup_phases`. */
  final class SetupPhases(res: ObjectNode) {
    private val phases = res.putObject("setup_phases")
    def apply[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally phases.put(name, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Seconds since the JVM started: set-up time includes JVM start. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** CPU time of every thread of this process so far. Unlike wall time it
    * does not grow when the host steals the CPU from this VM. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def session(cfg: Cfg, benchConf: Boolean): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", cfg.work.resolve("hadoop").toString)
      // long-lived session over a wide query mix (graft.Bench and
      // graft.tools.RelayMain both set it)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    val b =
      if (!benchConf) base // graft.tools.RelayMain's serving conf
      else base // graft.Bench's batch conf
        .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.broadcast.compress", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def confJson(spark: SparkSession): ObjectNode = {
    val o = mapper.createObjectNode()
    spark.sparkContext.getConf.getAll.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.driver.extraJava") || k.contains("id") }
      .foreach { case (k, v) => o.put(k, v) }
    o
  }

  def writeOps(res: ObjectNode, recs: Iterable[OpRec]): Unit = {
    val arr = res.putArray("ops")
    recs.toSeq.sortBy(_.id).foreach { r =>
      val o = arr.addObject()
      o.put("id", r.id); o.put("client", r.client); o.put("kind", r.kind)
      o.put("tpl", r.tpl); o.put("start_ms", r.startNs / 1e6)
      o.put("ms", (r.endNs - r.startNs) / 1e6); o.put("status", r.status)
      o.put("ok", r.ok); o.put("bytes", r.bytes); o.put("body", r.body)
      o.put("err", r.err); o.put("phase", r.phase)
    }
  }

  def writeTrace(res: ObjectNode, tracer: Tracer): Unit = {
    val sp = res.putArray("spans")
    tracer.spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val o = sp.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("name", s.name); o.put("start_ms", s.startNs / 1e6)
      o.put("end_ms", s.endNs / 1e6)
    }
    val cs = res.putArray("counts")
    tracer.counts.asScala.foreach { case (op, name, v) =>
      val o = cs.addObject()
      o.put("op", op); o.put("name", name); o.put("value", v)
    }
  }

  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

final case class Cfg(workload: String, plan: JsonNode, out: Path, work: Path,
    sfDir: String, trace: Boolean, cpus: Int)

/** One set-up's relay pair over the `Fixtures.mesh` web, each relay with
  * empty state and results directories under `dir`: apac serves its own
  * lineitem slice; global learns apac from its /catalog (the TransportSpec
  * pattern), so apac's slice crosses loopback HTTP on every resolution. */
final class Relays(spark: SparkSession, val dir: Path) {
  val apac: RelayServer = {
    val reg = new MeshRegistry(Fixtures.mesh)
    val session = new MeshSession(spark, reg, "apac")
    val backend = new FileStateBackend(dir.resolve("apac").resolve("state"))
    reg.attachPersistence(backend)
    new RelayServer(session,
      new QueryService(session, dir.resolve("apac").resolve("results").toString, Some(backend)),
      registry = Some(reg))
  }
  val registry = new MeshRegistry(
    Mesh(Fixtures.mesh.sites + ("apac" -> RelayClient.catalogSite(apac.url))))
  val globalDir: Path = dir.resolve("global")
  val global: RelayServer = {
    val backend = new FileStateBackend(globalDir.resolve("state"))
    registry.attachPersistence(backend)
    val session = new MeshSession(spark, registry, "global")
    new RelayServer(session,
      new QueryService(session, globalDir.resolve("results").toString, Some(backend)),
      registry = Some(registry))
  }

  def stop(): Unit = { global.stop(); apac.stop() }
}

/** serve-churn: a global relay and an apac relay in this process; clients
  * send sync and async requests, and client 0 also applies catalog
  * upserts. */
final class Serving(cfg: Cfg, res: ObjectNode) {
  import Main._

  private val tracer = new Tracer
  private val bodies = new ConcurrentHashMap[String, Array[Byte]]()
  private val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
  // the relays of the latest set-up: the timed window runs against these
  @volatile private var relays: Relays = _

  private def ops(list: JsonNode): IndexedSeq[Op] =
    list.asScala.map { o =>
      Op(o.get("id").asLong, o.get("tpl").asText, o.get("entity").asText,
        o.get("sql").asText,
        Option(o.get("user")).filterNot(_.isNull).map(_.asText), o.get("kind").asText,
        o.get("enc").asText)
    }.toIndexedSeq

  def run(): Unit = {
    val phase = new SetupPhases(res)
    val spark = phase("spark_session")(session(cfg, benchConf = false))
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val clients = cfg.plan.get("clients").asInt
    val applyEvery = cfg.plan.get("apply_every").asInt
    val yamls = cfg.plan.get("apply_yaml").asScala.map(_.asText).toIndexedSeq
    val applyCount = new AtomicInteger(0)
    // traced runs only: the in-process replay runs in a session of its own,
    // so its temp views never touch the relays' session
    lazy val replaySpark = {
      val s = spark.newSession()
      Fixtures.registerRaw(s, cfg.sfDir)
      s
    }
    lazy val replay = new MeshSession(replaySpark, relays.registry, "global")
    lazy val scratchReg = {
      val r = new MeshRegistry(relays.registry.mesh)
      r.attachPersistence(new FileStateBackend(cfg.work.resolve("scratch-state")))
      r
    }

    def runOp(http: HttpClient, client: Int, op: Op, phaseName: String, replayed: Boolean): Long =
      tracer.withOp(op.id) {
        val before = counters.snapshot()
        val url = relays.global.url
        val rec = tracer.span("op") {
          if (op.kind == "async") asyncOp(http, url, client, op, phaseName)
          else syncOp(http, url, client, op, phaseName)
        }
        recs.add(rec)
        if (replayed) {
          org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
          counters.recordSince(before, tracer)
          SparkSession.setActiveSession(replaySpark)
          try replayOp(replaySpark, replay, relays.apac.url, op)
          finally SparkSession.clearActiveSession()
        }
        rec.endNs
      }

    def applyOp(http: HttpClient, client: Int, phaseName: String): Unit = {
      val n = applyCount.getAndIncrement()
      val id = 1000000L + n
      tracer.withOp(id) {
        val yaml = yamls(n % yamls.size)
        val t0 = System.nanoTime()
        val (code, err) = tracer.span("catalog.apply") {
          val req = HttpRequest.newBuilder(URI.create(s"${relays.global.url}/admin/apply"))
            .header("Content-Type", "application/yaml")
            .POST(HttpRequest.BodyPublishers.ofString(yaml)).build()
          val r = http.send(req, HttpResponse.BodyHandlers.ofString())
          (r.statusCode, if (r.statusCode == 200) "" else r.body.take(300))
        }
        val t1 = System.nanoTime()
        recs.add(OpRec(id, client, "apply", s"apply_v${n % yamls.size}", t0, t1, code,
          code == 200, yaml.length.toLong, "", err, phaseName))
        if (tracer.enabled) {
          val site = tracer.span("catalog.parse") {
            ConfigLoader.buildSite("global", ConfigLoader.parseDocsString(yaml))
          }
          tracer.span("catalog.registry_apply")(scratchReg.applySite(site))
        }
      }
    }

    /** Closed loop over `plan`: each client sends its next operation only
      * when its previous reply is in; operations are taken in plan order.
      * Returns the loop's start and its last reply. */
    def loop(plan: IndexedSeq[Op], nClients: Int, phaseName: String,
        replayed: Boolean, applies: Boolean): (Long, Long) = {
      val next = new AtomicInteger(0)
      val start = System.nanoTime()
      val lastEnd = new java.util.concurrent.atomic.AtomicLong(start)
      val threads = (0 until nClients).map { c =>
        val t = new Thread(() => {
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          var mine = 0
          var i = next.getAndIncrement()
          while (i < plan.size) {
            lastEnd.accumulateAndGet(runOp(http, c, plan(i), phaseName, replayed), math.max)
            mine += 1
            if (applies && c == 0 && mine % applyEvery == 0) applyOp(http, c, phaseName)
            i = next.getAndIncrement()
          }
        }, s"bench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      (start, lastEnd.get)
    }

    // Set-up, several times: the first from JVM start, each later one in a
    // fresh Spark session on the same SparkContext with new relays and
    // fresh warm-up texts. The timed window runs against the last. A traced
    // run reports no set-up time and sets up once.
    val warmups = cfg.plan.get("warmups").asScala.toIndexedSeq
      .take(if (cfg.trace) 1 else Int.MaxValue)
    val setupWall = res.putArray("setups_s")
    val setupCpu = res.putArray("setup_cpu_s")
    for ((warmList, k) <- warmups.zipWithIndex) {
      val t0 = System.nanoTime()
      val c0 = if (k == 0) 0L else processCpuNs()
      val suffix = if (k == 0) "" else s".$k"
      val sess = if (k == 0) spark else {
        relays.stop()
        val s = spark.newSession()
        SparkSession.setActiveSession(s)
        SparkSession.setDefaultSession(s)
        s
      }
      phase("register_raw" + suffix)(Fixtures.registerRaw(sess, cfg.sfDir))
      relays = phase("relays" + suffix)(new Relays(sess, cfg.work.resolve(s"setup$k")))
      phase("warmup" + suffix) {
        val warm = ops(warmList)
        loop(warm, clients, "warmup", replayed = false, applies = false)
        applyOp(HttpClient.newHttpClient(), 0, "warmup")
      }
      setupWall.add(if (k == 0) sinceJvmStart() else (System.nanoTime() - t0) / 1e9)
      setupCpu.add((processCpuNs() - c0) / 1e9)
    }
    res.set[JsonNode]("conf", confJson(spark))

    val windows = res.putObject("windows")
    if (!cfg.trace) {
      val cpu0 = processCpuNs()
      val (s, e) = loop(ops(cfg.plan.get("ops")), clients, "timed", replayed = false,
        applies = true)
      res.put("cpu_ms", (processCpuNs() - cpu0) / 1e6)
      windows.putArray("timed").add(s / 1e6).add(e / 1e6)
    } else {
      // one client: Spark events then belong to the single operation in
      // flight. "traced" sends fresh texts with spans on and replays each
      // one in-process after its reply; "untraced" then "retraced" send
      // those same texts again, spans off then on, without replays, so
      // the two differ only in span recording.
      for ((label, spans, replayed) <- Seq(("traced", true, true),
          ("untraced", false, false), ("retraced", true, false))) {
        val list = ops(cfg.plan.get(label))
        tracer.enabled = spans
        val (s0, e0) = loop(list, 1, label, replayed, applies = true)
        windows.putArray(label).add(s0 / 1e6).add(e0 / 1e6)
      }
      tracer.enabled = true
      tracer.withOp(0L)(tracer.count("catalog.state_bytes",
        dirBytes(relays.globalDir.resolve("state")).toDouble))
    }
    res.put("vm_hwm_kb_window", vmHwmKb())
    writeOps(res, recs.asScala)
    bodies.asScala.foreach { case (k, v) => Files.write(cfg.out.resolve("bodies").resolve(k), v) }
    writeTrace(res, tracer)
    relays.stop()
  }

  private def store(kind: String, bytes: Array[Byte]): String = {
    val key = s"${sha256(bytes)}.$kind"
    bodies.putIfAbsent(key, bytes)
    key
  }

  private def syncOp(http: HttpClient, url: String, client: Int, op: Op,
      phaseName: String): OpRec = {
    val body = json(op)
    val b = HttpRequest.newBuilder(URI.create(s"$url/query/sync"))
      .header("Content-Type", "application/json")
    if (op.enc == "arrow") b.header("Accept", ArrowCodec.ContentType)
    val t0 = System.nanoTime()
    val r = tracer.span("transport.sync_roundtrip") {
      http.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    }
    val t1 = System.nanoTime()
    val bytes = r.body()
    tracer.count(s"transport.response_bytes.${op.enc}", bytes.length.toDouble)
    if (r.statusCode != 200)
      OpRec(op.id, client, "sync", op.tpl, t0, t1, r.statusCode, false, bytes.length,
        "", new String(bytes, UTF_8).take(300), phaseName)
    else {
      val key = r.headers().firstValue("X-Graft-Empty").toScala match {
        case Some(schema) => store("empty", schema.getBytes(UTF_8))
        case None => store(op.enc, bytes)
      }
      OpRec(op.id, client, "sync", op.tpl, t0, t1, 200, true, bytes.length, key, "", phaseName)
    }
  }

  private def asyncOp(http: HttpClient, url: String, client: Int, op: Op,
      phaseName: String): OpRec = {
    val t0 = System.nanoTime()
    def fail(code: Int, msg: String) =
      OpRec(op.id, client, "async", op.tpl, t0, System.nanoTime(), code, false, 0, "",
        msg.take(300), phaseName)
    val sub = tracer.span("mesh.submit") {
      http.send(HttpRequest.newBuilder(URI.create(s"$url/query"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(json(op))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    }
    if (sub.statusCode != 202) return fail(sub.statusCode, new String(sub.body, UTF_8))
    val id = mapper.readTree(sub.body).get("id").asText
    var polls = 0
    val st = tracer.span("mesh.complete") {
      var s: JsonNode = null
      var done = false
      while (!done) {
        val r = http.send(HttpRequest.newBuilder(URI.create(s"$url/query/$id")).GET().build(),
          HttpResponse.BodyHandlers.ofByteArray())
        polls += 1
        s = mapper.readTree(r.body)
        val status = Option(s.get("status")).map(_.asText).getOrElse("")
        done = status == "Complete" || status == "Failed" || r.statusCode != 200
        if (!done) Thread.sleep(10)
      }
      s
    }
    tracer.count("mesh.status_polls", polls.toDouble)
    tracer.count("mesh.branch_count", st.get("tasks").size.toDouble)
    if (st.get("status").asText != "Complete") return fail(500, st.toString)
    val r = tracer.span("mesh.result_fetch") {
      http.send(HttpRequest.newBuilder(URI.create(s"$url/query/$id/result")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
    }
    val t1 = System.nanoTime()
    if (r.statusCode != 200) return fail(r.statusCode, new String(r.body, UTF_8))
    if (tracer.enabled) tracer.count("mesh.spill_bytes",
      dirBytes(relays.globalDir.resolve("results").resolve(s"task_$id")).toDouble)
    val key = r.headers().firstValue("X-Graft-Empty").toScala match {
      case Some(schema) => store("empty", schema.getBytes(UTF_8))
      case None => store("parquet", r.body)
    }
    OpRec(op.id, client, "async", op.tpl, t0, t1, 200, true, r.body.length, key, "", phaseName)
  }

  private def json(op: Op): String = {
    val o = mapper.createObjectNode()
    o.put("sql", op.sql)
    op.user.foreach(o.put("user", _))
    mapper.writeValueAsString(o)
  }

  /** Traced operations only: replay the operation in-process, one span per
    * call into a layer, so the round trip can be split layer by layer. */
  private def replayOp(spark: SparkSession, replay: MeshSession, apacUrl: String,
      op: Op): Unit = tracer.span("replay") {
    val mesh = relays.registry.mesh
    val entity = tracer.span("validation.validate")(SqlValidator.validate(op.sql, spark))
    val federated = entity == "lineitem"
    if (federated) {
      val fetched = tracer.span("transport.wire_fetch") {
        RelayClient.syncFetch(spark, apacUrl, "SELECT * FROM lineitem", op.user,
          viaRelay = "global", visited = Set("global", "apac"), withProvenance = false)
      }
      fetched.inputFiles.headOption.foreach { f =>
        val p = Paths.get(URI.create(f))
        tracer.count("transport.wire_fetch_bytes", Files.size(p).toDouble)
      }
    }
    if (op.kind == "async")
      tracer.span("mesh.branches")(
        EntityResolver.provenanceBranches(spark, mesh, "global", entity, op.user))
    val resolved = tracer.span(if (federated) "mesh.resolve_federated" else "mesh.resolve_local") {
      EntityResolver.resolve(spark, mesh, "global", entity, op.user)
    }
    val pre = tracer.span("validation.preprocess")(SqlValidator.preprocess(op.sql))
    val df = tracer.span("spark.analyze") {
      resolved.createOrReplaceTempView(entity)
      ViewEpoch.noteShadow()
      spark.sql(pre)
    }
    tracer.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("spark.execute")(df.collect())
    tracer.span("transport.encode") {
      if (op.enc == "arrow") {
        val buf = new java.io.ByteArrayOutputStream()
        ArrowCodec.write(df.schema, rows.iterator, buf)
      } else {
        val tmp = Files.createTempDirectory("graftbench_encode_")
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        deleteTree(tmp)
      }
    }
    // the same text twice: plan construction for a first-seen text, then
    // for its exact repeat (MeshSession's plan cache)
    tracer.span("mesh.session_sql_first")(replay.sql(op.sql, op.user).queryExecution.analyzed)
    tracer.span("mesh.session_sql_repeat")(replay.sql(op.sql, op.user).queryExecution.analyzed)
  }
}

/** suite-batch: graft's own query suite (SparkEntry.queries) in name order,
  * every result fully materialised. */
final class Suite(cfg: Cfg, res: ObjectNode) {
  import Main._

  private val tracer = new Tracer

  def family(name: String): String = {
    val f = name.takeWhile(_.isLetter)
    if (Set("q", "dd", "ss", "rt", "tx", "mm", "dc", "sp")(f)) f else "other"
  }

  def run(): Unit = {
    val phase = new SetupPhases(res)
    val spark = phase("spark_session")(session(cfg, benchConf = true))
    // as graft.Bench: the per-fetch wire diagnostics are a Verify-time tool
    sys.props("graft.wire.quiet") = "1"
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val names = cfg.plan.get("suite").asScala.map(_.asText).toIndexedSeq
    val queries = graft.SparkEntry.queries
    val firstRows = scala.collection.mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
    val hashes = scala.collection.mutable.Map.empty[String, Int]
    val recs = ArrayBuffer.empty[OpRec]
    var opId = 0L
    var sess = spark

    def runQuery(name: String, phaseName: String, traced: Boolean): Unit = {
      opId += 1
      val f = family(name)
      val before = counters.snapshot()
      tracer.withOp(opId) {
        val t0 = System.nanoTime()
        val (ok, err, n) =
          try {
            tracer.span("op") {
              val df = tracer.span(s"suite.$f.build")(queries(name)(sess, cfg.sfDir))
              if (traced) tracer.span("spark.plan")(df.queryExecution.executedPlan)
              val rows = tracer.span(s"suite.$f.execute")(tracer.span("spark.execute")(df.collect()))
              // order-sensitive digest over every column of every row
              val h = java.util.Arrays.hashCode(rows.map(_.hashCode))
              if (!firstRows.contains(name)) firstRows(name) = (df.schema, rows)
              val same = hashes.getOrElseUpdate(name, h) == h
              (same, if (same) "" else "result differs from this query's first execution",
                rows.length.toLong)
            }
          } catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300), 0L) }
        recs += OpRec(opId, 0, "suite", name, t0, System.nanoTime(), if (ok) 200 else 500,
          ok, n, name, err, phaseName)
      }
      if (traced) {
        org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
        tracer.withOp(opId)(counters.recordSince(before, tracer))
      }
    }

    // Set-up, several times: the first from JVM start, each later one in a
    // fresh Spark session on the same SparkContext. The timed window runs
    // in the last. A traced run reports no set-up time and sets up once.
    val setupWall = res.putArray("setups_s")
    val setupCpu = res.putArray("setup_cpu_s")
    for (k <- 0 until (if (cfg.trace) 1 else cfg.plan.get("setups").asInt)) {
      val t0 = System.nanoTime()
      val c0 = if (k == 0) 0L else processCpuNs()
      val suffix = if (k == 0) "" else s".$k"
      if (k > 0) {
        sess = spark.newSession()
        SparkSession.setActiveSession(sess)
        SparkSession.setDefaultSession(sess)
      }
      phase("register_raw" + suffix)(Fixtures.registerRaw(sess, cfg.sfDir))
      phase("warmup" + suffix)(names.foreach(runQuery(_, "warmup", traced = false)))
      setupWall.add(if (k == 0) sinceJvmStart() else (System.nanoTime() - t0) / 1e9)
      setupCpu.add((processCpuNs() - c0) / 1e9)
    }
    res.set[JsonNode]("conf", confJson(spark))

    val windows = res.putObject("windows")
    // whole passes: every window holds each query equally often
    def window(label: String, passes: Int, traced: Boolean): Unit = {
      val start = System.nanoTime()
      for (_ <- 1 to passes) names.foreach(runQuery(_, label, traced))
      windows.putArray(label).add(start / 1e6).add(System.nanoTime() / 1e6)
    }
    if (!cfg.trace) {
      val cpu0 = processCpuNs()
      window("timed", cfg.plan.get("passes").asInt, traced = false)
      res.put("cpu_ms", (processCpuNs() - cpu0) / 1e6)
    } else {
      // one traced pass for the per-layer figures, then one pass with spans
      // off and one with spans on, so the two differ only in span recording
      for ((label, spans, traced) <- Seq(("traced", true, true),
          ("untraced", false, false), ("retraced", true, false))) {
        tracer.enabled = spans
        window(label, 1, traced)
      }
    }
    res.put("vm_hwm_kb_window", vmHwmKb())
    writeOps(res, recs)
    writeTrace(res, tracer)
    // results for the oracle, written after the timed window
    val rdir = cfg.out.resolve("suite")
    firstRows.foreach { case (name, (schema, rows)) =>
      sess.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(rdir.resolve(name).toString)
    }
    val oracle = mapper.createObjectNode()
    graft.SparkEntry.oracleSqlFor(cfg.sfDir).foreach { case (k, v) =>
      if (firstRows.contains(k)) oracle.put(k, v)
    }
    Files.write(cfg.out.resolve("oracle_sql.json"), mapper.writeValueAsBytes(oracle))
  }
}
