package graft.perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit}
import graft.core.Database
import graft.lang.{Parser, Planner}
import graft.seq.SequenceModel
import graft.server.ArrowSink
import graft.sources.NdjsonIngest
import graft.tools.{Append, Serve}

/** The API workloads, driven through the program's public entry points
  * from one process: `Serve.boot` + `QueryServer` over loopback HTTP
  * (`Database.build` behind it), `tools.Append.run` for writes, and, in
  * the traced run, in-process replays through `Parser`/`Planner.plan`
  * and the layer probes (`SequenceModel.diff`, `NdjsonIngest.read`,
  * `Database.build`).
  *
  * Reads `<work>/data` (the generated data directory, no state yet),
  * `<work>/requests.json` and `<work>/batches/`; writes raw samples to
  * `<work>/result.json` and every response body to `<work>/bodies/`.
  * Answers are checked and metrics computed by run.py.
  *
  * {{{
  * Main --work W --workload api_reads|api_append --seconds S --trace 0|1
  *      --cpus N
  * }}}
  */
object Main {

  final case class Req(id: String, cls: String, text: String, accept: String)

  final case class Rec(id: String, cls: String, accept: String, phase: String,
      start: Double, ttfb: Double, end: Double, status: Int, bytes: Long,
      version: String, body: Int)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus")
    val reqs = mapper.readTree(new File(work, "requests.json")).elements().asScala
      .map(n => Req(n.get("id").asText, n.get("class").asText,
        n.get("text").asText, n.get("accept").asText)).toVector
    val batches = Option(new File(work, "batches").listFiles()).getOrElse(Array())
      .map(_.getPath).sorted.iterator

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .appName("perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val spans = new Spans
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // ---- setup: boot to the first 200 -----------------------------------
    val dataDir = copyData(new File(work, "data"), new File(work, "serve"))
    val t0 = Clock.now()
    val server = Serve.boot(spark, Map("dataDirectory" -> dataDir.getPath,
      "api.port" -> "0"), _ => ())
    val boot = Req("boot", "boot", "default.groupBy({count := count()})", "ndjson")
    while (send(server.boundPort, boot)._1 != 200) Thread.sleep(20)
    out("setup_s") = Clock.now() - t0
    out("state_bytes") = du(new File(dataDir, "state"))
    out("input_bytes") = new File(dataDir, "input.ndjson").length
    val port = server.boundPort
    val versions = ArrayBuffer(fingerprint(spark, dataDir))
    val recs = java.util.Collections.synchronizedList(new java.util.ArrayList[Rec]())
    val bodies = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Array[Byte]]())
    def call(r: Req, phase: String): Rec = {
      val t0 = Clock.now()
      val (status, ttfb, body, version) = send(port, r)
      val t1 = Clock.now()
      val idx = bodies.synchronized { bodies.add(body); bodies.size - 1 }
      val rec = Rec(r.id, r.cls, r.accept, phase, t0, ttfb, t1, status,
        body.length, version, idx)
      recs.add(rec)
      rec
    }

    // the read mix runs in cycles of two rounds. A round is every cheap
    // class once (export in both formats, so its medians rest on twice
    // the samples for ~0.1 s more); the second round adds a mutations
    // request. Each class steps through its requests in generation order.
    // The window starts whole cycles only, so every run samples the same
    // request shapes and the same number of each: a window cut mid-cycle
    // would make the sample set, and with it each class median, depend on
    // where the cut falls.
    val byClass = Seq("meta", "export", "routed", "details", "mutations")
      .map(c => reqs.filter(_.cls == c)).filter(_.nonEmpty)
    val (slow, cheap) = byClass.partition(_.head.cls == "mutations")
    def round(i: Int): Seq[Req] =
      cheap.flatMap(l => if (l.head.cls == "export") l else Seq(l(i % l.size))) ++
        slow.filter(_ => i % 2 == 1).map(l => l(i / 2 % l.size))
    val cycles = (0 until byClass.map(_.size).max).map(k => round(2 * k) ++ round(2 * k + 1))

    // untimed warm-up (JIT, codegen, first scans): one request per class
    // and both export formats; mutations is warmed just before the window
    // (below), so its first timed sample does not pay the cold plan
    byClass.flatMap(l => if (l.head.cls == "export") l else l.take(1))
      .filter(_.cls != "mutations").foreach(call(_, "warm"))
    def warmMutations(): Unit = slow.foreach(l => call(l.head, "warm"))

    // ---- api_append: a commit, then reads until the new version answers --
    val appends = ArrayBuffer.empty[Map[String, Any]]
    val swapProbe = byClass.find(_.head.cls == "details").getOrElse(byClass.head).head
    def appendAndSwap(): Unit = {
      val t0 = Clock.now()
      val (_, n) = Append.run(spark, Map("dataDirectory" -> dataDir.getPath,
        "appendFile" -> batches.next()))
      val t1 = Clock.now()
      versions += fingerprint(spark, dataDir)
      appends += Map("start" -> t0, "end" -> t1, "rows" -> n,
        "version" -> (versions.size - 1))
      var tries = 0
      while (call(swapProbe, "swap").version != versions.last && tries < 20) tries += 1
    }

    // the window follows the commit and the hot-swap rebuild it triggers
    if (workload == "api_append") appendAndSwap()
    // on api_append after the swap, so it also warms reads over two layers
    warmMutations()

    // ---- the timed window: one closed-loop reader ------------------------
    // runs one cycle, then starts more until `seconds` have passed; the
    // window ends with the last cycle
    var next = 0
    def cycle(phase: String): Unit = { cycles(next % cycles.size).foreach(call(_, phase)); next += 1 }
    def window(phase: String, until: Double): Unit = {
      cycle(phase)
      while (Clock.now() < until) cycle(phase)
    }
    val w0 = Clock.now()
    if (traced) {
      // first half untraced, second half recorded: their difference is
      // the tracing overhead
      window("timed", w0 + seconds / 2)
      listener.recording = true
      window("traced", w0 + seconds)
      listener.recording = false
      out("http_counters") = listener.summary("http-query-")
    } else window("timed", w0 + seconds)
    out("window") = List(w0, Clock.now())
    server.stop()

    if (traced) layerProbes(spark, work, reqs, spans, listener, batches)
    out("spans") = spans.all
    out("appends") = appends.toList
    out("versions") = versions.toList
    out("requests") = recs.asScala.toList.map(r => Map(
      "id" -> r.id, "class" -> r.cls, "accept" -> r.accept, "phase" -> r.phase,
      "start" -> r.start, "ttfb" -> r.ttfb, "end" -> r.end,
      "status" -> r.status, "bytes" -> r.bytes, "version" -> r.version,
      "body" -> r.body))
    out("peak_rss_mb") = peakRssMb()
    val bodyDir = new File(work, "bodies")
    bodyDir.mkdirs()
    bodies.asScala.zipWithIndex.foreach { case (b, i) =>
      Files.write(new File(bodyDir, i.toString).toPath, b)
    }
    mapper.writeValue(new File(work, "result.json"), out)
    spark.stop()
  }

  /** POST one request; (status, time headers arrived, body, data-version). */
  def send(port: Int, r: Req): (Int, Double, Array[Byte], String) = {
    val c = new URL(s"http://127.0.0.1:$port/query").openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      if (r.accept == "arrow")
        c.setRequestProperty("Accept", "application/vnd.apache.arrow.stream")
      val os = c.getOutputStream
      try os.write(r.text.getBytes(UTF_8)) finally os.close()
      val status = c.getResponseCode
      val ttfb = Clock.now()
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) Array.emptyByteArray
        else try in.readAllBytes() finally in.close()
      (status, ttfb, body, Option(c.getHeaderField("data-version")).getOrElse(""))
    } finally c.disconnect()
  }

  /** The serve/append input set, in the order the server resolves it. */
  def currentInput(dir: File): String =
    ("input.ndjson" +: dir.list().filter(_.matches("append-\\d+\\.ndjson")).sorted.toSeq)
      .map(new File(dir, _).getPath).mkString(",")

  /** The `data-version` a server on `dir` reports for its current input. */
  def fingerprint(spark: SparkSession, dir: File): String =
    Database.inputFingerprint(spark, currentInput(dir))

  def copyData(from: File, to: File): File = {
    to.mkdirs()
    from.listFiles().filter(_.isFile).foreach(f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING))
    to
  }

  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array()).map(du).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** The traced run's in-process half: every request replayed through
    * parse → plan → execute with the Spark phase times, then the layer
    * probes the end-to-end metrics depend on.
    */
  def layerProbes(spark: SparkSession, work: File, reqs: Seq[Req],
      spans: Spans, listener: GroupListener, batches: Iterator[String]): Unit = {
    // core / tools: a cold build, a warm rebuild over the state it left,
    // then append + the build a hot swap runs
    val dir = copyData(new File(work, "data"), new File(work, "probe"))
    val state = Some(new File(dir, "state").getPath)
    spans("core.build")(Database.build(spark, dir.getPath, currentInput(dir), state))
    val catalog = spans("core.build_warm")(
      Database.build(spark, dir.getPath, currentInput(dir), state))
    spans.record("core.state", 0, 0, Map("bytes" -> du(new File(dir, "state"))))

    listener.recording = true
    for (r <- reqs) {
      val attrs = Map[String, Any]("id" -> r.id, "class" -> r.cls)
      spark.sparkContext.setJobGroup(s"replay-${r.id}", "perfbench replay")
      val t0 = Clock.now()
      val ast = spans("lang.parse", attrs)(Parser.parse(r.text))
      val df = spans("lang.plan", attrs)(new Planner(catalog).planTable(ast).df)
      val routed = df.inputFiles.exists(_.contains(File.separator + "index" + File.separator))
      val e0 = Clock.now()
      if (r.accept == "arrow") ArrowSink.write(df, java.io.OutputStream.nullOutputStream())
      else { val it = df.toLocalIterator(); while (it.hasNext) it.next() }
      val e1 = Clock.now()
      spans.record("replay.exec", e0, e1, attrs)
      spans.record("replay.total", t0, e1, attrs + ("routed" -> routed))
      val phases = df.queryExecution.tracker.phases
      Seq("analysis" -> "spark.analyze", "optimization" -> "spark.optimize",
        "planning" -> "spark.physical").foreach { case (p, name) =>
        phases.get(p).foreach(s => spans.record(name, e0, e0 + s.durationMs / 1e3, attrs))
      }
      spark.sparkContext.clearJobGroup()
    }
    listener.recording = false

    // sources / seq: the ingest read and the diff, with the column offset
    // Database.build passes and with a literal 0
    val (schema, _) = Database.inputSchema(spark, dir.getPath)
    val (nucRefs, _) = Database.parseReferenceGenomes(spark,
      new File(dir, "reference_genomes.json").getPath)
    val ref = nucRefs("main")
    val input = Database.splitInputs(currentInput(dir))
    def raw = NdjsonIngest.read(spark, input, schema)
      .withColumn("__seq", col("main.sequence"))
    for (_ <- 0 until 2) {
      spans("sources.ndjson_read")(
        NdjsonIngest.read(spark, input, schema).write.format("noop").mode("overwrite").save())
      spans("seq.diff")(SequenceModel.diff(raw, "__seq", ref, Set("N"),
        offset = coalesce(col("main.offset"), lit(0)), prefix = "main_")
        .write.format("noop").mode("overwrite").save())
      spans("seq.diff_kernel")(SequenceModel.diff(raw, "__seq", ref, Set("N"),
        offset = lit(0), prefix = "main_")
        .write.format("noop").mode("overwrite").save())
    }

    spans("tools.append")(Append.run(spark, Map("dataDirectory" -> dir.getPath,
      "appendFile" -> batches.next())))
    spans("core.swap_build")(Database.build(spark, dir.getPath, currentInput(dir), state))
  }
}
